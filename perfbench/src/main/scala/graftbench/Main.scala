package graftbench

import java.io.{File, PrintWriter}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** Runs one workload for a fixed measured time and prints every metric
  * with its unit, the check verdicts, and a final `RESULT {json}` line.
  *
  * {{{
  *   Main --workload pos_ingest --seed 1 --seconds 10 --trace 0 \
  *        --work-dir <dir> [--spans-out <file>]
  * }}}
  *
  * With `--trace 0` it reports the end-to-end metrics. With
  * `--trace 1` it alternates traced and untraced rounds, reports the
  * per-layer metrics of the traced ones and the tracing overhead, and
  * writes every span to `--spans-out`.
  */
object Main {
  /** Table builds per run; `setup_s` takes their median. */
  val BuildRepeats = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def opt(k: String): String =
      opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val name = opt("workload")
    require(Workload.Names.contains(name), s"unknown workload $name")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = new File(opt("work-dir")).getAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop-tmp")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(s"$work/checkpoints")
    val sessionS = (System.nanoTime() - t0) / 1e9
    println(s"perfbench workload=$name seed=$seed seconds=$seconds trace=${if (trace) 1 else 0} " +
      s"cores=$cores")

    val tracer = new Tracer(spark)
    // Every build makes the same inputs and tables anew in a
    // fresh directory; the last one is warmed up and measured.
    val builds = (0 until BuildRepeats).map { r =>
      val dir = s"$work/setup$r"
      val s = System.nanoTime()
      val w = Workload(name, spark, seed, dir, tracer)
      w.build()
      (w, dir, (System.nanoTime() - s) / 1e9)
    }
    builds.init.foreach { case (_, dir, _) => deleteTree(new File(dir)) }
    val wl = builds.last._1
    val w0 = System.nanoTime()
    wl.warmup()
    val warmupS = (System.nanoTime() - w0) / 1e9
    val setupS = sessionS + Stats.median(builds.map(_._3)) + warmupS
    println(f"setup: session $sessionS%.3f s, builds " +
      builds.map(x => f"${x._3}%.3f").mkString(" ") + f" s, warm-up $warmupS%.3f s")

    if (trace) tracer.install()
    val target = (seconds * 1e9).toLong
    val wallStart = System.nanoTime()
    val wallCap = ((seconds + 60) * 1e9).toLong
    var timed = 0L
    var items = 0L
    var attempted = 0
    var failed = 0
    var i = 0
    var storage = 0.0
    val lat = ArrayBuffer.empty[Double]
    val rounds = ArrayBuffer.empty[(Boolean, Double)]
    var roundSum = 0.0
    while (timed < target && System.nanoTime() - wallStart < wallCap) {
      val traced = trace && (i / wl.roundSize) % 2 == 0
      tracer.iteration(i, traced)
      val s0 = System.nanoTime()
      var dt = 0L
      var ok = attempt(s"iteration $i") {
        wl.prepare(i)
        val s = System.nanoTime()
        try items += tracer.span("iteration")(wl.iterate(i))
        finally dt = System.nanoTime() - s
      }
      if (dt == 0L) dt = System.nanoTime() - s0
      tracer.iteration(i, traced = false)
      timed += dt
      lat += dt / 1e9
      roundSum += dt / 1e9
      if ((i + 1) % wl.roundSize == 0) { rounds += ((traced, roundSum)); roundSum = 0.0 }
      if (traced && ok) ok = attempt("trace annotation")(wl.annotate(i))
      if (i == 0 && ok) ok = attempt("storage probe") { storage = wl.storageRatio() }
      attempted += 1
      if (!ok) failed += 1
      i += 1
    }

    val c0 = System.nanoTime()
    val checks =
      try wl.checks()
      catch { case e: Throwable =>
        System.err.println(s"checks failed: $e")
        e.printStackTrace()
        Seq("checks_ran" -> false)
      }
    checks.foreach { case (c, ok) => println(s"check $c ${if (ok) "PASS" else "FAIL"}") }
    println(f"info checks took ${(System.nanoTime() - c0) / 1e9}%.3f s, loop wall " +
      f"${(c0 - wallStart) / 1e9}%.3f s")
    attempted += checks.size
    failed += checks.count(!_._2)

    val n = lat.size
    val metrics = ArrayBuffer.empty[(String, Double, String)]
    if (!trace) {
      metrics += (("setup_s", setupS, "s"))
      metrics += (("latency_p50_s", Stats.median(lat.toSeq), "s"))
      metrics += (("items_per_s", items / (timed / 1e9), "1/s"))
      metrics += (("bytes_stored_per_user_byte", storage, "ratio"))
      val tail = Stats.tailPercentile(n).fold("no percentile has 10 samples beyond it")(p =>
        f"p$p%s ${Stats.percentile(lat.toSeq, p)}%.4f s")
      println(s"info latency n=$n tail: $tail")
      println("info latencies " + lat.map(x => f"$x%.3f").mkString(" "))
    } else {
      tracer.uninstall()
      metrics ++= tracer.layerMetrics()
      val (on, off) = rounds.partition(_._1)
      val overhead =
        if (on.isEmpty || off.isEmpty) 0.0
        else (Stats.median(on.map(_._2).toSeq) / Stats.median(off.map(_._2).toSeq) - 1) * 100
      metrics += (("trace.overhead_pct", overhead, "%"))
      metrics += (("trace.failed_ops", failed.toDouble, "count"))
      println(s"info trace rounds traced=${on.size} untraced=${off.size} spans=${tracer.spans.size}")
      opts.get("spans-out").foreach { out =>
        val f = new File(out)
        f.getParentFile.mkdirs()
        val w = new PrintWriter(f)
        try tracer.spanLines().foreach(w.println) finally w.close()
        println(s"info spans written to $out")
      }
    }
    println(f"info iterations=$n timed=${timed / 1e9}%.3f s failed=$failed/$attempted " +
      f"failed_op_ratio=${failed.toDouble / attempted}%.4f")
    metrics.foreach { case (k, v, u) => println(s"metric $k $v $u") }
    val json = metrics.map { case (k, v, u) =>
      s""""$k": {"value": ${jsonNum(v)}, "unit": "$u"}""" }.mkString(", ")
    println(s"""RESULT {"correct": ${failed == 0}, "attempted": $attempted, """ +
      s""""failed": $failed, "metrics": {$json}}""")
    spark.stop()
  }

  /** Runs `body`; a throw is logged and reported as a failed op. */
  private def attempt(what: String)(body: => Unit): Boolean =
    try { body; true }
    catch { case e: Throwable =>
      System.err.println(s"$what failed: $e")
      e.printStackTrace()
      false
    }

  private def jsonNum(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else v.toString

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
