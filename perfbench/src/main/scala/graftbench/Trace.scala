package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a graft layer. `startMs`/`endMs` are epoch
  * milliseconds (the clock Spark stamps tasks with); durations use the
  * nanosecond clock. The workload supplies `liveFiles` for
  * `files_read_ratio`, and `diskGrowth` over `userBytes` for `write_amp`.
  */
final class Span(val id: Int, val name: String, val parent: Int, val iter: Int,
    val startMs: Long, val startNs: Long) {
  var endMs = 0L
  var endNs = 0L
  var failed = false
  var liveFiles = 0L
  var userBytes = 0L
  var diskGrowth = 0L
  def wallS: Double = (endNs - startNs) / 1e9
}

/** Counters the listeners attribute to one span. */
final class SpanCounters {
  var jobs = 0L
  var tasks = 0L
  var inputBytes = 0L
  var shuffleBytes = 0L
  var outputBytes = 0L
  var filesRead = 0L
  val taskIntervals = ArrayBuffer.empty[(Long, Long)]
}

/** Spans kept in memory plus a `SparkListener` and a
  * `QueryExecutionListener` whose events are attributed to the span
  * that was open when the work was submitted.
  *
  * Attribution rides Spark's local properties: opening a span sets
  * [[Tracer.SpanProp]] on the calling thread, every job submitted
  * from it (or from a thread it starts, such as a streaming query's)
  * carries the id, and task events map back to the job's span; a
  * finished SQL execution is counted against the span of its last job. Events arrive asynchronously, so [[drain]] waits for
  * the listener bus before counters are read.
  *
  * Only iterations switched on with [[iteration]] record spans; the
  * listeners stay registered for the whole traced run, so untraced
  * iterations of the same run pay their (near zero) cost too.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc = spark.sparkContext
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var active = false
  private var iter = -1

  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  /** Span of the last job the bus delivered; -1 when untraced. The
    * query listener shares the bus queue, so an execution's end event
    * follows its own jobs.
    */
  @volatile private var lastJobSpan = -1
  private val counters = mutable.HashMap.empty[Int, SpanCounters]

  private def countersOf(span: Int): SpanCounters = counters.synchronized {
    counters.getOrElseUpdate(span, new SpanCounters)
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(x => Option(x.getProperty(SpanProp))).map(_.toInt)
      lastJobSpan = span.getOrElse(-1)
      span.foreach { s =>
        e.stageIds.foreach(st => stageSpan.put(st, s))
        val c = countersOf(s)
        c.synchronized(c.jobs += 1)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      if (stageSpan.containsKey(e.stageId)) {
        val c = countersOf(stageSpan.get(e.stageId))
        val m = Option(e.taskMetrics)
        c.synchronized {
          c.tasks += 1
          m.foreach { tm =>
            c.inputBytes += tm.inputMetrics.bytesRead
            c.shuffleBytes += tm.shuffleWriteMetrics.bytesWritten
            c.outputBytes += tm.outputMetrics.bytesWritten
          }
          c.taskIntervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
        }
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val s = lastJobSpan
      if (s >= 0) {
        val files = dataScans(qe.executedPlan)
          .map(_.metrics.get("numFiles").map(_.value).getOrElse(0L)).sum
        val c = countersOf(s)
        c.synchronized(c.filesRead += files)
      }
    }
  }

  def install(): Unit = {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
  }

  def uninstall(): Unit = {
    drain()
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
  }

  /** Marks the start of iteration `i`; spans are recorded only when
    * `traced`.
    */
  def iteration(i: Int, traced: Boolean): Unit = {
    iter = i
    active = traced
  }

  /** Times `body` as a span named `name`, nested under the open span. */
  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val parent = stack.headOption
      val s = new Span(spans.size, name, parent.fold(-1)(_.id), iter,
        System.currentTimeMillis(), System.nanoTime())
      spans += s
      stack = s :: stack
      sc.setLocalProperty(SpanProp, s.id.toString)
      try body
      catch { case t: Throwable => s.failed = true; throw t }
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        stack = stack.tail
        sc.setLocalProperty(SpanProp, parent.map(_.id.toString).orNull)
      }
    }

  /** The most recent recorded span named `name` in this iteration. */
  def last(name: String): Option[Span] =
    spans.reverseIterator.takeWhile(_.iter == iter).find(_.name == name)

  /** Blocks until the listener bus has delivered every posted event. */
  def drain(): Unit =
    try {
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    } catch { case _: ReflectiveOperationException => Thread.sleep(1000) }

  private def children: Map[Int, Seq[Span]] =
    spans.toSeq.filter(_.parent >= 0).groupBy(_.parent)

  /** Span `s` and all spans under it. */
  private def subtree(s: Span, kids: Map[Int, Seq[Span]]): Seq[Span] =
    s +: kids.getOrElse(s.id, Nil).flatMap(subtree(_, kids))

  /** Length of the union of `intervals` clipped to `[lo, hi]`. */
  private def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var reach = lo
    intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) { total += b - math.max(a, reach); reach = b }
      }
    total
  }

  /** Per-span-name metrics, `<span>.<counter>` → (value, unit). Time
    * counters are medians over the span's calls, counts are means per
    * call, ratios are totals over totals. Spans a workload never opens
    * report zero.
    */
  def layerMetrics(): Seq[(String, Double, String)] = {
    val kids = children
    val byName = spans.toSeq.groupBy(_.name)
    LayerSpans.flatMap { name =>
      val calls = byName.getOrElse(name, Nil)
      def total(f: SpanCounters => Long, s: Span): Long =
        subtree(s, kids).map(x => counters.get(x.id).fold(0L)(f)).sum
      def mean(f: SpanCounters => Long): Double =
        if (calls.isEmpty) 0.0 else calls.map(total(f, _)).sum.toDouble / calls.size
      val wall = Stats.median(calls.map(_.wallS))
      val self = Stats.median(calls.map { s =>
        val ch = kids.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs))
        (s.endNs - s.startNs - covered(ch, s.startNs, s.endNs)) / 1e9
      })
      val driver = Stats.median(calls.map { s =>
        val ivs = subtree(s, kids).flatMap(x => counters.get(x.id).toSeq.flatMap(_.taskIntervals))
        (s.endMs - s.startMs - covered(ivs, s.startMs, s.endMs)).max(0L) / 1e3
      })
      val base = Seq(s"$name.wall_s" -> (wall, "s"))
      val rest =
        if (name == "sources.sql_parse") Nil
        else Seq(
          s"$name.self_s" -> (self, "s"),
          s"$name.driver_s" -> (driver, "s"),
          s"$name.jobs" -> (mean(_.jobs), "count"),
          s"$name.tasks" -> (mean(_.tasks), "count"),
          s"$name.input_bytes" -> (mean(_.inputBytes), "B"),
          s"$name.shuffle_bytes" -> (mean(_.shuffleBytes), "B"))
      val out =
        if (WriteSpans(name)) Seq(s"$name.output_bytes" -> (mean(_.outputBytes), "B"))
        else Nil
      val amp =
        if (AmpSpans(name)) {
          val user = calls.map(_.userBytes).sum
          val grown = calls.map(_.diskGrowth).sum
          Seq(s"$name.write_amp" -> (if (user > 0) grown.toDouble / user else 0.0, "ratio"))
        } else Nil
      val files =
        if (ScanSpans(name)) {
          val live = calls.map(_.liveFiles).sum
          val read = calls.map(total(_.filesRead, _)).sum
          Seq(s"$name.files_read_ratio" -> (if (live > 0) read.toDouble / live else 0.0, "ratio"))
        } else Nil
      (base ++ rest ++ out ++ amp ++ files).map { case (k, (v, u)) => (k, v, u) }
    }
  }

  /** Every span as one JSON object per line. */
  def spanLines(): Seq[String] = spans.toSeq.map { s =>
    val c = counters.getOrElse(s.id, new SpanCounters)
    s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"iter":${s.iter},""" +
      s""""start_ms":${s.startMs},"end_ms":${s.endMs},"wall_s":${s.wallS},""" +
      s""""failed":${s.failed},"jobs":${c.jobs},"tasks":${c.tasks},""" +
      s""""input_bytes":${c.inputBytes},"shuffle_bytes":${c.shuffleBytes},""" +
      s""""output_bytes":${c.outputBytes},"files_read":${c.filesRead},""" +
      s""""live_files":${s.liveFiles},"user_bytes":${s.userBytes},""" +
      s""""disk_growth":${s.diskGrowth}}"""
  }
}

object Tracer {
  val SpanProp = "graftbench.span"

  /** The layer boundaries the benchmark times, in report order. */
  val LayerSpans: Seq[String] = Seq(
    "sources.merge_ingest", "sources.merge_snapshot",
    "sources.sql_parse", "sources.sql_delete",
    "streaming.fold",
    "sources.read_plan",
    "sources.scan.point", "sources.scan.range", "sources.scan.time_travel",
    "operators.gold_exec",
    "sources.meta_count", "sources.meta_minmax",
    "operators.exact", "operators.minhash_lsh", "operators.components",
    "sources.write")

  val WriteSpans: Set[String] = Set("sources.merge_ingest", "sources.merge_snapshot",
    "sources.sql_delete", "streaming.fold", "sources.write")
  val AmpSpans: Set[String] = Set("sources.merge_ingest", "sources.merge_snapshot",
    "sources.write")
  val ScanSpans: Set[String] = Set("sources.scan.point", "sources.scan.range",
    "sources.scan.time_travel", "operators.gold_exec", "sources.meta_count",
    "sources.meta_minmax")

  /** File scans over table data, leaving out graft's own manifest,
    * change-data and deletion-vector reads.
    */
  def dataScans(plan: SparkPlan): Seq[FileSourceScanExec] = plan match {
    case a: AdaptiveSparkPlanExec => dataScans(a.executedPlan)
    case q: QueryStageExec => dataScans(q.plan)
    case s: FileSourceScanExec =>
      val roots = s.relation.location.rootPaths.map(_.toString)
      if (roots.exists(r => r.contains("/_graft_stats") || r.contains("/_change_data") ||
          r.contains("/_dv"))) Nil
      else Seq(s)
    case p => (p.children ++ p.subqueries).flatMap(dataScans)
  }
}
