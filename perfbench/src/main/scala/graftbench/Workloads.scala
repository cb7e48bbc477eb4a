package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.operators.{CacheScope, Dedup, Inventory}
import graft.sources.{DataSkipping, GraftSql}
import graft.streaming.IncrementalView
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** One benchmark workload: a closed loop of iterations over tables it
  * builds itself. Only [[iterate]] is timed; input generation
  * ([[prepare]]) and the output checks run outside the timed region.
  */
trait Workload {
  /** Generates the inputs and builds the initial tables. */
  def build(): Unit
  /** Untimed iterations that pay JIT and codegen before measuring. */
  def warmup(): Unit
  /** Generates the inputs of iteration `i` (untimed). */
  def prepare(i: Int): Unit = ()
  /** Runs iteration `i`; returns the items it processed. */
  def iterate(i: Int): Long
  /** Fills the denominators of iteration `i`'s spans (untimed, traced
    * iterations only).
    */
  def annotate(i: Int): Unit = ()
  /** Iterations that alternate as a unit between traced and untraced. */
  def roundSize: Int = 1
  /** On-disk bytes under the workload's table roots over their live
    * data bytes. Measured after the first timed iteration, so the
    * figure never depends on how many iterations a run completes.
    */
  def storageRatio(): Double
  /** Named output checks; each false one is a failed op. */
  def checks(): Seq[(String, Boolean)]
}

object Workload {
  val Names: Seq[String] = Seq("pos_ingest", "pos_serve", "corpus_dedup")

  def apply(name: String, spark: SparkSession, seed: Long, dir: String,
      tr: Tracer): Workload = name match {
    case "pos_ingest" => new PosIngest(spark, seed, dir, tr)
    case "pos_serve" => new PosServe(spark, seed, dir, tr)
    case "corpus_dedup" => new CorpusDedup(spark, seed, dir, tr)
  }

  /** Bytes of every file under `path`, graft's manifests, change data
    * and checksum files included.
    */
  def diskBytes(path: String): Long =
    if (!Files.exists(Paths.get(path))) 0L
    else {
      val s = Files.walk(Paths.get(path))
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def liveBytes(spark: SparkSession, path: String): Long =
    DataSkipping.tableSizeInBytes(spark, path).getOrElse(0L)

  /** On-disk bytes under the table roots over their live data bytes. */
  def storedOverLive(spark: SparkSession, paths: String*): Double =
    paths.map(diskBytes).sum.toDouble / paths.map(liveBytes(spark, _)).sum

  def liveFiles(spark: SparkSession, path: String): Long =
    DataSkipping.readSkipping(spark, path, lit(true)).inputFiles.length.toLong

  /** Rows as sorted strings, for order-free comparison. */
  def canon(rows: Array[Row]): Seq[String] = rows.map(_.mkString("|")).toSeq.sorted

  /** Same rows, duplicates counted, in any order. */
  def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  val ChangeStats: Seq[String] = Seq("trans_id", "store_id", "item_id", "date_time")
  val SnapStats: Seq[String] = Seq("store_id", "item_id", "store_item")
  val Sum: DecimalType = DecimalType(30, 6)
  val Cast: DecimalType = DecimalType(20, 6)

  /** The reference's gold `inventory_current` query for one store:
    * snapshot plus later changes per (store, item).
    */
  def gold(snapshot: DataFrame, changes: DataFrame): DataFrame =
    Inventory.currentState(snapshot, changes, Seq("store_id", "item_id"),
      "date_time", "quantity")
}

import Workload._

/** Triggered POS pipeline: each batch upserts change rows on
  * `trans_id`, applies snapshot rows, voids a few transactions with
  * SQL DELETE, folds the incremental (store, item) view and refreshes
  * the gold query for one store.
  */
final class PosIngest(spark: SparkSession, seed: Long, dir: String, tr: Tracer)
    extends Workload {
  private val Stores = 20
  private val Items = 500
  private val InitialRows = 40000
  private val Fresh = 2000
  private val Resent = 200
  private val SnapRows = 500
  private val Voids = 20
  private val WarmupBatches = 2

  private val gen = new PosGen(seed, Stores, Items)
  private val chg = s"$dir/changes"
  private val snap = s"$dir/snapshot"
  private val view = s"$dir/view"
  private val ckpt = s"$dir/view_checkpoint"
  private val parts = spark.sparkContext.defaultParallelism

  private var batchNo = 0
  private var batch: PosBatch = _
  private var goldStore = 0
  private var landChg, landSnap = ""
  private var chgBytes, snapBytes = 0L

  def build(): Unit = {
    DataSkipping.writeWithStats(
      PosGen.changes(spark, gen.initial(InitialRows)).repartitionByRange(parts, col("store_id")),
      chg, ChangeStats, Nil, changeFeed = true)
    DataSkipping.writeWithStats(
      PosGen.snaps(spark, gen.initialSnapshot()).repartitionByRange(parts, col("store_id")),
      snap, SnapStats)
    fold()
  }

  def warmup(): Unit = (0 until WarmupBatches).foreach { _ => prepare(-1); iterate(-1) }

  override def prepare(i: Int): Unit = {
    batchNo += 1
    batch = gen.batch(Fresh, Resent, SnapRows, Voids)
    goldStore = gen.nextInt(Stores)
    landChg = s"$dir/landing/b$batchNo/changes"
    landSnap = s"$dir/landing/b$batchNo/snapshot"
    PosGen.changes(spark, batch.changes).write.parquet(landChg)
    PosGen.snaps(spark, batch.snaps).write.parquet(landSnap)
    chgBytes = diskBytes(chg)
    snapBytes = diskBytes(snap)
  }

  private def fold(): DataFrame =
    IncrementalView.maintainSumCount(spark, chg, view, "store_item", "quantity", ckpt)

  private def goldFor(store: Int): DataFrame = {
    def read(p: String) = tr.span("sources.read_plan") {
      DataSkipping.readSkipping(spark, p, col("store_id") === store)
    }
    gold(read(snap), read(chg))
  }

  def iterate(i: Int): Long = {
    tr.span("sources.merge_ingest") {
      DataSkipping.mergeUpsert(spark, chg, spark.read.parquet(landChg), Seq("trans_id"))
    }
    tr.span("sources.merge_snapshot") {
      DataSkipping.mergeUpsert(spark, snap, spark.read.parquet(landSnap), Seq("store_item"))
    }
    if (batch.voids.nonEmpty) {
      val stmt = s"DELETE FROM '$chg' WHERE trans_id IN (${batch.voids.mkString(", ")})"
      tr.span("sources.sql_parse") { require(GraftSql.parse(stmt, spark).isDefined) }
      tr.span("sources.sql_delete") { GraftSql.sql(spark, stmt).collect() }
    }
    tr.span("streaming.fold")(fold())
    tr.span("operators.gold_exec")(goldFor(goldStore).collect())
    batch.changes.size.toLong
  }

  override def annotate(i: Int): Unit = {
    // the change table also grows by the batch's DELETE rewrite
    tr.last("sources.merge_ingest").foreach { s =>
      s.userBytes = diskBytes(landChg)
      s.diskGrowth = diskBytes(chg) - chgBytes
    }
    tr.last("sources.merge_snapshot").foreach { s =>
      s.userBytes = diskBytes(landSnap)
      s.diskGrowth = diskBytes(snap) - snapBytes
    }
    tr.last("operators.gold_exec").foreach(_.liveFiles =
      liveFiles(spark, chg) + liveFiles(spark, snap))
  }

  def storageRatio(): Double = storedOverLive(spark, chg, snap)

  def checks(): Seq[(String, Boolean)] = {
    val all = DataSkipping.readSkipping(spark, chg, lit(true))
    val stored = all.select("trans_id", "store_item", "quantity").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2))).toMap
    val model = gen.live.iterator.map { case (t, c) => t -> (c.storeItem, c.quantity) }.toMap
    val viewDf = IncrementalView.readView(spark, view, "store_item")
      .select("store_item", "sum_value", "cnt")
    val recompute = all.groupBy("store_item").agg(
      sum(col("quantity").cast(Cast)).cast(Sum).as("sum_value"),
      count(lit(1)).as("cnt"))
    val viewRows = viewDf.collect().map(r =>
      r.getLong(0) -> (r.getDecimal(1).longValueExact(), r.getLong(2))).toMap
    val modelView = gen.live.values.groupBy(_.storeItem).map { case (k, cs) =>
      k -> (cs.map(_.quantity.toLong).sum, cs.size.toLong) }
    val stores = Seq(goldStore, (goldStore + Stores / 2) % Stores)
    val goldOk = stores.forall { s =>
      val unpruned = gold(
        DataSkipping.readSkipping(spark, snap, lit(true)).filter(col("store_id") === s),
        all.filter(col("store_id") === s))
      canon(goldFor(s).collect()) == canon(unpruned.collect())
    }
    Seq(
      "change_table_equals_model" -> (stored == model),
      "ivm_view_equals_recompute" -> sameRows(viewDf, recompute),
      "ivm_view_equals_model" -> (viewRows == modelView),
      "gold_pruned_equals_unpruned" -> goldOk)
  }
}

/** One analyst session querying a prebuilt change table that has many
  * small commits: a fixed interleave of point lookup, 3-store range
  * aggregate, metadata count, metadata min/max, one-store gold and a
  * time-travel read. Results are kept for the checks.
  */
final class PosServe(spark: SparkSession, seed: Long, dir: String, tr: Tracer)
    extends Workload {
  private val Stores = 50
  private val Items = 400
  private val BaseRows = 100000
  private val Appends = 4
  private val AppendRows = 500

  private val gen = new PosGen(seed, Stores, Items)
  private val chg = s"$dir/changes"
  private val snap = s"$dir/snapshot"
  private val parts = spark.sparkContext.defaultParallelism
  private var oldVersion = 0L
  private var liveNow, liveOld, liveSnap = 0L

  /** (query class, predicate parameters, canonical result). */
  private val answered = ArrayBuffer.empty[(Int, Seq[Int], Seq[String])]
  private var params: Seq[Int] = Nil

  def build(): Unit = {
    DataSkipping.writeWithStats(
      PosGen.changes(spark, gen.initial(BaseRows)).repartitionByRange(parts, col("store_id")),
      chg, ChangeStats, Nil)
    DataSkipping.writeWithStats(
      PosGen.snaps(spark, gen.initialSnapshot()).repartitionByRange(parts, col("store_id")),
      snap, SnapStats)
    oldVersion = DataSkipping.tableVersions(spark, chg).max
    (0 until Appends).foreach { _ =>
      DataSkipping.appendWithStats(PosGen.changes(spark, gen.initial(AppendRows)), chg, ChangeStats)
    }
    val voids = gen.batch(0, 0, 0, 50).voids
    DataSkipping.deleteWhere(spark, chg, col("trans_id").isin(voids: _*))
    liveNow = liveFiles(spark, chg)
    liveOld = DataSkipping.readSkippingAt(spark, chg, oldVersion, lit(true)).inputFiles.length
    liveSnap = liveFiles(spark, snap)
  }

  def warmup(): Unit = {
    (0 until 4 * roundSize).foreach { q => prepare(q); iterate(q) }
    answered.clear()
  }

  override def roundSize: Int = 6

  override def prepare(i: Int): Unit = {
    val s = gen.nextInt(Stores)
    params = i % roundSize match {
      case 0 => Seq(s, gen.nextInt(Items))
      case 1 => Seq(gen.nextInt(Stores - 2))
      case 2 => Seq(s, gen.nextInt(20))
      case _ => Seq(s)
    }
  }

  private def pred(q: Int, p: Seq[Int]): Column = q match {
    case 0 => col("store_id") === p(0) && col("item_id") === p(1)
    case 1 => col("store_id").between(p(0), p(0) + 2)
    case 2 => col("store_id") === p(0) && col("quantity") > p(1)
    case _ => col("store_id") === p(0)
  }

  private def rangeAgg(df: DataFrame): DataFrame =
    df.groupBy("store_id").agg(count(lit(1)), sum("quantity"))

  private def ttAgg(df: DataFrame): DataFrame =
    df.agg(count(lit(1)), sum("quantity"), max("date_time"))

  /** Answers query `q` through graft's pruned reads and metadata
    * aggregates.
    */
  private def answer(q: Int, p: Seq[Int]): Seq[String] = {
    def read(path: String, c: Column, version: Option[Long] = None): DataFrame =
      tr.span("sources.read_plan") {
        version.fold(DataSkipping.readSkipping(spark, path, c))(
          DataSkipping.readSkippingAt(spark, path, _, c))
      }
    val c = pred(q, p)
    q match {
      case 0 => canon(read(chg, c).collect())
      case 1 => canon(rangeAgg(read(chg, c)).collect())
      case 2 => Seq(DataSkipping.countWhere(spark, chg, c).toString)
      case 3 =>
        val (lo, hi) = DataSkipping.minMaxWhere(spark, chg, "trans_id", c)
        Seq(lo.toString, hi.toString)
      case 4 => canon(gold(read(snap, c), read(chg, c)).collect())
      case 5 => canon(ttAgg(read(chg, c, Some(oldVersion))).collect())
    }
  }

  /** The same answer from whole-table reads with no pruning: the rows
    * are filtered with the same predicate on the driver (gold runs the
    * operator over the filtered unpruned frames).
    */
  private def expected(q: Int, p: Seq[Int], now: Array[Row], old: Array[Row]): Seq[String] = {
    def store(r: Row) = r.getInt(1)
    def qty(r: Row) = r.getInt(5).toLong
    def sel(rows: Array[Row]): Array[Row] = rows.filter(r => q match {
      case 0 => store(r) == p(0) && r.getInt(2) == p(1)
      case 1 => store(r) >= p(0) && store(r) <= p(0) + 2
      case 2 => store(r) == p(0) && qty(r) > p(1)
      case _ => store(r) == p(0)
    })
    q match {
      case 0 => canon(sel(now))
      case 1 => sel(now).groupBy(store).map { case (s, rs) =>
        s"$s|${rs.length}|${rs.map(qty).sum}" }.toSeq.sorted
      case 2 => Seq(sel(now).length.toString)
      case 3 =>
        val ids = sel(now).map(_.getLong(0))
        Seq(ids.minOption.toString, ids.maxOption.toString)
      case 4 =>
        val c = pred(q, p)
        canon(gold(DataSkipping.readSkipping(spark, snap, lit(true)).filter(c),
          DataSkipping.readSkipping(spark, chg, lit(true)).filter(c)).collect())
      case 5 =>
        val rs = sel(old)
        if (rs.isEmpty) Seq("0|null|null")
        else Seq(s"${rs.length}|${rs.map(qty).sum}|${rs.map(_.getTimestamp(6)).maxBy(_.getTime)}")
    }
  }

  private val SpanOf = Seq("sources.scan.point", "sources.scan.range", "sources.meta_count",
    "sources.meta_minmax", "operators.gold_exec", "sources.scan.time_travel")

  def iterate(i: Int): Long = {
    val q = i % roundSize
    val res = tr.span(SpanOf(q))(answer(q, params))
    answered += ((q, params, res))
    1L
  }

  override def annotate(i: Int): Unit =
    tr.last(SpanOf(i % roundSize)).foreach(_.liveFiles = i % roundSize match {
      case 4 => liveNow + liveSnap
      case 5 => liveOld
      case _ => liveNow
    })

  def storageRatio(): Double = storedOverLive(spark, chg, snap)

  def checks(): Seq[(String, Boolean)] = {
    val now = DataSkipping.readSkipping(spark, chg, lit(true)).collect()
    val old = DataSkipping.readSkippingAt(spark, chg, oldVersion, lit(true)).collect()
    val bad = answered.filterNot { case (q, p, res) => expected(q, p, now, old) == res }
    bad.take(3).foreach { case (q, p, res) =>
      System.err.println(s"pos_serve mismatch: ${SpanOf(q)} $p pruned=$res") }
    Seq(
      "answers_recorded" -> answered.nonEmpty,
      "pruned_answers_equal_unpruned" -> bad.isEmpty)
  }
}

/** One full dedup pass per iteration over a corpus with planted exact
  * and near duplicates: exact dedup by hash, MinHash-LSH pairs,
  * connected components, and a stats write of the survivors.
  */
final class CorpusDedup(spark: SparkSession, seed: Long, dir: String, tr: Tracer)
    extends Workload {
  private val BaseDocs = 2500
  private val corpusPath = s"$dir/corpus"
  private val outPath = s"$dir/survivors"
  private var corpus: Corpus = _

  def build(): Unit = {
    corpus = CorpusGen(seed, BaseDocs)
    DataSkipping.writeWithStats(corpus.frame(spark), corpusPath, Seq("id"))
  }

  def warmup(): Unit = iterate(-1)

  def iterate(i: Int): Long = {
    val docs = tr.span("sources.read_plan") {
      DataSkipping.readSkipping(spark, corpusPath, lit(true))
    }
    val scope = new CacheScope
    val exact = tr.span("operators.exact") {
      val reps = Dedup.exactByHash(docs, "id", "text").select(col("rep_id").as("id"))
      val kept = docs.join(reps, Seq("id"), "left_semi").cache()
      kept.count()
      kept
    }
    try {
      val pairs = tr.span("operators.minhash_lsh") {
        val p = Dedup.minHashLsh(exact, "id", "text", scope = scope).cache()
        p.count()
        p
      }
      val survivors = tr.span("operators.components") {
        Dedup.keepRepresentatives(exact, "id", pairs)
      }
      tr.span("sources.write") {
        DataSkipping.writeWithStats(survivors, outPath, Seq("id"))
      }
      pairs.unpersist()
    } finally {
      scope.release()
      exact.unpersist()
    }
    corpus.docs.size.toLong
  }

  private var outBytes = 0L

  override def prepare(i: Int): Unit = outBytes = diskBytes(outPath)

  override def annotate(i: Int): Unit =
    tr.last("sources.write").foreach { s =>
      s.userBytes = liveBytes(spark, outPath)
      s.diskGrowth = diskBytes(outPath) - outBytes
    }

  def storageRatio(): Double = storedOverLive(spark, outPath)

  def checks(): Seq[(String, Boolean)] = {
    val got = DataSkipping.readSkipping(spark, outPath, lit(true))
      .select("id").collect().map(_.getLong(0)).toSet
    Seq("survivors_equal_planted_truth" -> (got == corpus.survivors))
  }
}
