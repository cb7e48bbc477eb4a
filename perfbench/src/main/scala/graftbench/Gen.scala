package graftbench

import java.sql.Timestamp
import java.util.SplittableRandom

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** One POS change row (an inventory movement). `storeItem` is the
  * combined (store, item) key the incremental view groups on.
  */
final case class Change(transId: Long, store: Int, item: Int, changeType: Int,
    quantity: Int, tsSec: Long) {
  def storeItem: Long = PosGen.storeItem(store, item)
  def row: Row = Row(transId, store, item, storeItem, changeType, quantity,
    new Timestamp(tsSec * 1000L))
}

/** One POS snapshot row: the counted quantity of a (store, item). */
final case class Snap(store: Int, item: Int, quantity: Int, tsSec: Long) {
  def row: Row = Row(store, item, PosGen.storeItem(store, item), quantity,
    new Timestamp(tsSec * 1000L))
}

/** One change micro-batch: fresh rows, re-sent rows (same `trans_id`,
  * corrected quantity; upserting them is the reference's dedup on
  * `trans_id`), snapshot rows, and the transactions it voids.
  */
final case class PosBatch(changes: Seq[Change], snaps: Seq[Snap], voids: Seq[Long])

/** Seeded POS input generator. It also keeps the model of what the
  * live change table must hold after every batch, so the checks can
  * compare the stored tables against inputs the program never saw.
  */
final class PosGen(seed: Long, val stores: Int, val items: Int) {
  private val rnd = new SplittableRandom(seed)
  private var nextTrans = 1L
  private var clock = 1700000000L
  private val issued = ArrayBuffer.empty[Long]
  /** trans_id → the row the change table must hold for it. */
  val live = mutable.LongMap.empty[Change]

  private def fresh(): Change = {
    clock += 1
    val c = Change(nextTrans, rnd.nextInt(stores), rnd.nextInt(items),
      1 + rnd.nextInt(5), rnd.nextInt(-5, 21), clock)
    nextTrans += 1
    c
  }

  /** A random live trans_id not in `taken`, if one is found quickly. */
  private def pickLive(taken: mutable.Set[Long]): Option[Long] =
    Iterator.continually(issued(rnd.nextInt(issued.size))).take(20)
      .find(t => live.contains(t) && !taken(t))

  private def issue(cs: Seq[Change]): Unit = cs.foreach { c =>
    if (!live.contains(c.transId)) issued += c.transId
    live(c.transId) = c
  }

  /** The table's initial rows. */
  def initial(n: Int): Seq[Change] = {
    val cs = Seq.fill(n)(fresh())
    issue(cs)
    cs
  }

  /** One snapshot row per (store, item). */
  def initialSnapshot(): Seq[Snap] =
    for (s <- 0 until stores; i <- 0 until items)
      yield Snap(s, i, rnd.nextInt(0, 500), clock)

  def batch(fresh: Int, resent: Int, snaps: Int, voids: Int): PosBatch = {
    val taken = mutable.Set.empty[Long]
    val re = ArrayBuffer.empty[Change]
    (0 until resent).foreach(_ => pickLive(taken).foreach { t =>
      taken += t
      clock += 1
      re += live(t).copy(quantity = rnd.nextInt(-5, 21), tsSec = clock)
    })
    val cs = Seq.fill(fresh)(this.fresh()) ++ re
    val snapKeys = mutable.Set.empty[(Int, Int)]
    val ss = Iterator.continually((rnd.nextInt(stores), rnd.nextInt(items)))
      .filter(snapKeys.add).take(snaps).map { case (s, i) =>
        Snap(s, i, rnd.nextInt(0, 500), clock) }.toSeq
    issue(cs)
    val vs = ArrayBuffer.empty[Long]
    (0 until voids).foreach(_ => pickLive(taken).foreach { t =>
      taken += t
      vs += t
      live.remove(t)
    })
    PosBatch(cs, ss, vs.toSeq)
  }

  def nextInt(n: Int): Int = rnd.nextInt(n)
}

object PosGen {
  def storeItem(store: Int, item: Int): Long = store.toLong * 1000000L + item

  val ChangeSchema: StructType = StructType(Seq(
    StructField("trans_id", LongType, nullable = false),
    StructField("store_id", IntegerType, nullable = false),
    StructField("item_id", IntegerType, nullable = false),
    StructField("store_item", LongType, nullable = false),
    StructField("change_type_id", IntegerType, nullable = false),
    StructField("quantity", IntegerType, nullable = false),
    StructField("date_time", TimestampType, nullable = false)))

  val SnapSchema: StructType = StructType(Seq(
    StructField("store_id", IntegerType, nullable = false),
    StructField("item_id", IntegerType, nullable = false),
    StructField("store_item", LongType, nullable = false),
    StructField("quantity", IntegerType, nullable = false),
    StructField("date_time", TimestampType, nullable = false)))

  def changes(spark: SparkSession, cs: Seq[Change]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(cs.map(_.row), 1), ChangeSchema)

  def snaps(spark: SparkSession, ss: Seq[Snap]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(ss.map(_.row), 1), SnapSchema)
}

/** A corpus with planted duplicates and the ids that must survive.
  * Each cluster is one base document plus exact copies (case and
  * whitespace changed only) and near copies (last word replaced,
  * word 3-gram Jaccard above 0.95); a near copy may have exact copies
  * of its own. Ids are a random permutation, and both dedup stages
  * keep the smallest id, so the survivor of a cluster is its smallest
  * id.
  */
final case class Corpus(docs: Seq[(Long, String)], survivors: Set[Long]) {
  def frame(spark: SparkSession): DataFrame = {
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("text", StringType, nullable = false)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(docs.map { case (i, t) => Row(i, t) }, 4), schema)
  }
}

object CorpusGen {
  def apply(seed: Long, baseDocs: Int): Corpus = {
    val rnd = new SplittableRandom(seed)
    val vocab = Array.fill(5000) {
      val n = 3 + rnd.nextInt(6)
      new String(Array.fill(n)(('a' + rnd.nextInt(26)).toChar))
    }
    def word(): String = vocab(rnd.nextInt(vocab.length))
    def exactCopy(words: Seq[String]): String = {
      val ws = words.map(w => if (rnd.nextInt(4) == 0) w.toUpperCase else w)
      val gaps = Seq(" ", "  ", "\t", " \n ")
      val body = ws.head + ws.tail.map(w => gaps(rnd.nextInt(gaps.size)) + w).mkString
      (if (rnd.nextBoolean()) "  " else "") + body + (if (rnd.nextBoolean()) " \n" else "")
    }
    val clusters = (0 until baseDocs).map { _ =>
      val base = Seq.fill(60 + rnd.nextInt(41))(word())
      val texts = ArrayBuffer(base.mkString(" "))
      (0 until (if (rnd.nextInt(5) == 0) 1 + rnd.nextInt(2) else 0))
        .foreach(_ => texts += exactCopy(base))
      if (rnd.nextInt(6) == 0) {
        val near = base.init :+ Iterator.continually(word()).find(_ != base.last).get
        texts += near.mkString(" ")
        if (rnd.nextInt(3) == 0) texts += exactCopy(near)
      }
      texts.toSeq
    }
    val total = clusters.map(_.size).sum
    val ids = Array.tabulate(total)(_.toLong)
    for (i <- ids.indices.reverse) {
      val j = rnd.nextInt(i + 1)
      val t = ids(i); ids(i) = ids(j); ids(j) = t
    }
    var k = 0
    val withIds = clusters.map(_.map { t => val id = ids(k); k += 1; (id, t) })
    Corpus(withIds.flatten, withIds.map(_.map(_._1).min).toSet)
  }
}
