package graftbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._

import graft.table.Versioned

/** A keyed event row of the DML and read fixtures. */
final case class Ev(id: Long, grp: Int, ts: Long, amount: Long, note: String) {
  def hash: Long = Fp.row(id, grp, ts, amount, note)
  def bytes: Long = 28L + note.length
  def row: Row = Row(id, grp, ts, amount, note)
}

object Ev {
  val Schema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("grp", IntegerType), StructField("ts", LongType),
    StructField("amount", LongType), StructField("note", StringType)))
  val Cols: Seq[String] = Schema.fieldNames.toSeq

  def gen(id: Long, r: Random): Ev =
    Ev(id, r.nextInt(16), 1500000000L + id * 60 + r.nextInt(60), r.nextInt(1000000).toLong,
      Notes(r.nextInt(Notes.size)) + "-" + r.nextInt(1000))

  val Notes: Seq[String] = Seq("ok", "late", "gift", "promo", "retry", "bulk", "ünï", "返品")

  def df(spark: SparkSession, rows: Seq[Ev]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows.map(_.row), 1), Schema)

  /** Latest-state model of a keyed table with a running fingerprint. */
  final class Model {
    val rows = mutable.LongMap[Ev]()
    var fp: Fp = Fp.Empty
    var bytes = 0L
    def put(e: Ev): Unit = {
      rows.get(e.id).foreach(old => fp -= old.hash)
      rows(e.id) = e
      fp += e.hash
      bytes += e.bytes
    }
    def remove(id: Long): Unit = rows.remove(id).foreach(old => fp -= old.hash)
  }
}

/** One op = one small transaction on a versioned table, in a fixed
  * cycle of 9: two append micro-batches, a compaction of the small
  * files they leave, then a keyed merge upsert, a zone-hinted update
  * and a merge-on-read delete, each twice in a row. Every run sees the
  * same mix, and a traced op sits beside an untraced one of its kind;
  * the seed draws the rows, keys and ranges. Each op ends with the client reading the
  * committed head. Every answer is the full table's fingerprint against
  * the op log replayed on a plain in-memory model.
  */
final class DmlCommits(ctx: Ctx) extends Workload {
  import DmlCommits._
  private var dir: String = _
  private var model: Ev.Model = _
  private var nextId = 0L

  def tableRoots: Seq[String] = Seq(dir)
  def userBytes: Long = model.bytes
  // one whole cycle, so the timed region starts at its head
  override def warmOps: Int = Cycle.size

  def setup(d: String): Unit = {
    dir = s"$d/events"
    model = new Ev.Model
    val r = new Random(ctx.seed)
    val rows = (0L until InitialRows).map(Ev.gen(_, r))
    rows.foreach(model.put)
    nextId = InitialRows
    val spark = ctx.spark
    val v = Versioned.append(Ev.df(spark, rows).repartitionByRange(8, col("id")), dir)
    Versioned.writeZoneMap(spark, dir, v, "id")
  }

  def op(i: Int): OpOut = {
    val spark = ctx.spark
    val r = new Random(ctx.seed * 1000003L + i)
    val live = model.rows.keysIterator.size
    def someId() = model.rows.keysIterator.drop(r.nextInt(live)).next()
    def commit[T](kind: String, user: Long)(body: => T): T =
      ctx.span(s"table.commit.$kind", Seq(dir), user)(body)
    val (kind, rows) = Cycle(i % Cycle.size) match {
      case "compact" =>
        commit("compact", 0L)(Versioned.compactSmall(spark, dir, smallBytes = SmallBytes))
        ("compact", 0L)
      case "append" =>
        val batch = (0 until BatchRows).map(k => Ev.gen(nextId + k, r))
        nextId += BatchRows
        commit("append", batch.map(_.bytes).sum)(Versioned.append(Ev.df(spark, batch), dir))
        batch.foreach(model.put)
        ("append", batch.size.toLong)
      case "merge" =>
        val old = (0 until BatchRows / 2).map(_ => someId()).distinct
        val fresh = (0 until BatchRows / 2).map(k => nextId + k)
        nextId += BatchRows / 2
        val batch = (old ++ fresh).map(Ev.gen(_, r))
        commit("merge", batch.map(_.bytes).sum)(Versioned.merge(spark, dir, Ev.df(spark, batch), Seq("id")))
        batch.foreach(model.put)
        ("merge", batch.size.toLong)
      case "update" =>
        val lo = r.nextInt(nextId.toInt - UpdateWidth).toLong
        val hi = lo + UpdateWidth - 1
        val hit = model.rows.valuesIterator.filter(e => e.id >= lo && e.id <= hi).toSeq
        commit("update", hit.size * 8L)(Versioned.updateWhere(spark, dir, col("id").between(lo, hi),
          Map("amount" -> (col("amount") + lit(1L))), zoneHint = Some(("id", lo, hi))))
        hit.foreach(e => model.put(e.copy(amount = e.amount + 1)))
        ("update", hit.size.toLong)
      case "delete_mor" =>
        val lo = r.nextInt(nextId.toInt - DeleteWidth).toLong
        val hi = lo + DeleteWidth - 1
        val hit = model.rows.keysIterator.filter(id => id >= lo && id <= hi).toSeq
        commit("delete_mor", 0L)(Versioned.deleteWhereMoR(spark, dir, col("id").between(lo, hi),
          zoneHint = Some(("id", lo, hi))))
        hit.foreach(model.remove)
        ("delete_mor", hit.size.toLong)
    }
    ctx.span("table.log.head")(Versioned.currentVersion(spark, dir))
    val want = model.fp
    OpOut(kind, rows, () => {
      val got = Fp.of(Versioned.read(spark, dir).select(Ev.Cols.map(col): _*))
      if (i < 16) Console.err.println(s"[perfbench] op $i $kind table fp $got")
      if (got == want) None else Some(s"$kind: table fingerprint $got, expected $want")
    })
  }
}

object DmlCommits {
  val Cycle: Seq[String] = Seq("append", "append", "compact", "merge", "merge", "update", "update",
    "delete_mor", "delete_mor")
  val InitialRows = 20000L
  val BatchRows = 200
  val UpdateWidth = 100
  val DeleteWidth = 20
  /** Files below this size are compaction debris (the initial load's are larger). */
  val SmallBytes: Long = 48L << 10
}
