package graftbench

import scala.collection.immutable.LongMap
import scala.util.Random

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.{col, count, lit, sum, when}

import graft.table.Versioned

/** One op = one read over a fixture with history, from a seeded mix:
  * point lookups, IN-lists, clustered range scans, time travel to an
  * older version, change-feed windows and a gold-style
  * join+aggregate. Half the reads go through the Scala API, half through
  * SQL on the `graft-versioned` relation (the change feed is Scala
  * only). No commits happen in the timed region.
  *
  * Every answer is checked against the same predicate evaluated over
  * the model's copy of the snapshot the read named.
  */
final class LakeReads(ctx: Ctx) extends Workload {
  import LakeReads._
  private var dir: String = _
  private var dimDir: String = _
  /** Model snapshot per version (index = version; 0 is empty). */
  private var snaps: Vector[LongMap[Ev]] = _
  private var bytes = 0L
  private var maxId = 0L

  def tableRoots: Seq[String] = Seq(dir, dimDir)
  def userBytes: Long = bytes
  override def warmOps: Int = 2 * Kinds.size

  def setup(d: String): Unit = {
    dir = s"$d/events"
    dimDir = s"$d/groups"
    val spark = ctx.spark
    val r = new Random(ctx.seed)
    val dim = Groups.map { case (g, region) => Row(g, region) }
    Versioned.append(spark.createDataFrame(spark.sparkContext.parallelize(dim, 1), GroupSchema), dimDir)
    bytes = Groups.map(_._2.length + 4L).sum
    val birth = (0L until Rows).map(Ev.gen(_, r))
    bytes += birth.map(_.bytes).sum
    maxId = Rows
    var cur = LongMap(birth.map(e => e.id -> e): _*)
    snaps = Vector(LongMap.empty[Ev], cur)
    val v1 = Versioned.append(Ev.df(spark, birth).repartitionByRange(Files, col("id")), dir)
    Versioned.writeZoneMap(spark, dir, v1, "id")
    // history: a fixed sequence of commit kinds with seeded contents
    History.foreach { kind =>
      kind match {
        case 0 =>
          val batch = (0 until 300).map(k => Ev.gen(maxId + k, r))
          maxId += 300
          Versioned.append(Ev.df(spark, batch), dir)
          cur = cur ++ batch.map(e => e.id -> e)
          bytes += batch.map(_.bytes).sum
        case 1 =>
          val ids = (0 until 200).map(_ => r.nextLong().abs % maxId).distinct.filter(cur.contains)
          val batch = ids.map(id => cur(id).copy(amount = cur(id).amount + 1 + r.nextInt(100), note = "merged"))
          Versioned.merge(spark, dir, Ev.df(spark, batch), Seq("id"))
          cur = cur ++ batch.map(e => e.id -> e)
          bytes += batch.map(_.bytes).sum
        case 2 =>
          val lo = r.nextInt(maxId.toInt - 500).toLong
          val hi = lo + 499
          Versioned.updateWhere(spark, dir, col("id").between(lo, hi),
            Map("amount" -> (col("amount") * lit(2L) + lit(1L))), zoneHint = Some(("id", lo, hi)))
          cur = cur ++ cur.filter { case (id, _) => id >= lo && id <= hi }
            .map { case (id, e) => id -> e.copy(amount = e.amount * 2 + 1) }
        case 3 =>
          val lo = r.nextInt(maxId.toInt - 200).toLong
          val hi = lo + 199
          Versioned.deleteWhere(spark, dir, col("id").between(lo, hi), zoneHint = Some(("id", lo, hi)))
          cur = cur.filterNot { case (id, _) => id >= lo && id <= hi }
        case _ =>
          Versioned.compactSmall(spark, dir, smallBytes = DmlCommits.SmallBytes)
      }
      // an update, delete or compaction that matched nothing commits nothing
      if (Versioned.currentVersion(spark, dir).get == snaps.size) snaps :+= cur
    }
    val head = Versioned.currentVersion(spark, dir).get
    require(head == snaps.size - 1, s"fixture head v$head, model has ${snaps.size - 1} versions")
  }

  private def fpOf(rows: Array[Row]): Fp =
    Fp.ofRows(rows.map(r => (0 until r.length).map(r.get)))

  private def evFp(es: Iterable[Ev]): Fp = es.foldLeft(Fp.Empty)(_ + _.hash)

  private def sqlTable(v: Option[Long]) =
    s"`graft-versioned`.`$dir`" + v.map(x => s" VERSION AS OF $x").getOrElse("")

  def op(i: Int): OpOut = {
    val spark = ctx.spark
    val r = new Random(ctx.seed * 1000003L + i)
    // a fixed cycle of read kinds, each alternating between the APIs
    // from one cycle to the next, so every run reads the same mix; ops
    // come in pairs of the same kind and API, so the traced run can
    // set a traced op beside an untraced one
    val pair = i / 2
    val kind = Kinds(pair % Kinds.size)
    val useSql = (pair / Kinds.size) % 2 == 0
    val head = snaps.size - 1L
    // time travel steps through the history one version per cycle, the
    // same versions on every seed
    val older = pair / Kinds.size

    // the Scala API path: resolve the head, plan the pruned file set,
    // then scan
    def scalaRange(v: Long, lo: Long, hi: Long, filter: org.apache.spark.sql.Column): Array[Row] = {
      val at = if (v == head) ctx.span("table.log.head")(Versioned.currentVersion(spark, dir).get) else v
      val all = ctx.span("table.log.resolve")(Versioned.filesAt(spark, dir, at))
      ctx.span("table.prune") {
        val kept = Versioned.prunedFiles(spark, dir, at, "id", lo, hi)
        ctx.add("files_kept", kept.size.toLong)
        ctx.add("files_total", all.size.toLong)
      }
      ctx.span("table.scan") {
        val rows = Versioned.readWhere(spark, dir, at, "id", lo, hi).filter(filter)
          .select(Ev.Cols.map(col): _*).collect()
        ctx.add("rows_returned", rows.length.toLong)
        rows
      }
    }
    def sqlRows(q: String): Array[Row] = {
      val df = spark.sql(q)
      ctx.span("sql.plan")(df.queryExecution.executedPlan)
      ctx.span("sql.exec")(df.collect())
    }
    def rangeSql(v: Option[Long], where: String) =
      sqlRows(s"SELECT ${Ev.Cols.mkString(", ")} FROM ${sqlTable(v)} WHERE $where")

    val (rows, want): (Array[Row], Fp) = kind match {
      case "point" =>
        val id = r.nextLong().abs % maxId
        val got = if (useSql) rangeSql(None, s"id = $id") else scalaRange(head, id, id, col("id") === id)
        (got, evFp(snaps(head.toInt).get(id)))
      case "in_list" =>
        val ids = Seq.fill(10)(r.nextLong().abs % maxId).distinct.sorted
        val got =
          if (useSql) rangeSql(None, s"id IN (${ids.mkString(", ")})")
          else {
            val all = ctx.span("table.log.resolve")(Versioned.filesAt(spark, dir, head))
            ctx.span("table.prune") {
              val kept = Versioned.prunedFilesIn(spark, dir, head, "id", ids)
              ctx.add("files_kept", kept.size.toLong)
              ctx.add("files_total", all.size.toLong)
            }
            ctx.span("table.scan") {
              val rows = Versioned.readAt(spark, dir, head).filter(col("id").isin(ids: _*))
                .select(Ev.Cols.map(col): _*).collect()
              ctx.add("rows_returned", rows.length.toLong)
              rows
            }
          }
        (got, evFp(ids.flatMap(snaps(head.toInt).get)))
      case "range" | "travel" =>
        val v = if (kind == "range") head else 1L + older % (head - 1)
        val width = if (kind == "range") 2000 else 500
        val lo = r.nextLong().abs % (maxId - width)
        val hi = lo + width - 1
        val got =
          if (useSql) rangeSql(if (v == head) None else Some(v), s"id BETWEEN $lo AND $hi")
          else scalaRange(v, lo, hi, col("id").between(lo, hi))
        (got, evFp(snaps(v.toInt).valuesIterator.filter(e => e.id >= lo && e.id <= hi).toSeq))
      case "cdf" =>
        // one fixed window: the first merge and update, so every
        // change-feed read diffs and pairs the same rewrites
        val (from, to) = (1L, 3L)
        val got = ctx.span("table.scan") {
          val rows = Versioned.changesWithType(spark, dir, from, to)
            .select(Ev.Cols.map(col) ++ Seq(col("_commit_version"),
              when(col("_change_type").isin("insert", "update_postimage"), lit(1)).otherwise(lit(-1))): _*)
            .collect()
          ctx.add("rows_returned", rows.length.toLong)
          rows
        }
        val want = ((from + 1) to to).foldLeft(Fp.Empty) { (fp, v) =>
          val (a, b) = (snaps(v.toInt - 1), snaps(v.toInt))
          val removed = a.filter { case (id, e) => !b.get(id).contains(e) }.values.map(e => (e, -1))
          val added = b.filter { case (id, e) => !a.get(id).contains(e) }.values.map(e => (e, 1))
          (removed ++ added).foldLeft(fp) { case (f, (e, s)) =>
            f + Fp.row(e.id, e.grp, e.ts, e.amount, e.note, v, s) }
        }
        (got, want)
      case _ => // join + aggregate per region
        val got =
          if (useSql) sqlRows(
            s"""SELECT g.region, count(*) AS n, sum(e.amount) AS total
               |FROM ${sqlTable(None)} e JOIN `graft-versioned`.`$dimDir` g ON e.grp = g.grp
               |WHERE e.ts % 7 <> 0 GROUP BY g.region""".stripMargin)
          else ctx.span("table.scan") {
            ctx.span("table.log.resolve")(Versioned.filesAt(spark, dir, head))
            Versioned.readAt(spark, dir, head).filter(col("ts") % 7 =!= 0)
              .join(Versioned.read(spark, dimDir), "grp")
              .groupBy("region").agg(count(lit(1)).as("n"), sum("amount").as("total"))
              .collect()
          }
        val regions = Groups.toMap
        val want = snaps(head.toInt).values.filter(_.ts % 7 != 0).groupBy(e => regions(e.grp))
          .map { case (region, es) => Seq[Any](region, es.size.toLong, es.map(_.amount).sum) }
        (got, Fp.ofRows(want))
    }
    val tag = s"$kind/${if (useSql && kind != "cdf") "sql" else "scala"}"
    OpOut(tag, rows.length.toLong, () => {
      val got = fpOf(rows)
      if (i < 12) Console.err.println(s"[perfbench] op $i $tag fp $got")
      if (got == want) None else Some(s"$tag: fingerprint $got, expected $want")
    })
  }
}

object LakeReads {
  val Rows = 12000L
  val Files = 8
  /** History commit kinds: 0 append, 1 merge, 2 update, 3 delete, 4 compact-small. */
  val History: Seq[Int] = Seq(0, 1, 2, 0, 3, 1, 4, 0)
  val Kinds: Seq[String] = Seq("point", "point", "in_list", "range", "travel", "cdf", "join_agg")
  val Groups: Seq[(Int, String)] = (0 until 16).map(g => g -> Seq("north", "south", "east", "west", "center")(g % 5))
  val GroupSchema: org.apache.spark.sql.types.StructType = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("grp", org.apache.spark.sql.types.IntegerType),
    org.apache.spark.sql.types.StructField("region", org.apache.spark.sql.types.StringType)))
}
