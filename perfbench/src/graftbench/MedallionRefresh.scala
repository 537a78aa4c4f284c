package graftbench

import org.apache.spark.sql.functions.{col, round}

import graft.pipeline.{Lake, LakeRoots}
import graft.table.Versioned

/** One op = one real-time medallion round: drop a seeded Olist batch for
  * all eight entities, stream it into versioned bronze, propagate it to
  * silver, rebuild gold. Latency runs from the drop to the gold commit.
  * Set-up is the initial `Lake.buildAllVersioned` load of round 0.
  */
final class MedallionRefresh(ctx: Ctx) extends Workload {
  private var gen: Olist = _
  private var root: String = _
  private var roots: LakeRoots = _
  private var nextRound = 0

  private def ingest = s"$root/ingest"
  def tableRoots: Seq[String] = Seq(roots.bronze, roots.silver, roots.gold)
  def userBytes: Long = gen.csvBytes
  override def warmOps: Int = 1

  def setup(dir: String): Unit = {
    root = dir
    roots = LakeRoots(s"$dir/bronze", s"$dir/silver", s"$dir/gold", s"$dir/checkpoints")
    gen = new Olist(ctx.seed)
    gen.drop(0, ingest)
    Lake.buildAllVersioned(ctx.spark, ingest, roots)
    nextRound = 1
    val bad = check()
    require(bad.isEmpty, s"initial load: ${bad.get}")
  }

  def op(i: Int): OpOut = {
    val spark = ctx.spark
    val rows = ctx.span("bench.drop")(gen.drop(nextRound, ingest))
    nextRound += 1
    // log-version deltas of a tier, counted only when tracing
    def commits[T](tier: String)(body: => T): T = {
      val before = if (ctx.tracer.on) FsStat.of(tier).logEntries else 0L
      val r = body
      if (ctx.tracer.on) ctx.add("commits", FsStat.of(tier).logEntries - before)
      r
    }
    val entities = ctx.span("streaming.bronze")(
      commits(roots.bronze)(Lake.refreshBronzeVersioned(spark, ingest, roots)))
    ctx.span("pipeline.silver")(commits(roots.silver)(
      Lake.refreshSilverFromVersionedBronze(spark, roots, entities)))
    ctx.span("pipeline.gold")(commits(roots.gold)(Lake.refreshGoldVersioned(spark, roots)))
    OpOut("round", rows, () => check())
  }

  /** `metrics_revenue` read back through its log head against the
    * model's relational replay of the same mart.
    */
  private def check(): Option[String] = {
    val gold = Versioned.read(ctx.spark, roots.versionedGoldDir("metrics_revenue")).select(
      col("order_date"), col("customer_state"), col("order_status"),
      round(col("total_revenue"), 2).cast("decimal(18,2)"), col("order_count"), col("payment_count"))
    val got = Fp.of(gold)
    val want = gen.expectedRevenue()
    Console.err.println(s"[perfbench] round ${nextRound - 1} metrics_revenue fp $got")
    if (got == want) None else Some(s"metrics_revenue fingerprint $got, expected $want")
  }
}
