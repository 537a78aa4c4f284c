package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** What one op did: its kind, the user rows it moved, and the answer
  * check, which runs after the op's clock has stopped.
  */
final case class OpOut(kind: String, rows: Long, check: () => Option[String])

/** Session, tracer and seed shared by a workload and the runner. The
  * session is replaced when the traced run switches to `local[1]`.
  */
final class Ctx(val seed: Long) {
  var spark: SparkSession = _
  var tracer: Tracer = _
  def span[T](name: String, tables: Seq[String] = Nil, userBytes: Long = 0L)(body: => T): T =
    tracer.span(name, tables, userBytes)(body)
  def add(key: String, n: Long): Unit = tracer.add(key, n)
}

/** A closed-loop workload: set-up builds a fixture, then ops run one at a
  * time. Op `i`'s inputs depend only on the seed and `i`.
  */
trait Workload {
  /** Builds a fresh fixture under `dir` and makes it the current one. */
  def setup(dir: String): Unit
  def op(i: Int): OpOut
  /** Bytes of user data generated into the current fixture so far. */
  def userBytes: Long
  /** Table roots of the current fixture. */
  def tableRoots: Seq[String]
  /** Ops run, checked but untimed, before the timed region. */
  def warmOps: Int = 2
}

object Workloads {
  val names: Seq[String] = Seq("medallion_refresh", "dml_commits", "lake_reads", "corpus_curate")
  def make(name: String, ctx: Ctx): Workload = name match {
    case "medallion_refresh" => new MedallionRefresh(ctx)
    case "dml_commits" => new DmlCommits(ctx)
    case "lake_reads" => new LakeReads(ctx)
    case "corpus_curate" => new CorpusCurate(ctx)
  }
}

final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
    cores: Int, work: String, out: String)

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(Workloads.names.contains(w), s"unknown workload $w (one of ${Workloads.names.mkString(", ")})")
    Args(w, need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      m.getOrElse("cores", "4").toInt, need("work"), need("out"))
  }
}

/** Host stamps for one run window. */
object Host {
  /** `/proc/stat` cpu-line ticks, or None when the sample fails. */
  def ticks(): Option[Array[Long]] =
    try Some(Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong))
    catch { case _: Throwable => None }

  /** Steal share of all ticks between two samples; None if either failed. */
  def steal(t0: Option[Array[Long]], t1: Option[Array[Long]]): Option[Double] =
    for (a <- t0; b <- t1 if a.length > 7 && b.length > 7 && b.sum > a.sum)
      yield (b(7) - a(7)).toDouble / (b.sum - a.sum)

  def loadavg(): Option[Double] =
    try Some(new String(Files.readAllBytes(Paths.get("/proc/loadavg")), StandardCharsets.UTF_8)
      .trim.split("\\s+")(0).toDouble)
    catch { case _: Throwable => None }
}

object Main {
  def main(argv: Array[String]): Unit = {
    val code =
      try new Runner(Args.parse(argv)).run()
      catch {
        case e: Throwable =>
          Console.err.println(s"[perfbench] fatal: $e")
          e.printStackTrace()
          3
      }
    System.exit(code)
  }
}

object Runner {
  /** Steal share of a timed window above which an untraced run
    * measures a second window.
    */
  val StealRetry = 0.02
}

final class Runner(a: Args) {
  import Runner._
  private val ctx = new Ctx(a.seed)
  private def log(s: String): Unit = Console.err.println(s"[perfbench] $s")
  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def startSession(cores: Int): Unit = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      // small status-store retention: the driver heap then holds the
      // engine's live state, not a sawtooth of finished job records
      .config("spark.ui.retainedJobs", 50L)
      .config("spark.ui.retainedStages", 50L)
      .config("spark.ui.retainedTasks", 1000L)
      .config("spark.sql.ui.retainedExecutions", 10L)
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    ctx.spark = spark
    ctx.tracer = new Tracer(spark.sparkContext)
  }

  private def stopSession(): Unit = {
    ctx.tracer.detach()
    ctx.spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Live heap in MB: a full collection, a pause for Spark's context
    * cleaner to drop the blocks the first one orphaned, and another.
    */
  private def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Runs ops from index `from` for `seconds` of wall time, and at
    * least `minOps` and at most `maxOps` of them. `traceMode` 0 traces
    * nothing, 1 traces every other op from the first (the others
    * measure the tracing overhead), 2 traces every op.
    */
  private def loop(w: Workload, from: Int, seconds: Double, traceMode: Int,
      minOps: Int = 1, maxOps: Int = Int.MaxValue): (LoopStats, Int) = {
    val l = new LoopStats
    var i = from
    val t0 = System.nanoTime()
    var lastHeap = System.nanoTime()
    while ((i - from < minOps || secs(t0) < seconds) && i - from < maxOps) {
      val tr = traceMode match { case 0 => false; case 1 => (i - from) % 2 == 0; case _ => true }
      ctx.tracer.on = tr
      ctx.tracer.op = i
      val s = System.nanoTime()
      val out = try Right(ctx.span("op")(w.op(i))) catch { case e: Throwable => Left(e) }
      val ms = (System.nanoTime() - s) / 1e6
      ctx.tracer.on = false
      l.attempted += 1
      val verdict = out match {
        case Left(e) => Some(s"op failed: $e")
        case Right(o) => try o.check() catch { case e: Throwable => Some(s"check failed: $e") }
      }
      out.foreach { o =>
        l.kinds += o.kind
        l.rows += o.rows
      }
      if (out.isLeft) l.kinds += "error"
      verdict.foreach { msg => l.failed += 1; log(s"op $i FAILED: $msg") }
      l.lat += ms
      l.traced += tr
      l.opSecs += ms / 1e3
      l.persisted = math.max(l.persisted, ctx.spark.sparkContext.getPersistentRDDs.size)
      if (traceMode == 0 && (System.nanoTime() - lastHeap) > 3e9) {
        l.peakHeapMb = math.max(l.peakHeapMb, liveHeapMb())
        lastHeap = System.nanoTime()
      }
      i += 1
    }
    if (traceMode == 0) l.peakHeapMb = math.max(l.peakHeapMb, liveHeapMb())
    (l, i)
  }

  def run(): Int = {
    new File(a.work).mkdirs()
    val t0 = System.nanoTime()
    startSession(a.cores)
    val startS = secs(t0)
    Fp.selfTest(ctx.spark)
    val sessionS = secs(t0)
    log(f"session: start $startS%.2fs, first job ${sessionS - startS}%.2fs, jvm ${(System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3 - sessionS}%.2fs before main")
    val w = Workloads.make(a.workload, ctx)
    // one fixture build per run: a build costs 5-15 s, and the whole
    // run set has a fixed time budget
    val buildT = System.nanoTime()
    w.setup(s"${a.work}/fixture")
    val buildS = secs(buildT)
    // warm-up: the first ops of the sequence, checked but not timed
    val warmT = System.nanoTime()
    val (warm, next) = loop(w, 0, 0.0, 0, minOps = w.warmOps, maxOps = w.warmOps)
    val warmS = secs(warmT)
    val setupS = sessionS + buildS + warmS
    // storage after a fixed amount of work: measured at the end of the
    // run, a faster engine would run more ops and keep more history
    val stored = FsStat.ofAll(w.tableRoots)
    val storedPerUserByte = (stored.logBytes + stored.dataBytes).toDouble / w.userBytes
    log(f"setup: session $sessionS%.2fs build $buildS%.2fs warm-up $warmS%.2fs")

    var failed = warm.failed
    var attempted = warm.attempted
    // a timed window of ops from `from`, with the host's steal over it
    def window(from: Int, seconds: Double, traceMode: Int, minOps: Int = 1): (LoopStats, Int, Option[Double]) = {
      val t = Host.ticks()
      val (l, n) = loop(w, from, seconds, traceMode, minOps)
      failed += l.failed
      attempted += l.attempted
      (l, n, Host.steal(t, Host.ticks()))
    }
    val load0 = Host.loadavg()
    // a traced window runs at least one traced and one untraced op
    val first = if (a.trace) window(next, a.seconds * 2 / 3, 1, minOps = 2) else window(next, a.seconds, 0)
    // co-tenant steal slows every op of a window alike (13% steal cost
    // 45% on lake_reads); an untraced run then measures one more window
    // and keeps the calmer one. Ops of both windows are checked.
    val (main, afterMain, steal) = first match {
      case (_, n, Some(s)) if !a.trace && s > StealRetry =>
        log(f"steal ${s * 100}%.1f%% over the timed window; measuring another")
        val second = window(n, a.seconds, 0)
        if (second._3.exists(_ < s)) second else first
      case _ => first
    }
    ctx.tracer.drain()
    val spansN = ctx.tracer.spans.toVector

    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) {
        val n = main.lat.size
        val sorted = main.lat.sorted
        Seq(
          ("setup_s", setupS, "s"),
          ("op_p50_ms", median(main.lat.toSeq), "ms"),
          ("op_tail_ms", sorted(math.ceil(0.9 * n).toInt - 1), "ms"),
          ("ops_per_s", n / main.opSecs, "1/s"),
          ("rows_per_s", main.rows / main.opSecs, "rows/s"),
          ("peak_heap_mb", main.peakHeapMb, "MB"),
          ("stored_bytes_per_user_byte", storedPerUserByte, "ratio"))
      } else {
        val layersN = Layers.metrics(spansN, main, a.cores, w)
        // single-threaded baseline on the same fixture
        stopSession()
        startSession(1)
        val (one, _) = loop(w, afterMain, math.max(a.seconds / 3, 1.0), 2)
        failed += one.failed
        attempted += one.attempted
        ctx.tracer.drain()
        val spans1 = ctx.tracer.spans.toVector
        val layers1 = Layers.metrics(spans1, one, 1, w)
        val overhead = {
          val tr = main.lat.indices.filter(main.traced(_)).map(main.lat(_))
          val un = main.lat.indices.filterNot(main.traced(_)).map(main.lat(_))
          if (tr.isEmpty || un.isEmpty) 0.0 else median(tr) / median(un) - 1
        }
        writeSpans(spansN ++ spans1)
        Layers.report(layersN, layers1, overhead)
      }

    val correct = failed == 0
    val metricsJson = metrics.map { case (k, v, u) =>
      s""""$k": {"value": ${Trace.num(v)}, "unit": "$u"}""" }.mkString(", ")
    val result = s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$metricsJson}}"""
    val record =
      s"""{"workload":"${a.workload}","seed":${a.seed},"seconds":${a.seconds},"trace":${a.trace},""" +
        s""""cores":${a.cores},"nproc":${Runtime.getRuntime.availableProcessors},""" +
        s""""steal":${steal.map(Trace.num).getOrElse("null")},"steal_first_window":${first._3.map(Trace.num).getOrElse("null")},""" +
        s""""loadavg_start":${load0.map(Trace.num).getOrElse("null")},"loadavg_end":${Host.loadavg().map(Trace.num).getOrElse("null")},""" +
        s""""spark":"${ctx.spark.version}","jvm":"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",""" +
        s""""ops":${main.lat.size},"tail_samples_beyond":${main.lat.size - math.ceil(0.9 * main.lat.size).toInt},""" +
        s""""lat_ms":[${main.lat.map(Trace.num).mkString(",")}],"op_kinds":[${main.kinds.map("\"" + _ + "\"").mkString(",")}],""" +
        s""""failed_frac":${Trace.num(failed.toDouble / math.max(1, attempted))},""" +
        s""""result":$result}"""
    Files.write(Paths.get(a.out), (record + "\n").getBytes(StandardCharsets.UTF_8))
    stopSession()
    println("PERFBENCH_RESULT " + result)
    if (correct) 0 else 1
  }

  private def writeSpans(spans: Seq[Span]): Unit =
    Files.write(Paths.get(a.out.stripSuffix(".json") + ".spans.jsonl"),
      spans.map(_.json).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
}

/** Latencies and counts of one closed-loop region. */
final class LoopStats {
  val lat = ArrayBuffer[Double]()
  val kinds = ArrayBuffer[String]()
  val traced = ArrayBuffer[Boolean]()
  var rows = 0L
  var opSecs = 0.0
  var attempted = 0
  var failed = 0
  var peakHeapMb = 0.0
  var persisted = 0
}

object Fs {
  def rmrf(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(rmrf)
    f.delete()
  }
}
