package graftbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One traced interval: a call the benchmark makes into an engine
  * module (or the whole op). Listener counts land on the span whose id
  * the job carried as a local property, else on the innermost open span.
  */
final class Span(val id: Int, val name: String, val parent: Int, val op: Int, val startNs: Long) {
  var endNs = 0L
  var childNs = 0L
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskMs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var bytesRead = 0L
  var recordsRead = 0L
  var filesAdded = 0L
  var bytesAdded = 0L
  /** User bytes the call committed, for write amplification. */
  var userBytes = 0L
  /** Workload-reported counts (rows returned, files kept, commits, ...). */
  val counts = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
  /** (start, end) epoch-ms of every job attributed to this span. */
  val jobWindows = ArrayBuffer[(Long, Long)]()
  def ms: Double = (endNs - startNs) / 1e6
  def selfMs: Double = (endNs - startNs - childNs) / 1e6
  def layer: String = Trace.layerOf(name)
  def json: String =
    s"""{"id":$id,"name":"$name","parent":$parent,"op":$op,"start_ns":$startNs,"end_ns":$endNs,""" +
      s""""self_ms":${Trace.num(selfMs)},"jobs":$jobs,"stages":$stages,"tasks":$tasks,""" +
      s""""task_ms":$taskMs,"gc_ms":$gcMs,"shuffle_bytes":$shuffleBytes,"bytes_read":$bytesRead,""" +
      s""""records_read":$recordsRead,"files_added":$filesAdded,"bytes_added":$bytesAdded}"""
}

/** Bytes and files under a table root, split into log and data. */
final case class FsStat(logEntries: Long, logBytes: Long, checkpoints: Long,
    dataFiles: Long, dataBytes: Long) {
  def +(o: FsStat): FsStat = FsStat(logEntries + o.logEntries, logBytes + o.logBytes,
    checkpoints + o.checkpoints, dataFiles + o.dataFiles, dataBytes + o.dataBytes)
}

object FsStat {
  val Zero: FsStat = FsStat(0, 0, 0, 0, 0)
  private val Entry = """v(\d{8})\.json""".r

  /** Walks `root`: files under `_graft_log` are log (entries `vNNNNNNNN.json`;
    * a checkpoint is a full-list entry at every 16th version or a
    * `.ckpt.json` sidecar), every other non-hidden file is data.
    */
  def of(root: String): FsStat = {
    var st = Zero
    def walk(f: File, inLog: Boolean): Unit =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File])
        .foreach(c => walk(c, inLog || c.getName == "_graft_log"))
      else if (inLog) {
        val ckpt = f.getName match {
          case Entry(v) => if (v.toLong % 16 == 0) 1 else 0
          case n if n.endsWith(".ckpt.json") => 1
          case _ => 0
        }
        val entry = f.getName match { case Entry(_) => 1; case _ => 0 }
        st = st.copy(logEntries = st.logEntries + entry, logBytes = st.logBytes + f.length,
          checkpoints = st.checkpoints + ckpt)
      } else if (!f.getName.startsWith(".") && !f.getName.startsWith("_"))
        st = st.copy(dataFiles = st.dataFiles + 1, dataBytes = st.dataBytes + f.length)
    walk(new File(root), inLog = false)
    st
  }

  def ofAll(roots: Seq[String]): FsStat = roots.map(of).foldLeft(Zero)(_ + _)
}

/** In-memory span recorder plus the Spark listener that attributes
  * job/stage/task counts to spans. Disabled, `span` is a plain call.
  */
final class Tracer(sc: SparkContext) {
  @volatile var on = false
  var op = -1
  val spans = ArrayBuffer[Span]()
  private var stack = List.empty[Span]
  @volatile private var top: Span = _
  private val byId = new java.util.concurrent.ConcurrentHashMap[Int, Span]()
  private val jobSpan = new java.util.concurrent.ConcurrentHashMap[Int, Span]()
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Span]()
  private val jobStartMs = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val viaProp = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.Key)))
        .flatMap(id => Option(byId.get(id.toInt)))
      val s = viaProp.orElse(Option(top))
      s.foreach { sp =>
        jobSpan.put(e.jobId, sp)
        jobStartMs.put(e.jobId, e.time)
        e.stageIds.foreach(stageSpan.put(_, sp))
        sp.synchronized(sp.jobs += 1)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobSpan.remove(e.jobId)).foreach { sp =>
        val t0 = Option(jobStartMs.remove(e.jobId)).map(_.longValue).getOrElse(e.time)
        sp.synchronized(sp.jobWindows += (t0 -> e.time))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageSpan.get(e.stageInfo.stageId)).foreach(sp => sp.synchronized(sp.stages += 1))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { sp =>
        val m = e.taskMetrics
        sp.synchronized {
          sp.tasks += 1
          if (m != null) {
            sp.taskMs += m.executorRunTime
            sp.gcMs += m.jvmGCTime
            sp.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
            sp.bytesRead += m.inputMetrics.bytesRead
            sp.recordsRead += m.inputMetrics.recordsRead
          }
        }
      }
  }
  sc.addSparkListener(listener)

  def detach(): Unit = sc.removeSparkListener(listener)

  /** Runs `body` as a span named `name`. With `tables`, the data files
    * and bytes the body added under those roots are attributed to it.
    */
  def span[T](name: String, tables: Seq[String] = Nil, userBytes: Long = 0L)(body: => T): T =
    if (!on) body
    else {
      val parent = stack.headOption
      val s = new Span(spans.size, name, parent.map(_.id).getOrElse(-1), op, System.nanoTime())
      s.userBytes = userBytes
      spans += s
      byId.put(s.id, s)
      val before = if (tables.isEmpty) FsStat.Zero else FsStat.ofAll(tables)
      stack = s :: stack
      top = s
      sc.setLocalProperty(Trace.Key, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        if (tables.nonEmpty) {
          val after = FsStat.ofAll(tables)
          s.filesAdded = math.max(0L, after.dataFiles - before.dataFiles)
          s.bytesAdded = math.max(0L, after.dataBytes - before.dataBytes)
        }
        stack = stack.tail
        parent.foreach(_.childNs += s.endNs - s.startNs)
        top = parent.orNull
        sc.setLocalProperty(Trace.Key, parent.map(_.id.toString).orNull)
      }
    }

  /** Adds `n` to count `key` of the innermost open span. */
  def add(key: String, n: Long): Unit =
    if (on) stack.headOption.foreach(s => s.counts(key) += n)

  /** Blocks until the listener has seen every event posted so far. */
  def drain(): Unit =
    try org.apache.spark.graft.ListenerBusDrain.waitUntilEmpty(sc)
    catch { case _: java.util.concurrent.TimeoutException => Console.err.println("[perfbench] listener drain timed out") }
}

object Trace {
  val Key = "perfbench.span"

  /** Layer of a span name: everything before its last dot, except that
    * the engine-module prefixes named in the benchmark doc are kept whole.
    */
  val Layers: Seq[String] = Seq("table.log", "table.commit", "table.prune", "table.scan",
    "sql", "streaming", "pipeline", "operators")
  def layerOf(name: String): String = Layers.find(l => name == l || name.startsWith(l + ".")).getOrElse("bench")

  /** Total wall time covered by at least one of `ws` (epoch-ms windows). */
  def unionMs(ws: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    ws.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
}
