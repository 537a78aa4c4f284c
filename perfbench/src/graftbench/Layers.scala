package graftbench

/** Per-layer metrics of a traced run, derived from its spans.
  *
  * Layer self time is a span's wall time minus its child spans'; the
  * `bench` layer is the op span's own remainder (input generation and
  * result collection on the client side). Call latencies (`*_ms` of a
  * named call) are means per call; everything `*_per_op` is per traced
  * op. A layer a workload never calls reports 0.
  */
object Layers {
  val CommitKinds: Seq[String] = Seq("append", "merge", "update", "delete_mor", "compact")
  val SelfLayers: Seq[String] = Trace.Layers :+ "bench"

  /** Every per-layer metric, in report order, with its unit. */
  val Spec: Seq[(String, String)] = Seq(
    "table.log.head_ms" -> "ms", "table.log.resolve_ms" -> "ms",
    "table.log.entries" -> "count", "table.log.bytes" -> "bytes", "table.log.checkpoints" -> "count") ++
    CommitKinds.map(k => s"table.commit.${k}_ms" -> "ms") ++
    CommitKinds.map(k => s"table.commit.${k}_driver_ms" -> "ms") ++ Seq(
    "table.commit.jobs_per_op" -> "count", "table.commit.files_added_per_op" -> "count",
    "table.commit.job_ms_per_op" -> "ms", "table.commit.driver_ms_per_op" -> "ms",
    "table.commit.bytes_written_per_user_byte" -> "ratio",
    "table.prune.ms" -> "ms", "table.prune.files_kept_frac" -> "frac",
    "table.scan.records_read_per_row_returned" -> "ratio", "table.scan.bytes_read_per_op" -> "bytes",
    "sql.plan_ms" -> "ms", "sql.exec_ms" -> "ms",
    "streaming.bronze_ms" -> "ms", "streaming.bronze_commits_per_round" -> "count",
    "pipeline.silver_ms" -> "ms", "pipeline.gold_ms" -> "ms", "pipeline.commits_per_round" -> "count",
    "operators.score_ms" -> "ms", "operators.pairs_ms" -> "ms", "operators.components_ms" -> "ms",
    "operators.kept_frac" -> "frac", "operators.pairs_per_kept_doc" -> "ratio",
    "spark.jobs_per_op" -> "count", "spark.stages_per_op" -> "count", "spark.tasks_per_op" -> "count",
    "spark.task_busy_ms_per_op" -> "ms", "spark.shuffle_bytes_per_op" -> "bytes",
    "spark.gc_ms_per_op" -> "ms", "spark.slot_busy_frac" -> "frac",
    "spark.persisted_rdds_after_op" -> "count") ++
    SelfLayers.map(l => s"self_ms_per_op.$l" -> "ms") ++
    (SelfLayers :+ "op").map(l => s"speedup_local1.$l" -> "ratio") ++ Seq(
    "local1.op_p50_ms" -> "ms", "local1.slot_busy_frac" -> "frac",
    "trace.overhead_frac" -> "frac", "trace.spans_per_op" -> "count")

  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  private def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b

  /** Metrics of one traced region at `slots` task slots. */
  def metrics(spans: Seq[Span], loop: LoopStats, slots: Int, w: Workload): Map[String, Double] = {
    val ops = spans.filter(_.name == "op")
    val nOps = math.max(1, ops.size).toDouble
    def named(n: String) = spans.filter(_.name == n)
    def callMs(n: String) = mean(named(n).map(_.ms))
    def count(prefix: String, key: String) =
      spans.filter(_.name.startsWith(prefix)).map(_.counts(key)).sum.toDouble
    val commits = spans.filter(_.layer == "table.commit")
    def jobMs(s: Span) = Trace.unionMs(s.jobWindows.toSeq).toDouble
    val log = FsStat.ofAll(w.tableRoots)
    val opMs = ops.map(_.ms).sum
    val m = Map.newBuilder[String, Double]
    m += "table.log.head_ms" -> callMs("table.log.head")
    m += "table.log.resolve_ms" -> callMs("table.log.resolve")
    m += "table.log.entries" -> log.logEntries.toDouble
    m += "table.log.bytes" -> log.logBytes.toDouble
    m += "table.log.checkpoints" -> log.checkpoints.toDouble
    CommitKinds.foreach { k =>
      val ks = named(s"table.commit.$k")
      m += s"table.commit.${k}_ms" -> mean(ks.map(_.ms))
      m += s"table.commit.${k}_driver_ms" -> mean(ks.map(s => s.ms - jobMs(s)))
    }
    val nCommits = math.max(1, commits.size).toDouble
    m += "table.commit.jobs_per_op" -> commits.map(_.jobs).sum / nCommits
    m += "table.commit.files_added_per_op" -> commits.map(_.filesAdded).sum / nCommits
    m += "table.commit.job_ms_per_op" -> commits.map(jobMs).sum / nCommits
    m += "table.commit.driver_ms_per_op" -> commits.map(s => s.ms - jobMs(s)).sum / nCommits
    m += "table.commit.bytes_written_per_user_byte" ->
      ratio(commits.map(_.bytesAdded).sum.toDouble, commits.map(_.userBytes).sum.toDouble)
    m += "table.prune.ms" -> callMs("table.prune")
    m += "table.prune.files_kept_frac" -> ratio(count("table.prune", "files_kept"), count("table.prune", "files_total"))
    val scans = spans.filter(_.layer == "table.scan")
    m += "table.scan.records_read_per_row_returned" ->
      ratio(scans.map(_.recordsRead).sum.toDouble, count("table.scan", "rows_returned"))
    m += "table.scan.bytes_read_per_op" -> spans.map(_.bytesRead).sum / nOps
    m += "sql.plan_ms" -> callMs("sql.plan")
    m += "sql.exec_ms" -> callMs("sql.exec")
    m += "streaming.bronze_ms" -> callMs("streaming.bronze")
    m += "streaming.bronze_commits_per_round" -> ratio(count("streaming.bronze", "commits"), named("streaming.bronze").size)
    m += "pipeline.silver_ms" -> callMs("pipeline.silver")
    m += "pipeline.gold_ms" -> callMs("pipeline.gold")
    m += "pipeline.commits_per_round" ->
      ratio(count("streaming.", "commits") + count("pipeline.", "commits"), named("streaming.bronze").size)
    m += "operators.score_ms" -> callMs("operators.score")
    m += "operators.pairs_ms" -> callMs("operators.pairs")
    m += "operators.components_ms" -> callMs("operators.components")
    m += "operators.kept_frac" -> ratio(count("operators.score", "kept"), count("operators.score", "docs"))
    m += "operators.pairs_per_kept_doc" -> ratio(count("operators.pairs", "pairs"), count("operators.score", "kept"))
    m += "spark.jobs_per_op" -> spans.map(_.jobs).sum / nOps
    m += "spark.stages_per_op" -> spans.map(_.stages).sum / nOps
    m += "spark.tasks_per_op" -> spans.map(_.tasks).sum / nOps
    m += "spark.task_busy_ms_per_op" -> spans.map(_.taskMs).sum / nOps
    m += "spark.shuffle_bytes_per_op" -> spans.map(_.shuffleBytes).sum / nOps
    m += "spark.gc_ms_per_op" -> spans.map(_.gcMs).sum / nOps
    m += "spark.slot_busy_frac" -> ratio(spans.map(_.taskMs).sum.toDouble, opMs * slots)
    m += "spark.persisted_rdds_after_op" -> loop.persisted.toDouble
    SelfLayers.foreach(l => m += s"self_ms_per_op.$l" -> spans.filter(_.layer == l).map(_.selfMs).sum / nOps)
    m += "op_ms" -> opMs / nOps
    m += "op_p50_ms" -> {
      val s = ops.map(_.ms).sorted
      if (s.isEmpty) 0.0 else s(s.size / 2)
    }
    m += "spans_per_op" -> spans.size / nOps
    m.result()
  }

  /** The reported per-layer metrics: the `local[N]` region, speed-ups
    * over the `local[1]` region, and the tracing overhead.
    */
  def report(n: Map[String, Double], one: Map[String, Double], overhead: Double): Seq[(String, Double, String)] = {
    val extra = Map(
      "local1.op_p50_ms" -> one("op_p50_ms"),
      "local1.slot_busy_frac" -> one("spark.slot_busy_frac"),
      "trace.overhead_frac" -> overhead,
      "trace.spans_per_op" -> n("spans_per_op"),
      "speedup_local1.op" -> ratio(one("op_ms"), n("op_ms"))) ++
      SelfLayers.map(l => s"speedup_local1.$l" -> ratio(one(s"self_ms_per_op.$l"), n(s"self_ms_per_op.$l")))
    Spec.map { case (k, u) => (k, n.getOrElse(k, extra(k)), u) }
  }
}
