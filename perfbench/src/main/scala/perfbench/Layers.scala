package perfbench

/** The per-layer metrics of a traced run. A layer is an engine module; its
  * properties come from the spans named for it. On a DAG workload each
  * stage span is one `runStage` call named for the module its stage
  * dispatches to, and a property is the per-delivery total; on
  * `lake_serving` each read span is one call, and a property is the mean
  * per read. Every metric is printed on every workload — zero where the
  * workload does not load the layer.
  */
object Layers {
  /** Layer → properties, for layers measured per delivery. */
  val Stages: Seq[(String, Seq[String])] = Seq(
    "sinks.lake_merge" -> Seq("ms", "jobs", "driver_ms", "shuffle_bytes"),
    "sinks.lake_delete_mor" -> Seq("ms", "jobs"),
    "sinks.mv_refresh" -> Seq("ms", "jobs", "driver_ms"),
    "sinks.lake_compact" -> Seq("ms", "jobs", "bytes_rewritten_per_user_byte"),
    "sinks.lake_compact_metadata" -> Seq("ms"),
    "sinks.lake_vacuum" -> Seq("ms"),
    "sinks.lake_audit" -> Seq("ms", "input_bytes"),
    "sources.extract" -> Seq("ms"),
    "ops.bronze_to_silver" -> Seq("ms", "jobs"),
    "expectations.validate" -> Seq("ms", "jobs"),
    "ops.gold_daily" -> Seq("ms"),
    "ops.gold_gates" -> Seq("ms", "jobs"),
    "sinks.lake_publish" -> Seq("ms"),
    "sinks.merge_insert_ignore" -> Seq("ms", "rows_written_per_row_in"),
    "pipeline.upsert_serve" -> Seq("ms", "rows_written_per_row_in"),
    "functions.annotate" -> Seq("ms", "cpu_ms"),
    "operators.exact_dedup" -> Seq("ms", "shuffle_bytes"),
    "operators.near_dedup" -> Seq("ms", "cpu_ms", "shuffle_bytes"),
    "operators.passage_dedup" -> Seq("ms", "cpu_ms"),
    "sinks.compaction" -> Seq("ms"),
    "sinks.corpus_jsonl" -> Seq("ms", "output_bytes"))

  val Units: Map[String, String] = Map("ms" -> "ms", "jobs" -> "count",
    "driver_ms" -> "ms", "cpu_ms" -> "ms", "plan_ms" -> "ms",
    "shuffle_bytes" -> "bytes", "input_bytes" -> "bytes", "output_bytes" -> "bytes",
    "bytes_rewritten_per_user_byte" -> "ratio", "rows_written_per_row_in" -> "ratio",
    "files_read" -> "count", "rows_read_per_row_returned" -> "ratio")

  /** The phase labels reported per operation: those the workloads
    * schedule. `LakeDag`'s table records no change feed and its view is
    * sum-only (refreshed through `LakeTable.foldGroupedDelta`), so
    * `lake:cdf`, `mv:touched`, `mv:merge-reserves` and `mv:exhaust-probe`
    * never run on any of them; their jobs still count in `jobs_per_op`.
    */
  val ReportedPhases: Seq[String] =
    Seq("lake:write", "lake:measure", "lake:touched", "mv:delta", "unlabeled")

  /** Every per-layer metric name with its unit, in output order. */
  val All: Seq[(String, String)] =
    Stages.flatMap { case (l, ps) => ps.map(p => s"$l.$p" -> Units(p)) } ++
      ReportedPhases.map(p => phaseMetric(p) -> "count") ++
      LakeServing.ReadKinds.flatMap(k =>
        if (k == "fast_count") Seq(s"sinks.read.$k.ms" -> "ms")
        else Seq(s"sinks.read.$k.ms" -> "ms", s"sinks.read.$k.files_read" -> "count",
          s"sinks.read.$k.rows_read_per_row_returned" -> "ratio",
          s"plans.$k.plan_ms" -> "ms")) ++
      Seq("sinks.serving_merge.ms" -> "ms", "trace.op_ms_p50" -> "ms",
        "trace.cpu_ms_per_op" -> "ms", "trace.uncovered_ms_per_op" -> "ms",
        "trace.spans_per_op" -> "count")

  def phaseMetric(phase: String): String =
    "sinks.phase_jobs." + phase.replace(':', '_').replace('-', '_')

  /** Per-layer values from one traced run's spans and attributed jobs.
    * `ops` counts the successful operations, `inputRows` and `userBytes`
    * the generated input they consumed.
    */
  def metrics(spans: Seq[Span], jobs: Seq[JobRec], ops: Int, inputRows: Long,
      userBytes: Long): Seq[Metric] = {
    val byName = spans.groupBy(_.name)
    val jobsBySpan = jobs.groupBy(_.span)
    def of(layer: String) = byName.getOrElse(layer, Nil)
    def jobsOf(s: Span) = jobsBySpan.getOrElse(s.id, Nil)
    def work(layer: String) = of(layer).flatMap(jobsOf).map(_.work).foldLeft(Work())(_ + _)
    def per(x: Double, n: Double) = if (n <= 0) 0.0 else x / n
    def mean(layer: String, f: Span => Double) =
      per(of(layer).map(f).sum, of(layer).size)
    def stage(layer: String, p: String): Double = {
      val w = work(layer)
      p match {
        case "ms" => per(of(layer).map(_.durNs).sum / 1e6, ops)
        case "jobs" => per(w.jobs, ops)
        case "driver_ms" =>
          per(of(layer).map(s => Trace.driverNs(s, jobsOf(s))).sum / 1e6, ops)
        case "cpu_ms" => per(w.cpuNs / 1e6, ops)
        case "shuffle_bytes" => per(w.shuffleWrite, ops)
        case "input_bytes" => per(w.inputBytes, ops)
        case "output_bytes" => per(w.outputBytes, ops)
        case "bytes_rewritten_per_user_byte" => per(w.outputBytes, userBytes)
        case "rows_written_per_row_in" => per(w.outputRecords, inputRows)
      }
    }
    val spanIds = spans.map(_.id).toSet
    val attributed = jobs.filter(j => spanIds.contains(j.span))
    val roots = spans.filter(_.parent == 0)
    val self = Trace.selfNs(spans)
    val values: Map[String, Double] = (
      Stages.flatMap { case (l, ps) => ps.map(p => s"$l.$p" -> stage(l, p)) } ++
        ReportedPhases.map(p =>
          phaseMetric(p) -> per(attributed.count(_.label == p), ops)) ++
        LakeServing.ReadKinds.flatMap { k =>
          val l = s"sinks.read.$k"
          def sum(a: String) = of(l).map(_.attrs.getOrElse(a, 0.0)).sum
          Seq(s"$l.ms" -> mean(l, _.durNs / 1e6),
            s"$l.files_read" -> mean(l, _.attrs.getOrElse("files_read", 0.0)),
            s"$l.rows_read_per_row_returned" -> per(sum("rows_read"), math.max(1.0, sum("rows_returned"))),
            s"plans.$k.plan_ms" -> mean(l, _.attrs.getOrElse("plan_ms", 0.0)))
        } ++
        Seq("sinks.serving_merge.ms" -> mean("sinks.serving_merge", _.durNs / 1e6),
          "trace.op_ms_p50" ->
            (if (roots.isEmpty) 0.0 else Stats.median(roots.map(_.durNs / 1e6))),
          "trace.cpu_ms_per_op" -> per(attributed.map(_.work.cpuNs).sum / 1e6, ops),
          "trace.uncovered_ms_per_op" -> {
            val ds = roots.filter(_.name == "delivery")
            per(ds.map(s => self(s.id)).sum / 1e6, ds.size)
          },
          "trace.spans_per_op" -> per(spans.size, roots.size))).toMap
    All.map { case (n, u) => Metric(n, u, values(n)) }
  }
}
