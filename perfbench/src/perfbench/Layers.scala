package perfbench

import java.nio.file.{Files, Path}

/** The per-layer metrics every traced run reports (0 where a workload
  * does not load the layer), with their units. Counters and busy times
  * are per pass; `_p50` figures are medians over the triggers of the last
  * traced drain. Must list exactly the `per_layer` names of
  * BENCHMARK.json.
  */
object Layers {
  val All: Seq[(String, String)] = Seq(
    "sessionize.partial_rows_in" -> "count",
    "sessionize.partial_rows_out" -> "count",
    "sessionize.combine_ratio" -> "ratio",
    "sessionize.agg_time_ms" -> "ms",
    "sessionize.peak_memory_bytes" -> "bytes",
    "sessionize.sessions" -> "count",
    "sessionize.events_per_session" -> "count",
    "audit_json.parse_s" -> "s",
    "audit_json.rows_good" -> "count",
    "audit_json.rows_corrupt" -> "count",
    "audit_json.rows_missing_user" -> "count",
    "sources.read_s" -> "s",
    "sources.latest_offset_ms_p50" -> "ms",
    "sources.get_batch_ms_p50" -> "ms",
    "stream.triggers" -> "count",
    "stream.trigger_ms_p90" -> "ms",
    "stream.add_batch_ms_p50" -> "ms",
    "stream.query_planning_ms_p50" -> "ms",
    "stream.wal_commit_ms_p50" -> "ms",
    "stream.commit_offsets_ms_p50" -> "ms",
    "stream.state_rows" -> "count",
    "stream.state_memory_bytes" -> "bytes",
    "stream.state_rows_updated" -> "count",
    "stream.state_rows_removed" -> "count",
    "stream.state_commit_ms" -> "ms",
    "stream.rows_dropped_by_watermark" -> "count",
    "stream.watermark_lag_s" -> "s",
    "stream.sink_rows" -> "count",
    "gates.build_s" -> "s",
    "gates.exec_s" -> "s",
    "gates.jobs" -> "count") ++
    Workloads.GateNames.flatMap(g => Seq(s"gates.$g.wall_s" -> "s", s"gates.$g.jobs" -> "count")) ++ Seq(
    "catalyst.analysis_s" -> "s",
    "catalyst.optimization_s" -> "s",
    "catalyst.planning_s" -> "s",
    "spark.jobs" -> "count",
    "spark.stages" -> "count",
    "spark.tasks" -> "count",
    "spark.executor_run_s" -> "s",
    "spark.executor_cpu_s" -> "s",
    "spark.gc_s" -> "s",
    "spark.input_bytes" -> "bytes",
    "spark.shuffle_write_bytes" -> "bytes",
    "spark.shuffle_read_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes",
    "spark.task_skew" -> "ratio",
    "spark.driver_only_s" -> "s",
    "trace.overhead_ratio" -> "ratio",
    "baseline.local1_events_per_s" -> "events/s")

  val unit: Map[String, String] = All.toMap
}

/** The per-layer record of one traced run: its metrics and every span,
  * as JSON a later run can be diffed against.
  */
object Record {
  def write(path: Path, workload: String, seed: Long, cores: Int, plainPasses: Int,
      tracedPasses: Int, metrics: Seq[(String, Double)], spans: Seq[Trace.Span]): Unit = {
    def str(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    def num(v: Double) = if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
    val t0 = if (spans.isEmpty) 0L else spans.map(_.startNs).min
    val sb = new StringBuilder
    sb ++= s"{\n  \"workload\": ${str(workload)},\n  \"seed\": $seed,\n  \"cores\": $cores,\n"
    sb ++= s"  \"untraced_passes\": $plainPasses,\n  \"traced_passes\": $tracedPasses,\n"
    sb ++= metrics.map { case (k, v) => s"    ${str(k)}: ${num(v)}" }.mkString("  \"metrics\": {\n", ",\n", "\n  },\n")
    sb ++= "  \"span_fields\": [\"id\", \"name\", \"parent\", \"start_ms\", \"end_ms\"],\n"
    sb ++= spans.sortBy(_.startNs).map { s =>
      f"    [${s.id}, ${str(s.name)}, ${s.parent}, ${(s.startNs - t0) / 1e6}%.3f, ${(s.endNs - t0) / 1e6}%.3f]"
    }.mkString("  \"spans\": [\n", ",\n", "\n  ]\n}\n")
    Files.createDirectories(path.getParent)
    Files.writeString(path, sb.toString)
  }
}
