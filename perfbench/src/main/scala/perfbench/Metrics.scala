package perfbench

/** The benchmark's metric catalogue: BENCHMARK.json lists the same names.
  * Each per-layer metric carries its arrow: the end-to-end metric it
  * should move, and on which workload that shows most. */
object Metrics {

  final case class Metric(name: String, unit: String, better: String,
                          arrow: String = "")

  val EndToEnd: Seq[Metric] = Seq(
    Metric("setup_s", "s", "lower"),
    Metric("build_docs_per_s", "1/s", "higher"),
    Metric("publish_s", "s", "lower"),
    Metric("index_bytes_per_input_byte", "ratio", "lower"),
    Metric("batch_qps", "1/s", "higher"),
    Metric("engine_live_mb", "MiB", "lower"))

  private def l(name: String, unit: String, better: String, arrow: String) =
    Metric(name, unit, better, arrow)

  val PerLayer: Seq[Metric] = Seq(
    l("analysis.tokenize_us_per_doc", "us", "lower", "build_docs_per_s"),
    l("analysis.query_parse_us", "us", "lower", "batch_qps"),
    l("index.build.stage_s", "s", "lower", "build_docs_per_s"),
    l("index.build.segments_s", "s", "lower", "build_docs_per_s"),
    l("index.build.heavy_terms_s", "s", "lower", "build_docs_per_s"),
    l("index.build.stats_s", "s", "lower", "build_docs_per_s"),
    l("index.build.unattributed_s", "s", "lower", "build_docs_per_s"),
    l("index.build.shuffle_write_mb", "MB", "lower", "build_docs_per_s"),
    l("index.build.shuffle_records", "count", "lower", "build_docs_per_s"),
    l("index.build.spill_mb", "MB", "lower", "build_docs_per_s"),
    l("index.build.gc_s", "s", "lower", "build_docs_per_s"),
    l("index.build.task_skew", "ratio", "lower", "build_docs_per_s"),
    l("index.build.jobs", "count", "lower", "publish_s"),
    l("index.delta_build_s", "s", "lower", "publish_s"),
    l("index.merge_s", "s", "lower", "publish_s"),
    l("index.spell_artifact_s", "s", "lower", "publish_s"),
    l("index.segments_mb", "MB", "lower", "index_bytes_per_input_byte"),
    l("index.staging_mb", "MB", "lower", "index_bytes_per_input_byte"),
    l("index.bytes_per_posting", "B", "lower", "index_bytes_per_input_byte"),
    l("index.segcache.hit_ratio", "ratio", "higher", "batch_qps"),
    l("index.segcache.misses", "count", "lower", "batch_qps"),
    l("index.segcache.resident_mb", "MiB", "lower", "engine_live_mb"),
    l("index.touched_record_mb", "MiB", "lower", "batch_qps"),
    l("index.touched_cache_mb", "MiB", "lower", "batch_qps"),
    l("index.decode_ns_per_posting", "ns", "lower", "batch_qps"),
    l("index.blocks_per_query", "count", "lower", "batch_qps"),
    l("index.postings_per_query", "count", "lower", "batch_qps"),
    l("query.client_p50_ms", "ms", "lower", "none: the client's latency, traced"),
    l("query.client_p90_ms", "ms", "lower", "none: the client's latency, traced"),
    l("query.lookup_us", "us", "lower", "batch_qps"),
    l("query.score_us", "us", "lower", "batch_qps"),
    l("query.and_us", "us", "lower", "query.client_p90_ms (AND runs on the client only)"),
    l("query.spell_us", "us", "lower", "batch_qps"),
    l("query.spell_corrections", "count", "higher", "batch_qps"),
    l("query.wand_vs_exhaustive", "ratio", "lower", "batch_qps"),
    l("query.engine_open_s", "s", "lower", "engine_live_mb"),
    l("query.dist.tasks", "count", "lower", "batch_qps"),
    l("query.dist.task_skew", "ratio", "lower", "batch_qps"),
    l("query.dist.gc_s", "s", "lower", "batch_qps"),
    l("jvm.gc_s", "s", "lower", "build_docs_per_s, batch_qps")) ++
    Suite.Picks.map { case (_, m) => l(s"operators.${m}_s", "s", "lower", "operators.suite_s") } ++
    Seq(
    l("operators.suite_s", "s", "lower", "none: the operator suite runs in traced runs only"),
    l("operators.jobs", "count", "lower", "operators.suite_s"),
    l("operators.index_for_s", "s", "lower", "operators.suite_s"),
    l("operators.labels_s", "s", "lower", "operators.suite_s"),
    l("operators.shuffle_mb", "MB", "lower", "operators.suite_s"),
    l("self.analysis_s", "s", "lower", "build_docs_per_s, batch_qps"),
    l("self.index_s", "s", "lower", "build_docs_per_s, publish_s"),
    l("self.query_s", "s", "lower", "batch_qps"),
    l("self.operators_s", "s", "lower", "operators.suite_s"),
    l("self.bench_s", "s", "lower", "none: harness time, named unattributed"),
    l("trace.wall_s", "s", "lower", "none: sum of the self.* metrics"),
    l("trace.overhead_pct", "%", "lower", "none: traced minus untraced client loop"))
}
