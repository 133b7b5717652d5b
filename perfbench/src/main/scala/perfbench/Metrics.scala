package perfbench

/** The benchmark's metric catalogue. `BENCHMARK.json` lists the same
  * names; `run.py` refuses a result whose names differ from it. */
object Metrics {
  final case class Def(name: String, unit: String)

  /** Printed on every workload with tracing off. */
  val endToEnd: Seq[Def] = Seq(
    Def("setup_s", "s"),
    Def("ops_per_s", "1/s"))

  /** Printed on every workload with tracing on. A layer the workload
    * does not call reads 0. */
  val perLayer: Seq[Def] = Seq(
    Def("lake.read_resolve_ms", "ms"),
    Def("lake.append_jobs", "count"),
    Def("lake.upsert_jobs", "count"),
    Def("lake.files_per_commit", "count"),
    Def("lake.bytes_written_per_row", "bytes"),
    Def("lake.delete_where_ms", "ms"),
    Def("lake.compact_ms", "ms"),
    Def("lake.vacuum_ms", "ms"),
    Def("lake.live_files", "count"),
    Def("ingest.segments", "count"),
    Def("ingest.segment_ms", "ms"),
    Def("ingest.connector_ms", "ms"),
    Def("pool.materialize_ms", "ms"),
    Def("pool.calc_swap_df_ms", "ms"),
    Def("pool.swap_memo_hit_ratio", "ratio"),
    Def("pool.swap_math_us", "us"),
    Def("liquidity.plan_ms", "ms"),
    Def("liquidity.collect_ms", "ms"),
    Def("analytics.surface_ms", "ms"),
    Def("curation.clean_ms", "ms"),
    Def("curation.gate_ms", "ms"),
    Def("curation.pairs_ms", "ms"),
    Def("curation.cc_ms", "ms"),
    Def("curation.unlabeled_ms", "ms"),
    Def("dedup.pairs", "count"),
    Def("dedup.lsh_recall", "ratio"),
    Def("spark.plan_ms", "ms"),
    Def("spark.jobs", "count"),
    Def("spark.stages", "count"),
    Def("spark.tasks", "count"),
    Def("spark.task_ms", "ms"),
    Def("spark.shuffle_write_bytes", "bytes"),
    Def("spark.shuffle_read_bytes", "bytes"),
    Def("spark.spill_bytes", "bytes"),
    Def("spark.driver_gap_ms", "ms"),
    Def("fs.read_ops", "count"),
    Def("fs.write_ops", "count"),
    Def("fs.bytes_read", "bytes"),
    Def("fs.bytes_written", "bytes"),
    Def("jvm.gc_ms", "ms"),
    Def("jvm.jit_ms", "ms"),
    Def("jvm.heap_used_peak_mb", "MB"))
}
