package graft.ingestbench

/** The per-layer metrics every traced run prints, in order. A metric of a
  * layer the workload does not run reads 0. The `llm` metrics are printed
  * by `corpus_curate` only, the one workload that runs that layer. */
object PerLayer {
  val Names: Seq[String] = Seq(
    "spark.jobs", "spark.stages", "spark.tasks", "spark.task_s", "spark.gc_s", "spark.shuffle_mb",
    "spark.jobs_per_batch", "spark.driver_gap_s", "spark.parallel_efficiency",
    "transforms.busy_s", "transforms.rows_in", "transforms.rows_out",
    "operators.coerce_busy_s", "operators.route_discover_s", "operators.route_tables",
    "operators.dlq_rows", "operators.cdc_resolve_s", "operators.cdc_delete_keys", "operators.cdc_rows_out",
    "schema.evolutions", "schema.evolve_s",
    "sink.ingest_s", "sink.write_job_s", "sink.footer_s", "sink.files_per_commit", "sink.bytes_written_mb",
    "table.commits", "table.commit_retries", "table.plan_s", "table.files_per_read",
    "table.delete_files_per_read", "table.compactions", "table.compact_s",
    "fs.ops", "fs.ops_per_commit", "fs.s") ++ FsOps.Primitives.map("fs." + _) ++ Seq(
    "streaming.triggers", "streaming.batch_s", "streaming.add_batch_s", "streaming.wal_s",
    "streaming.offset_s", "streaming.rows_per_trigger", "streaming.max_rate",
    "harness.gen_late_max_s", "harness.backlog_peak_rows", "tracing_overhead")

  val Llm: Seq[String] = Seq(
    "llm.minhash_s", "llm.candidate_pairs", "llm.verified_pairs", "llm.pair_yield",
    "llm.index_build_s", "llm.index_files", "llm.query_s")

  def unit(name: String): String =
    if (name.endsWith("_s") || name == "fs.s") "s"
    else if (name.endsWith("_mb")) "MB"
    else if (name == "streaming.max_rate") "1/s"
    else if (name.endsWith("_rows") || name.endsWith("rows_in") || name.endsWith("rows_out") ||
        name == "streaming.rows_per_trigger") "rows"
    else if (Set("spark.parallel_efficiency", "llm.pair_yield", "tracing_overhead")(name)) "ratio"
    else "count"
}
