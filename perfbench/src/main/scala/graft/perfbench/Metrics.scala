package graft.perfbench

/** The benchmark's metric catalog: every workload reports every metric
  * (a layer a workload does not exercise reports 0). Names and units
  * match `BENCHMARK.json`; `run.py` refuses output that disagrees. */
object Metrics {

  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "op_p50_s" -> "s",
    "op_tail_s" -> "s",
    "rows_per_s" -> "1/s",
    "lookup_p50_s" -> "s",
    "store_mb" -> "MB")

  /** Call sites (see [[Ledger.apiSite]]) reported per main operation. */
  val callSites: Seq[String] = Seq(
    // curateIncremental's split: its own jobs (gate, survivor pin), the
    // digest probe, sketching, the band join and the two appends
    "CurationPipeline.curateIncremental",
    "GraftOps.digestAntiJoin",
    "GraftOps.indexSketch",
    "GraftOps.dedupNearSketched",
    "GraftOps.fingerprintAppendSketch",
    "GraftOps.digestAppendDigests",
    // the daily portrait job: tag models, then the upsert's merge reads,
    // bucket planning and versioned write
    "portraitops.tags",
    "PortraitOps.profileUpsert",
    "PortraitOps.readBuckets",
    "PortraitOps.commitProfileVersion")

  val perLayer: Seq[(String, String)] = Seq(
    "spark.jobs" -> "count",
    "spark.stages" -> "count",
    "spark.tasks" -> "count",
    "spark.task_s" -> "s",
    "spark.parallel_eff" -> "ratio",
    "spark.driver_only_s" -> "s",
    "spark.shuffle_read_mb" -> "MB",
    "spark.shuffle_write_mb" -> "MB",
    "spark.spill_mb" -> "MB",
    "spark.output_mb" -> "MB",
    "spark.output_files" -> "count",
    "indexstore.resolve_s" -> "s",
    "indexstore.versions" -> "count",
    "indexstore.fingerprint.segments" -> "count",
    "indexstore.digest.segments" -> "count",
    "portraitops.tags_s" -> "s",
    "portraitops.upsert_s" -> "s",
    "portraitops.buckets_rewritten" -> "count",
    "portraitops.lookup_jobs" -> "count",
    "curation.kept_frac" -> "ratio",
    "graftops.compact_s" -> "s",
    "graftops.compact_mb_rewritten" -> "MB",
    "jvm.gc_s" -> "s",
    "jvm.jit_s" -> "s",
    "host.steal_s" -> "s",
    "host.cores" -> "count",
    "trace.overhead_frac" -> "ratio",
    "error_rate" -> "ratio",
    "drift" -> "ratio") ++
    callSites.flatMap(s => Seq(s"spark.callsite.$s.jobs" -> "count",
      s"spark.callsite.$s.task_s" -> "s"))

  /** Every catalog metric, taking the workload's value where it has one. */
  def complete(catalog: Seq[(String, String)],
      values: Map[String, Double]): Seq[(String, Double, String)] =
    catalog.map { case (n, u) => (n, values.getOrElse(n, 0.0), u) }
}
