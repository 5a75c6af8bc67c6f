package perfbench

/** Input sizes of the four workloads. They are fixed (not seed
  * dependent) so that every seed measures the same amount of work; the
  * seed only decides the values. BENCHMARK.json records them too. */
object Sizes {
  /** fm_train: samples drawn; every fifth is held out, so each fit
    * trains on 3200 and the held-out check scores 800. */
  val fmTrainSamples = 4000
  val fmStepSize = 4.0
  /** fm_score: scored rows per op. */
  val fmScoreSamples = 10000
  /** index_ingest: base corpus and rows per ingest or probe batch. */
  val ingestDocs = 2000
  val ingestVecs = 1000
  val ingestBatch = 100
  /** query_mix: fixture scale as a multiple of sf0.01 row counts. */
  val queryScale = 1.0

  /** query_mix: read-only battery queries, covering the relational,
    * AsOf (plans), streaming and operator modules. Queries that stage
    * and then mutate persisted state (`*_ingest_*`) and the FM queries
    * belong to the other workloads. Kept short: a run pays for three
    * warm-up cycles of them before timing starts. */
  val queries: Seq[String] = Seq(
    "q1_pricing_summary", "q7_rank_orders", "src_json_props", "adv_pivot",
    "adv_asof_join", "st_tumbling_hourly", "ta_token_stats", "sim_topk_brute",
    "dedup_exact")
}
