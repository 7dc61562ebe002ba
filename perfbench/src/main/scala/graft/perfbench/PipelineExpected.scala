package graft.perfbench

/** (row count, order-insensitive hash) of each pipeline-batch query over
  * the fixed sf0.01 tables, recorded with `Main --record 1` from a commit at
  * full oracle parity. A change to the data generator invalidates them. */
object PipelineExpected {
  val Values: Map[String, (Long, Long)] = Map(
    "q102_tpch_q8" -> (2L, 5043284087L),
    "q114_profile" -> (11L, 23411662729L),
    "q133_histogram_bounds" -> (7L, 15303040316L),
    "q156_ann_ivfpq_residual" -> (1L, 2022954547L),
    "q169_lm_quality_5gram" -> (20L, 45146120271L),
    "q177_paragraph_dedup" -> (30L, 61092194841L),
    "q185_ccnet_head" -> (15L, 37407619353L),
    "q187_curation_hygiene" -> (3L, 5183892518L),
    "q223_lsh_sweep" -> (3L, 4839500257L),
    "q288_evolving_admission" -> (10L, 27218018325L),
    "q301_ml_curate_funnel" -> (5L, 14687188577L),
    "q93_simhash_pairs" -> (4L, 9469426198L))
}
