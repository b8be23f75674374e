package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.gates.{Gate, Gates, Tag}

/** The gate registry: bench tags reproduce the literal lists they replaced,
  * bench-only rows stay bench-only, and a name is registered once. */
class GateRegistrySpec extends AnyFunSuite {

  // Bench.headline as a literal list, before the registry replaced it.
  private val parentHeadline = Seq(
    "q1_agg", "q3_top_orders", "q_topk_per_group", "q_salted_join",
    "search_require_all_on", "search_derived_union", "to_dataset_dict",
    "combine_by_coords", "agg_union", "dedup_exact", "dedup_minhash_lsh",
    "dedup_simhash", "dedup_ngram_jaccard", "embed_cosine_topk", "ann_ivf_topk",
    "text_quality", "events_sessionize", "events_asof_join", "multimodal_frames",
    "pipeline_clean_corpus", "dedup_embedding", "pipeline_chunk_docs",
    "pipeline_decontaminate", "events_funnel", "q_sketch_stats", "text_repetition",
    "scan_kerchunk_reference", "dedup_substring", "load_netcdf_cf",
    "pipeline_semdedup", "text_gopher_rules", "text_classifier_score",
    "pipeline_bpe_tokenize", "text_lm_levels", "pipeline_quality_filter",
    "dedup_minhash_lsh_pipeline", "pipeline_semdedup_pipeline",
    "ann_ivf_topk_pipeline", "pipeline_pack_sequences_bpe", "search_bm25_topk",
    "ann_pq_topk", "save_zarr_roundtrip", "dedup_clusters", "pipeline_dsir_select",
    "save_zarr_v3_roundtrip", "search_bm25_batch_1k",
    "search_bm25_batch_bigvocab_1k", "bm25_index_cycle", "ann_index_cycle",
    "search_bm25_phrase_batch_1k")

  // Bench.sharedRows, frozen at round 10.
  private val parentShared = Seq(
    "q1_agg", "q3_top_orders", "q_topk_per_group", "q_salted_join",
    "search_require_all_on", "search_derived_union", "to_dataset_dict",
    "combine_by_coords", "agg_union", "dedup_exact", "dedup_minhash_lsh",
    "dedup_simhash", "dedup_ngram_jaccard", "embed_cosine_topk",
    "ann_ivf_topk_pipeline", "text_quality", "events_sessionize",
    "events_asof_join", "multimodal_frames", "pipeline_clean_corpus",
    "dedup_embedding", "pipeline_chunk_docs", "pipeline_decontaminate",
    "events_funnel", "q_sketch_stats", "text_repetition",
    "scan_kerchunk_reference", "dedup_substring", "load_netcdf_cf",
    "pipeline_semdedup", "text_gopher_rules", "text_classifier_score",
    "pipeline_bpe_tokenize", "text_lm_levels", "pipeline_quality_filter",
    "dedup_minhash_lsh_pipeline", "pipeline_semdedup_pipeline")

  // Bench.baselineRows, frozen at round 2.
  private val parentBaseline = Seq(
    "q1_agg", "q3_top_orders", "q_topk_per_group", "q_salted_join",
    "search_require_all_on", "search_derived_union", "to_dataset_dict",
    "combine_by_coords", "agg_union", "dedup_exact", "dedup_minhash_lsh_pipeline",
    "dedup_simhash", "dedup_ngram_jaccard", "embed_cosine_topk",
    "ann_ivf_topk_pipeline", "text_quality", "events_sessionize",
    "events_asof_join", "multimodal_frames", "pipeline_clean_corpus",
    "dedup_embedding", "pipeline_chunk_docs", "events_funnel", "q_sketch_stats")

  // Bench.extras: the bench-only rows.
  private val parentExtras = Set(
    "dedup_minhash_lsh_pipeline", "pipeline_semdedup_pipeline", "ann_ivf_topk_pipeline",
    "search_bm25_batch_1k", "search_bm25_batch_bigvocab_1k", "bm25_index_cycle",
    "search_bm25_phrase_batch_1k", "ann_index_cycle")

  private def names(tag: Tag): Seq[String] = Gates.tagged(tag).map(_.name)

  test("the bench tags select exactly the literal headline, shared and baseline lists") {
    // the registry orders rows by family; the sets (and their sizes) are the contract
    assert(names(Tag.Headline).sorted === parentHeadline.sorted)
    assert(names(Tag.Shared).sorted === parentShared.sorted)
    assert(names(Tag.Baseline).sorted === parentBaseline.sorted)
    assert(names(Tag.BenchOnly).toSet === parentExtras)
    assert((parentHeadline.size, parentShared.size, parentBaseline.size) === ((50, 37, 24)))
  }

  test("every gate and bench-only row can be named as a bench row") {
    assert(Gates.all.size === 205 + parentExtras.size)
    assert(Bench.rowsToTime(Gates.all.map(_.name)) === Gates.all.map(_.name))
  }

  test("building the registry refuses a duplicate gate name and names it") {
    def g(name: String) = Gate(name, Set.empty, (s, _) => s.emptyDataFrame, Some("SELECT 1"))
    val e = intercept[IllegalArgumentException] {
      Gates.unique(Seq(g("q1_agg"), g("twice"), g("q3_top_orders"), g("twice")))
    }
    assert(e.getMessage.contains("duplicate gate name(s): twice"), e.getMessage)
    assert(Gates.unique(Gates.all) === Gates.all)
  }
}
