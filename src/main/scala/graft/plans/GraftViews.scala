package graft.plans

import org.apache.spark.sql.SparkSession

import graft.catalogue._

/**
 * SQL surface for the multi-stage ANN cascades (round-6 item 5): the
 * kernels (bit_signature, dot_product, …) are SQL-registered via
 * [[GraftExtensions]], but the production compositions — batch k-NN
 * join, bucketed k-NN join, incremental probe — were Scala-only.
 * Spark has no user-defined TVF surface for Scala, so the cascades are
 * exposed as REGISTERED VIEWS over a corpus dir: one `register` call
 * per corpus, then any SQL client on the session can
 * `SELECT * FROM graft_ann_knn` / join against it / build more views
 * on top. The view templates below are the documented contract; the
 * parameters are fixed at registration (a view is a closed plan).
 *
 * | view | composition | shape |
 * |---|---|---|
 * | `graft_ann_knn`            | all-pairs sketch cascade (s06)  | (vec_id, neighbor_id, score), top-3/query |
 * | `graft_ann_knn_bucketed`   | coarse-cell bucketed cascade (s10) | same, sub-quadratic on clustered corpora |
 * | `graft_ann_incremental`    | arrivals-probe-index (s07)      | same, arrivals only |
 * | `graft_ann_retrieval`      | two-corpus bucketed retrieval (s11) | same, query side only |
 *
 * The views are lazy plans, not materializations: each `SELECT`
 * executes the cascade against the CURRENT corpus/index state, and the
 * shared signature table still memoizes/loads the [[graft.operators
 * .AnnIndex]] artifact when `spark.graft.annIndexDir` is set.
 */
object GraftViews {

  /** Register the ANN cascade views over a harness-layout corpus `dir`;
    * the bucketed view is the s10 entry (16 cells, 2 probes). */
  def registerAnn(spark: SparkSession, dir: String): Unit = {
    SearchQueries.s06.build(spark, dir)
      .createOrReplaceTempView("graft_ann_knn")
    SearchQueries.s07.build(spark, dir)
      .createOrReplaceTempView("graft_ann_incremental")
    SearchQueries.s11.build(spark, dir)
      .createOrReplaceTempView("graft_ann_retrieval")
    SearchQueries.s10.build(spark, dir)
      .createOrReplaceTempView("graft_ann_knn_bucketed")
  }

  /**
   * Round-7 training-pipeline views — same contract as [[registerAnn]]:
   * lazy plans over the corpus dir, parameters fixed at registration.
   *
   * | view | composition | shape |
   * |---|---|---|
   * | `graft_inbatch_negatives` | hash-batched cross-label pairs (s12) | (batch_id, anchor_id, neg_id, score) |
   * | `graft_matryoshka_topk`   | prefix-dim cascade (s13)             | (vec_id, score), top-10 |
   * | `graft_quality_scores`    | hashed linear classifier (t27)       | (doc_id, n_tokens, score, keep) |
   * | `graft_corpus_diff`       | snapshot digest diff (q60)           | (doc_id, status, old_hash, new_hash) |
   * | `graft_faceted_topk`      | per-label bounded-heap top-k (s14)   | (label, vec_id, score), top-3/label |
   * | `graft_corpus_release`    | verdict × model gate (d16)           | (doc_id, score) |
   */
  def registerPipeline(spark: SparkSession, dir: String): Unit = {
    SearchQueries.s14.build(spark, dir)
      .createOrReplaceTempView("graft_faceted_topk")
    DedupQueries.d16.build(spark, dir)
      .createOrReplaceTempView("graft_corpus_release")
    SearchQueries.s12.build(spark, dir)
      .createOrReplaceTempView("graft_inbatch_negatives")
    SearchQueries.s13.build(spark, dir)
      .createOrReplaceTempView("graft_matryoshka_topk")
    TextQueries.t27.build(spark, dir)
      .createOrReplaceTempView("graft_quality_scores")
    RelationalQueries.q60.build(spark, dir)
      .createOrReplaceTempView("graft_corpus_diff")
  }

  /**
   * Round-7 curation-wave views — the multimodal/ingest additions,
   * same contract as [[registerPipeline]].
   *
   * | view | composition | shape |
   * |---|---|---|
   * | `graft_ingest_gate`    | bloom-gated incremental dedup (d17) | (doc_id, source, bloom_maybe, is_dup) |
   * | `graft_maxsim_topk`    | late-interaction rerank (s15)       | (vec_id, score), top-10 |
   * | `graft_keyframes`      | scene keyframe selection (m07)      | (doc_id, scene_id, keyframe_idx, n_frames) |
   * | `graft_audio_segments` | energy-threshold VAD (m08)          | (doc_id, seg_id, start_win, n_windows, seg_sum_abs) |
   * | `graft_image_neardup`  | banded aHash pair join (m09)        | (doc_a, doc_b, hamming) |
   * | `graft_vocab_growth`   | Heaps-curve cohort points (t30)     | (decile, n_grams, cum_grams, new_types, cum_vocab) |
   * | `graft_diverse_sample` | per-cluster boundary picks (e14)    | (vec_id, centroid_id, proto_cos) |
   * | `graft_link_features`  | per-edge CN + RA scores (g07)       | (u, v, n_common, ra_score) |
   * | `graft_retrieval_eval` | recall@10 per ANN tier (s16)        | (method, k, n_hits, recall) |
   * | `graft_quant_report`   | per-label reconstruction MSE (e15)  | (label, n_vecs, mse_int8, mse_pq, mse_binary) |
   * | `graft_video_neardup`  | scene-set Jaccard pairs (m10)       | (doc_a, doc_b, jaccard) |
   * | `graft_norm_leak_audit`| raw-vs-normalized dedup flags (d18) | (doc_id, matched_raw, matched_norm) |
   * | `graft_media_manifest` | media health × dup × scenes (m11)   | (doc_id, image_ok, audio_ok, image_dup, n_scenes, kept) |
   * | `graft_user_decay`     | time-decayed activity (a08)         | (user_id, n_events, decayed_count) |
   * | `graft_conversions`    | clean V→P sequences (q65)           | (user_id, event_id, view_ts, purchase_ts, secs_to_convert) |
   */
  def registerCuration(spark: SparkSession, dir: String): Unit = {
    DedupQueries.d17.build(spark, dir)
      .createOrReplaceTempView("graft_ingest_gate")
    SearchQueries.s15.build(spark, dir)
      .createOrReplaceTempView("graft_maxsim_topk")
    MediaQueries.m07.build(spark, dir)
      .createOrReplaceTempView("graft_keyframes")
    MediaQueries.m08.build(spark, dir)
      .createOrReplaceTempView("graft_audio_segments")
    MediaQueries.m09.build(spark, dir)
      .createOrReplaceTempView("graft_image_neardup")
    TextQueries.t30.build(spark, dir)
      .createOrReplaceTempView("graft_vocab_growth")
    SearchQueries.e14.build(spark, dir)
      .createOrReplaceTempView("graft_diverse_sample")
    GraphQueries.g07.build(spark, dir)
      .createOrReplaceTempView("graft_link_features")
    SearchQueries.s16.build(spark, dir)
      .createOrReplaceTempView("graft_retrieval_eval")
    SearchQueries.e15.build(spark, dir)
      .createOrReplaceTempView("graft_quant_report")
    MediaQueries.m10.build(spark, dir)
      .createOrReplaceTempView("graft_video_neardup")
    DedupQueries.d18.build(spark, dir)
      .createOrReplaceTempView("graft_norm_leak_audit")
    MediaQueries.m11.build(spark, dir)
      .createOrReplaceTempView("graft_media_manifest")
    AggregateQueries.a08.build(spark, dir)
      .createOrReplaceTempView("graft_user_decay")
    RelationalQueries.q65.build(spark, dir)
      .createOrReplaceTempView("graft_conversions")
  }

  /**
   * Community/provenance-wave views — same contract as
   * [[registerPipeline]].
   *
   * | view | composition | shape |
   * |---|---|---|
   * | `graft_partition_score` | Newman modularity of a label partition (g10) | (community, n_vertices, degree_sum, intra_edges, q_contrib) |
   * | `graft_communities`     | 4-round sync label propagation (g11)         | (vertex, community, community_size) |
   * | `graft_source_caps`     | per-source 3% token-budget audit (t31)       | (source, n_docs, n_kept, tokens_total, tokens_kept) |
   * | `graft_dup_by_source`   | exact-dup removal rates by source (d19)      | (source, n_docs, n_dup_docs, n_removed, removal_rate) |
   */
  def registerCommunity(spark: SparkSession, dir: String): Unit = {
    GraphQueries.g10.build(spark, dir)
      .createOrReplaceTempView("graft_partition_score")
    GraphQueries.g11.build(spark, dir)
      .createOrReplaceTempView("graft_communities")
    TextQueries.t31.build(spark, dir)
      .createOrReplaceTempView("graft_source_caps")
    DedupQueries.d19.build(spark, dir)
      .createOrReplaceTempView("graft_dup_by_source")
  }

  /**
   * Diagnostics-wave views (seed trust, corpus health, audio dedup) —
   * same contract as [[registerPipeline]].
   *
   * | view | composition | shape |
   * |---|---|---|
   * | `graft_seed_relevance`    | personalized PageRank from the seed set (g12) | (node, rank), rank in 1e-12 units |
   * | `graft_lexical_diversity` | per-source Simpson/TTR panel (t32)            | (source, n_tokens, n_types, ttr, simpson) |
   * | `graft_audio_neardup`     | banded fingerprint pair join (m12)            | (doc_a, doc_b, hamming) |
   * | `graft_boilerplate`       | per-source template detection (t33)           | (source, template_gram, template_df, n_docs, n_flagged, flag_rate) |
   * | `graft_source_leakage`    | cross-source near-dup matrix (d21)            | (source_a, source_b, n_pairs, max_jaccard) |
   * | `graft_probe_recall`      | IVF nProbe tuning curve (s18)                 | (n_probe, k, n_hits, recall) |
   * | `graft_cell_balance`      | quantizer load report (e17)                   | (centroid_id, n_vecs, load_factor) |
   * | `graft_sliding_distinct`  | 24 h HLL register-merge windows (a09)         | (event_type, win_end, n_exact, est_hll) |
   * | `graft_survivor_policy`   | quality vs min-id survivor audit (d22)        | (component, n_docs, qual_keep_id, qual_score, minid_keep_id, minid_score, policies_agree) |
   * | `graft_minhash_k_curve`   | signature-width error curve (d23)             | (k, n_pairs, mean_abs_err, max_abs_err) |
   * | `graft_token_fertility`   | per-source tokenizer coverage (t34)           | (source, n_docs, n_words, n_bpe, fertility, chars_per_token) |
   * | `graft_span_removal`      | corpus with duplicate spans excised (d24)     | (doc_id, clean_text, n_kept_tokens) |
   */
  def registerDiagnostics(spark: SparkSession, dir: String): Unit = {
    GraphQueries.g12.build(spark, dir)
      .createOrReplaceTempView("graft_seed_relevance")
    TextQueries.t32.build(spark, dir)
      .createOrReplaceTempView("graft_lexical_diversity")
    MediaQueries.m12.build(spark, dir)
      .createOrReplaceTempView("graft_audio_neardup")
    TextQueries.t33.build(spark, dir)
      .createOrReplaceTempView("graft_boilerplate")
    DedupQueries.d21.build(spark, dir)
      .createOrReplaceTempView("graft_source_leakage")
    SearchQueries.s18.build(spark, dir)
      .createOrReplaceTempView("graft_probe_recall")
    SearchQueries.e17.build(spark, dir)
      .createOrReplaceTempView("graft_cell_balance")
    AggregateQueries.a09.build(spark, dir)
      .createOrReplaceTempView("graft_sliding_distinct")
    DedupQueries.d22.build(spark, dir)
      .createOrReplaceTempView("graft_survivor_policy")
    DedupQueries.d23.build(spark, dir)
      .createOrReplaceTempView("graft_minhash_k_curve")
    TextQueries.t34.build(spark, dir)
      .createOrReplaceTempView("graft_token_fertility")
    DedupQueries.d24.build(spark, dir)
      .createOrReplaceTempView("graft_span_removal")
  }
}
