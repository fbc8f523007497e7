package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.queries.{ExtensionQueries, RelationalQueries}
/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    RelationalQueries.queries("a1_groupby_mean")(spark, "/root/testdata/sf0.001")
  /** One entry per implemented operator from SURVEY.md §2 (+ LLM-pipeline
    * extensions over documents/embeddings/events). */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    RelationalQueries.queries ++ ExtensionQueries.queries
  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Bucketed/quantized-approximation ops
    * (dd_minhash_lsh, dd_simhash, sim_pq_topk, sim_ivfpq_topk,
    * dd_incremental_neardup, dd_index_probe, txt_quality_gate_approx)
    * are rows-only: their output is defined by the
    * bucketing/codebooks/sketches, so they are verified by
    * planted-duplicate / exact-recovery ScalaTest checks — AND each has
    * an exactness-pinned oracle twin or spec pin that closes the loop
    * (dd_minhash_verified, dd_simhash_exact, sim_pq_exact,
    * sim_ivfpq_exact, txt_quality_gate, DedupSpec stored≡in-memory:
    * guaranteed-recall / grid-recovery / full-probe parameterizations of
    * the same operators). The random-hyperplane faces (sim_lsh_ann,
    * sim_rp_topk) are not among them: their md5 planes and long
    * projection sums replay exactly in SQL, so their approximate rows
    * are hash-checked. The approximate-regime QUALITY numbers are
    * themselves oracle-checked via the recall metrics (sim_lsh_recall,
    * sim_pq_recall, sim_ivf_recall, sim_rp_recall). The
    * transcendental-score faces (txt_bm25_topk / txt_bm25_probe — ln in
    * BM25) and the codec face (txt_compression_ratio — deflate length is
    * zlib-build-dependent) are rows-only by the portability law, with
    * hash-green integer-statistics twins (txt_bm25_stats, and
    * txt_bm25_merge for the incrementally merged index) or spec pins
    * (hand-computed BM25 scores; CompressSpec separation floors). The
    * perceptual-decode faces (mm_phash_neardup, mm_audio_neardup — the
    * oracle engine cannot decode PNG/WAV) are rows-only with hash-green
    * exact-verify twins (mm_phash_verified, mm_audio_verified) plus
    * MultimodalSpec invariance/recall pins. */
  def oracleSql: Map[String, String] =
    RelationalQueries.oracle ++ ExtensionQueries.oracle
}
