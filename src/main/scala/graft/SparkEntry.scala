package graft

import graft.expr.Expr
import graft.functions.{Text, Vectors}
import graft.operators.{Accumulate, AsOf, Dedup, Sessionize, Similarity}
import graft.sources.Tables
import graft.stream.DataStream

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Driver contract — the oracle-checked query inventory (SURVEY.md §2).
  *
  * Determinism rules for hash-parity with the DuckDB oracle (FIXTURES.md):
  *  - Money/measure sums go through cents-as-BIGINT (`round(x*100)` per row,
  *    then integer sum) — exact under any partitioning/aggregation order;
  *    a raw double sum is order-dependent in the last ulps and would flake.
  *  - Ratios/averages are single double divisions of exact integers — IEEE
  *    deterministic on both engines.
  *  - All hashing is md5-over-strings — identical hex on both engines.
  *  - `events.ts` is nanosecond parquet; both engines are compared at epoch
  *    milliseconds (BIGINT) to dodge ns/µs truncation differences.
  *  - Every query ends in a total ORDER BY.
  */
object SparkEntry extends QueriesCore with QueriesDataflow with QueriesDedup with QueriesAnn with QueriesText with QueriesAssembly with QueriesGraph with QueriesEvents with QueriesStats {

  private[graft] val C = "cast(round(%s * 100) as bigint)" // cents helper (SQL side)
  private[graft] def cents(c: Column): Column = round(c * 100).cast("long")

  /** Test-corpus embedding dimensionality (TESTDATA: 64-dim float vectors at
    * every sf). Fixed here so LSH hyperplanes bake into the plan with no
    * probing job, and so the oracle SQL can inline the identical planes. */
  val EmbeddingDim = 64

  /** Flagship query (driver smoke-checks rows>0 on sf0.001): revenue per
    * region-nation — a 5-table star join with the two small dims broadcast,
    * partial-agg'd on the fact side before the exchange. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val li = Tables.lineitem(spark, dir)
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    val r = Tables.region(spark, dir)
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        sum(cents(col("l_extendedprice") * (lit(1.0) - col("l_discount")))).as("revenue_c"),
        count(lit(1)).as("n_items"))
      .orderBy(col("r_name"), col("n_name"))
  }

  /** One entry per implemented operator/capability from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- core relational surface (SURVEY §2.4) ----
    "q01_group_agg" -> q01,
    "q02_filter_pushdown" -> q02,
    "q03_join_agg" -> q03,
    "q04_topk" -> q04,
    "q05_semi_join" -> q05,
    "q06_anti_join" -> q06,
    "q07_set_ops" -> q07,
    "q08_distinct_agg" -> q08,
    "q09_window_topn" -> q09,
    "q10_running_sum" -> q10,
    "q11_lag_lead" -> q11,
    "q12_rollup" -> q12,
    "q27_cube" -> q27,
    "q26_json" -> q26,
    // ---- reference dataflow algebra via the DataStream facade (SURVEY §2.1) ----
    "q13_wordcount" -> q13,
    "q14_tumbling_agg" -> q14,
    "q15_sliding_agg" -> q15,
    "q16_session_agg" -> q16,
    "q29_map_accumulate" -> q29,
    "q41_keyed_accumulate" -> q41,
    // ---- training-data pipeline operators ----
    "q17_dedup_exact" -> q17,
    "q18_minhash_lsh" -> q18,
    "q19_simhash" -> q19,
    "q20_ngram_jaccard" -> q20,
    "q21_cosine_topk" -> q21,
    "q22_ann_lsh" -> q22,
    "q23_langid" -> q23,
    "q24_quality" -> q24,
    "q25_asof_join" -> q25,
    "q28_multimodal" -> q28,
    "q30_approx_distinct" -> q30,
    "q31_grouping_sets" -> q31,
    "q32_nested_groupby" -> q32,
    "q33_embedding_neardup" -> q33,
    "q34_range_join" -> q34,
    "q35_fingerprint" -> q35,
    "q36_ann_ivf" -> q36,
    "q37_asof_native" -> q37,
    "q38_topk_sketch" -> q38,
    "q39_dedup_clusters" -> q39,
    "q40_det_sample" -> q40,
    "q42_decontaminate" -> q42,
    "q43_text_clean" -> q43,
    "q44_split_assign" -> q44,
    "q45_repetition" -> q45,
    "q46_percentiles" -> q46,
    "q47_histogram" -> q47,
    "q48_salted_join" -> q48,
    "q49_simhash_pairs" -> q49,
    "q50_facade_dateparts" -> q50,
    "q51_pii_redact" -> q51,
    "q52_approx_percentiles" -> q52,
    "q53_simhash_salted" -> q53,
    "q54_skewed_salted_join" -> q54,
    "q55_temperature_mix" -> q55,
    "q56_sequence_packing" -> q56,
    "q57_nextfit_packing" -> q57,
    "q58_waterfill_mix" -> q58,
    "q59_pivot" -> q59,
    "q60_bloom_decontaminate" -> q60,
    "q61_canonical_dedup" -> q61,
    "q62_unpivot" -> q62,
    "q63_incremental_dedup" -> q63,
    "q64_outlier_clip" -> q64,
    "q65_embedding_quantize" -> q65,
    "q66_index_update" -> q66,
    "q67_ann_ivf_quantized" -> q67,
    "q68_group_cap" -> q68,
    "q69_interleave" -> q69,
    "q70_subquery" -> q70,
    "q71_dist_windows" -> q71,
    "q72_chunking" -> q72,
    "q73_tfidf" -> q73,
    "q74_shuffle_shard" -> q74,
    "q75_token_budget" -> q75,
    "q76_block_dedup" -> q76,
    "q77_contamination_spans" -> q77,
    "q78_stratified_quota" -> q78,
    "q79_span_dedup" -> q79,
    "q80_span_scrub" -> q80,
    "q81_lm_score" -> q81,
    "q82_lm_lifecycle" -> q82,
    "q83_zorder_key" -> q83,
    "q84_lm_quality_filter" -> q84,
    "q85_cdc_merge" -> q85,
    "q86_scd2_history" -> q86,
    "q87_pagerank" -> q87,
    "q88_inverted_index" -> q88,
    "q89_pmi_colloc" -> q89,
    "q90_bm25" -> q90,
    "q91_funnel" -> q91,
    "q92_cohort_retention" -> q92,
    "q93_self_dedup" -> q93,
    "q94_triangles" -> q94,
    "q95_fuzzy_join" -> q95,
    "q96_weighted_sample" -> q96,
    "q97_containment" -> q97,
    "q98_group_weighted_sample" -> q98,
    "q99_group_topk_sketch" -> q99,
    "q100_random_projection" -> q100,
    "q101_containment_dedup" -> q101,
    "q102_sorted_neighborhood" -> q102,
    "q103_boilerplate_prune" -> q103,
    "q104_gopher_rules" -> q104,
    "q105_kcore" -> q105,
    "q106_embedding_dedup" -> q106,
    "q107_length_batching" -> q107,
    "q108_novelty" -> q108,
    "q109_label_prop" -> q109,
    "q110_rate_anomaly" -> q110,
    "q111_quality_checks" -> q111,
    "q112_pipeline_report" -> q112,
    "q113_weighted_label_prop" -> q113,
    "q114_adaptive_neighborhood" -> q114,
    "q115_global_quantiles" -> q115,
    "q116_core_numbers" -> q116,
    "q117_equidepth_bins" -> q117,
    "q118_leakage_safe_split" -> q118,
    "q119_vocab_update" -> q119,
    "q120_domain_percentile" -> q120,
    "q121_robust_zscore" -> q121,
    "q122_corpus_diff" -> q122,
    "q123_shingle_stats_update" -> q123,
    "q124_trust_propagation" -> q124,
    "q125_cms_frequency" -> q125,
    "q126_cdc_chunking" -> q126,
    "q127_chunk_reuse" -> q127,
    "q128_decayed_score" -> q128,
    "q129_best_match" -> q129,
    "q130_contrastive_negatives" -> q130,
    "q131_bucket_representatives" -> q131,
    "q132_recrawl_suppress" -> q132,
    "q133_distinct_lifecycle" -> q133,
    "q134_batch_assembly" -> q134,
    "q135_image_dedup" -> q135,
    "q136_clustering_coeff" -> q136,
    "q137_trending" -> q137,
    "q138_sorted_export" -> q138,
    "q139_volume_shipping" -> q139,
    "q140_weighted_pagerank" -> q140,
    "q141_grouped_quantiles" -> q141,
    "q142_recency_sample" -> q142,
    "q143_dedup_yield" -> q143,
    "q144_bpe_candidates" -> q144,
    "q145_bpe_rounds" -> q145,
    "q146_auc_exact" -> q146,
    "q147_calibration_bins" -> q147,
    "q148_corpus_similarity" -> q148,
    "q149_ewma_chart" -> q149,
    "q150_blocklist" -> q150,
    "q151_winnowing" -> q151,
    "q152_freq_spectrum" -> q152,
    "q153_corpus_divergence" -> q153,
    "q154_kmv_similarity" -> q154,
    "q155_rank_fusion" -> q155,
    "q156_trimmed_stats" -> q156,
    "q157_oov_rate" -> q157,
    "q158_gini_concentration" -> q158,
    "q159_vocab_growth" -> q159,
    "q160_dataset_card" -> q160,
    "q161_hits" -> q161,
    "q162_seed_distance" -> q162,
    "q163_bpe_train" -> q163,
    "q164_bpe_encode" -> q164,
    "q165_audio_dedup" -> q165,
    "q166_weighted_quantiles" -> q166,
    "q167_embargo_split" -> q167,
    "q168_coverage_select" -> q168,
    "q169_psi_drift" -> q169,
    "q170_spearman" -> q170,
    "q171_ndcg" -> q171,
    "q172_pearson" -> q172,
    "q173_chi_square" -> q173,
    "q174_mutual_info" -> q174,
    "q175_markov_transitions" -> q175,
    "q176_autocorrelation" -> q176,
    "q177_weighted_sssp" -> q177,
    "q178_interval_overlap" -> q178,
    "q179_mmr_select" -> q179,
    "q180_grouped_trend" -> q180,
    "q181_lsh_sweep" -> q181,
    "q182_prefix_join" -> q182,
    "q183_skyline" -> q183,
    "q184_zipf_slope" -> q184,
    "q185_triangle_increment" -> q185,
    "q186_grouped_auc" -> q186,
    "q187_url_hosts" -> q187,
    "q188_image_ahash" -> q188,
    "q189_info_gain" -> q189,
    "q190_survival" -> q190,
    "q191_rendezvous" -> q191,
    "q192_pipeline_e2e" -> q192,
    "q193_brier" -> q193,
    "q194_lift_deciles" -> q194,
    "q195_rolling_distinct" -> q195,
    "q196_ks_test" -> q196,
    "q197_cohort_ltv" -> q197,
    "q198_keyness" -> q198,
    "q199_column_profile" -> q199,
    "q200_fk_audit" -> q200,
    "q201_streaks" -> q201,
    "q202_wow_change" -> q202,
    "q203_rule_attribution" -> q203,
    "q204_shard_balance" -> q204,
    "q205_basket_lift" -> q205,
    "q206_precedence" -> q206,
    "q207_drift_report" -> q207,
    "q208_multiscale_dedup" -> q208,
    "q209_kendall" -> q209,
    "q210_kappa" -> q210,
    "q211_mann_whitney" -> q211,
    "q212_theil_sen" -> q212,
    "q213_benford" -> q213,
    "q214_isotonic" -> q214,
    "q215_cusum" -> q215,
    "q216_conformal" -> q216,
    "q217_jensen_shannon" -> q217,
    "q218_kmeans" -> q218,
    "q219_ivf_exact" -> q219,
    "q220_logrank" -> q220,
    "q221_wilson" -> q221,
    "q222_cmh" -> q222,
    "q223_kmeans_quality" -> q223,
    "q224_rouge" -> q224,
    "q225_bleu" -> q225,
    "q226_literals_mapvalues" -> q226,
    "q227_ivf_lifecycle" -> q227,
    "q228_isotonic_weighted" -> q228,
    "q229_cochran_armitage" -> q229,
    "q230_kruskal_wallis" -> q230,
    "q231_pq_adc" -> q231,
    "q232_ivf_pq" -> q232,
    "q233_anova" -> q233,
    "q234_brown_forsythe" -> q234,
    "q235_friedman" -> q235,
    "q236_ivf_pq_lifecycle" -> q236,
    "q237_jonckheere" -> q237,
    "q238_pq_rotated" -> q238,
    "q239_mood_median" -> q239,
    "q240_pq_rotated_lifecycle" -> q240,
    "q241_page_hinkley" -> q241,
    "q242_mood_scale" -> q242,
    "q243_ansari_bradley" -> q243,
    "q244_wasserstein" -> q244,
    "q245_cramer_von_mises" -> q245,
    "q246_energy_distance" -> q246,
    "q247_conover" -> q247,
    "q248_dsir" -> q248,
    "q249_semdedup" -> q249,
    "q250_anderson_darling" -> q250,
    "q251_raking" -> q251,
    "q252_bootstrap_ci" -> q252,
    "q253_hoeffding_scan" -> q253,
    "q254_quade" -> q254,
    "q255_page_trend" -> q255,
    "q256_runs_test" -> q256,
    "q257_cox_stuart" -> q257,
    "q258_cochran_q" -> q258,
    "q259_mcnemar" -> q259,
    "q260_cronbach" -> q260,
    "q261_enrich_lifecycle" -> q261,
    "q262_quantile_sketch" -> q262,
    "q263_durbin" -> q263,
    "q264_hitter_lifecycle" -> q264,
    "q265_enrich_refresh" -> q265,
    "q266_cardinality_lifecycle" -> q266,
    "q267_streaming_evidence" -> q267,
    "q268_semdedup_hier" -> q268,
    "q269_cardinality_resize" -> q269,
    "q270_mmr_prethin" -> q270,
    "q271_hitter_bracket" -> q271,
    "q272_semdedup_blocked" -> q272,
    "q273_cardinality_stream" -> q273,
    "q274_hitter_stream" -> q274,
    "q275_semdedup_auto" -> q275,
    "q276_hitter_stream_bracket" -> q276,
  )

  /** Round count for the parameterized BPE lifecycle (q163/q164) — read
    * by BOTH the engine loop and the generated oracle CTE chain, so the
    * recursion is what the gate verifies, not a hand unroll. */
  private[graft] val BpeRounds = 4

  // =====================================================================
  // Shared helpers read by the per-family query traits (graft/queries/*)
  // — the query implementations themselves live in those traits.
  // =====================================================================

  /** GK sketch accuracy for [[q52]]: rank error ≤ n/accuracy per group. */
  private[graft] val ApproxPercentileAccuracy = 10000

  private[graft] val SubquerySql: String =
    """SELECT o_orderkey, o_orderpriority,
       (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45.0) AS n_heavy
       FROM orders o
       WHERE EXISTS (SELECT 1 FROM lineitem l
                     WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45.0)
         AND NOT EXISTS (SELECT 1 FROM lineitem l
                         WHERE l.l_orderkey = o.o_orderkey AND l.l_discount > 0.09)
       ORDER BY o_orderkey"""

  /** Multi-scale substring dedup — the graduated repeated-substring
    * policy ([[graft.operators.Dedup.multiScaleSpanDedup]]): 64-token
    * repeats cut at the second occurrence (threshold-64 suffix-style
    * removal over the repeat's full extent), 16-token windows at ≥ 4
    * occurrences, 8-token windows only as ≥ 25-occurrence boilerplate;
    * union of marks, one rebuild. */
  /** q208's graduated scale policy — read by BOTH the engine call and the
    * generated oracle CTE union, so the two can never drift. */
  private[graft] val MultiScaleScales: Seq[(Int, Long)] = Seq(8 -> 25L, 16 -> 4L, 64 -> 2L)

  /** The exact-IVF index PERSISTED lifecycle, end to end (ROADMAP's
    * carried item — q66's production story for ANN): train on the
    * initial corpus (vec_id % 7 ≠ 0), persist the centroid table
    * (managed parquet) and the postings PARTITIONED BY cluster, append
    * the new batch (vec_id % 7 = 0) assigned against the PERSISTED
    * centroids (frozen model — the IVF contract), then serve top-k
    * probes ENTIRELY from the two persisted tables. The probed cluster
    * ids become a static `isin` on the postings scan, so only the
    * probed `cluster=N/` directories are read (ScaleSpec asserts the
    * PartitionFilters). Every row exact
    * ([[graft.operators.Similarity.ivfProbeTopK]]); the oracle replays
    * the same trajectory with training restricted to the initial
    * corpus. */
  /** Scratch suffix for the persisted-lifecycle gates (q227/q236):
    * MD5(dir) keeps scale factors apart within one process, and the PID
    * keeps CONCURRENT harness processes pointed at the same data dir
    * (a bench and a parity run) from interleaving one process's
    * overwrite-then-append sequence with the other's probe. Stale
    * scratch left by DEAD processes under the same query prefix — in
    * /tmp and in the managed warehouse — is swept ONCE PER PROCESS per
    * (query, warehouse) on first touch (liveness via ProcessHandle), so
    * repeated runs don't accumulate debris; live processes' scratch is
    * never touched. The once-per-process memo keeps bench re-runs and
    * the parallel Verify gate from re-listing /tmp on every call — the
    * dead set can only change when another process dies mid-run, which
    * the NEXT process's first touch sweeps. */
  /** Dir-keyed table/path suffix shared by every persisted-lifecycle
    * gate (q133/q163/q262/q264/q266/q269/…): MD5(dir) keeps scale
    * factors apart. Deliberately PID-LESS where used alone — those
    * names are deterministic so each run OVERWRITES its predecessor
    * (no debris, nothing for the dead-process sweep to track); the
    * pid-suffixed [[lifecycleScratchSuffix]] composes on top for the
    * overwrite-then-append lifecycles where CONCURRENT processes must
    * not interleave. One definition so a naming-discipline change
    * cannot drift across call sites. */
  private[graft] def dirHash(dir: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString

  private val sweptScratch =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private[graft] def lifecycleScratchSuffix(s: SparkSession, q: String,
                                     dir: String): String = {
    val h = dirHash(dir)
    val pid = ProcessHandle.current().pid()
    val wh = new java.net.URI(s.conf.get("spark.sql.warehouse.dir")).getPath
    if (sweptScratch.add(s"$q|$wh")) {
      val pat = (s"graft_${q}_.*_p(\\d+)$$").r
      def del(x: java.io.File): Unit = {
        Option(x.listFiles()).getOrElse(Array.empty[java.io.File]).foreach(del)
        x.delete(); ()
      }
      Seq(new java.io.File("/tmp"), new java.io.File(wh)).foreach { d =>
        Option(d.listFiles()).getOrElse(Array.empty[java.io.File]).foreach { f =>
          pat.findFirstMatchIn(f.getName).foreach { m =>
            val p = m.group(1).toLong
            val gone = p != pid &&
              !(ProcessHandle.of(p).isPresent && ProcessHandle.of(p).get().isAlive)
            if (gone) del(f)
          }
        }
      }
    }
    s"${h}_p$pid"
  }


  // =====================================================================
  // DuckDB oracle SQL — same semantics, same column names, same ORDER BY.
  // =====================================================================

  private[graft] val norm = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
    // q128/q137 share the decayed-score body; only the tail order differs
  private[graft] val decayedScoreSql =
      """WITH s AS (
           SELECT user_id, epoch_us(ts) // 14400000000 AS step,
             CAST(floor(greatest(value, 0.0) * 100.0) AS BIGINT) AS qv
           FROM events),
         r AS (SELECT max(step) AS ref FROM s)
         SELECT user_id,
           CAST(sum(CASE WHEN ref - step <= 20
             THEN qv << CAST(20 - (ref - step) AS INTEGER)
             ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS score,
           CAST(sum(CASE WHEN ref - step <= 20 THEN 1 ELSE 0 END) AS BIGINT) AS n_live,
           CAST(max(ref) AS BIGINT) AS ref_step
         FROM s CROSS JOIN r
         GROUP BY user_id"""
  private[graft] val toks = s"list_filter(string_split($norm, ' '), t -> len(t) > 0)"
  private[graft] def shingles(n: Int) =
      s"CASE WHEN len(toks) <= $n THEN [array_to_string(toks, ' ')] " +
      s"ELSE list_transform(range(0, len(toks) - $n + 1), i -> array_to_string(list_slice(toks, i + 1, i + $n), ' ')) END"
    // Dedup.shingleKey mirror: first 60 bits of md5 as a BIGINT — the
    // inverted-index family (q20/q39/q42) computes over this hashed
    // universe on BOTH engines, so results stay hash-checkable
  private[graft] def hashedShingles(n: Int) =
      s"list_transform(list_distinct(${shingles(n)}), s -> CAST('0x' || substr(md5(s), 1, 15) AS BIGINT))"

    // N generated BPE rounds (q163/q164 share this chain with the
    // engine's parameterized loop): w0 = marker-encoded (w, freq)
    // universe; per round r, p_r counts adjacent symbol pairs, t_r picks
    // the (count desc, a, b) winner, w_r applies the merge by the
    // marker-safe replace
  private[graft] def bpeCtes(n: Int): String = {
      val head =
        s"""w0 AS (
             SELECT w, CAST(count(*) AS BIGINT) AS freq,
               regexp_replace(w, '(.)', chr(1) || '\\1' || chr(1), 'g') AS e
             FROM (SELECT unnest($toks) AS w FROM documents) t
             GROUP BY w HAVING length(w) > 1 AND strpos(w, chr(1)) = 0)"""
      val rounds = (1 to n).map { r =>
        s""",
           p$r AS (
             SELECT syms[CAST(i AS INTEGER)] AS a,
               syms[CAST(i AS INTEGER) + 1] AS b, freq
             FROM (SELECT freq, syms, unnest(range(1, len(syms))) AS i
                   FROM (SELECT freq, list_filter(string_split(e, chr(1)), x -> len(x) > 0) AS syms
                         FROM w${r - 1}) s
                   WHERE len(syms) > 1) t),
           t$r AS (SELECT a, b, CAST(sum(freq) AS BIGINT) AS pair_count FROM p$r
                   GROUP BY a, b ORDER BY pair_count DESC, a, b LIMIT 1),
           w$r AS (SELECT freq, w,
                     replace(e, chr(1) || t$r.a || chr(1) || chr(1) || t$r.b || chr(1),
                       chr(1) || t$r.a || t$r.b || chr(1)) AS e
                   FROM w${r - 1} CROSS JOIN t$r)"""
      }.mkString
      head + rounds
    }

    // q24's composite quality score as a bare expression over `text` —
    // shared verbatim by q61's canonical pick (same IEEE-exact value)
  private[graft] def qualitySql(toks: String) =
      s"""least(greatest(
             least(CAST(length(text) AS DOUBLE) / 200.0, 1.0) * 0.4
             + (1.0 - CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE)
                 / greatest(CAST(length(text) AS DOUBLE), 1.0)) * 0.3
             + least(CAST(len(list_filter($toks, t -> list_contains(['the','a','of','and','is','to','in','that'], t))) AS DOUBLE)
                 / greatest(CAST(len($toks) AS DOUBLE), 1.0) * 5.0, 1.0) * 0.3,
             0.0), 1.0)"""

    // the exact-k-means Lloyd trajectory as a generated CTE chain
    // (q163's BPE scheme): micro-quantized points, k smallest-id seeds,
    // per round argmin assignment (ties to the smaller cluster) and the
    // nonneg-mod floor-division centroid mean with empty-cluster carry;
    // ends at cent_<rounds>, the final assignment a_f, and sizes sz —
    // shared by q218 (the centroid table), q219 (exact IVF on top), and
    // q227 (the persisted lifecycle, whose trainPred restricts training
    // to the initial corpus while a_f still assigns EVERY row — exactly
    // build + frozen-centroid append)
  private[graft] def kmeansChainSql(k: Int, rounds: Int, trainPred: String = "TRUE") = {
      val chain = (1 to rounds).map { r =>
        s"""dist_$r AS (SELECT px.vec_id, c.c,
               sum((px.x - c.v) * (px.x - c.v)) AS dist
             FROM tpx px JOIN cent_${r - 1} c ON px.d = c.d
             GROUP BY 1, 2),
           a_$r AS (SELECT vec_id, c FROM (
               SELECT vec_id, c,
                 row_number() OVER (PARTITION BY vec_id ORDER BY dist, c) AS rn
               FROM dist_$r) t WHERE rn = 1),
           nc_$r AS (SELECT a.c, px.d,
               CAST((sum(px.x) - ((sum(px.x) % count(*) + count(*)) % count(*)))
                 // count(*) AS BIGINT) AS v
             FROM a_$r a JOIN tpx px ON px.vec_id = a.vec_id
             GROUP BY 1, 2),
           cent_$r AS (SELECT p.c, p.d, coalesce(n.v, p.v) AS v
             FROM cent_${r - 1} p LEFT JOIN nc_$r n ON n.c = p.c AND n.d = p.d)"""
      }.mkString(",\n           ")
      s"""pts AS (
             SELECT vec_id, list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS q
             FROM embeddings),
           px AS (SELECT vec_id, unnest(q) AS x, unnest(range(len(q))) AS d
                  FROM pts),
           tpx AS (SELECT * FROM px WHERE $trainPred),
           sel AS (SELECT vec_id FROM pts WHERE $trainPred ORDER BY vec_id LIMIT $k),
           cent_0 AS (SELECT CAST(dense_rank() OVER (ORDER BY s.vec_id) AS BIGINT) AS c,
               px.d, px.x AS v
             FROM sel s JOIN px ON px.vec_id = s.vec_id),
           $chain,
           dist_f AS (SELECT px.vec_id, c.c,
               sum((px.x - c.v) * (px.x - c.v)) AS dist
             FROM px JOIN cent_$rounds c ON px.d = c.d
             GROUP BY 1, 2),
           a_f AS (SELECT vec_id, c FROM (
               SELECT vec_id, c,
                 row_number() OVER (PARTITION BY vec_id ORDER BY dist, c) AS rn
               FROM dist_f) t WHERE rn = 1),
           sz AS (SELECT c, CAST(count(*) AS BIGINT) AS n FROM a_f GROUP BY c)"""
    }

    // one PQ subspace as a generated CTE block (the kmeansChainSql
    // scheme re-based onto a caller-supplied point table `pxDef` —
    // a list_slice of the quantized vector for flat PQ, a slice of the
    // coarse RESIDUALS for IVF-PQ): per-subspace Lloyd chain, final
    // distance table distf_j, full assignment af_j
  private[graft] def pqSubChainSql(j: Int, dsub: Int, rounds: Int, pxDef: String,
                      selName: String, trainPred: String = "TRUE") = {
      val chain = (1 to rounds).map { r =>
        s"""dist${r}_$j AS (SELECT px.vec_id, c.c,
               sum((px.x - c.v) * (px.x - c.v)) AS dist
             FROM tpx_$j px JOIN cent${r - 1}_$j c ON px.d = c.d
             GROUP BY 1, 2),
           a${r}_$j AS (SELECT vec_id, c FROM (
               SELECT vec_id, c,
                 row_number() OVER (PARTITION BY vec_id ORDER BY dist, c) AS rn
               FROM dist${r}_$j) t WHERE rn = 1),
           nc${r}_$j AS (SELECT a.c, px.d,
               CAST((sum(px.x) - ((sum(px.x) % count(*) + count(*)) % count(*)))
                 // count(*) AS BIGINT) AS v
             FROM a${r}_$j a JOIN tpx_$j px ON px.vec_id = a.vec_id
             GROUP BY 1, 2),
           cent${r}_$j AS (SELECT p.c, p.d, coalesce(n.v, p.v) AS v
             FROM cent${r - 1}_$j p LEFT JOIN nc${r}_$j n ON n.c = p.c AND n.d = p.d)"""
      }.mkString(",\n           ")
      s"""px_$j AS ($pxDef),
           tpx_$j AS (SELECT * FROM px_$j WHERE $trainPred),
           cent0_$j AS (SELECT CAST(dense_rank() OVER (ORDER BY s.vec_id) AS BIGINT) AS c,
               px.d, px.x AS v
             FROM $selName s JOIN px_$j px ON px.vec_id = s.vec_id),
           $chain,
           distf_$j AS (SELECT px.vec_id, c.c,
               sum((px.x - c.v) * (px.x - c.v)) AS dist
             FROM px_$j px JOIN cent${rounds}_$j c ON px.d = c.d
             GROUP BY 1, 2),
           af_$j AS (SELECT vec_id, c FROM (
               SELECT vec_id, c,
                 row_number() OVER (PARTITION BY vec_id ORDER BY dist, c) AS rn
               FROM distf_$j) t WHERE rn = 1)"""
    }
  // every CTE of a WITH chain marked AS MATERIALIZED, so DuckDB computes
  // each CTE once however often it is referenced; inlined, the PQ
  // oracles (q232/q236/q238/q240) re-ran their cent/px/rot chains at
  // every reference, minutes per query at sf0.01. The rows are the same.
  private[graft] def materializeCtes(sql: String): String =
    sql.replace(" AS (", " AS MATERIALIZED (")
  private[graft] def pqSlicePx(j: Int, dsub: Int, src: String) =
      s"""SELECT vec_id,
             unnest(list_slice(q, ${j * dsub + 1}, ${j * dsub + dsub})) AS x,
             unnest(range($dsub)) AS d FROM $src"""

    // the one-way ANOVA CTE block over a source CTE with columns (g, y):
    // per-group exact sums, both divisions floor-quantized micro at
    // their sites (numerators >= 0 so // == floor), F the trailing IEEE
    // chain — anovaOneWay's arithmetic verbatim; shared by q233/q234
  private[graft] def anovaSql(src: String) =
      s"""pg AS (SELECT g, CAST(count(*) AS BIGINT) AS ng,
                    CAST(sum(y) AS BIGINT) AS sg,
                    CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS ssg
                  FROM $src GROUP BY g),
           tgv AS (SELECT ng, sg, ssg,
                    (CAST(sg AS HUGEINT) * sg * 1000000)
                      // CAST(ng AS HUGEINT) AS tgq
                  FROM pg),
           tot AS (SELECT CAST(sum(ng) AS BIGINT) AS n,
                     CAST(count(*) AS BIGINT) AS k,
                     CAST(sum(sg) AS HUGEINT) AS s,
                     CAST(sum(ssg) AS HUGEINT) AS ss,
                     CAST(sum(tgq) AS HUGEINT) AS st
                   FROM tgv),
           fin AS (SELECT n, k, ss, st,
                     (s * s * 1000000) // CAST(n AS HUGEINT) AS tn
                   FROM tot)
           SELECT n, k AS k_groups,
             CAST(st - tn AS DOUBLE) AS ssb_micro,
             CAST(ss * 1000000 - st AS DOUBLE) AS ssw_micro,
             CASE WHEN k >= 2 AND n > k AND ss * 1000000 - st > 0 THEN
               (CAST(st - tn AS DOUBLE) / CAST(k - 1 AS DOUBLE))
                 / (CAST(ss * 1000000 - st AS DOUBLE) / CAST(n - k AS DOUBLE))
             END AS f
           FROM fin"""

    // near-dup cluster closure (hashed-shingle Jaccard edges → recursive
    // reachability → min-label component) — the CTE block q39 and q61 share
  private[graft] def clusterCtes(toks: String, hs: String) =
      s"""sh AS (
             SELECT doc_id AS id, unnest($hs) AS s
             FROM (SELECT doc_id, $toks AS toks FROM documents) d),
           filtered AS (
             SELECT id, s FROM (
               SELECT id, s, count(*) OVER (PARTITION BY s) AS df FROM sh) t
             WHERE df <= 50),
           sizes AS (SELECT id, count(*) AS n_sh FROM filtered GROUP BY id),
           prs AS (
             SELECT a.id AS id_a, b.id AS id_b, count(*) AS shared
             FROM filtered a JOIN filtered b ON a.s = b.s AND a.id < b.id
             GROUP BY 1, 2),
           pairs AS (
             SELECT id_a, id_b FROM prs
             JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
             WHERE CAST(shared AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - shared AS DOUBLE) >= 0.5),
           edges AS (
             SELECT id_a AS s, id_b AS d FROM pairs
             UNION ALL SELECT id_b AS s, id_a AS d FROM pairs),
           reach(id, r) AS (
             SELECT DISTINCT s AS id, s AS r FROM edges
             UNION
             SELECT e.s AS id, reach.r FROM edges e JOIN reach ON e.d = reach.id),
           comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id)"""

    // one-sided containment decontamination — q42 and q60 are
    // result-identical by construction, so they share this oracle
  private[graft] def decontaminateSql(toks: String, hs: String) =
      s"""WITH cs AS (
             SELECT doc_id AS corpus_id, unnest($hs) AS s
             FROM (SELECT doc_id, $toks AS toks FROM documents WHERE doc_id % 10 <> 0) d),
           ps AS (
             SELECT doc_id AS probe_id, unnest($hs) AS s
             FROM (SELECT doc_id, $toks AS toks FROM documents WHERE doc_id % 10 = 0) d),
           stop AS (SELECT s FROM cs GROUP BY s HAVING count(*) > 50),
           csb AS (SELECT * FROM cs WHERE s NOT IN (SELECT s FROM stop)),
           psb AS (SELECT * FROM ps WHERE s NOT IN (SELECT s FROM stop)),
           sizes AS (SELECT probe_id, count(*) AS n_sh FROM psb GROUP BY probe_id),
           shared AS (
             SELECT corpus_id, probe_id, count(*) AS shared
             FROM csb JOIN psb USING (s) GROUP BY 1, 2)
           SELECT corpus_id, probe_id,
             CAST(shared AS DOUBLE) / CAST(n_sh AS DOUBLE) AS containment
           FROM shared JOIN sizes USING (probe_id)
           WHERE CAST(shared AS DOUBLE) / CAST(n_sh AS DOUBLE) >= 0.5
           ORDER BY corpus_id, probe_id"""

    // the sig/band CTE chain for one side of the incremental-dedup oracle
    // (q63/q66), prefixed to keep names apart: q18's two-hash family
  private[graft] def bandChain(p: String, where: String) =
      s"""${p}ex AS (
           SELECT doc_id AS id, unnest(list_distinct(${shingles(3)})) AS s
           FROM (SELECT doc_id, $toks AS toks FROM documents WHERE $where) d),
         ${p}hv AS (
           SELECT id, ('0x' || substr(md5(s), 1, 8))::BIGINT AS h1,
                      ('0x' || substr(md5(s), 9, 8))::BIGINT AS h2
           FROM ${p}ex),
         ${p}sig AS (
           SELECT id, [${(0 until 16).map(i => s"min((h1 + $i * h2) % 4294967291)").mkString(", ")}] AS sig
           FROM ${p}hv GROUP BY id),
         ${p}band AS (
           SELECT id, unnest(list_transform(range(0, 4), b ->
             CAST(b AS VARCHAR) || ':' || md5(array_to_string(list_slice(sig, b * 4 + 1, b * 4 + 4), '|')))) AS band
           FROM ${p}sig)"""

    // the full incremental-dedup status machinery (q63's oracle body,
    // shared with q66's index update): batch vs index fingerprints and
    // bands, min-id within-batch tie-breaks
  private[graft] val incDedupCtes =
      s"""${bandChain("b", "doc_id % 5 = 0")},
         ${bandChain("i", "doc_id % 5 <> 0")},
         bfp AS (SELECT doc_id AS id, md5($norm) AS fp FROM documents WHERE doc_id % 5 = 0),
         ifp AS (SELECT DISTINCT md5($norm) AS fp FROM documents WHERE doc_id % 5 <> 0),
         ex AS (
           SELECT id, fp, (fp IN (SELECT fp FROM ifp)
             OR min(id) OVER (PARTITION BY fp) < id) AS is_exact
           FROM bfp),
         bb AS (
           SELECT id, (band IN (SELECT band FROM iband)
             OR min(id) OVER (PARTITION BY band) < id) AS hit
           FROM bband),
         nh AS (SELECT id, bool_or(hit) AS near_hit FROM bb GROUP BY id)"""

    // band-key array joined to one string, from a side's sig CTE
  private[graft] def bandsStr(sigTable: String) =
      s"""SELECT id, array_to_string(list_transform(range(0, 4), b ->
          CAST(b AS VARCHAR) || ':' || md5(array_to_string(list_slice(sig, b * 4 + 1, b * 4 + 4), '|'))), ',') AS bands_str
          FROM $sigTable"""

  def oracleSql: Map[String, String] =
    oraclesCore ++ oraclesDataflow ++ oraclesDedup ++ oraclesAnn ++ oraclesText ++ oraclesAssembly ++ oraclesGraph ++ oraclesEvents ++ oraclesStats
}
