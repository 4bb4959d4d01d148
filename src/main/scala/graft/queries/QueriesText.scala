package graft

import graft.expr.Expr
import graft.functions.{Text, Vectors}
import graft.operators.{Accumulate, AsOf, Dedup, Sessionize, Similarity}
import graft.sources.Tables
import graft.stream.DataStream

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text gate queries, split out of [[SparkEntry]] (round-10
  * hygiene); the `queries`/`oracleSql` maps in SparkEntry remain the
  * single registry — this trait only hosts the builders verbatim. */
private[graft] trait QueriesText { this: SparkEntry.type =>

  /** Heuristic language ID. */
  protected def q23(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), Text.langId(col("text")).as("lang_pred"))
      .orderBy(col("doc_id"))


  /** Text quality metrics: token counts, punctuation ratio, mean token
    * length, composite quality score. */
  protected def q24(s: SparkSession, dir: String): DataFrame = {
    val stop = Text.langMarkers.toMap.apply("en")
    Tables.documents(s, dir)
      .select(col("doc_id"),
        Text.tokenCount(col("text")).cast("long").as("n_tokens"),
        Text.bpeishTokenCount(col("text")).cast("long").as("n_bpeish"),
        Text.punctRatio(col("text")).as("punct_ratio"),
        Text.meanTokenLength(col("text")).as("mean_tok_len"),
        Text.qualityScore(col("text"), stop).as("quality"))
      .orderBy(col("doc_id"))
  }


  /** Corpus cleaning: control chars stripped, whitespace collapsed, trimmed,
    * truncated — per-row narrow transform in the scan stage. */
  protected def q43(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), Text.clean(col("text"), 200).as("cleaned"))
      .orderBy(col("doc_id"))


  /** Repetition quality signal: duplicated-n-gram fraction per document
    * (1-gram and 3-gram), the standard boilerplate/degenerate-text filter —
    * per-row expressions over the one-pass native shingler. */
  protected def q45(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        Text.repetitionRatio(col("text"), 1).as("rep_1gram"),
        Text.repetitionRatio(col("text"), 3).as("rep_3gram"))
      .orderBy(col("doc_id"))


  /** PII redaction: the corpus has no real PII, so each row is first
    * enriched with a DETERMINISTIC synthetic email/IP/phone built from its
    * doc_id (both engines build the identical string) — the redaction
    * patterns are then genuinely exercised row-by-row against the oracle. */
  protected def q51(s: SparkSession, dir: String): DataFrame = {
    val pii = concat(col("text"),
      lit(" contact user"), col("doc_id").cast("string"), lit("@example.com"),
      lit(" at 10.0."), pmod(col("doc_id"), lit(256L)).cast("string"), lit(".7"),
      lit(" or +1415555"), pmod(col("doc_id"), lit(10000L)).cast("string"))
    Tables.documents(s, dir)
      .select(col("doc_id"), Text.redactPii(pii).as("redacted"))
      .orderBy(col("doc_id"))
  }


  /** Sliding-window token chunking (size 32, stride 24 → 8-token overlap):
    * the context-window prep step. The 1→n fan-out is a Generate in the
    * scan stage; chunk text and counts are deterministic strings/ints on
    * both engines. */
  protected def q72(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        explode(Text.slidingChunks(col("text"), size = 32, stride = 24)).as("c"))
      .select(col("doc_id"), col("c.chunk_idx").as("chunk_idx"),
        col("c.chunk").as("chunk"), col("c.n_tokens").as("n_tokens"))
      .orderBy(col("doc_id"), col("chunk_idx"))


  /** TF-IDF top-5 keywords per document. Oracle-checked by RANK: the
    * score column itself would be hash-flaky (`ln` is not ulp-identical
    * across engines), but the RANKING both engines derive from the same
    * exact (tf, df, N) integers via the same monotone formula is not —
    * mathematical score ties only occur at equal (tf, df), and those
    * break by term ascending on both sides. Residual risk, quantified:
    * a rank flip needs two UNEQUAL (tf, df) scores within ~1-2 ulp of
    * each other (each libm is ≤1 ulp off), i.e. |Δ|/score ≲ 1e-15 for
    * values whose generic spacing is ≥1e-2 — for the gate's fixed corpora
    * (≈2.5k scored terms/doc-set) that is a ~1e-10 coincidence, and the
    * check is DETERMINISTIC per (corpus, libm) pair: it is verified green
    * on the actual sf0.001/sf0.01 gate data, so it cannot flake run to
    * run, only shift if the corpus or either engine's libm changes.
    * tf/df in the output are the exact integers the score derives from. */
  protected def q73(s: SparkSession, dir: String): DataFrame =
    graft.operators.TfIdf.topTerms(Tables.documents(s, dir), "doc_id", "text", k = 5)
      .select(col("id").as("doc_id"), col("rank"), col("term"), col("tf"), col("df"))
      .orderBy(col("doc_id"), col("rank"))


  /** Corpus-trained bigram LM score per document, in integer micro-nats
    * (exact BIGINT — see [[graft.operators.LmScore]] for why the float
    * log-likelihood is quantized per-term before summing). */
  protected def q81(s: SparkSession, dir: String): DataFrame =
    graft.operators.LmScore.bigramScore(Tables.documents(s, dir), "doc_id", "text")
      .orderBy(col("doc_id"))


  /** Persisted-LM lifecycle: train the bigram model on 80% of the corpus,
    * write it as bucketed tables, score the held-out 20% AGAINST THE DISK
    * COPY — q81's production split (train once, score forever). OOV mass
    * is exercised for real: the held-out slice contains transitions the
    * model never saw. Table names dir-keyed like q66 (the write is an
    * eager side effect; two dirs in one session must not collide). */
  protected def q82(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val model = "graft_q82_lm_" +
      dirHash(dir)
    graft.operators.LmScore.writeModel(
      docs.where(col("doc_id") % 5 =!= 0), "doc_id", "text", model)
    graft.operators.LmScore.scoreWith(
        docs.where(col("doc_id") % 5 === 0), "doc_id", "text", model)
      .orderBy(col("doc_id"))
  }


  /** Bottom-decile LM-quality filter: drop the 10% of documents whose
    * per-bigram average log-likelihood (floor-divided micro-nats — exact
    * integers end to end) ranks lowest. The global ranking is
    * [[graft.operators.Ranking.globalRank]]'s two-level scheme — no
    * single-partition window; zero-bigram docs carry no LM evidence and
    * stay out of the ranking. */
  protected def q84(s: SparkSession, dir: String): DataFrame = {
    val scored = graft.operators.LmScore
      .bigramScore(Tables.documents(s, dir), "doc_id", "text")
      .where(col("n_bigrams") >= 1)
      // exact floor division: subtract the non-negative pmod, then DIV
      .withColumn("avg_unats",
        expr("(score_unats - pmod(score_unats, n_bigrams)) DIV n_bigrams"))
    val ranked = graft.operators.Ranking
      .globalRank(scored, "avg_unats", bucketWidth = 1000000L, "doc_id")
    ranked
      .crossJoin(ranked.agg(count(lit(1)).as("_n")))
      .withColumn("kept", col("rank") > expr("_n DIV 10"))
      .select(col("doc_id"), col("avg_unats"), col("rank"), col("kept"))
      .orderBy(col("rank"))
  }


  /** Inverted-index boolean retrieval: build the (term, doc_id) index,
    * persist it bucketed on term (dir-keyed name — the write is an eager
    * side effect, like q66/q82), then answer 'join' AND 'stream' AND NOT
    * 'slow' from the disk copy ([[graft.operators.InvertedIndex]]). */
  protected def q88(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val name = "graft_q88_idx_" +
      dirHash(dir)
    graft.operators.InvertedIndex.writeIndex(docs, "doc_id", "text", name)
    graft.operators.InvertedIndex
      .search(s, name, all = Seq("join", "stream"), none = Seq("slow"))
      .join(docs.select(col("doc_id"), col("n_chars")), Seq("doc_id"))
      .orderBy(col("doc_id"))
  }


  /** BM25 ranked retrieval off the persisted inverted index (dir-keyed
    * name, q88 lifecycle): top-100 docs for a 3-term query, score
    * quantized per (term, doc) to integer micro-nats BEFORE the per-doc
    * sum — LmScore's exactness scheme applied to relevance ranking
    * ([[graft.operators.InvertedIndex.bm25]]). */
  protected def q90(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val name = "graft_q90_idx_" +
      dirHash(dir)
    graft.operators.InvertedIndex.writeIndex(docs, "doc_id", "text", name)
    graft.operators.InvertedIndex.bm25(s, name, Seq("join", "window", "fast"))
      .orderBy(col("score_unats").desc, col("doc_id"))
      .limit(100)
  }


  /** Top-200 PMI collocations (c_pair >= 5) in integer micro-nats —
    * LmScore's quantize-then-aggregate exactness applied to association
    * mining; top-k is TakeOrdered, not a global sort
    * ([[graft.operators.Colloc]]). */
  protected def q89(s: SparkSession, dir: String): DataFrame =
    graft.operators.Colloc.pmi(Tables.documents(s, dir), "doc_id", "text", minCount = 5L)
      .orderBy(col("pmi_unats").desc, col("w1"), col("w2"))
      .limit(200)


  /** Corpus-adaptive boilerplate pruning: tokens in ≥ 78% of documents
    * are template filler — discover them from document frequency (integer
    * cross-multiply threshold) and strip them from every document,
    * preserving token order ([[graft.operators.Boilerplate]]). */
  protected def q103(s: SparkSession, dir: String): DataFrame =
    graft.operators.Boilerplate.pruneHighDfTokens(
        Tables.documents(s, dir), "doc_id", "text", dfNum = 78, dfDen = 100)
      .orderBy(col("doc_id"))


  /** Gopher-style composite quality rule filter: token-count bounds, mean
    * token length bounds, bigram repetition cap, and a function-word
    * requirement — per-rule verdicts plus the conjunction
    * ([[graft.operators.QualityRules.gopherFilter]]). */
  protected def q104(s: SparkSession, dir: String): DataFrame =
    graft.operators.QualityRules.gopherFilter(
        Tables.documents(s, dir), "doc_id", "text",
        minTokens = 30, maxTokens = 80,
        minMeanLen = 4.0, maxMeanLen = 4.8,
        repN = 2, maxRepetition = 0.05,
        stopwords = Seq("the", "a", "of", "and", "is", "to", "in", "that"),
        minStopHits = 2)
      .orderBy(col("doc_id"))


  /** Deequ-style declarative data-quality report over lineitem: one
    * audit row per check — not-null, key uniqueness (genuinely violated
    * in this data: (l_orderkey, l_linenumber) fans out), two value
    * ranges (one passing, one binding), and two FKs
    * ([[graft.operators.Checks.validate]]). */
  protected def q111(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Checks._
    validate(Tables.lineitem(s, dir), Seq(
      NotNull("l_orderkey"),
      Unique(Seq("l_orderkey", "l_linenumber")),
      InRange("l_quantity", 1.0, 50.0),
      InRange("l_discount", 0.0, 0.05),
      ForeignKey("l_partkey", Tables.part(s, dir), "p_partkey"),
      ForeignKey("l_suppkey", Tables.supplier(s, dir), "s_suppkey")))
  }


  /** Incremental boilerplate-vocabulary maintenance — the lifecycle q66
    * gave the dedup index, for [[graft.operators.Boilerplate]]'s df
    * stats: build stats for the base corpus (doc_id % 4 ≠ 0), persist
    * them BUCKETED on tok, absorb the remaining quarter as a batch
    * WITHOUT rescanning the base, and read the ≥50% vocabulary off the
    * merged stats. The oracle computes the same vocabulary from the
    * WHOLE corpus directly — hash-match proves incremental ≡ rebuild. */
  protected def q119(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val base = docs.where(col("doc_id") % 4 =!= 0)
    val batch = docs.where(col("doc_id") % 4 === 0)
    // dir-keyed table name — same rationale as q66: the write is an eager
    // side effect, the read lazy; a shared name across dirs would rebind
    val statsTable = "graft_q119_vocab_stats_" +
      dirHash(dir)
    Tables.writeBucketed(
      graft.operators.Boilerplate.dfStats(base, "doc_id", "text"),
      statsTable, buckets = 8, "tok")
    graft.operators.Boilerplate.vocabularyFromStats(
        graft.operators.Boilerplate.updateDfStats(
          s.table(statsTable), batch, "doc_id", "text"),
        dfNum = 50, dfDen = 100)
      .orderBy(col("tok"))
  }


  /** BPE merge candidates — the first round of byte-pair-encoding
    * tokenizer training (Sennrich et al., ACL 2016), the corpus-scale
    * part: count adjacent CHARACTER pairs within words, weighted by word
    * frequency, and rank merge candidates. The expensive piece at 100 TB
    * is exactly this counting pass — per-word char bigrams ride one
    * partial-aggregable exchange keyed on the pair (words pre-aggregate
    * to (word, freq) first, so a word's chars are walked once however
    * often it occurs). Pure string/integer ops — hash-exact. Top 20 by
    * (count desc, pair asc). The ITERATIVE trainer (apply top merge,
    * recount) is roadmapped with a marker-encoding design note; round
    * one is where the data-scale work lives. */
  protected def q144(s: SparkSession, dir: String): DataFrame = {
    val words = Tables.documents(s, dir)
      .select(explode(Text.tokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
    words
      // guard single-char words: sequence(1, 0) would COUNT DOWN, not
      // produce an empty pair list
      .where(length(col("w")) > 1)
      .select(col("freq"), explode(expr(
        "transform(sequence(1, length(w) - 1), i -> struct(substring(w, i, 1) AS a, substring(w, i + 1, 1) AS b))"))
        .as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(sum(col("freq")).as("pair_count"))
      .orderBy(col("pair_count").desc, col("a"), col("b"))
      .limit(20)
  }


  /** ITERATIVE BPE — two determinized merge rounds: pick the top char
    * pair (q144's counting), APPLY the merge corpus-wide, recount over
    * the merged symbol streams, pick again. The apply step is the
    * engine-portability trick from the roadmap note: every symbol is
    * wrapped in its own marker pair (`␁a␁␁b␁`), so replacing
    * `␁a␁␁b␁ → ␁ab␁` never shares delimiter characters between adjacent
    * matches — plain space-joined symbols DO share the separator and
    * both engines' left-to-right `replace` would skip every second
    * occurrence; RE2 (the oracle's regex engine) has no lookbehind, so
    * markers are the portable route. Greedy left-to-right on runs
    * (`aaa` merges once) — the same rule in both engines by replace()
    * semantics. The merge winner is a 1-row broadcast; each round's
    * counting is one partial-aggregable pair-keyed exchange over the
    * DISTINCT-word universe (words pre-aggregate to (w, freq)). */
  protected def q145(s: SparkSession, dir: String): DataFrame = {
    val M = "\u0001"
    val words = Tables.documents(s, dir)
      .select(explode(Text.tokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      // multi-symbol words only; a marker char in the data would corrupt
      // the encoding (deterministically excluded on both engines)
      .where(length(col("w")) > 1 && !col("w").contains(M))
    def topPair(pairs: DataFrame): DataFrame =
      pairs.groupBy(col("a"), col("b"))
        .agg(sum(col("freq")).as("pair_count"))
        .orderBy(col("pair_count").desc, col("a"), col("b"))
        .limit(1)
    val pairs1 = words.select(col("freq"), explode(expr(
      "transform(sequence(1, length(w) - 1), i -> struct(substring(w, i, 1) AS a, substring(w, i + 1, 1) AS b))"))
      .as("p")).select(col("freq"), col("p.a").as("a"), col("p.b").as("b"))
    val top1 = topPair(pairs1)
    val merged = words.crossJoin(top1.select(col("a").as("_ma"), col("b").as("_mb")))
      .withColumn("_enc", regexp_replace(col("w"), "(.)", M + "$1" + M))
      .withColumn("_enc2", call_function("replace", col("_enc"),
        concat(lit(M), col("_ma"), lit(M), lit(M), col("_mb"), lit(M)),
        concat(lit(M), col("_ma"), col("_mb"), lit(M))))
      .withColumn("syms", filter(split(col("_enc2"), M), x => length(x) > 0))
      .where(size(col("syms")) > 1)
    val pairs2 = merged.select(col("freq"), explode(expr(
      "transform(sequence(1, size(syms) - 1), i -> struct(element_at(syms, i) AS a, element_at(syms, i + 1) AS b))"))
      .as("p")).select(col("freq"), col("p.a").as("a"), col("p.b").as("b"))
    val top2 = topPair(pairs2)
    top1.select(lit(1L).as("round"), col("a"), col("b"), col("pair_count"))
      .unionAll(top2.select(lit(2L).as("round"), col("a"), col("b"), col("pair_count")))
      .orderBy(col("round"))
  }


  /** Blocklist audit: per-document count of matched blocklist phrases
    * (mixed 1/2/3-token phrases), matched as token-boundary shingle
    * equi-joins against the broadcast blocklist — multi-pattern search
    * as an inverted-index join, not a per-row automaton
    * ([[graft.operators.Blocklist.matchReport]]). */
  protected def q150(s: SparkSession, dir: String): DataFrame =
    graft.operators.Blocklist.matchReport(
        Tables.documents(s, dir), "doc_id", "text",
        Seq("spark", "hash join", "table scan", "merge sort join"))
      .orderBy(col("doc_id"))


  /** Token frequency SPECTRUM (count-of-counts): the corpus Zipf
    * profile — hapax-heavy is healthy, template-heavy inverts it; two
    * partial-aggregable counts, second exchange ≤ √(2·tokens) rows
    * ([[graft.operators.Boilerplate.frequencySpectrum]]). */
  protected def q152(s: SparkSession, dir: String): DataFrame =
    graft.operators.Boilerplate.frequencySpectrum(
        Tables.documents(s, dir), "text")
      .orderBy(col("freq"))


  /** Corpus DRIFT between the even- and odd-id document halves (a stand-
    * in for two crawl versions): KL divergence both directions between
    * add-1-smoothed unigram distributions over the union vocabulary, in
    * the quantize-before-sum integer micro-nat scheme — both engines sum
    * identical BIGINTs ([[graft.operators.LmScore.corpusDivergence]]). */
  protected def q153(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    graft.operators.LmScore.corpusDivergence(
      d.where(pmod(col("doc_id"), lit(2)) === 0),
      d.where(pmod(col("doc_id"), lit(2)) === 1), "text")
  }


  /** Per-source OUT-OF-VOCABULARY rate against the corpus's own ≥3%-df
    * vocabulary — tokenizer/register fitness by source; the vocabulary
    * is model-sized and broadcasts
    * ([[graft.operators.Boilerplate.oovRate]]). */
  protected def q157(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    graft.operators.Boilerplate.oovRate(d, "source", "text",
        graft.operators.Boilerplate.highDfTokens(d, "doc_id", "text", 3L, 100L))
      .orderBy(col("source"))
  }


  /** GINI concentration of per-source document counts — the corpus
    * composition red-flag (0 = balanced, →1 = one source dominates);
    * one partial-aggregable count, then pure G-row arithmetic
    * ([[graft.operators.Checks.giniConcentration]]). */
  protected def q158(s: SparkSession, dir: String): DataFrame =
    graft.operators.Checks.giniConcentration(Tables.documents(s, dir), "source")


  /** VOCABULARY GROWTH CURVE (Heaps'-law profile) over NESTED md5
    * subsamples at 10% / 50% / 100%: each token type collapses to the
    * minimum document prefix containing it — the exact corpus fraction
    * where it enters the vocabulary — so every rate is a threshold
    * filter over the type table, one tokenized pass total
    * ([[graft.operators.Boilerplate.vocabGrowthCurve]]). */
  protected def q159(s: SparkSession, dir: String): DataFrame =
    graft.operators.Boilerplate.vocabGrowthCurve(
        Tables.documents(s, dir), "doc_id", "text", Seq(0.1, 0.5, 1.0))
      .orderBy(col("rate"))


  /** PARAMETERIZED BPE training — [[BpeRounds]] merge rounds through the
    * generalized loop ([[graft.operators.Bpe.trainMerges]]); the oracle
    * generates the same number of CTE rounds from the same constant, so
    * q145's two-round unroll graduates to a verified recursion. */
  protected def q163(s: SparkSession, dir: String): DataFrame =
    graft.operators.Bpe.trainMerges(s, Tables.documents(s, dir), "text",
        rounds = BpeRounds)
      .orderBy(col("round"))


  /** BPE ENCODE — apply the [[BpeRounds]]-round merge table back to the
    * corpus: per-doc token/char/symbol counts and the chars-per-symbol
    * compression ratio, the tokenizer-fitness number that closes the
    * train→apply lifecycle ([[graft.operators.Bpe.encodeCorpus]]). */
  protected def q164(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val merges = graft.operators.Bpe.trainMerges(s, docs, "text",
      rounds = BpeRounds)
    graft.operators.Bpe.encodeCorpus(docs, "doc_id", "text", merges)
      .orderBy(col("doc_id"))
  }


  /** ZIPF SLOPE of the token rank-frequency curve — ln-ln least squares
    * over the vocabulary (rank via the exact three-level rank, both lns
    * micro-nat-quantized once per type, then [[graft.operators.Eval
    * .groupedTrend]]'s rational slope): the one-number corpus-
    * naturalness read next to q152's spectrum (natural text ≈ −1). */
  protected def q184(s: SparkSession, dir: String): DataFrame = {
    val counts = Tables.documents(s, dir)
      .select(explode(Text.tokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .withColumn("_negc", -col("cnt"))
    val ranked = graft.operators.Ranking.globalRankBy(
      counts, col("_negc"), col("_negc"), col("w"))
    val pts = ranked.select(lit("all").as("corpus"),
      round(log(col("rank").cast("double")) * lit(1e6)).cast("long").as("x"),
      round(log(col("cnt").cast("double")) * lit(1e6)).cast("long").as("y"))
    graft.operators.Eval.groupedTrend(pts, "corpus", col("x"), col("y"))
      .orderBy(col("corpus"))
  }


  /** INFORMATION-GAIN feature ranking — q174's mutual information run
    * over each CANDIDATE metadata column against the label: which of
    * (source, length bucket, langid prediction) leaks the most
    * language signal, the feature-selection/leakage-audit read before
    * trusting stratification keys ([[graft.operators.Eval
    * .mutualInfoUnats]] per feature, stacked). */
  protected def q189(s: SparkSession, dir: String): DataFrame = {
    // the candidate features come straight off the PERSISTED enrichment
    // (built once per session by whichever consumer touches it first —
    // the q261 lifecycle pattern): the three MI chains scan a narrow
    // column-pruned parquet with no langid regex in their plans
    val feats = graft.operators.Enrich.enrichedDocuments(s, dir)
      .select(col("langid").as("f_langid"),
        expr("n_chars DIV 256").cast("string").as("f_len"),
        col("source").as("f_source"), col("lang"))
    def mi(name: String, f: Column): DataFrame =
      graft.operators.Eval.mutualInfoUnats(
          feats.select(f.as("f"), col("lang")), col("f"), col("lang"))
        .select(lit(name).as("feature"), col("n"), col("n_cells"),
          col("mi_n_micro"), col("mi_nats"))
    mi("langid", col("f_langid"))
      .unionByName(mi("len_bucket", col("f_len")))
      .unionByName(mi("source", col("f_source")))
      .orderBy(col("feature"))
  }


  /** Persisted document-ENRICHMENT lifecycle (the q227/q240 pattern
    * applied to scoring): build the enriched table on the initial corpus
    * (doc_id % 7 ≠ 0), persist the scorer MODEL (language markers +
    * stopwords) as a table, append the ingest batch scored against the
    * PERSISTED frozen model, then consume from the enriched parquet ONLY
    * — per (langid, lang) doc counts, exact quality/token/char sums
    * ([[graft.operators.Enrich]]). The table is partitioned by langid so
    * a language-filtered consumer statically prunes its scan. */
  protected def q261(s: SparkSession, dir: String): DataFrame = {
    val suffix = lifecycleScratchSuffix(s, "q261", dir)
    val docs = Tables.documents(s, dir)
    val initial = docs.where(col("doc_id") % 7 =!= 0)
    val batch = docs.where(col("doc_id") % 7 === 0)
    val modelTable = s"graft_q261_scorer_model_$suffix"
    val enrichedPath = s"/tmp/graft_q261_enriched_$suffix"
    Tables.saveTable(graft.operators.Enrich.scorerModel(s), modelTable)
    Tables.writePartitioned(
      graft.operators.Enrich.scoreDocuments(initial), enrichedPath, "langid")
    Tables.appendPartitioned(
      graft.operators.Enrich.scoreAgainstModel(batch, s.table(modelTable)),
      enrichedPath, "langid")
    s.read.parquet(enrichedPath)
      .groupBy(col("langid"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("quality_micro")).as("sum_quality_micro"),
        sum(col("n_tokens")).as("sum_tokens"),
        sum(col("n_chars")).as("sum_chars"))
      .orderBy(col("langid"), col("lang"))
  }


  /** Selective enrichment REFRESH after a scorer rollout (the versioned
    * face of q261's lifecycle): a mixed table where 2/3 of the corpus
    * still carries v1 scores and 1/3 already carries v2 (v2 extends the
    * stopword list) is refreshed against the PERSISTED v2 model — only
    * the stale rows re-score (a doc_id semi-join into the corpus scan),
    * and the result is bitwise a full v2 rebuild
    * ([[graft.operators.Enrich.refreshStale]]). The oracle recomputes
    * every document under the v2 scorer. */
  protected def q265(s: SparkSession, dir: String): DataFrame = {
    val suffix = lifecycleScratchSuffix(s, "q265", dir)
    val docs = Tables.documents(s, dir)
    val stopV2 = Text.langMarkers.toMap.apply("en") ++ Seq("for", "it")
    val modelV2Table = s"graft_q265_scorer_v2_$suffix"
    Tables.saveTable(
      graft.operators.Enrich.scorerModel(s, stopwords = stopV2), modelV2Table)
    val enrichedPath = s"/tmp/graft_q265_enriched_$suffix"
    graft.operators.Enrich.scoreVersioned(
        docs.where(col("doc_id") % 3 =!= 0),
        graft.operators.Enrich.scorerModel(s), 1)
      .unionByName(graft.operators.Enrich.scoreVersioned(
        docs.where(col("doc_id") % 3 === 0), s.table(modelV2Table), 2))
      // REBALANCE: the two spread scorer stages would otherwise land up to
      // 2×cores tiny files for every downstream consumer (guide §6)
      .hint("rebalance")
      .write.mode("overwrite").parquet(enrichedPath)
    graft.operators.Enrich.refreshStale(
        s.read.parquet(enrichedPath), docs, s.table(modelV2Table),
        currentVersion = 2)
      .groupBy(col("langid"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("quality_micro")).as("sum_quality_micro"),
        min(col("scorer_version")).cast("long").as("min_version"))
      .orderBy(col("langid"))
  }


  /** KEYNESS of even- vs odd-id document halves — per-term add-½
    * log-odds in micro-nats, top-20 by |score|: WHAT changed between
    * two corpora, one level finer than q153's corpus-level divergence
    * ([[graft.operators.Colloc.keyness]]). */
  protected def q198(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    graft.operators.Colloc.keyness(
        d.where(col("doc_id") % 2 === 0), d.where(col("doc_id") % 2 === 1),
        "text", k = 20)
      .orderBy(abs(col("keyness_unats")).desc, col("term"))
  }


  protected def oraclesText: Map[String, String] = Map(

      // same synthetic-PII enrichment, same replacement order; patterns are
      // restricted to Java-regex/RE2-common syntax so both engines agree
      "q51_pii_redact" ->
        """SELECT doc_id,
             regexp_replace(
               regexp_replace(
                 regexp_replace(
                   text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
                        || ' at 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7'
                        || ' or +1415555' || CAST(doc_id % 10000 AS VARCHAR),
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                 '(\d{1,3}\.){3}\d{1,3}', '<IP>', 'g'),
               '\+\d{7,15}', '<PHONE>', 'g') AS redacted
           FROM documents ORDER BY doc_id""",

      // enrichment lifecycle: the q23 langid chain + the q24 quality
      // expression + token/char counts recomputed from the RAW documents
      // (build ∪ frozen-model append covers every row with the identical
      // scorer, so the persisted-table read must equal this recompute)
      "q261_enrich_lifecycle" ->
        s"""WITH langs AS (
             SELECT * FROM (VALUES
               ('de', ['der','die','das','und','ist','nicht','ein','mit']),
               ('en', ['the','a','of','and','is','to','in','that']),
               ('es', ['el','la','de','que','y','es','en','un']),
               ('fr', ['le','la','les','de','et','est','un','une']),
               ('zh', ['de','shi','bu','le','zai','you','wo','ta'])) l(lang, words)),
           scores AS (
             SELECT doc_id, langs.lang AS cand,
               len(list_filter($toks, t -> list_contains(words, t))) AS hits
             FROM documents CROSS JOIN langs),
           best AS (
             SELECT doc_id, cand, hits,
               row_number() OVER (PARTITION BY doc_id
                 ORDER BY hits DESC, cand ASC) AS rn
             FROM scores),
           lid AS (SELECT doc_id,
               CASE WHEN hits > 0 THEN cand ELSE 'und' END AS langid
             FROM best WHERE rn = 1),
           enr AS (SELECT d.doc_id, lid.langid, d.lang,
               CAST(floor(${qualitySql(toks)} * 1e6) AS BIGINT) AS qm,
               CAST(len($toks) AS BIGINT) AS nt,
               d.n_chars AS nc
             FROM documents d JOIN lid USING (doc_id))
           SELECT langid, lang, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(qm) AS BIGINT) AS sum_quality_micro,
             CAST(sum(nt) AS BIGINT) AS sum_tokens,
             CAST(sum(nc) AS BIGINT) AS sum_chars
           FROM enr GROUP BY langid, lang ORDER BY langid, lang""",

      // scorer-rollout refresh: every document recomputed under the v2
      // scorer (stopword list extended by 'for','it'); langid unaffected
      // (markers unchanged), min_version pinned to 2
      "q265_enrich_refresh" ->
        s"""WITH langs AS (
             SELECT * FROM (VALUES
               ('de', ['der','die','das','und','ist','nicht','ein','mit']),
               ('en', ['the','a','of','and','is','to','in','that']),
               ('es', ['el','la','de','que','y','es','en','un']),
               ('fr', ['le','la','les','de','et','est','un','une']),
               ('zh', ['de','shi','bu','le','zai','you','wo','ta'])) l(lang, words)),
           scores AS (
             SELECT doc_id, langs.lang AS cand,
               len(list_filter($toks, t -> list_contains(words, t))) AS hits
             FROM documents CROSS JOIN langs),
           best AS (
             SELECT doc_id, cand, hits,
               row_number() OVER (PARTITION BY doc_id
                 ORDER BY hits DESC, cand ASC) AS rn
             FROM scores),
           lid AS (SELECT doc_id,
               CASE WHEN hits > 0 THEN cand ELSE 'und' END AS langid
             FROM best WHERE rn = 1),
           qv2 AS (SELECT doc_id,
               CAST(floor(least(greatest(
                 least(CAST(length(text) AS DOUBLE) / 200.0, 1.0) * 0.4
                 + (1.0 - CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE)
                     / greatest(CAST(length(text) AS DOUBLE), 1.0)) * 0.3
                 + least(CAST(len(list_filter($toks, t -> list_contains(
                       ['the','a','of','and','is','to','in','that','for','it'], t))) AS DOUBLE)
                     / greatest(CAST(len($toks) AS DOUBLE), 1.0) * 5.0, 1.0) * 0.3,
                 0.0), 1.0) * 1e6) AS BIGINT) AS qm
             FROM documents)
           SELECT lid.langid, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(qm) AS BIGINT) AS sum_quality_micro,
             CAST(2 AS BIGINT) AS min_version
           FROM documents d JOIN lid USING (doc_id) JOIN qv2 USING (doc_id)
           GROUP BY lid.langid ORDER BY lid.langid""",

      "q23_langid" ->
        s"""WITH langs AS (
             SELECT * FROM (VALUES
               ('de', ['der','die','das','und','ist','nicht','ein','mit']),
               ('en', ['the','a','of','and','is','to','in','that']),
               ('es', ['el','la','de','que','y','es','en','un']),
               ('fr', ['le','la','les','de','et','est','un','une']),
               ('zh', ['de','shi','bu','le','zai','you','wo','ta'])) l(lang, words)),
           scores AS (
             SELECT doc_id, langs.lang AS cand,
               len(list_filter($toks, t -> list_contains(words, t))) AS hits
             FROM documents CROSS JOIN langs),
           best AS (
             SELECT doc_id, cand, hits,
               row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, cand ASC) AS rn
             FROM scores)
           SELECT doc_id, CASE WHEN hits > 0 THEN cand ELSE 'und' END AS lang_pred
           FROM best WHERE rn = 1 ORDER BY doc_id""",

      "q24_quality" ->
        s"""SELECT doc_id,
           CAST(len($toks) AS BIGINT) AS n_tokens,
           CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_bpeish,
           CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE)
             / greatest(CAST(length(text) AS DOUBLE), 1.0) AS punct_ratio,
           CAST(coalesce(list_sum(list_transform($toks, t -> CAST(length(t) AS BIGINT))), 0) AS DOUBLE)
             / greatest(CAST(len($toks) AS DOUBLE), 1.0) AS mean_tok_len,
           least(greatest(
             least(CAST(length(text) AS DOUBLE) / 200.0, 1.0) * 0.4
             + (1.0 - CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE)
                 / greatest(CAST(length(text) AS DOUBLE), 1.0)) * 0.3
             + least(CAST(len(list_filter($toks, t -> list_contains(['the','a','of','and','is','to','in','that'], t))) AS DOUBLE)
                 / greatest(CAST(len($toks) AS DOUBLE), 1.0) * 5.0, 1.0) * 0.3,
             0.0), 1.0) AS quality
           FROM documents ORDER BY doc_id""",

      "q43_text_clean" ->
        """SELECT doc_id,
           substr(trim(regexp_replace(regexp_replace(text, '[\x00-\x1F\x7F]', ' ', 'g'), '\s+', ' ', 'g')), 1, 200) AS cleaned
           FROM documents ORDER BY doc_id""",

      "q45_repetition" -> {
        def rep(n: Int) =
          s"CASE WHEN len(${shingles(n)}) <= 1 THEN 0.0 " +
          s"ELSE 1.0 - CAST(len(list_distinct(${shingles(n)})) AS DOUBLE) / CAST(len(${shingles(n)}) AS DOUBLE) END"
        s"""SELECT doc_id, ${rep(1)} AS rep_1gram, ${rep(3)} AS rep_3gram
           FROM (SELECT doc_id, $toks AS toks FROM documents) d
           ORDER BY doc_id"""
      },

      // same window arithmetic; DuckDB list_slice's END is inclusive, so
      // [s·stride + 1, s·stride + size] ≡ Spark's slice(start, length)
      "q72_chunking" ->
        s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
           c AS (
             SELECT doc_id, toks,
               unnest(range(0, CAST(floor(CAST(len(toks) - 1 AS DOUBLE) / 24) AS BIGINT) + 1)) AS idx
             FROM t WHERE len(toks) > 0)
           SELECT doc_id, CAST(idx AS INT) AS chunk_idx,
             array_to_string(list_slice(toks, idx * 24 + 1, idx * 24 + 32), ' ') AS chunk,
             CAST(len(list_slice(toks, idx * 24 + 1, idx * 24 + 32)) AS BIGINT) AS n_tokens
           FROM c ORDER BY doc_id, chunk_idx""",

      // RANK check without ulp-stable ln: both engines rank by the same
      // monotone score computed from the same exact integers (tf, df, N) —
      // a mathematical tie between different (tf, df) pairs would need
      // tf1/tf2 = (ln r2 + 1)/(ln r1 + 1) to hold over rationals, which it
      // cannot; equal (tf, df) ties break by term in both. The score itself
      // is still not an output column.
      "q73_tfidf" ->
        s"""WITH tf AS (
             SELECT doc_id, word AS term, CAST(count(*) AS BIGINT) AS tf FROM (
               SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\\s+')) AS word
               FROM documents) t
             WHERE word <> '' GROUP BY 1, 2),
           df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
           n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
           ranked AS (
             SELECT tf.doc_id, tf.term, tf.tf, df.df,
               row_number() OVER (PARTITION BY tf.doc_id
                 ORDER BY tf.tf * (ln((n.n + 1.0) / (df.df + 1.0)) + 1.0) DESC,
                   tf.term ASC) AS rank
             FROM tf JOIN df USING (term) CROSS JOIN n)
           SELECT doc_id, rank, term, tf, df FROM ranked
           WHERE rank <= 5 ORDER BY doc_id, rank""",

      // add-1 bigram LM log-likelihood, quantized per DISTINCT bigram term
      // to integer micro-nats (round(ln·1e6)) before the per-doc sum, so
      // both engines sum exact BIGINTs in any order; parallel unnest of
      // the two shifted slices zips tokens into bigrams positionally
      "q81_lm_score" ->
        s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
           db0 AS (
             SELECT doc_id,
               unnest(list_slice(toks, 1, len(toks) - 1)) AS w1,
               unnest(list_slice(toks, 2, len(toks))) AS w2
             FROM t WHERE len(toks) >= 2),
           db AS (SELECT doc_id, w1, w2, CAST(count(*) AS BIGINT) AS m
                  FROM db0 GROUP BY 1, 2, 3),
           bg AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS cb
                  FROM db0 GROUP BY 1, 2),
           u AS (SELECT w, CAST(count(*) AS BIGINT) AS cu
                 FROM (SELECT unnest(toks) AS w FROM t) GROUP BY 1),
           v AS (SELECT CAST(count(*) AS BIGINT) AS v FROM u),
           sc AS (
             SELECT db.doc_id, CAST(sum(db.m) AS BIGINT) AS n_bigrams,
               CAST(sum(db.m * CAST(round(ln((bg.cb + 1.0) / (u.cu + v.v)) * 1e6) AS BIGINT)) AS BIGINT) AS score_unats
             FROM db JOIN bg USING (w1, w2) JOIN u ON u.w = db.w1 CROSS JOIN v
             GROUP BY 1)
           SELECT t.doc_id, coalesce(sc.n_bigrams, 0) AS n_bigrams,
             coalesce(sc.score_unats, 0) AS score_unats
           FROM t LEFT JOIN sc USING (doc_id) ORDER BY t.doc_id""",

      // q81's lifecycle split: counts come from the 80% train slice only,
      // the 20% held-out slice is scored with coalesce-0 counts (the add-1
      // smoothing handles OOV with no special case on either engine)
      "q82_lm_lifecycle" ->
        s"""WITH tr AS (SELECT doc_id, $toks AS toks FROM documents WHERE doc_id % 5 <> 0),
           te AS (SELECT doc_id, $toks AS toks FROM documents WHERE doc_id % 5 = 0),
           bg AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS cb FROM (
             SELECT unnest(list_slice(toks, 1, len(toks) - 1)) AS w1,
               unnest(list_slice(toks, 2, len(toks))) AS w2
             FROM tr WHERE len(toks) >= 2) GROUP BY 1, 2),
           u AS (SELECT w, CAST(count(*) AS BIGINT) AS cu
                 FROM (SELECT unnest(toks) AS w FROM tr) GROUP BY 1),
           v AS (SELECT CAST(count(*) AS BIGINT) AS v FROM u),
           db AS (SELECT doc_id, w1, w2, CAST(count(*) AS BIGINT) AS m FROM (
             SELECT doc_id,
               unnest(list_slice(toks, 1, len(toks) - 1)) AS w1,
               unnest(list_slice(toks, 2, len(toks))) AS w2
             FROM te WHERE len(toks) >= 2) GROUP BY 1, 2, 3),
           sc AS (
             SELECT db.doc_id, CAST(sum(db.m) AS BIGINT) AS n_bigrams,
               CAST(sum(db.m * CAST(round(ln((coalesce(bg.cb, 0) + 1.0) /
                 (coalesce(u.cu, 0) + v.v)) * 1e6) AS BIGINT)) AS BIGINT) AS score_unats
             FROM db LEFT JOIN bg USING (w1, w2) LEFT JOIN u ON u.w = db.w1 CROSS JOIN v
             GROUP BY 1)
           SELECT te.doc_id, coalesce(sc.n_bigrams, 0) AS n_bigrams,
             coalesce(sc.score_unats, 0) AS score_unats
           FROM te LEFT JOIN sc USING (doc_id) ORDER BY te.doc_id""",

      // q81's scores, per-bigram floor-averaged (subtract the FLOOR mod —
      // DuckDB % truncates, so re-floor it — then exact integer division),
      // ranked ascending with doc_id tiebreak; bottom decile dropped
      "q84_lm_quality_filter" ->
        s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
           db0 AS (
             SELECT doc_id,
               unnest(list_slice(toks, 1, len(toks) - 1)) AS w1,
               unnest(list_slice(toks, 2, len(toks))) AS w2
             FROM t WHERE len(toks) >= 2),
           db AS (SELECT doc_id, w1, w2, CAST(count(*) AS BIGINT) AS m
                  FROM db0 GROUP BY 1, 2, 3),
           bg AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS cb
                  FROM db0 GROUP BY 1, 2),
           u AS (SELECT w, CAST(count(*) AS BIGINT) AS cu
                 FROM (SELECT unnest(toks) AS w FROM t) GROUP BY 1),
           v AS (SELECT CAST(count(*) AS BIGINT) AS v FROM u),
           sc AS (
             SELECT db.doc_id, CAST(sum(db.m) AS BIGINT) AS n_bigrams,
               CAST(sum(db.m * CAST(round(ln((bg.cb + 1.0) / (u.cu + v.v)) * 1e6) AS BIGINT)) AS BIGINT) AS score_unats
             FROM db JOIN bg USING (w1, w2) JOIN u ON u.w = db.w1 CROSS JOIN v
             GROUP BY 1),
           avgd AS (
             SELECT doc_id,
               CAST((score_unats - (((score_unats % n_bigrams) + n_bigrams) % n_bigrams))
                 // n_bigrams AS BIGINT) AS avg_unats
             FROM sc WHERE n_bigrams >= 1),
           ranked AS (
             SELECT doc_id, avg_unats,
               row_number() OVER (ORDER BY avg_unats, doc_id) AS rank,
               CAST(count(*) OVER () AS BIGINT) AS n
             FROM avgd)
           SELECT doc_id, avg_unats, CAST(rank AS BIGINT) AS rank,
             rank > (n // 10) AS kept
           FROM ranked ORDER BY rank""",

      // token-membership boolean retrieval over the same normalization
      "q88_inverted_index" ->
        s"""WITH t AS (SELECT doc_id, n_chars, $toks AS toks FROM documents)
           SELECT doc_id, n_chars FROM t
           WHERE list_contains(toks, 'join') AND list_contains(toks, 'stream')
             AND NOT list_contains(toks, 'slow')
           ORDER BY doc_id""",

      // adjacent-bigram PMI quantized per distinct pair (round(ln·1e6)) —
      // the double arithmetic is the same left-associated shape as the
      // engine's; counts and outputs all BIGINT
      "q89_pmi_colloc" ->
        s"""WITH t AS (SELECT $toks AS toks FROM documents),
           bg AS (
             SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_pair FROM (
               SELECT unnest(list_slice(toks, 1, len(toks) - 1)) AS w1,
                 unnest(list_slice(toks, 2, len(toks))) AS w2
               FROM t WHERE len(toks) >= 2) GROUP BY 1, 2),
           u AS (SELECT w, CAST(count(*) AS BIGINT) AS cu
                 FROM (SELECT unnest(toks) AS w FROM t) GROUP BY 1),
           n AS (SELECT CAST(sum(cu) AS BIGINT) AS n_total FROM u)
           SELECT bg.w1, bg.w2, bg.c_pair,
             CAST(round(ln(CAST(bg.c_pair AS DOUBLE) * CAST(n.n_total AS DOUBLE)
               / CAST(u1.cu AS DOUBLE) / CAST(u2.cu AS DOUBLE)) * 1e6) AS BIGINT) AS pmi_unats
           FROM bg
           JOIN u u1 ON u1.w = bg.w1
           JOIN u u2 ON u2.w = bg.w2
           CROSS JOIN n
           WHERE bg.c_pair >= 5
           ORDER BY pmi_unats DESC, w1, w2 LIMIT 200""",

      // BM25 with the engine's exact expression shape: per-(term,doc)
      // double score quantized to micro-nats at ONE site, then exact
      // BIGINT per-doc sums. Double literals rendered from the same JVM
      // doubles the engine uses (e-notation forces DOUBLE parse).
      "q90_bm25" -> {
        def fmtD(v: Double): String = {
          val s0 = java.lang.Double.toString(v)
          if (s0.contains("E")) s0.replace("E", "e") else s0 + "e0"
        }
        val (k1p1, k1s, omb, bs) = (fmtD(1.2 + 1.0), fmtD(1.2), fmtD(1.0 - 0.75), fmtD(0.75))
        s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
           d AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, toks FROM t WHERE len(toks) > 0),
           post AS (SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf
                    FROM (SELECT doc_id, dl, unnest(toks) AS term FROM d) GROUP BY 1, 2, 3),
           meta AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl FROM d),
           probed AS (SELECT * FROM post WHERE term IN ('join', 'window', 'fast')),
           dfs AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM probed GROUP BY 1),
           sc AS (SELECT p.doc_id,
             CAST(round(
               ln(1e0 + (CAST(m.n_docs AS DOUBLE) - CAST(f.df AS DOUBLE) + 5e-1) / (CAST(f.df AS DOUBLE) + 5e-1))
               * (CAST(p.tf AS DOUBLE) * $k1p1)
               / (CAST(p.tf AS DOUBLE) + $k1s * ($omb + $bs * CAST(p.dl AS DOUBLE) / (CAST(m.sum_dl AS DOUBLE) / CAST(m.n_docs AS DOUBLE))))
               * 1e6) AS BIGINT) AS s
             FROM probed p JOIN dfs f ON f.term = p.term CROSS JOIN meta m)
           SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms, CAST(sum(s) AS BIGINT) AS score_unats
           FROM sc GROUP BY 1 ORDER BY score_unats DESC, doc_id LIMIT 100"""
      },

      // df over per-doc DISTINCT tokens; boilerplate iff df/N >= 78/100 by
      // integer cross-multiply; order-preserving reassembly; all-boilerplate
      // docs survive with clean_text = ''
      "q103_boilerplate_prune" ->
        s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
           tok AS (SELECT doc_id, unnest(range(1, len(toks) + 1)) AS p, toks
                   FROM t WHERE len(toks) > 0),
           flat AS (SELECT doc_id, p, toks[p] AS tok FROM tok),
           dfr AS (SELECT tok, count(DISTINCT doc_id) AS dfc FROM flat GROUP BY tok),
           n AS (SELECT count(*) AS nd FROM documents),
           hi AS (SELECT tok FROM dfr, n WHERE dfc * 100 >= nd * 78),
           kept AS (SELECT doc_id, p, tok FROM flat
                    WHERE tok NOT IN (SELECT tok FROM hi)),
           agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS clean_text,
                     CAST(count(*) AS BIGINT) AS n_kept FROM kept GROUP BY doc_id),
           base AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tok FROM t)
           SELECT b.doc_id, coalesce(a.clean_text, '') AS clean_text,
             coalesce(a.n_kept, 0) AS n_kept,
             b.n_tok - coalesce(a.n_kept, 0) AS n_dropped
           FROM base b LEFT JOIN agg a USING (doc_id) ORDER BY doc_id""",

      // every statistic is exact-integer-derived; the only doubles are one
      // division (mean_len) and q45's repetition ratio — IEEE-identical on
      // both engines; empty docs have NULL mean_len and fail r_wlen
      "q104_gopher_rules" -> {
        val rep2 =
          s"CASE WHEN len(${shingles(2)}) <= 1 THEN 0.0 " +
          s"ELSE 1.0 - CAST(len(list_distinct(${shingles(2)})) AS DOUBLE) / CAST(len(${shingles(2)}) AS DOUBLE) END"
        s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
           m AS (SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS n_tok,
             CASE WHEN len(toks) > 0
               THEN CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE)
                    / CAST(len(toks) AS DOUBLE) END AS mean_len,
             $rep2 AS rep,
             CAST(len(list_filter(['the','a','of','and','is','to','in','that'],
               s -> list_contains(toks, s))) AS BIGINT) AS stop_hits
           FROM t)
           SELECT doc_id, n_tok, mean_len, rep, stop_hits,
             n_tok BETWEEN 30 AND 80 AS r_len,
             coalesce(mean_len BETWEEN 4.0 AND 4.8, false) AS r_wlen,
             rep <= 0.05 AS r_rep,
             stop_hits >= 2 AS r_stop,
             (n_tok BETWEEN 30 AND 80)
               AND coalesce(mean_len BETWEEN 4.0 AND 4.8, false)
               AND rep <= 0.05 AND stop_hits >= 2 AS keep
           FROM m ORDER BY doc_id"""
      },

      // identical violation semantics per check type: not_null (NULL
      // violates), in_range (NULL or outside violates), unique (surplus
      // copies via GROUP BY — nulls-equal on both engines), foreign_key
      // (NULL passes; NOT EXISTS, never NOT IN)
      "q111_quality_checks" ->
        """WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n_rows FROM lineitem),
           r AS (
             SELECT 'not_null(l_orderkey)' AS "check", n.n_rows,
               (SELECT CAST(count(*) AS BIGINT) FROM lineitem
                WHERE l_orderkey IS NULL) AS n_violations FROM n
             UNION ALL
             SELECT 'unique(l_orderkey,l_linenumber)', n.n_rows,
               (SELECT CAST(sum(c) - count(*) AS BIGINT) FROM (
                  SELECT count(*) AS c FROM lineitem
                  GROUP BY l_orderkey, l_linenumber)) FROM n
             UNION ALL
             SELECT 'in_range(l_quantity,1.0,50.0)', n.n_rows,
               (SELECT CAST(count(*) AS BIGINT) FROM lineitem
                WHERE l_quantity IS NULL OR l_quantity < 1.0 OR l_quantity > 50.0) FROM n
             UNION ALL
             SELECT 'in_range(l_discount,0.0,0.05)', n.n_rows,
               (SELECT CAST(count(*) AS BIGINT) FROM lineitem
                WHERE l_discount IS NULL OR l_discount < 0.0 OR l_discount > 0.05) FROM n
             UNION ALL
             SELECT 'foreign_key(l_partkey->p_partkey)', n.n_rows,
               (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
                WHERE l.l_partkey IS NOT NULL AND NOT EXISTS (
                  SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey)) FROM n
             UNION ALL
             SELECT 'foreign_key(l_suppkey->s_suppkey)', n.n_rows,
               (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
                WHERE l.l_suppkey IS NOT NULL AND NOT EXISTS (
                  SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey)) FROM n)
           SELECT "check", n_rows, n_violations, n_violations = 0 AS pass
           FROM r ORDER BY "check"""",

      // the merged-stats vocabulary must equal the one computed from the
      // whole corpus in one pass — the incremental lifecycle's contract
      "q119_vocab_update" ->
        s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
           flat AS (SELECT doc_id, unnest(list_distinct(toks)) AS tok FROM t),
           dfr AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM flat GROUP BY tok),
           n AS (SELECT count(*) AS nd FROM documents)
           SELECT tok, df FROM dfr, n
           WHERE df * 100 >= nd * 50 ORDER BY tok""",

      // word-frequency-weighted adjacent char pairs — BPE round one;
      // (count desc, a, b) is a total order so the LIMIT is stable
      "q144_bpe_candidates" ->
        s"""WITH w AS (
             SELECT w, CAST(count(*) AS BIGINT) AS freq FROM
               (SELECT unnest($toks) AS w FROM documents) t GROUP BY w),
           p AS (
             SELECT substr(w, CAST(i AS INTEGER), 1) AS a,
               substr(w, CAST(i AS INTEGER) + 1, 1) AS b, freq
             FROM (SELECT w, freq, unnest(range(1, length(w))) AS i
                   FROM w WHERE length(w) > 1) t)
           SELECT a, b, CAST(sum(freq) AS BIGINT) AS pair_count
           FROM p GROUP BY a, b
           ORDER BY pair_count DESC, a, b LIMIT 20""",

      // two unrolled BPE rounds: count → top pair → marker-encoded
      // corpus-wide merge (chr(1)-wrapped symbols, no shared delimiters)
      // → recount → top pair
      "q145_bpe_rounds" ->
        s"""WITH w AS (
             SELECT w, CAST(count(*) AS BIGINT) AS freq FROM
               (SELECT unnest($toks) AS w FROM documents) t
             GROUP BY w HAVING length(w) > 1 AND strpos(w, chr(1)) = 0),
           p1 AS (
             SELECT substr(w, CAST(i AS INTEGER), 1) AS a,
               substr(w, CAST(i AS INTEGER) + 1, 1) AS b, freq
             FROM (SELECT w, freq, unnest(range(1, length(w))) AS i FROM w) t),
           t1 AS (SELECT a, b, CAST(sum(freq) AS BIGINT) AS pair_count FROM p1
                  GROUP BY a, b ORDER BY pair_count DESC, a, b LIMIT 1),
           m AS (
             SELECT freq,
               list_filter(string_split(
                 replace(regexp_replace(w, '(.)', chr(1) || '\\1' || chr(1), 'g'),
                   chr(1) || t1.a || chr(1) || chr(1) || t1.b || chr(1),
                   chr(1) || t1.a || t1.b || chr(1)),
                 chr(1)), x -> len(x) > 0) AS syms
             FROM w CROSS JOIN t1),
           p2 AS (
             SELECT syms[CAST(i AS INTEGER)] AS a,
               syms[CAST(i AS INTEGER) + 1] AS b, freq
             FROM (SELECT freq, syms, unnest(range(1, len(syms))) AS i
                   FROM m WHERE len(syms) > 1) t),
           t2 AS (SELECT a, b, CAST(sum(freq) AS BIGINT) AS pair_count FROM p2
                  GROUP BY a, b ORDER BY pair_count DESC, a, b LIMIT 1)
           SELECT CAST(1 AS BIGINT) AS round, a, b, pair_count FROM t1
           UNION ALL
           SELECT CAST(2 AS BIGINT) AS round, a, b, pair_count FROM t2
           ORDER BY round""",

      // token-boundary phrase matching = membership in the doc's L-token
      // shingle list, per phrase length — the same shingles macro the
      // dedup family mirrors
      "q150_blocklist" ->
        s"""WITH d AS (SELECT doc_id, $toks AS toks FROM documents),
           m AS (SELECT doc_id,
               (CASE WHEN list_contains(${shingles(1)}, 'spark') THEN 1 ELSE 0 END)
             + (CASE WHEN list_contains(${shingles(2)}, 'hash join') THEN 1 ELSE 0 END)
             + (CASE WHEN list_contains(${shingles(2)}, 'table scan') THEN 1 ELSE 0 END)
             + (CASE WHEN list_contains(${shingles(3)}, 'merge sort join') THEN 1 ELSE 0 END)
               AS n_blocked FROM d)
           SELECT doc_id, CAST(n_blocked AS BIGINT) AS n_blocked
           FROM m ORDER BY doc_id""",

      "q152_freq_spectrum" ->
        s"""SELECT freq, CAST(count(*) AS BIGINT) AS n_types FROM (
             SELECT CAST(count(*) AS BIGINT) AS freq FROM (
               SELECT unnest($toks) AS tok FROM documents) t
             GROUP BY tok) c
           GROUP BY freq ORDER BY freq""",

      // the micro-nat quantize-before-sum mirror: identical double ratio,
      // identical round(·1e6), BA direction reuses the NEGATED quantized
      // AB ratio (one log per type on both engines)
      "q153_corpus_divergence" ->
        s"""WITH ca AS (
             SELECT tok, CAST(count(*) AS BIGINT) AS c FROM (
               SELECT unnest($toks) AS tok FROM documents WHERE doc_id % 2 = 0) t
             GROUP BY tok),
           cb AS (
             SELECT tok, CAST(count(*) AS BIGINT) AS c FROM (
               SELECT unnest($toks) AS tok FROM documents WHERE doc_id % 2 = 1) t
             GROUP BY tok),
           m AS (SELECT coalesce(ca.c, 0) AS ca, coalesce(cb.c, 0) AS cb
                 FROM ca FULL OUTER JOIN cb ON ca.tok = cb.tok),
           s AS (SELECT CAST(sum(ca) AS BIGINT) AS ta,
                   CAST(sum(cb) AS BIGINT) AS tb,
                   CAST(count(*) AS BIGINT) AS v FROM m),
           q AS (SELECT ca, cb, ta, tb, v,
                   CAST(round(ln(
                     (CAST(ca + 1 AS DOUBLE) * CAST(tb + v AS DOUBLE)) /
                     (CAST(cb + 1 AS DOUBLE) * CAST(ta + v AS DOUBLE)))
                     * 1e6) AS BIGINT) AS lq
                 FROM m CROSS JOIN s)
           SELECT ta AS n_tok_a, tb AS n_tok_b, v AS vocab,
             CAST(CAST(sum(CAST(ca + 1 AS HUGEINT) * lq) AS HUGEINT) AS DOUBLE) AS kl_ab_unats,
             CAST(CAST(sum(CAST(cb + 1 AS HUGEINT) * -lq) AS HUGEINT) AS DOUBLE) AS kl_ba_unats,
             CAST(sum((ca + 1) * lq) AS DOUBLE)
               / (CAST(ta + v AS DOUBLE) * 1e6) AS kl_ab,
             CAST(sum((cb + 1) * -lq) AS DOUBLE)
               / (CAST(tb + v AS DOUBLE) * 1e6) AS kl_ba
           FROM q GROUP BY ta, tb, v""",

      // the >= 3%-df vocabulary replayed (per-doc distinct tokens -> df
      // -> integer cross-multiply), then a left join over the token pass
      "q157_oov_rate" ->
        s"""WITH tok AS (SELECT source, unnest($toks) AS tok FROM documents),
           pd AS (SELECT DISTINCT doc_id, tok FROM
             (SELECT doc_id, unnest($toks) AS tok FROM documents) t),
           df AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM pd GROUP BY tok),
           n AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM documents),
           v AS (SELECT tok FROM df CROSS JOIN n WHERE df * 100 >= nd * 3)
           SELECT source, CAST(count(*) AS BIGINT) AS n_tok,
             CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
             CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
               / CAST(count(*) AS DOUBLE) AS oov_rate
           FROM tok LEFT JOIN v ON tok.tok = v.tok
           GROUP BY source ORDER BY source""",

      // sorted-shares Gini with the (size, name) deterministic
      // permutation — numerator an exact BIGINT on both engines
      "q158_gini_concentration" ->
        """WITH x AS (SELECT source, CAST(count(*) AS BIGINT) AS x
                      FROM documents GROUP BY source),
           r AS (SELECT x, CAST(row_number() OVER (ORDER BY x, source) AS BIGINT) AS i,
                   CAST(count(*) OVER () AS BIGINT) AS g FROM x)
           SELECT CAST(max(g) AS BIGINT) AS n_groups,
             CAST(sum(x) AS BIGINT) AS total,
             CAST(sum((2 * i - g - 1) * x) AS BIGINT) AS gini_num,
             CAST(sum((2 * i - g - 1) * x) AS DOUBLE)
               / CAST(max(g) * sum(x) AS DOUBLE) AS gini
           FROM r""",

      // nested md5 thresholds (the q44 split literals); each type's
      // vocabulary entry point is its MIN document prefix
      "q159_vocab_growth" ->
        s"""WITH d AS (
             SELECT substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS p,
               $toks AS toks FROM documents),
           dt AS (SELECT p, CAST(len(toks) AS BIGINT) AS n FROM d),
           tt AS (SELECT tok, min(p) AS mp FROM
             (SELECT p, unnest(toks) AS tok FROM d) t GROUP BY tok),
           r AS (SELECT CAST(rate AS DOUBLE) AS rate, thr FROM (VALUES
             (0.1, '${graft.operators.Sampling.thresholdHex(0.1)}'),
             (0.5, '${graft.operators.Sampling.thresholdHex(0.5)}'),
             (1.0, 'g')) AS v(rate, thr)),
           dc AS (SELECT rate, CAST(count(*) AS BIGINT) AS n_docs,
                    CAST(sum(n) AS BIGINT) AS n_tokens
                  FROM dt, r WHERE p < thr GROUP BY rate),
           vc AS (SELECT rate, CAST(count(*) AS BIGINT) AS vocab
                  FROM tt, r WHERE mp < thr GROUP BY rate)
           SELECT dc.rate, n_docs, n_tokens, vocab
           FROM dc JOIN vc ON dc.rate = vc.rate ORDER BY dc.rate""",

      // BpeRounds generated rounds — the oracle CTE chain and the
      // engine loop read the same constant
      "q163_bpe_train" -> {
        val rows = (1 to BpeRounds).map(r =>
          s"SELECT CAST($r AS BIGINT) AS round, a, b, pair_count FROM t$r")
          .mkString("\n           UNION ALL\n           ")
        s"""WITH ${bpeCtes(BpeRounds)}
           $rows
           ORDER BY round"""
      },

      // same chain through w_N, then per-word symbol counts joined onto
      // the token stream; out-of-universe words (single-char) fall back
      // to their char count on BOTH engines
      "q164_bpe_encode" ->
        s"""WITH ${bpeCtes(BpeRounds)},
           sym AS (SELECT w,
                     CAST(len(list_filter(string_split(e, chr(1)), x -> len(x) > 0)) AS BIGINT) AS n_syms
                   FROM w$BpeRounds),
           dt AS (SELECT doc_id, unnest($toks) AS w FROM documents),
           per AS (SELECT dt.doc_id,
                     CAST(count(*) AS BIGINT) AS n_tokens,
                     CAST(sum(length(dt.w)) AS BIGINT) AS n_chars,
                     CAST(sum(coalesce(sym.n_syms, length(dt.w))) AS BIGINT) AS n_symbols
                   FROM dt LEFT JOIN sym ON sym.w = dt.w GROUP BY dt.doc_id)
           SELECT doc_id, n_tokens, n_chars, n_symbols,
             CAST(n_chars AS DOUBLE) / CAST(n_symbols AS DOUBLE) AS compression
           FROM per ORDER BY doc_id""",

      // rank-frequency in micro-nat ln-ln space through the q180 trend
      // tail; rank ties break by token, both engines
      "q184_zipf_slope" ->
        s"""WITH tc AS (SELECT t AS w, CAST(count(*) AS BIGINT) AS cnt
               FROM (SELECT unnest($toks) AS t FROM documents) GROUP BY 1),
           r AS (SELECT cnt,
                   CAST(row_number() OVER (ORDER BY cnt DESC, w ASC) AS BIGINT) AS rk
                 FROM tc),
           p AS (SELECT CAST(round(ln(CAST(rk AS DOUBLE)) * 1e6) AS BIGINT) AS x,
                   CAST(round(ln(CAST(cnt AS DOUBLE)) * 1e6) AS BIGINT) AS y
                 FROM r),
           m AS (SELECT CAST(count(*) AS HUGEINT) AS n,
                   sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
                   sum(CAST(x AS HUGEINT) * x) AS sxx,
                   sum(CAST(x AS HUGEINT) * y) AS sxy
                 FROM p),
           c AS (SELECT n, n * sxy - sx * sy AS num,
                   n * sxx - sx * sx AS den, sy * sxx - sx * sxy AS inum
                 FROM m)
           SELECT 'all' AS corpus, CAST(n AS BIGINT) AS n,
             CAST(num AS DOUBLE) AS slope_num, CAST(den AS DOUBLE) AS slope_den,
             CASE WHEN den > 0 THEN CAST(num AS DOUBLE) / CAST(den AS DOUBLE) END AS slope,
             CASE WHEN den > 0 THEN CAST(inum AS DOUBLE) / CAST(den AS DOUBLE) END AS intercept
           FROM c ORDER BY corpus""",

      // q174's MI chain instantiated per candidate feature and stacked
      "q189_info_gain" -> {
        def miBlock(name: String, fsub: String) =
          s"""SELECT '$name' AS feature, n, n_cells, mi_n_micro, mi_nats FROM (
             WITH cells AS (SELECT f AS a, lang AS b, CAST(count(*) AS BIGINT) AS o
                 FROM ($fsub) GROUP BY 1, 2),
               ra AS (SELECT a, CAST(sum(o) AS BIGINT) AS r FROM cells GROUP BY a),
               cb AS (SELECT b, CAST(sum(o) AS BIGINT) AS c FROM cells GROUP BY b),
               nn AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells),
               t AS (SELECT o,
                       CAST(round(ln(CAST(o AS DOUBLE) * CAST(n AS DOUBLE) /
                         CAST(r AS DOUBLE) / CAST(c AS DOUBLE)) * 1e6) AS BIGINT) AS pmi
                     FROM cells JOIN ra USING (a) JOIN cb USING (b) CROSS JOIN nn),
               s AS (SELECT CAST(count(*) AS BIGINT) AS n_cells,
                       sum(CAST(o AS HUGEINT) * pmi) AS mi
                     FROM t)
             SELECT n, n_cells, CAST(mi AS DOUBLE) AS mi_n_micro,
               CAST(mi AS DOUBLE) / (CAST(n AS DOUBLE) * 1e6) AS mi_nats
             FROM s CROSS JOIN nn) z"""
        val langidSub =
          s"""SELECT CASE WHEN hits > 0 THEN cand ELSE 'und' END AS f, lang FROM (
             SELECT doc_id, lang, cand, hits,
               row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, cand ASC) AS rn
             FROM (SELECT d.doc_id, d.lang, l.lang AS cand,
                     len(list_filter($toks, t -> list_contains(l.words, t))) AS hits
                   FROM documents d CROSS JOIN (VALUES
                     ('de', ['der','die','das','und','ist','nicht','ein','mit']),
                     ('en', ['the','a','of','and','is','to','in','that']),
                     ('es', ['el','la','de','que','y','es','en','un']),
                     ('fr', ['le','la','les','de','et','est','un','une']),
                     ('zh', ['de','shi','bu','le','zai','you','wo','ta'])) l(lang, words)) s0) s1
             WHERE rn = 1"""
        s"""${miBlock("langid", langidSub)}
           UNION ALL
           ${miBlock("len_bucket",
            "SELECT CAST(n_chars // 256 AS VARCHAR) AS f, lang FROM documents")}
           UNION ALL
           ${miBlock("source", "SELECT source AS f, lang FROM documents")}
           ORDER BY feature"""
      },

      // add-1/2 log-odds per term over the full-outer vocab merge, the
      // Colloc quantization site, top-20 by |score| with term tiebreak
      "q198_keyness" ->
        s"""WITH ta AS (SELECT t AS term, CAST(count(*) AS BIGINT) AS c_a
               FROM (SELECT unnest($toks) AS t FROM documents WHERE doc_id % 2 = 0) GROUP BY 1),
           tb AS (SELECT t AS term, CAST(count(*) AS BIGINT) AS c_b
               FROM (SELECT unnest($toks) AS t FROM documents WHERE doc_id % 2 = 1) GROUP BY 1),
           m AS (SELECT coalesce(ta.term, tb.term) AS term,
                   coalesce(c_a, 0) AS c_a, coalesce(c_b, 0) AS c_b
                 FROM ta FULL OUTER JOIN tb ON ta.term = tb.term),
           nn AS (SELECT CAST(sum(c_a) AS BIGINT) AS na, CAST(sum(c_b) AS BIGINT) AS nb FROM m),
           k AS (SELECT term, c_a, c_b,
                   CAST(round((ln((CAST(c_a AS DOUBLE) + 0.5) /
                       (CAST(na AS DOUBLE) - CAST(c_a AS DOUBLE) + 0.5)) -
                     ln((CAST(c_b AS DOUBLE) + 0.5) /
                       (CAST(nb AS DOUBLE) - CAST(c_b AS DOUBLE) + 0.5)))
                     * 1e6) AS BIGINT) AS keyness_unats
                 FROM m CROSS JOIN nn)
           SELECT term, c_a, c_b, keyness_unats FROM k
           ORDER BY abs(keyness_unats) DESC, term LIMIT 20""",
  )
}
