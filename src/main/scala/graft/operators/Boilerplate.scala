package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.Text

/** Corpus-adaptive boilerplate pruning: tokens that appear in "almost
  * every" document carry no signal (navigation chrome, license headers,
  * template filler — the phenomenon CCNet and RefinedWeb attack with
  * line-level frequency filters; here at token granularity because the
  * unit of repetition is whatever the corpus repeats). The vocabulary to
  * remove is DISCOVERED from the corpus itself — a document-frequency
  * threshold — rather than taken from a fixed stopword list, so the
  * operator adapts to any domain without configuration.
  *
  * ## Exactness
  * The threshold is the integer cross-multiply `df · dfDen >= nDocs ·
  * dfNum` (token is boilerplate iff its doc-frequency ratio ≥
  * dfNum/dfDen) — BIGINT arithmetic on both engines, no double ratio to
  * diverge by an ulp at the boundary. Reassembly preserves original token
  * order exactly.
  *
  * ## Scale shape (100 TB)
  * Three aggregations, none data-wide in the dangerous sense:
  *  1. document frequency — tokens are per-row DISTINCT'd first
  *     (`array_distinct` inside the scan stage), so the shuffle carries
  *     one row per (doc, distinct token) and the count partial-aggregates
  *     map-side;
  *  2. the corpus size — a single-row count;
  *  3. reassembly — one exchange on the doc id; per-group state is one
  *     document's tokens (doc-bounded, never corpus-bounded).
  * The boilerplate vocabulary itself is MODEL-sized by a pigeonhole
  * argument: at threshold f, |{t : df(t) ≥ f·N}| ≤ (Σ_d distinct(d)) /
  * (f·N) ≤ avgDistinctTokensPerDoc / f — independent of corpus size — so
  * it broadcasts, and the prune join is a broadcast LEFT ANTI in the scan
  * stage, not a shuffle.
  */
object Boilerplate {

  /** The discovered boilerplate vocabulary: `(tok, df)` for every token
    * whose document frequency satisfies `df · dfDen >= n_docs · dfNum`. */
  def highDfTokens(docs: DataFrame, idCol: String, textCol: String,
                   dfNum: Long, dfDen: Long): DataFrame = {
    require(dfNum > 0 && dfDen > 0, s"need positive dfNum/dfDen, got $dfNum/$dfDen")
    val perDoc = docs.select(col(idCol).as("_id"),
      explode(array_distinct(Text.tokens(col(textCol)))).as("tok"))
    val dfTab = perDoc.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val total = docs.select(count(lit(1)).as("_n_docs"))
    // single-row frame: the cross join is a broadcast nested loop of one row
    dfTab.crossJoin(total)
      .where(col("df") * lit(dfDen) >= col("_n_docs") * lit(dfNum))
      .select(col("tok"), col("df"))
  }

  /** Self-describing document-frequency statistics — the PERSISTED form
    * of the boilerplate vocabulary's inputs: one row per distinct token,
    * `(tok, df, n_docs)`, with `n_docs` constant across rows (parquet
    * RLE makes the redundancy free) so the table alone carries everything
    * a later [[updateDfStats]] or [[vocabularyFromStats]] needs — no
    * sidecar metadata file to drift. Bucket it on `tok`
    * ([[graft.sources.Tables.writeBucketed]]) and the absorb-a-batch
    * merge joins WITHOUT shuffling the persisted side.
    *
    * CONTRACT — non-empty vocabulary: `n_docs` rides the rows, so a
    * corpus whose every text tokenizes to NOTHING (all empty/whitespace)
    * persists an EMPTY table — indistinguishable from "no corpus", and a
    * later merge would recover its doc count as 0. If such corpora are
    * possible upstream, filter them out before persisting (they
    * contribute no df mass anyway) or carry the doc count beside the
    * table; [[updateDfStats]] inherits this precondition. */
  def dfStats(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val perDoc = docs.select(col(idCol).as("_id"),
      explode(array_distinct(Text.tokens(col(textCol)))).as("tok"))
    perDoc.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      .crossJoin(docs.select(count(lit(1)).as("n_docs")))
  }

  /** Absorb a document batch into persisted [[dfStats]] WITHOUT
    * re-scanning the base corpus — the incremental maintenance the
    * batch-rebuild lifecycle lacked: stats for corpus ∪ batch =
    * full-outer token merge of the stored counts with the batch's counts
    * plus a scalar doc-count add. Result-identical to `dfStats(corpus ∪
    * batch)` by construction (df and n_docs are both additive over
    * disjoint doc sets — the caller owns batch∩corpus = ∅, e.g. by
    * exact-dedup'ing the batch first).
    *
    * ## Scale shape (100 TB)
    * The batch side aggregates to its own vocabulary before the merge;
    * the persisted side arrives bucketed on `tok`, so the full-outer
    * join shuffles only the (batch-vocabulary-sized) new counts; the two
    * doc counts are 1-row broadcasts. Nothing rescans, nothing is
    * data-wide. */
  def updateDfStats(stats: DataFrame, batch: DataFrame,
                    idCol: String, textCol: String): DataFrame =
    mergeAdditiveStats(stats, "tok", dfStats(batch, idCol, textCol),
      batch.select(count(lit(1)).as("_cn")))

  /** [[dfStats]] for the HASHED-SHINGLE universe — the persisted model
    * behind [[sharedShingleKeys]]/[[shingleNovelty]] and the streaming
    * novelty Bloom: one row per distinct 60-bit shingle key, `(sh, df,
    * n_docs)`, self-describing like the token form. Bucket on `sh`; the
    * table is data-sized (unlike the pigeonhole-bounded token
    * vocabulary), which is exactly why maintaining it INCREMENTALLY
    * beats re-shingling the corpus per batch. */
  def shingleDfStats(docs: DataFrame, idCol: String, textCol: String,
                     shingleLen: Int): DataFrame =
    shinglePostings(docs, idCol, textCol, shingleLen)
      .groupBy(col("sh")).agg(count(lit(1)).as("df"))
      .crossJoin(docs.select(count(lit(1)).as("n_docs")))

  /** Absorb a batch into persisted [[shingleDfStats]] — identical merge
    * algebra to [[updateDfStats]] (df and n_docs additive over disjoint
    * doc sets), over the shingle key: the batch shingles ONCE, the base
    * corpus never re-shingles, the persisted side arrives bucketed on
    * `sh` so the full-outer join shuffles only the batch's keys. The
    * downstream models refresh from the merged stats: `df ≥ 2` keys →
    * rebuild the novelty Bloom ([[graft.streaming.Streams.noveltyStream]]),
    * per-doc novelty → join docs against the stats instead of a fresh df
    * pass. */
  def updateShingleDfStats(stats: DataFrame, batch: DataFrame, idCol: String,
                           textCol: String, shingleLen: Int): DataFrame =
    mergeAdditiveStats(stats, "sh",
      shingleDfStats(batch, idCol, textCol, shingleLen),
      batch.select(count(lit(1)).as("_cn")))

  /** The df ≥ 2 key set read off (possibly merged) [[shingleDfStats]] —
    * result-identical to [[sharedShingleKeys]] over the same corpus
    * (hash-checked by q123's oracle), zero text touched. */
  def sharedKeysFromStats(stats: DataFrame): DataFrame =
    stats.where(col("df") >= 2L).select(col("sh"))

  /** VOCABULARY GROWTH CURVE over nested deterministic subsamples — the
    * Heaps'-law profile ("how fast does the type count grow with corpus
    * size") measured the way a scaling study actually samples: the
    * [[graft.operators.Sampling.samplePredicate]] md5 thresholds are
    * NESTED by construction (rate r₁ < r₂ ⇒ sample₁ ⊂ sample₂), so the
    * curve is a true growth curve of ONE corpus ordering, not R
    * independent draws. One tokenized pass: per-doc rows carry the doc's
    * md5 prefix, and each TOKEN TYPE collapses to the MINIMUM prefix of
    * any document containing it — the exact corpus fraction at which
    * that type enters the vocabulary — so every rate's vocab count is a
    * threshold filter over the vocabulary-sized type table (never a
    * re-scan). Doc/token totals ride the #docs-row doc table the same
    * way. Returns `(rate, n_docs, n_tokens, vocab)`, one row per rate. */
  def vocabGrowthCurve(docs: DataFrame, idCol: String, textCol: String,
                       rates: Seq[Double]): DataFrame = {
    require(rates.nonEmpty && rates.forall(r => r > 0.0 && r <= 1.0),
      s"rates must lie in (0, 1], got $rates")
    import docs.sparkSession.implicits._
    val base = docs.select(
      substring(md5(col(idCol).cast("string")), 1, 8).as("_p"),
      Text.tokens(col(textCol)).as("_t"))
    val docTab = base.select(col("_p"), size(col("_t")).cast("long").as("_n"))
    val tokTab = base.select(col("_p"), explode(col("_t")).as("tok"))
      .groupBy(col("tok")).agg(min(col("_p")).as("_mp"))
    val rTable = broadcast(
      rates.map(r => (r, graft.operators.Sampling.thresholdHex(r)))
        .toDF("rate", "_thr"))
    val docCounts = docTab.crossJoin(rTable)
      .where(col("_p") < col("_thr"))
      .groupBy(col("rate"))
      .agg(count(lit(1)).as("n_docs"), sum(col("_n")).as("n_tokens"))
    val vocabCounts = tokTab.crossJoin(rTable)
      .where(col("_mp") < col("_thr"))
      .groupBy(col("rate")).agg(count(lit(1)).as("vocab"))
    docCounts.join(vocabCounts, Seq("rate"))
      .select(col("rate"), col("n_docs"), col("n_tokens"), col("vocab"))
  }

  /** Per-group OUT-OF-VOCABULARY rate against a reference vocabulary —
    * tokenizer/corpus fitness by source: a source whose tokens are
    * mostly absent from the working vocabulary (trained elsewhere, or
    * [[highDfTokens]]/[[vocabularyFromStats]] output) is either a
    * different language/register or junk, and either way needs its own
    * treatment before mixing. One token explode (the data-wide pass)
    * left-joined against the vocabulary — broadcast when vocab-sized,
    * as a df-threshold vocabulary always is — then a partial-aggregable
    * per-group count pair. `oov_rate` is one IEEE division of exact
    * integers. Returns `(groupCol, n_tok, n_oov, oov_rate)`. */
  def oovRate(docs: DataFrame, groupCol: String, textCol: String,
              vocab: DataFrame, vocabCol: String = "tok"): DataFrame =
    docs
      .select(col(groupCol), explode(Text.tokens(col(textCol))).as("tok"))
      .join(broadcast(vocab.select(col(vocabCol).as("tok"),
        lit(true).as("_in_v")).distinct()), Seq("tok"), "left")
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_tok"),
        sum(when(col("_in_v").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col(groupCol), col("n_tok"), col("n_oov"),
        (col("n_oov").cast("double") / col("n_tok").cast("double")).as("oov_rate"))

  /** Token FREQUENCY SPECTRUM (count-of-counts): how many distinct token
    * TYPES occur exactly `freq` times in the corpus — the Zipf profile a
    * corpus-health check reads (a healthy natural corpus has a heavy
    * hapax head: most types occur once; template-dominated corpora
    * invert it), and the input Good–Turing smoothing wants. Two
    * partial-aggregable counts back-to-back — token→freq, then
    * freq→n_types — so the second exchange carries at most #distinct
    * frequencies (≤ √(2·corpus tokens): distinct counts c₁>c₂>…
    * must sum to the token total, the [[graft.operators.Graph]]
    * distinct-degree argument verbatim). Returns `(freq, n_types)`. */
  def frequencySpectrum(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(Text.tokens(col(textCol))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("freq"))
      .groupBy(col("freq")).agg(count(lit(1)).as("n_types"))

  /** PRECONDITION (see [[dfStats]]): the base doc count is recovered as
    * `max(n_docs)` over the stored rows, so a non-empty base corpus that
    * persisted ZERO stats rows (every text empty/whitespace) reads back
    * as 0 docs and the merged `n_docs` understates the rebuild-from-
    * scratch value. Callers own keeping token-free docs out of the
    * persisted corpus (or out of its doc count). */
  private def mergeAdditiveStats(stats: DataFrame, keyCol: String,
                                 batchStats: DataFrame,
                                 batchN: DataFrame): DataFrame = {
    val baseN = stats.select(max(col("n_docs")).as("_bn"))
    stats.select(col(keyCol), col("df"))
      .join(batchStats.select(col(keyCol), col("df").as("_dfb")),
        Seq(keyCol), "full_outer")
      .select(col(keyCol),
        (coalesce(col("df"), lit(0L)) + coalesce(col("_dfb"), lit(0L))).as("df"))
      .crossJoin(baseN).crossJoin(batchN)
      .select(col(keyCol), col("df"),
        (coalesce(col("_bn"), lit(0L)) + col("_cn")).as("n_docs"))
  }

  /** The [[highDfTokens]] vocabulary read off a [[dfStats]] table instead
    * of a corpus scan — same integer cross-multiply threshold, zero text
    * touched. `vocabularyFromStats(updateDfStats(dfStats(base), batch))`
    * hash-matches `highDfTokens(base ∪ batch)` — the incremental
    * lifecycle's correctness statement, and exactly what the q119 oracle
    * checks. */
  def vocabularyFromStats(stats: DataFrame, dfNum: Long, dfDen: Long): DataFrame = {
    require(dfNum > 0 && dfDen > 0, s"need positive dfNum/dfDen, got $dfNum/$dfDen")
    stats.where(col("df") * lit(dfDen) >= col("n_docs") * lit(dfNum))
      .select(col("tok"), col("df"))
  }

  /** Per-document NOVELTY: the fraction of a document's distinct shingles
    * that occur in NO other document (corpus df = 1) — the inverse signal
    * of boilerplate, selecting for informative/diverse documents (the
    * curation counterpart of high-df pruning: one flags what everyone
    * repeats, this scores what nobody else says). Returns
    * `(idCol, n_sh, n_unique, novelty)` with `novelty = n_unique / n_sh`
    * — one IEEE division of exact integers, hash-checkable.
    *
    * Scale: the standard inverted-index aggregation pair — shingle df
    * (per-row distinct'd, partial-agg'd) joined back to the postings on
    * the 60-bit hashed key, then a per-doc count — two keyed exchanges,
    * nothing broadcast-unsafe, nothing quadratic. */
  def shingleNovelty(docs: DataFrame, idCol: String, textCol: String,
                     shingleLen: Int): DataFrame = {
    val postings = shinglePostings(docs, idCol, textCol, shingleLen)
    val dfTab = postings.groupBy(col("sh")).agg(count(lit(1)).as("_df"))
    postings.join(dfTab, Seq("sh"))
      .groupBy(col("_id"))
      .agg(count(lit(1)).as("n_sh"),
        sum(when(col("_df") === 1L, 1L).otherwise(0L)).as("n_unique"))
      .select(col("_id").as(idCol), col("n_sh"), col("n_unique"),
        (col("n_unique").cast("double") / col("n_sh").cast("double")).as("novelty"))
  }

  /** The 60-bit hashed keys of every shingle the corpus REPEATS (df ≥ 2)
    * — the model [[graft.streaming.Streams.noveltyStream]] builds its
    * Bloom filter from. Data-sized in general (unlike [[highDfTokens]]'s
    * pigeonhole-bounded vocabulary), which is exactly why the streaming
    * side carries it as a Bloom, not a literal. */
  def sharedShingleKeys(docs: DataFrame, idCol: String, textCol: String,
                        shingleLen: Int): DataFrame =
    shinglePostings(docs, idCol, textCol, shingleLen)
      .groupBy(col("sh")).agg(count(lit(1)).as("df"))
      .where(col("df") >= 2).select(col("sh"))

  private def shinglePostings(docs: DataFrame, idCol: String, textCol: String,
                              shingleLen: Int): DataFrame = {
    require(shingleLen >= 1, s"shingleLen must be >= 1, got $shingleLen")
    docs.select(col(idCol).as("_id"),
      explode(transform(
        array_distinct(Text.fastWordShingles(col(textCol), shingleLen)),
        s => Dedup.shingleKey(s))).as("sh"))
  }

  /** Remove every [[highDfTokens]] token from every document, preserving
    * the surviving tokens' original order. Returns one row per input
    * document: `(idCol, clean_text, n_kept, n_dropped)` — documents whose
    * every token was boilerplate survive with `clean_text = ''`. */
  def pruneHighDfTokens(docs: DataFrame, idCol: String, textCol: String,
                        dfNum: Long, dfDen: Long): DataFrame = {
    val hi = highDfTokens(docs, idCol, textCol, dfNum, dfDen).select(col("tok"))
    val toks = docs
      .select(col(idCol), posexplode(Text.tokens(col(textCol))))
      .toDF(idCol, "pos", "tok")
    val kept = toks.join(broadcast(hi), Seq("tok"), "left_anti")
    val rebuilt = kept.groupBy(col(idCol)).agg(
      sort_array(collect_list(struct(col("pos"), col("tok")))).as("_ord"))
    val base = docs.select(col(idCol),
      Text.tokenCount(col(textCol)).cast("long").as("_n_tok"))
    base.join(rebuilt, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(array_join(transform(col("_ord"), x => x.getField("tok")), " "),
          lit("")).as("clean_text"),
        coalesce(size(col("_ord")).cast("long"), lit(0L)).as("n_kept"),
        (col("_n_tok") - coalesce(size(col("_ord")).cast("long"), lit(0L)))
          .as("n_dropped"))
  }
}
