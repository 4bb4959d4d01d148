package graft.operators

import graft.functions.Text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus-trained n-gram language-model scoring — the KenLM-style quality
  * signal of a training-data pipeline (CCNet/Wenzek et al. 2020 filter
  * stage): documents whose token transitions are improbable under a model
  * trained on the corpus itself score low (boilerplate, gibberish,
  * non-language) and can be bucketed or dropped before training.
  *
  * This is a bigram model with add-1 (Laplace) smoothing over the observed
  * vocabulary: p(w2 | w1) = (c(w1,w2) + 1) / (c(w1) + V). A document's
  * score is its total log-likelihood under that model.
  *
  * ## Exactness: integer micro-nats
  * Floating-point log-likelihoods are doubly hash-hostile: `ln` differs by
  * ulps across libms, and a float SUM is order-dependent, so Spark's
  * nondeterministic aggregation order would flake even against itself.
  * Both problems die at once by quantizing each distinct bigram's term to
  * an integer — round(ln(p)·10⁶), "micro-nats" — BEFORE the per-document
  * sum, which is then exact BIGINT arithmetic: order-independent,
  * repartition-stable, and bit-comparable against a DuckDB oracle doing
  * the same quantization. Residual cross-engine risk is one rounding
  * boundary landing inside the two libms' ≤1-ulp disagreement — a ~1e-10
  * per-term coincidence (q73's argument), deterministic per corpus, and
  * verified green on the actual gate corpora. The 10⁻⁶-nat quantization
  * error is three orders below any filtering threshold anyone would set.
  *
  * ## Scale shape (100 TB)
  * Bigram expansion is narrow (an array transform in the scan — document
  * bodies never shuffle). Everything wide is pre-aggregated to short keys:
  * per-doc bigram multiplicities (partial-agg on (id, w1, w2)), corpus
  * bigram counts and unigram counts (vocabulary-sized, derived from the
  * multiplicities so the corpus is tokenized once), and V (a scalar,
  * broadcast). The scoring joins are equi-joins between those aggregates;
  * stop-word skew on the w1 join is AQE's skew-join case. Nothing is
  * quadratic; no global window; no driver loop.
  */
object LmScore {

  /** Per-document add-1 bigram log-likelihood in integer micro-nats.
    * Output, 1:1 with `docs`: (`idCol`, n_bigrams, score_unats) —
    * n_bigrams = tokenCount−1 (0 for docs with <2 tokens, which score 0).
    * Callers ranking "most natural first" sort by score_unats/n_bigrams
    * descending (per-bigram normalization, or short docs dominate). */
  def bigramScore(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val base = docs.select(col(idCol).as("id"), Text.tokens(col(textCol)).as("t"))

    // per-doc bigram multiplicities — the ONE tokenized pass everything
    // else derives from (sequence() needs the >=2 guard: start>stop steps
    // backwards instead of yielding empty)
    val docBg = base
      .where(size(col("t")) >= 2)
      .select(col("id"), explode(expr(
        "transform(sequence(0, size(t) - 2), i -> struct(t[i] AS w1, t[i + 1] AS w2))")).as("bg"))
      .select(col("id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .groupBy(col("id"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("m"))

    val uni = base.select(explode(col("t")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cu"))
    val big = docBg.groupBy(col("w1"), col("w2")).agg(sum(col("m")).as("cb"))
    val vocab = uni.agg(count(lit(1)).as("v"))

    val scored = docBg
      .join(big, Seq("w1", "w2"))
      .join(uni.withColumnRenamed("w", "w1"), Seq("w1"))
      .crossJoin(vocab)
      .withColumn("q", round(log((col("cb") + lit(1)).cast("double") /
        (col("cu") + col("v")).cast("double")) * lit(1e6)).cast("long"))
      .groupBy(col("id"))
      .agg(sum(col("m")).as("n_bigrams"), sum(col("m") * col("q")).as("score_unats"))

    base.select(col("id")).join(scored, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("score_unats"), lit(0L)).as("score_unats"))
  }

  /** Train the bigram model on `docs` and persist it: `<name>_uni`
    * (w, cu) and `<name>_bg` (w1, w2, cb) bucketed on their join keys,
    * `<name>_meta` a single row (v = vocabulary size). The production
    * split of [[bigramScore]]: training tokenizes the corpus ONCE, and
    * every later scoring pass joins these vocabulary-sized tables straight
    * off disk (bucketed, so the scoring join needs no shuffle of the model
    * side) instead of re-counting 100 TB. */
  def writeModel(docs: DataFrame, idCol: String, textCol: String,
                 name: String, buckets: Int = 8): Unit = {
    val base = docs.select(Text.tokens(col(textCol)).as("t"))
    val bg = base
      .where(size(col("t")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(t) - 2), i -> struct(t[i] AS w1, t[i + 1] AS w2))")).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cb"))
    val uni = base.select(explode(col("t")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cu"))
    graft.sources.Tables.writeBucketed(uni, s"${name}_uni", buckets, "w")
    graft.sources.Tables.writeBucketed(bg, s"${name}_bg", buckets, "w1", "w2")
    graft.sources.Tables.saveTable(uni.agg(count(lit(1)).as("v")), s"${name}_meta")
  }

  /** Score documents against a model persisted by [[writeModel]]. Unseen
    * words and transitions fall out of the same add-1 smoothing that
    * defines the model — cb and cu default to 0, so an OOV transition
    * scores ln(1/(cu+V)) and an OOV head word ln(1/V); nothing needs a
    * special case, and the score stays a sum of quantized micro-nat
    * integers exactly as in [[bigramScore]]. */
  def scoreWith(newDocs: DataFrame, idCol: String, textCol: String,
                name: String): DataFrame = {
    val s = newDocs.sparkSession
    val uni = s.table(s"${name}_uni").withColumnRenamed("w", "w1")
    val bg = s.table(s"${name}_bg")
    val vocab = broadcast(s.table(s"${name}_meta"))

    val base = newDocs.select(col(idCol).as("id"), Text.tokens(col(textCol)).as("t"))
    val docBg = base
      .where(size(col("t")) >= 2)
      .select(col("id"), explode(expr(
        "transform(sequence(0, size(t) - 2), i -> struct(t[i] AS w1, t[i + 1] AS w2))")).as("bg"))
      .select(col("id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .groupBy(col("id"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("m"))

    val scored = docBg
      .join(bg, Seq("w1", "w2"), "left")
      .join(uni, Seq("w1"), "left")
      .crossJoin(vocab)
      .withColumn("q", round(log((coalesce(col("cb"), lit(0L)) + lit(1)).cast("double") /
        (coalesce(col("cu"), lit(0L)) + col("v")).cast("double")) * lit(1e6)).cast("long"))
      .groupBy(col("id"))
      .agg(sum(col("m")).as("n_bigrams"), sum(col("m") * col("q")).as("score_unats"))

    base.select(col("id")).join(scored, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("score_unats"), lit(0L)).as("score_unats"))
  }

  /** CORPUS DIVERGENCE — KL(A‖B) and KL(B‖A) between the add-1-smoothed
    * unigram distributions of two corpora over their UNION vocabulary:
    * the dataset-versioning drift measure ("how far did the token
    * distribution move between crawls / after a filter pass"), the
    * distribution-level complement of [[graft.operators.Cdc]]'s
    * row-level diff. Smoothing over the union vocabulary keeps both
    * directions finite (every type has mass ≥ 1/(tot+V) on both sides).
    *
    * Exactness is the micro-nat move ([[bigramScore]]): each type's log
    * ratio `ln(p_w/q_w) = ln((a_w+1)·(totB+V) / ((b_w+1)·(totA+V)))` is
    * ONE deterministic double op chain quantized to
    * `round(·10⁶)` BEFORE summation; the sums
    * `Σ (a_w+1)·q_w` ride as exact BIGINTs and the reported nats are one
    * trailing division by `(totA+V)·10⁶` — order-independent, so the
    * DuckDB oracle hash-matches.
    *
    * ## Scale shape (100 TB)
    * Each corpus collapses to its vocabulary counts (partial-aggregable;
    * the only data-wide pass), the two count tables full-outer merge on
    * the token (vocabulary-sized exchange), the three scalars (totals,
    * V) are 1-row broadcasts, and the result is ONE row:
    * `(n_tok_a, n_tok_b, vocab, kl_ab_unats, kl_ba_unats, kl_ab, kl_ba)`. */
  def corpusDivergence(a: DataFrame, b: DataFrame, textCol: String): DataFrame = {
    def counts(df: DataFrame): DataFrame =
      df.select(explode(Text.tokens(col(textCol))).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val ca = counts(a)
    val cb = counts(b)
    val merged = ca.withColumnRenamed("c", "ca")
      .join(cb.withColumnRenamed("c", "cb"), Seq("tok"), "full_outer")
      .select(col("tok"),
        coalesce(col("ca"), lit(0L)).as("ca"),
        coalesce(col("cb"), lit(0L)).as("cb"))
    val totals = merged.agg(sum(col("ca")).as("ta"), sum(col("cb")).as("tb"),
      count(lit(1)).as("v"))
    val withT = merged.crossJoin(totals)
    // ln(p/q) — one double ratio of exact integer products, quantized
    val lr = round(log(
      ((col("ca") + 1).cast("double") * (col("tb") + col("v")).cast("double")) /
        ((col("cb") + 1).cast("double") * (col("ta") + col("v")).cast("double")))
      * lit(1e6)).cast("long")
    withT
      .select(col("ca"), col("cb"), col("ta"), col("tb"), col("v"), lr.as("q"))
      .groupBy(col("ta"), col("tb"), col("v"))
      // DECIMAL(38): token totals ~1e12-1e13 × |q| up to ~3e7 micro-nats
      // exceed 2^63 — BIGINT would silently wrap at corpus scale (same
      // digit-budget hardening as mutualInfoUnats/chiSquare); DuckDB's
      // HUGEINT sum prints identically, so the oracle hash is unchanged
      .agg(sum(((col("ca") + 1).cast("decimal(20,0)") * col("q"))
        .cast("decimal(38,0)")).as("kl_ab_unats"),
        sum(((col("cb") + 1).cast("decimal(20,0)") * -col("q"))
          .cast("decimal(38,0)")).as("kl_ba_unats"))
      // unats export as double (the mutualInfoUnats convention): the
      // DECIMAL(38) sum is exact and order-independent; the single
      // trailing cast is deterministic on both engines, and a BIGINT
      // export would re-introduce the 2^63 wrap the decimal sum avoids
      .select(col("ta").as("n_tok_a"), col("tb").as("n_tok_b"),
        col("v").as("vocab"),
        col("kl_ab_unats").cast("double").as("kl_ab_unats"),
        col("kl_ba_unats").cast("double").as("kl_ba_unats"),
        (col("kl_ab_unats").cast("double") /
          ((col("ta") + col("v")).cast("double") * 1e6)).as("kl_ab"),
        (col("kl_ba_unats").cast("double") /
          ((col("tb") + col("v")).cast("double") * 1e6)).as("kl_ba"))
  }

  /** JENSEN–SHANNON divergence — the SYMMETRIC, bounded companion to
    * [[corpusDivergence]] (KL is direction-sensitive and unbounded; JSD
    * = ½KL(P‖M) + ½KL(Q‖M) with M the mixture lies in [0, ln 2], the
    * number two corpus versions can be COMPARED by across releases).
    * Same add-1-smoothed unigram distributions over the union
    * vocabulary; each type's two mixture log-ratios
    * `ln(2p/(p+q))`, `ln(2q/(p+q))` cancel the common normalizers into
    * exact integer cross-products inside ONE double chain each
    * (`p/m = 2(a+1)(tb+V) / ((a+1)(tb+V) + (b+1)(ta+V))`), quantized to
    * micro-nats at their site — the [[corpusDivergence]] scheme — so
    * both sums ride DECIMAL(38) exactly and the oracle hash-matches.
    *
    * ## Scale shape (100 TB)
    * Identical to [[corpusDivergence]]: two partial-aggregable
    * vocabulary counts, one vocabulary-sized full-outer merge, 1-row
    * broadcast totals, ONE output row `(n_tok_a, n_tok_b, vocab,
    * js_a_unats, js_b_unats, jsd)` — `jsd` in nats, ≈ 0 for
    * indistinguishable corpora, ln 2 ≈ 0.693 for disjoint ones. */
  def jensenShannon(a: DataFrame, b: DataFrame, textCol: String): DataFrame = {
    def counts(df: DataFrame): DataFrame =
      df.select(explode(Text.tokens(col(textCol))).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val merged = counts(a).withColumnRenamed("c", "ca")
      .join(counts(b).withColumnRenamed("c", "cb"), Seq("tok"), "full_outer")
      .select(coalesce(col("ca"), lit(0L)).as("ca"),
        coalesce(col("cb"), lit(0L)).as("cb"))
    val totals = merged.agg(sum(col("ca")).as("ta"), sum(col("cb")).as("tb"),
      count(lit(1)).as("v"))
    val withT = merged.crossJoin(totals)
    // un-normalized masses: p ∝ (a+1)(tb+V), q ∝ (b+1)(ta+V) — the
    // common denominator (ta+V)(tb+V) cancels inside the mixture ratio
    val pa = (col("ca") + 1).cast("double") * (col("tb") + col("v")).cast("double")
    val pb = (col("cb") + 1).cast("double") * (col("ta") + col("v")).cast("double")
    val qa = round(log(lit(2.0) * pa / (pa + pb)) * lit(1e6)).cast("long")
    val qb = round(log(lit(2.0) * pb / (pa + pb)) * lit(1e6)).cast("long")
    withT
      .select(col("ca"), col("cb"), col("ta"), col("tb"), col("v"),
        qa.as("qa"), qb.as("qb"))
      .groupBy(col("ta"), col("tb"), col("v"))
      .agg(sum(((col("ca") + 1).cast("decimal(20,0)") * col("qa"))
        .cast("decimal(38,0)")).as("js_a_unats"),
        sum(((col("cb") + 1).cast("decimal(20,0)") * col("qb"))
          .cast("decimal(38,0)")).as("js_b_unats"))
      .select(col("ta").as("n_tok_a"), col("tb").as("n_tok_b"),
        col("v").as("vocab"),
        col("js_a_unats").cast("double").as("js_a_unats"),
        col("js_b_unats").cast("double").as("js_b_unats"),
        (lit(0.5) * (col("js_a_unats").cast("double") /
          ((col("ta") + col("v")).cast("double") * 1e6) +
          col("js_b_unats").cast("double") /
            ((col("tb") + col("v")).cast("double") * 1e6))).as("jsd"))
  }
}
