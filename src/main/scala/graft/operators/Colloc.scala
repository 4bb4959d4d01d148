package graft.operators

import graft.functions.Text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pointwise-mutual-information collocation mining (Church & Hanks 1990):
  * adjacent token pairs that co-occur far more than their unigram
  * frequencies predict — multi-word expressions, boilerplate signatures,
  * templated spans. A pipeline uses the top-PMI list to spot machine-
  * generated repetition and to protect phrases from naive tokenization.
  *
  * Exactness follows [[LmScore]]'s micro-nat scheme: PMI is computed ONCE
  * per distinct bigram from exact BIGINT counts, quantized to
  * round(ln·10⁶) at that single site — no float ever rides an aggregation,
  * so results are repartition-stable and oracle-exact (the double
  * arithmetic inside the ln is a fixed left-associated shape both engines
  * evaluate identically; libm-boundary risk is the documented ~1e-10
  * per-term coincidence).
  *
  * ## Scale shape (100 TB)
  * Two partial-aggregable counts (bigram, unigram) off one tokenized scan
  * — document bodies never shuffle; the join of bigram counts to the two
  * unigram sides is vocabulary-sized (AQE handles the stop-word skew);
  * N is a scalar broadcast. Top-k lands in TakeOrdered (per-partition
  * heaps + driver merge of k), never a global sort. */
object Colloc {

  /** Corpus-wide adjacent-bigram PMI in integer micro-nats. Returns
    * (w1, w2, c_pair, pmi_unats) for pairs with c_pair >= minCount. */
  def pmi(docs: DataFrame, idCol: String, textCol: String, minCount: Long = 5L): DataFrame = {
    val base = docs.select(Text.tokens(col(textCol)).as("t"))
    val pairs = base
      .where(size(col("t")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(t) - 2), i -> struct(t[i] AS w1, t[i + 1] AS w2))")).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c_pair"))
    val uni = base.select(explode(col("t")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cu"))
    val total = uni.agg(sum(col("cu")).as("n_total"))

    pairs
      .where(col("c_pair") >= minCount)
      .join(uni.select(col("w").as("w1"), col("cu").as("c1")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("cu").as("c2")), Seq("w2"))
      .crossJoin(total)
      // fixed left-associated double shape — the oracle mirrors it verbatim
      .withColumn("pmi_unats",
        round(log(col("c_pair").cast("double") * col("n_total").cast("double") /
          col("c1").cast("double") / col("c2").cast("double")) * lit(1e6)).cast("long"))
      .select(col("w1"), col("w2"), col("c_pair"), col("pmi_unats"))
  }

  /** KEYNESS — per-term log-odds ratio between two corpora with an
    * add-½ (Haldane-Anscombe) prior: which terms characterize A against
    * B, the corpus-linguistics drift read one level finer than
    * [[graft.operators.LmScore]]'s corpus-level KL — "WHAT changed",
    * not just "how much". `score = ln((a+½)/(N_A−a+½)) −
    * ln((b+½)/(N_B−b+½))` quantized to micro-nats ONCE per term (the
    * [[pmi]] site and shape — the prior also keeps B-absent terms
    * finite), top-k by (|score| desc, term) via a distributed
    * TakeOrdered heap.
    *
    * Scale: two partial-aggregable term counts off one tokenized scan,
    * one vocab-sized FULL OUTER merge, scalar totals by broadcast;
    * the corpus bodies never shuffle. Returns
    * `(term, c_a, c_b, keyness_unats)`, k rows. */
  def keyness(a: DataFrame, b: DataFrame, textCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    def counts(df: DataFrame, out: String): DataFrame = df
      .select(explode(Text.tokens(col(textCol))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as(out))
    val ca = counts(a, "c_a")
    val cb = counts(b, "c_b")
    val merged = ca.join(cb, Seq("term"), "full_outer")
      .select(col("term"),
        coalesce(col("c_a"), lit(0L)).as("c_a"),
        coalesce(col("c_b"), lit(0L)).as("c_b"))
      .localCheckpoint() // fans into both totals and the score
    val totals = merged.agg(sum(col("c_a")).as("_na"), sum(col("c_b")).as("_nb"))
    merged
      .crossJoin(totals)
      // fixed left-associated shape, one quantization per term
      .withColumn("keyness_unats",
        round((log((col("c_a").cast("double") + lit(0.5)) /
            (col("_na").cast("double") - col("c_a").cast("double") + lit(0.5))) -
          log((col("c_b").cast("double") + lit(0.5)) /
            (col("_nb").cast("double") - col("c_b").cast("double") + lit(0.5))))
          * lit(1e6)).cast("long"))
      .orderBy(abs(col("keyness_unats")).desc, col("term"))
      .limit(k)
      .select(col("term"), col("c_a"), col("c_b"), col("keyness_unats"))
  }
}
