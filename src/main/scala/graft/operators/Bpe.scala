package graft.operators

import graft.functions.Text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding tokenizer lifecycle (Sennrich et al., ACL 2016)
  * over the corpus word universe — TRAIN a merge table for N rounds,
  * then ENCODE the corpus with it. Generalizes the two unrolled rounds
  * the round-6 trainer shipped (SparkEntry q145) into a parameterized
  * loop, so the RECURSION is what the oracle verifies, not the unroll.
  *
  * ## The marker encoding (engine portability)
  * Every symbol is wrapped in its own U+0001 marker pair (`␁a␁␁b␁`),
  * so replacing `␁a␁␁b␁ → ␁ab␁` never shares delimiter characters
  * between adjacent matches — space-joined symbols DO share the
  * separator, making both engines' left-to-right `replace` skip every
  * second occurrence; RE2 (the oracle's regex engine) has no
  * lookbehind, so markers are the portable route. Greedy left-to-right
  * on runs (`aaa` merges once per non-overlapping pair) — identical
  * `replace` semantics on both engines.
  *
  * ## Scale shape (100 TB)
  * Words pre-aggregate to the DISTINCT `(word, freq)` universe — a
  * vocabulary-sized table — before any character work, so each round's
  * pair count is one partial-aggregable pair-keyed exchange over
  * vocab-sized rows however large the corpus. The winning pair is a
  * 1-row collect (the merge table IS the model — model-not-data, like
  * the IVF centroids); the re-encoded vocabulary is localCheckpointed
  * per round so the N-round lineage never compounds. Encoding the
  * corpus back is one broadcast-able vocab join: per-word symbol
  * counts are computed once per DISTINCT word and joined onto the
  * token stream.
  */
object Bpe {

  private val M = "\u0001"

  /** The `(w, freq)` training universe: multi-char words only, words
    * containing the marker char deterministically excluded on both
    * engines (a real corpus never contains U+0001; one that did would
    * corrupt the encoding silently — exclusion keeps it a stated
    * contract instead). */
  def wordUniverse(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(Text.tokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .where(length(col("w")) > 1 && !col("w").contains(M))

  /** N BPE merge rounds: per round, count adjacent symbol pairs over
    * the (word, freq) universe, pick the top pair by the total order
    * `(count desc, a, b)`, apply it corpus-wide, recount. Returns the
    * merge table `(round, a, b, pair_count)` — one row per round, in
    * merge order; stops early (fewer rows) if the vocabulary runs out
    * of mergeable pairs. */
  def trainMerges(spark: SparkSession, docs: DataFrame, textCol: String,
                  rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    var words = Lineage.cut(wordUniverse(docs, textCol)
      .withColumn("enc", regexp_replace(col("w"), "(.)", M + "$1" + M)))
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      val top = words
        .select(col("freq"),
          filter(split(col("enc"), M), x => length(x) > 0).as("syms"))
        .where(size(col("syms")) > 1)
        .select(col("freq"), explode(expr(
          "transform(sequence(1, size(syms) - 1), i -> struct(element_at(syms, i) AS a, element_at(syms, i + 1) AS b))"))
          .as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("freq")).as("pair_count"))
        .orderBy(col("pair_count").desc, col("a"), col("b"))
        .limit(1)
        .collect() // 1 row — the model, never the data
      if (top.isEmpty) exhausted = true
      else {
        val (a, b, c) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((r.toLong, a, b, c))
        words = Lineage.cut(words.withColumn("enc",
          call_function("replace", col("enc"),
            lit(M + a + M + M + b + M), lit(M + a + b + M))))
        r += 1
      }
    }
    import spark.implicits._
    merges.toSeq.toDF("round", "a", "b", "pair_count")
  }

  /** Encode the corpus with a trained merge table (any output of
    * [[trainMerges]]): per document, token/char/symbol counts and the
    * chars-per-symbol compression ratio — the "how much does this
    * tokenizer compress MY corpus" fitness number. Merges are collected
    * in round order (model-sized) and applied as a literal replace
    * chain; per-word symbol counts are computed once per DISTINCT word
    * and joined back onto the token stream (words outside the training
    * universe — single-char or marker-bearing — encode to their raw
    * char count). */
  def encodeCorpus(docs: DataFrame, idCol: String, textCol: String,
                   merges: DataFrame): DataFrame = {
    val ms = merges.orderBy(col("round")).collect()
      .map(r => (r.getString(r.fieldIndex("a")), r.getString(r.fieldIndex("b"))))
    val toks = docs.select(col(idCol), explode(Text.tokens(col(textCol))).as("w"))
    val dict = toks.select(col("w")).distinct()
      .where(length(col("w")) > 1 && !col("w").contains(M))
      .withColumn("enc", regexp_replace(col("w"), "(.)", M + "$1" + M))
    val encoded = ms.foldLeft(dict) { case (d, (a, b)) =>
      d.withColumn("enc", call_function("replace", col("enc"),
        lit(M + a + M + M + b + M), lit(M + a + b + M)))
    }
      .select(col("w"),
        size(filter(split(col("enc"), M), x => length(x) > 0)).cast("long").as("n_syms"))
    toks
      .join(encoded, Seq("w"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(length(col("w")).cast("long")).as("n_chars"),
        sum(coalesce(col("n_syms"), length(col("w")).cast("long"))).as("n_symbols"))
      .withColumn("compression",
        col("n_chars").cast("double") / col("n_symbols").cast("double"))
  }
}
