package graft.operators

import graft.functions.Vectors

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** MAXIMAL MARGINAL RELEVANCE diversified selection (Carbonell &
  * Goldstein, SIGIR 1998) — greedy top-k that trades relevance against
  * redundancy: each round picks the candidate maximizing
  * `λ·rel − (1−λ)·max_{s∈selected} sim(c, s)`. The selector a pipeline
  * runs to build a DIVERSE few-shot pool, eval panel, or annotation
  * batch from an embedding neighborhood — [[Coverage]]'s submodular
  * greedy over lexical shingles, carried to the dense-vector side.
  *
  * ## Determinism / oracle
  * λ is fixed at ½ so the decision value `score2 = rel_µ − maxsim_µ`
  * is pure BIGINT arithmetic: every cosine is quantized to
  * `round(cos·10⁶)` micro-units ONCE at its computation site (the
  * [[Colloc]] quantize-before-compare doctrine — the doubles inside the
  * cosine are the q21-established oracle-identical shape), ties break
  * `(score2 desc, id asc)`, and a DuckDB oracle replays the identical
  * K rounds as generated CTEs (the q163/q168 pattern) and hash-matches.
  * Round 1 has no selected set: `maxsim_µ = 0` and the pick is plain
  * max-relevance, the standard MMR convention.
  *
  * ## Scale shape (100 TB)
  * The relevance table is computed ONCE (narrow projection against the
  * broadcast 1-row query vector) and localCheckpointed; each round
  * joins candidates against the BROADCAST selected set (≤ k rows of
  * vectors — the selection is the model, like the IVF centroids), takes
  * a partial-aggregable per-candidate max, and collects exactly ONE
  * winner row. No candidate×candidate pair universe is ever built —
  * per-round work is |candidates|·|selected| ≤ n·k with k model-sized.
  * For corpus-scale n, pre-thin candidates to the relevance top-M first
  * (the [[Similarity]] ANN stages exist for exactly that). */
object Mmr {

  /** Greedily select `k` diverse items around the query vector
    * `queryId` (a row of `items`; excluded from candidates). Returns
    * `(round, id, rel_micro, maxsim_micro, score2)` — one row per round
    * in pick order. */
  def mmrSelect(spark: SparkSession, items: DataFrame, idCol: String,
                vecCol: String, queryId: Long, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    def cosMicro(qn: String, cn: String, a: String, b: String) =
      round(when(col(qn) * col(cn) === 0.0, lit(0.0))
        .otherwise(Vectors.fastDot(col(a), col(b)) / (col(qn) * col(cn)))
        * lit(1e6)).cast("long")
    val base = items.select(col(idCol).cast("long").as("_id"),
      col(vecCol).as("_v"), Vectors.norm(col(vecCol)).as("_n"))
    val q = broadcast(base.where(col("_id") === queryId)
      .select(col("_v").as("_qv"), col("_n").as("_qn")))
    val rel = Lineage.cut(base.where(col("_id") =!= queryId)
      .crossJoin(q)
      .select(col("_id"), col("_v"), col("_n"),
        cosMicro("_qn", "_n", "_qv", "_v").as("_rel")))
    val picks = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long, Long)]
    for (r <- 1 to k) {
      val pickedIds: Seq[Any] = picks.map(_._2).toSeq
      val top =
        if (picks.isEmpty)
          rel.select(col("_id"), col("_rel"), lit(0L).as("_ms"))
            .orderBy(col("_rel").desc, col("_id")).limit(1).collect()
        else {
          val sel = broadcast(
            rel.where(col("_id").isin(pickedIds: _*))
              .select(col("_v").as("_sv"), col("_n").as("_sn")))
          rel.where(!col("_id").isin(pickedIds: _*))
            .crossJoin(sel)
            .select(col("_id"), col("_rel"),
              cosMicro("_sn", "_n", "_sv", "_v").as("_sim"))
            .groupBy(col("_id"), col("_rel")).agg(max(col("_sim")).as("_ms"))
            .orderBy((col("_rel") - col("_ms")).desc, col("_id")).limit(1).collect()
        }
      if (top.nonEmpty) {
        val (id, relU, ms) = (top(0).getLong(0), top(0).getLong(1), top(0).getLong(2))
        picks += ((r.toLong, id, relU, ms, relU - ms))
      }
    }
    import spark.implicits._
    picks.toSeq.toDF("round", "id", "rel_micro", "maxsim_micro", "score2")
  }
}
