package graft.tools

import org.apache.spark.sql.functions._

/** Pre-thin FIDELITY for the q270 shape: how many of the k = 5 MMR
  * picks survive when the candidate corpus is first cut to the query's
  * M LSH bucket-mates ([[graft.operators.Similarity.lshTopK]], q270's
  * exact machinery) versus q179's full-corpus selection — measured per
  * M ∈ {16, 32, 64, 256} on each given embeddings dir, each with an
  * EXACT cosine top-M control, so RECALL.md gets the M-vs-agreement
  * curve, the LSH-vs-semantic loss attribution, and the "when is M
  * too small" doctrine.
  *
  * Agreement is SET overlap of the pick ids (|full ∩ thin| / k): MMR's
  * greedy rounds are order-dependent, so one early divergence can
  * reorder later rounds — set overlap is the honest "same documents
  * chosen" measure. Timing is secondary here (q270's point is the
  * PLAN-CONSTANT candidate set; the fidelity question is what that
  * bound costs in selection quality).
  *
  * Usage: runMain graft.tools.MmrPrethin <sfDir> [<sfDir> ...]
  */
object MmrPrethin {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: MmrPrethin <sfDir> [...]")
    val spark = graft.Session.local(32)
    val k = 5
    def fm(v: Double, s: Int): String =
      BigDecimal(v).setScale(s, BigDecimal.RoundingMode.HALF_UP).toString
    args.foreach { dir =>
      val emb = graft.sources.Tables.embeddings(spark, dir)
      val n = emb.count()
      def picks(items: org.apache.spark.sql.DataFrame): Set[Long] =
        graft.operators.Mmr.mmrSelect(spark, items, "vec_id", "embedding",
          queryId = 0L, k = k)
          .select(col("id")).collect().map(_.getLong(0)).toSet
      val full = picks(emb)
      val q0 = emb.where(col("vec_id") === 0)
      // two pre-thin variants per M: q270's LSH cut, and an EXACT
      // cosine top-M control — if the control also disagrees with the
      // full-corpus picks, the loss is SEMANTIC (MMR's diversity term
      // selects outside any relevance top-M), not an LSH miss
      val per = Seq(16, 32, 64, 256).flatMap { m =>
        val lshCand = graft.operators.Similarity.lshTopK(q0, emb, "vec_id",
            "embedding", k = m, planes = 6, tables = 4,
            dim = graft.SparkEntry.EmbeddingDim, multiprobe = 0)
          .select(col("neighbor_id").as("vec_id"))
        val exactCand = graft.operators.Similarity.bruteForceTopK(q0, emb,
            "vec_id", "embedding", k = m)
          .select(col("neighbor_id").as("vec_id"))
        def agree(cand: org.apache.spark.sql.DataFrame): Double = {
          val thin = picks(emb.join(cand, Seq("vec_id"), "left_semi")
            .unionByName(q0))
          (full intersect thin).size.toDouble / k
        }
        Seq(s""""m$m":${fm(agree(lshCand), 2)}""",
            s""""m${m}_exact":${fm(agree(exactCand), 2)}""")
      }
      println(s"""{"dir":"$dir","n":$n,"k":$k,${per.mkString(",")}}""")
    }
    spark.stop()
  }
}
