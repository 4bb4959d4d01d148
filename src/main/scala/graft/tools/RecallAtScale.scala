package graft.tools

import graft.operators.Similarity

import org.apache.spark.sql.functions._

/** Recall-at-scale evidence for the approximate ANN paths (q22 LSH,
  * q36 IVF, q67 quantized IVF): the driver's correctness gate records these
  * queries rows-only (approximate by design), and the recall specs run at
  * test scale — this tool closes the "does the approximation hold at
  * scale?" question by measuring recall@10 of the EXACT gate
  * configurations against brute-force cosine top-10 on the real
  * embeddings table of any scale factor.
  *
  * Usage: runMain graft.tools.RecallAtScale <sfDir> [<sfDir> ...]
  *
  * Prints one JSON line per directory:
  *   {"dir":"...","queries":N,"q22_lsh":r,"q36_ivf":r,"q67_ivf_quantized":r}
  *
  * Exits nonzero if any recall falls below the floors below. The floors
  * are EMPIRICAL: lowest recall measured across sf0.01/sf0.1/sf1
  * (RECALL.md: LSH 0.48-0.64, IVF 0.51-0.55, quantized 0.50-0.55) with
  * roughly 2× slack for dataset-to-dataset noise — a new sf landing at
  * the floor is a real regression signal, not statistical bad luck.
  * (The probed-fraction intuition — 4/16 probes ≈ 0.25 of the corpus
  * scanned for diffuse vectors, query's own cell probed first — explains
  * WHY measured recall sits where it does, but it is an expectation-level
  * heuristic, not a per-dataset guarantee, so the gate does not cite it
  * as a bound.) */
object RecallAtScale {
  // empirical floors: min measured recall across sf0.01..sf1 ÷ ~2 slack
  // (see RECALL.md and the OperatorsSpec LSH/IVF recall tests)
  val FloorLsh = 0.3
  val FloorIvf = 0.25
  val FloorIvfQuantized = 0.25
  // round-9 additions (each measured against ITS OWN exact metric so
  // quantization loss is not conflated with metric mismatch: q219 ranks
  // by integer dot, q231/q232 by L2). The PQ pair is measured at a
  // PRODUCTION-ish configuration (m=8 subspaces × ksub=64 codewords),
  // not the deliberately tiny gate config (m=4, ksub=4 → 256 codes,
  // chosen for oracle-CTE tractability; it saturates by ~5k vectors and
  // its recall says nothing about the machinery). Direct-ADC floors are
  // low by nature on this synthetic near-random data (no cluster
  // structure for codebooks to exploit); the production read is the
  // rerank100 figure (exact re-rank of the ADC top-100 shortlist).
  // Floors = min measured across sf0.01..sf1 ÷ ~2 slack.
  val FloorIvfExact = 0.25
  val FloorPq = 0.1
  val FloorIvfPq = 0.1
  // round-10: Hadamard-rotated PQ at the same production-ish config —
  // the question is whether the energy-spreading rotation helps or
  // hurts ADC recall on this clusterless synthetic data vs flat PQ
  val FloorRotPq = 0.1
  val FloorRotPqRerank = 0.25
  val FloorPqRerank = 0.3
  val FloorIvfPqRerank = 0.25

  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty) args.toSeq else Seq("/root/testdata/sf0.01")
    val spark = graft.Session.local(32)

    var failed = false
    dirs.foreach { dir =>
      val emb = graft.sources.Tables.embeddings(spark, dir)
        .localCheckpoint(eager = true) // one read; three searches + truth
      val queries = emb.where(col("vec_id") % 100 === 0)
        .localCheckpoint(eager = true)
      val nq = queries.count()

      def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
        df.select(col("query_id"), col("neighbor_id"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

      val exact = pairs(Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", 10))

      def recall(approx: Set[(Long, Long)]): Double =
        if (exact.isEmpty) 1.0 else (exact & approx).size.toDouble / exact.size

      // the three gate configurations, verbatim from SparkEntry q22/q36/q67
      val rLsh = recall(pairs(Similarity.lshTopK(queries, emb, "vec_id", "embedding",
        k = 10, planes = 6, tables = 4, dim = graft.SparkEntry.EmbeddingDim, multiprobe = 3)))
      val rIvf = recall(pairs(Similarity.ivfTopK(queries, emb, "vec_id", "embedding",
        k = 10, nCentroids = 16, probes = 4, iterations = 2)))
      val rQuant = recall(pairs(Similarity.ivfTopKQuantized(queries, emb, "vec_id", "embedding",
        k = 10, nCentroids = 16, probes = 4)))

      // the exact-gated family, each vs ITS OWN exact metric on the same
      // micro-quantized integers (q219 ranks by dot, q231/q232 by L2)
      val q = expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT))")
      val qq = broadcast(queries.select(col("vec_id").as("query_id"), q.as("_qv")))
      val cc = emb.select(col("vec_id").as("neighbor_id"), q.as("_cv"))
      def truth(score: org.apache.spark.sql.Column,
                asc: Boolean): Set[(Long, Long)] = {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id"))
          .orderBy(if (asc) col("_s").asc else col("_s").desc,
            col("neighbor_id").asc)
        pairs(qq.crossJoin(cc).withColumn("_s", score)
          .withColumn("_rk", row_number().over(w)).where(col("_rk") <= 10))
      }
      val dotTruth = truth(aggregate(zip_with(col("_qv"), col("_cv"),
        (a, b) => a * b), lit(0L), (acc, x) => acc + x), asc = false)
      val l2Truth = truth(aggregate(zip_with(col("_qv"), col("_cv"),
        (a, b) => (a - b) * (a - b)), lit(0L), (acc, x) => acc + x), asc = true)
      def recallVs(t: Set[(Long, Long)], approx: Set[(Long, Long)]): Double =
        if (t.isEmpty) 1.0 else (t & approx).size.toDouble / t.size
      val rIvfExact = recallVs(dotTruth, pairs(Similarity.ivfExactTopK(
        queries, emb, "vec_id", "embedding", k = 10, nCentroids = 8,
        rounds = 2, probes = 2)))
      val rPq = recallVs(l2Truth, pairs(Similarity.pqTopK(
        queries, emb, "vec_id", "embedding", k = 10, m = 8, ksub = 64, rounds = 3)))
      val rIvfPq = recallVs(l2Truth, pairs(Similarity.ivfPqTopK(
        queries, emb, "vec_id", "embedding", k = 10, nCoarse = 16, probes = 4,
        m = 8, ksub = 64, rounds = 3)))
      // recall@10 AFTER an exact re-rank of the ADC top-100 shortlist —
      // the figure a production PQ deployment quotes (re-ranking a
      // shortlist retrieves exactly the true neighbors present in it,
      // so this is |true₁₀ ∩ shortlist₁₀₀| / |true₁₀|)
      val rPq100 = recallVs(l2Truth, pairs(Similarity.pqTopK(
        queries, emb, "vec_id", "embedding", k = 100, m = 8, ksub = 64, rounds = 3)))
      val rIvfPq100 = recallVs(l2Truth, pairs(Similarity.ivfPqTopK(
        queries, emb, "vec_id", "embedding", k = 100, nCoarse = 16, probes = 4,
        m = 8, ksub = 64, rounds = 3)))
      // rotated PQ (q238/q240): recall measured against the ORIGINAL
      // exact L2 truth — the rotation preserves true ranking exactly,
      // so any delta vs flat PQ is pure codebook-quality signal
      val rRotPq = recallVs(l2Truth, pairs(Similarity.pqRotatedTopK(
        queries, emb, "vec_id", "embedding", k = 10, m = 8, ksub = 64, rounds = 3)))
      val rRotPq100 = recallVs(l2Truth, pairs(Similarity.pqRotatedTopK(
        queries, emb, "vec_id", "embedding", k = 100, m = 8, ksub = 64, rounds = 3)))

      println(f"""{"dir":"$dir","queries":$nq,"q22_lsh":$rLsh%.4f,"q36_ivf":$rIvf%.4f,"q67_ivf_quantized":$rQuant%.4f,"q219_ivf_exact":$rIvfExact%.4f,"q231_pq":$rPq%.4f,"q232_ivf_pq":$rIvfPq%.4f,"q231_pq_rerank100":$rPq100%.4f,"q232_ivf_pq_rerank100":$rIvfPq100%.4f,"q238_rot_pq":$rRotPq%.4f,"q238_rot_pq_rerank100":$rRotPq100%.4f}""")
      if (rLsh < FloorLsh || rIvf < FloorIvf || rQuant < FloorIvfQuantized ||
          rIvfExact < FloorIvfExact || rPq < FloorPq || rIvfPq < FloorIvfPq ||
          rPq100 < FloorPqRerank || rIvfPq100 < FloorIvfPqRerank ||
          rRotPq < FloorRotPq || rRotPq100 < FloorRotPqRerank) {
        System.err.println(s"[recall] FLOOR VIOLATION at $dir: " +
          s"lsh=$rLsh (>= $FloorLsh), ivf=$rIvf (>= $FloorIvf), " +
          s"quant=$rQuant (>= $FloorIvfQuantized), ivfExact=$rIvfExact " +
          s"(>= $FloorIvfExact), pq=$rPq (>= $FloorPq), ivfPq=$rIvfPq " +
          s"(>= $FloorIvfPq), pqRerank=$rPq100 (>= $FloorPqRerank), " +
          s"ivfPqRerank=$rIvfPq100 (>= $FloorIvfPqRerank)")
        failed = true
      }
    }
    spark.stop()
    if (failed) sys.exit(1)
  }
}
