package graft.tools


/** Scale evidence for [[graft.operators.Similarity.semDedupAutoK]] — the
  * k ∝ n regime: times the auto-k run on each given embeddings dir and
  * prints one JSON line per dir, so the sf0.1 → sf1 ratio shows the
  * near-linear pair work the fixed-k gate config cannot (PLANS.md
  * round-11 smoke: fixed k=8 measured 11× at 10× data; this is the
  * production answer).
  *
  * Usage: runMain graft.tools.SemDedupScale <sfDir> [<sfDir> ...]
  */
object SemDedupScale {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: SemDedupScale <sfDir> [...]")
    val spark = graft.Session.local(32)
    args.foreach { dir =>
      val emb = graft.sources.Tables.embeddings(spark, dir)
      val n = emb.count()
      // warm the input cache path once, then time steady-state; time the
      // flat k ∝ n path and the coarse→fine hierarchical path (round-12)
      // in the same session so their ratio is host-factor-free
      def runFlat(): Long = graft.operators.Similarity.semDedupAutoK(
        emb, "vec_id", "embedding", targetClusterSize = 256,
        rounds = 2, threshold = 0.3).count()
      def runHier(): Long = graft.operators.Similarity.semDedupCoarseFine(
        emb, "vec_id", "embedding", targetClusterSize = 256,
        rounds = 2, threshold = 0.3).count()
      // the LSH-blocked composition (q272's machinery at the autoK
      // target); planes is the recall/cost knob — overridable so the
      // planes-vs-recall curve can be measured in one session
      val planes = sys.env.getOrElse("SPARK_GRAFT_BLOCK_PLANES", "6").toInt
      def runBlocked(): Long = graft.operators.Similarity.semDedupBlocked(
        emb, "vec_id", "embedding", targetClusterSize = 256,
        rounds = 2, threshold = 0.3, planes = planes).count()
      runFlat()
      val t0 = System.nanoTime()
      val survivors = runFlat()
      val sec = (System.nanoTime() - t0) / 1e9
      runHier()
      val t1 = System.nanoTime()
      val survivorsH = runHier()
      val secH = (System.nanoTime() - t1) / 1e9
      runBlocked()
      val t2 = System.nanoTime()
      val survivorsB = runBlocked()
      val secB = (System.nanoTime() - t2) / 1e9
      val k = math.max(1L, (n + 255) / 256)
      // victim recall: of the rows flat dedup drops, what fraction does
      // the hierarchical path also drop? (misrouting can separate a
      // near-dup pair into different clusters — this measures how often.)
      // localCheckpoint each survivor set ONCE: except/intersect would
      // otherwise re-train and re-dedup both pipelines per count.
      // (Deliberately a THIRD execution per path — warm / timed /
      // materialized — so the timed number stays a bare .count() on an
      // unencumbered plan, comparable across all three paths; the
      // recall pass's cost is bounded by the auto-planes regime.)
      val sFlat = graft.operators.Similarity.semDedupAutoK(
        emb, "vec_id", "embedding", 256, 2, 0.3).select("vec_id")
        .localCheckpoint()
      val sHier = graft.operators.Similarity.semDedupCoarseFine(
        emb, "vec_id", "embedding", 256, 2, 0.3).select("vec_id")
        .localCheckpoint()
      val sBlocked = graft.operators.Similarity.semDedupBlocked(
        emb, "vec_id", "embedding", 256, 2, 0.3, planes = planes)
        .select("vec_id").localCheckpoint()
      val ids = emb.select(org.apache.spark.sql.functions.col("vec_id")
        .cast("long").as("vec_id"))
      val vFlat = ids.except(sFlat).localCheckpoint()
      val vBoth = vFlat.intersect(ids.except(sHier)).count()
      val vBlk = vFlat.intersect(ids.except(sBlocked)).count()
      val vF = vFlat.count()
      val recall = if (vF == 0) 1.0 else vBoth.toDouble / vF
      val recallB = if (vF == 0) 1.0 else vBlk.toDouble / vF
      // locale-safe JSON numbers (the Bench/Verify fmt discipline): the
      // f-interpolator is JVM-default-locale dependent
      def fm(v: Double, s: Int): String =
        BigDecimal(v).setScale(s, BigDecimal.RoundingMode.HALF_UP).toString
      println(s"""{"dir":"$dir","n":$n,"k":$k,"survivors":$survivors,"sec":${fm(sec, 2)},"survivors_hier":$survivorsH,"sec_hier":${fm(secH, 2)},"victim_recall_hier":${fm(recall, 3)},"planes":$planes,"survivors_blocked":$survivorsB,"sec_blocked":${fm(secB, 2)},"victim_recall_blocked":${fm(recallB, 3)}}""")
    }
    spark.stop()
  }
}
