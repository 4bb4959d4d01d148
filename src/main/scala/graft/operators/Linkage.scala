package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Record linkage / entity resolution by BLOCKED fuzzy matching — the
  * classical two-phase shape (Fellegi & Sunter 1969; blocking surveyed in
  * Christen, TKDE 2012): a cheap deterministic blocking key bounds the
  * candidate space, then an exact string-distance predicate scores only
  * within-block pairs.
  *
  * ## Scale shape (100 TB)
  * The all-pairs comparison is O(n²) and never runs: candidates exist only
  * inside a block, so the single wide operation is an equi-join on the
  * blocking key — hash-partitioned, AQE-handled, and bounded by
  * Σ |block|² comparison work. `levenshtein` is a codegen'd built-in
  * (no UDF) evaluated after the join filter prunes self/duplicate pairs,
  * and both engines (Spark, DuckDB oracle) compute the identical integer
  * distance, so results are hash-checkable bit for bit. A pathological
  * mega-block degrades like any skewed join key: cap it upstream
  * ([[Sampling.capPerGroup]]'s two-pass recipe) or let AQE split the
  * straggler — the operator itself adds no new skew surface.
  */
object Linkage {

  /** Within-block fuzzy self-join: all pairs `(id_a < id_b)` sharing
    * `blockKey` whose `nameCol` values are within `maxDist` Levenshtein
    * edits. Returns `(id_a, id_b, name_a, name_b, dist)` — exact integers
    * and verbatim strings only.
    *
    * `blockKey` is any deterministic expression over the input row (e.g.
    * a token of the name, a phonetic code, a normalized prefix). Recall
    * is bounded by the blocking choice — pairs in different blocks are
    * never compared; that is the documented trade of the technique, not a
    * defect of the implementation. */
  def blockedFuzzyPairs(df: DataFrame, idCol: String, nameCol: String,
                        blockKey: Column, maxDist: Int): DataFrame = {
    require(maxDist >= 0, s"maxDist must be >= 0, got $maxDist")
    // spreadRead: with a few-row-group input BOTH self-join sides sit in
    // one partition, the planner broadcasts one, and every Levenshtein
    // evaluation runs in a single task (measured r13: q129's whole pair
    // scoring was one 2.1 s task); no-op at real input parallelism
    val base = graft.sources.Tables.spreadRead(
      df.select(col(idCol).as("_id"), col(nameCol).as("_name"),
        blockKey.as("_blk")))
    val a = base.select(col("_id").as("id_a"), col("_name").as("name_a"), col("_blk"))
    val b = base.select(col("_id").as("id_b"), col("_name").as("name_b"), col("_blk"))
    a.join(b, Seq("_blk"))
      // id ordering halves the pair space and kills self-pairs before the
      // distance evaluates — the join emits only candidate survivors
      .where(col("id_a") < col("id_b"))
      // lossless prune BEFORE any edit-distance work: dist >= |len diff|
      // always, so pairs failing the cheap length check can never match —
      // at a 2k-name block this cuts the expensive evaluations ~in half
      .where(abs(length(col("name_a")) - length(col("name_b"))) <= maxDist)
      // the thresholded builtin banded-early-exits at maxDist+1 (O(n·k)
      // instead of O(n·m) per pair) and returns -1 above it; within the
      // threshold it IS the exact distance, so oracle parity is untouched
      .withColumn("dist", levenshtein(col("name_a"), col("name_b"), maxDist))
      .where(col("dist") =!= -1)
      .select(col("id_a"), col("id_b"), col("name_a"), col("name_b"),
        col("dist").cast("long").as("dist"))
  }

  /** Multi-pass SORTED-NEIGHBORHOOD pair generation (Hernández & Stolfo,
    * SIGMOD 1995) — the recall-preserving alternative to attribute
    * blocking: instead of requiring candidate pairs to AGREE on a key,
    * sort the corpus by each pass's key and compare every record against
    * its `window − 1` successors in sort order. Names that attribute
    * blocking separates (typo in the blocking attribute itself) still land
    * adjacent under at least one sort key; multiple passes with different
    * keys (classically: the name, then the reversed name) cover prefix
    * AND suffix typos.
    *
    * Each pass is `(sortKey, bucketKey)`: `bucketKey` must be monotone
    * with respect to `sortKey` (a fixed prefix of it — see
    * [[Ranking.globalRankBy]]'s contract), and makes the global sort
    * distributed: ranks are local per bucket plus a broadcast offset
    * table, no single-partition sort anywhere.
    *
    * ## Scale shape (100 TB)
    * Pair generation never joins on an attribute value (whose block sizes
    * follow the data distribution, i.e. can be quadratic-hot): rows join
    * on the rank-derived neighborhood block `⌊(rank−1)/(window−1)⌋`, whose
    * size is FIXED at `2(window−1)` rows (native + carried-down) no matter
    * how skewed the data — skew-immune by construction. Each qualifying
    * pair is emitted exactly once (the lower-ranked side joins only from
    * its native block). Union across passes, distinct on the normalized
    * pair, then one Levenshtein evaluation per surviving pair — the
    * thresholded builtin, banded at `maxDist`.
    *
    * Returns `(id_a < id_b, name_a, name_b, dist)` with dist ≤ maxDist. */
  def sortedNeighborhoodPairs(df: DataFrame, idCol: String, nameCol: String,
                              passes: Seq[(Column, Column)], window: Int,
                              maxDist: Int): DataFrame = {
    require(window >= 2, s"window must be >= 2, got $window")
    require(maxDist >= 0, s"maxDist must be >= 0, got $maxDist")
    require(passes.nonEmpty, "need at least one (sortKey, bucketKey) pass")
    val w = window - 1 // neighborhood radius in rank steps = block width
    val candidates = passes.map { case (sortKey, bucketKey) =>
      val keyed = df.select(col(idCol).as("_id"), sortKey.as("_key"),
        bucketKey.as("_pbkt"))
      val ranked = Ranking.globalRankBy(keyed, col("_pbkt"),
        col("_key"), col("_id"))
      // rows at ranks r, r' pair iff 1 <= r' - r <= w. With block
      // g = (rank-1) DIV w, such a pair is same-block or adjacent-block:
      // emit every row to {g, g-1} and let only the LOWER-ranked side join
      // from its native g — each pair then meets exactly once (partner
      // native when g'==g, carried down when g'==g+1).
      val blocks = ranked
        .select(col("_id"), col("rank"), expr("(rank - 1) DIV " + w + "L").as("_g"))
      val lo = blocks.select(col("_g").as("_blk"), col("_id").as("_ida"),
        col("rank").as("_ra"))
      val hi = blocks
        .select(col("_id"), col("rank"),
          explode(array(col("_g"), col("_g") - 1)).as("_blk"))
        .select(col("_blk"), col("_id").as("_idb"), col("rank").as("_rb"))
      lo.join(hi, Seq("_blk"))
        .where((col("_rb") - col("_ra")).between(lit(1), lit(w)))
        .select(least(col("_ida"), col("_idb")).as("id_a"),
          greatest(col("_ida"), col("_idb")).as("id_b"))
    }
    val pairs = candidates.reduce(_ unionAll _).distinct()
    val names = df.select(col(idCol).as("_nid"), col(nameCol).as("_nm"))
    pairs
      .join(names.select(col("_nid").as("id_a"), col("_nm").as("name_a")), Seq("id_a"))
      .join(names.select(col("_nid").as("id_b"), col("_nm").as("name_b")), Seq("id_b"))
      .where(abs(length(col("name_a")) - length(col("name_b"))) <= maxDist)
      .withColumn("dist", levenshtein(col("name_a"), col("name_b"), maxDist))
      .where(col("dist") =!= -1)
      .select(col("id_a"), col("id_b"), col("name_a"), col("name_b"),
        col("dist").cast("long").as("dist"))
  }

  /** ADAPTIVE sorted-neighborhood (the duplicate-density-driven variant,
    * Yan et al. 2007's idea determinized): instead of a fixed window, the
    * neighborhood follows RUNS — maximal stretches of consecutive-by-rank
    * records whose adjacent sort keys are within `boundaryDist` edits. A
    * dense cluster of near-duplicates extends its own neighborhood (the
    * fixed window's recall hole); unrelated neighbors break the run and
    * cost nothing. Candidates are the pairs within a run at most
    * `maxRun − 1` positions apart — the cap bounds a pathological
    * all-identical corpus, and the band is deterministic and
    * oracle-checkable.
    *
    * ## Scale shape (100 TB)
    * Rank and pair generation are [[sortedNeighborhoodPairs]]'s machinery
    * (prefix-bucketed global rank; fixed-size `(run, ⌊pos/(maxRun−1)⌋)`
    * blocks, native + carry-down, exactly-once). The one new wide piece
    * is the run-id assignment — an exact global prefix sum of break flags
    * in rank order, computed two-level: within-bucket cumsum windows
    * (`cumsumBucket` rows per partition) plus ONE offsets window over
    * `N / cumsumBucket` rows. Both sides balance at √N when
    * `cumsumBucket ≈ √N` (the default suits 10⁹-10¹² rows); beyond
    * that, `Ranking.globalRankBy`'s optional three-level form
    * (`superWidth`) shows the recipe that removes the ceiling. */
  def adaptiveNeighborhoodPairs(df: DataFrame, idCol: String, nameCol: String,
                                sortKey: Column, bucketKey: Column,
                                boundaryDist: Int, maxRun: Int, maxDist: Int,
                                cumsumBucket: Long = 1L << 20): DataFrame = {
    require(boundaryDist >= 0, s"boundaryDist must be >= 0, got $boundaryDist")
    require(maxRun >= 2, s"maxRun must be >= 2, got $maxRun")
    require(maxDist >= 0, s"maxDist must be >= 0, got $maxDist")
    require(cumsumBucket >= 1, s"cumsumBucket must be >= 1, got $cumsumBucket")
    val w = maxRun - 1
    val keyed = df.select(col(idCol).as("_id"), sortKey.as("_key"),
      bucketKey.as("_pbkt"))
    val ranked = Ranking.globalRankBy(keyed, col("_pbkt"), col("_key"), col("_id"))
      .select(col("_id"), col("_key"), col("rank"))
    // break flag: rank 1, or predecessor's key beyond boundaryDist edits
    // (the thresholded builtin returns -1 above the band)
    val prev = ranked.select((col("rank") + 1).as("rank"), col("_key").as("_pkey"))
    val flagged = ranked.join(prev, Seq("rank"), "left")
      .withColumn("_brk", when(col("_pkey").isNull ||
        levenshtein(col("_pkey"), col("_key"), boundaryDist) === -1, 1L)
        .otherwise(0L))
    // run id = exact global prefix sum of breaks in rank order (two-level)
    val withCb = flagged.withColumn("_cb",
      expr(s"(rank - 1) DIV ${cumsumBucket}L"))
    val wIn = Window.partitionBy(col("_cb")).orderBy(col("rank"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wOff = Window.orderBy(col("_cb"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = withCb.groupBy(col("_cb")).agg(sum(col("_brk")).as("_bs"))
      .select(col("_cb"), coalesce(sum(col("_bs")).over(wOff), lit(0L)).as("_off"))
    val runs = withCb
      .withColumn("_ls", sum(col("_brk")).over(wIn))
      .join(broadcast(offs), Seq("_cb"))
      .select(col("_id"), col("rank"), (col("_ls") + col("_off")).as("_run"))
    val pos = runs
      .join(runs.groupBy(col("_run")).agg(min(col("rank")).as("_r0")), Seq("_run"))
      .select(col("_id"), col("_run"), (col("rank") - col("_r0")).as("_pos"))
    // banded pairs inside each run: the fixed-size block trick, keyed by
    // (run, block) — exactly-once as in sortedNeighborhoodPairs
    val blocks = pos.withColumn("_g", expr(s"_pos DIV ${w}L"))
    val lo = blocks.select(col("_run"), col("_g").as("_blk"),
      col("_id").as("_ida"), col("_pos").as("_pa"))
    val hi = blocks
      .select(col("_run"), col("_id"), col("_pos"),
        explode(array(col("_g"), col("_g") - 1)).as("_blk"))
      .select(col("_run"), col("_blk"), col("_id").as("_idb"), col("_pos").as("_pb"))
    val pairs = lo.join(hi, Seq("_run", "_blk"))
      .where((col("_pb") - col("_pa")).between(lit(1), lit(w)))
      .select(least(col("_ida"), col("_idb")).as("id_a"),
        greatest(col("_ida"), col("_idb")).as("id_b"))
    val names = df.select(col(idCol).as("_nid"), col(nameCol).as("_nm"))
    // single pass + exactly-once blocks ⇒ pairs are already unique
    pairs
      .join(names.select(col("_nid").as("id_a"), col("_nm").as("name_a")), Seq("id_a"))
      .join(names.select(col("_nid").as("id_b"), col("_nm").as("name_b")), Seq("id_b"))
      .where(abs(length(col("name_a")) - length(col("name_b"))) <= maxDist)
      .withColumn("dist", levenshtein(col("name_a"), col("name_b"), maxDist))
      .where(col("dist") =!= -1)
      .select(col("id_a"), col("id_b"), col("name_a"), col("name_b"),
        col("dist").cast("long").as("dist"))
  }

  /** Greedy MUTUAL-best-match resolution (reciprocal best hit) — the
    * decision stage the pair generators above feed: candidate pairs in,
    * a deterministic partial MATCHING out, each entity matched at most
    * once. Both id columns address ONE entity namespace (the self-join
    * outputs above put the same key space on both sides), so the rule is
    * symmetric: round 1 keeps every pair that is the best incident
    * candidate of BOTH of its endpoints; all pairs touching a matched
    * entity leave the pool and further rounds repeat on the residue
    * (second-choice pairs whose first choices married elsewhere get
    * their turn — the classical greedy approximation to max-weight
    * matching; the mutual-best core is ½-optimal).
    *
    * "Best" = smallest `scoreCol` when `smallerIsBetter` (edit
    * distances), largest otherwise (similarities); ties break on the
    * partner id ascending, so the matching is a pure function of the
    * pair set — fully hash-checkable by an unrolled-rounds oracle.
    * Input pairs must be unique on the unordered `(left, right)` pair
    * (the generators above emit `id_a < id_b` exactly once).
    *
    * ## Scale shape (100 TB)
    * A round mirrors each pair into its two directed copies, then runs
    * FOUR window functions — rank within entity, mutual-hit within pair,
    * matched-flag within entity, dead-flag within pair — i.e. four hash
    * exchanges alternating between the entity key and the pair key, with
    * narrow filters between. No joins, no collects, no
    * iteration-to-convergence: `rounds` is a fixed plan-time constant
    * (pools shrink fast — 2-3 rounds is the useful range). Per-partition
    * window state is one entity's candidate list — bounded by the
    * upstream generator's blocking, never the corpus. */
  def mutualBestMatch(pairs: DataFrame, leftCol: String, rightCol: String,
                      scoreCol: String, rounds: Int = 1,
                      smallerIsBetter: Boolean = true): DataFrame = {
    require(rounds >= 1 && rounds <= 8, s"rounds must be in [1, 8], got $rounds")
    def score = if (smallerIsBetter) col("_s").asc else col("_s").desc
    def wE = Window.partitionBy(col("_e"))
    def wP = Window.partitionBy(col("_pa"), col("_pb"))
    var pool = pairs.select(col(leftCol).as("_a"), col(rightCol).as("_b"),
      col(scoreCol).as("_s"))
    var out: Option[DataFrame] = None
    for (r <- 1 to rounds) {
      val doubled = pool.select(col("_a").as("_e"), col("_b").as("_p"), col("_s"))
        .unionAll(pool.select(col("_b").as("_e"), col("_a").as("_p"), col("_s")))
      val flagged0 = doubled
        .withColumn("_pa", least(col("_e"), col("_p")))
        .withColumn("_pb", greatest(col("_e"), col("_p")))
        .withColumn("_rn", row_number().over(wE.orderBy(score, col("_p").asc)))
        // a pair is matched iff BOTH directed copies rank first at their
        // entity — counted within the normalized pair key
        .withColumn("_hit",
          (sum(when(col("_rn") === 1, 1).otherwise(0)).over(wP) === 2).cast("int"))
        .withColumn("_em", max(col("_hit")).over(wE))
        .withColumn("_dead", max(col("_em")).over(wP))
      // flagged fans into THIS round's matches AND the next round's pool:
      // uncut, round r's four-window cascade (and the upstream pair
      // generator) re-executes inside every later round's lineage — the
      // r-th round's plan held r copies of the whole cascade. Only
      // rounds > 1 need the cut; the pair-pool frame is candidate-sized.
      val flagged = if (r < rounds) Lineage.cut(flagged0) else flagged0
      val matched = flagged.where(col("_hit") === 1 && col("_e") === col("_pa"))
        .select(col("_pa").as(leftCol), col("_pb").as(rightCol),
          col("_s").as(scoreCol), lit(r.toLong).as("round"))
      out = Some(out.fold(matched)(_ unionAll matched))
      pool = flagged.where(col("_dead") === 0 && col("_e") === col("_pa"))
        .select(col("_e").as("_a"), col("_p").as("_b"), col("_s"))
    }
    out.get
  }
}
