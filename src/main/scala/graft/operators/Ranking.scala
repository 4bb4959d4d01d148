package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact global order statistics without a global sort-to-one-partition:
  * the distributed answer to "rank every row / take the top fraction" that
  * `row_number() OVER (ORDER BY ...)` (a SinglePartition window — the
  * canonical scale-killer) cannot give. Same two-level scheme as
  * [[Packing.packSequences]]: a deterministic VALUE bucket plays the role
  * of the range partition, ranks are local to each bucket, and each
  * bucket's global start offset is a prefix sum over #buckets rows riding
  * a broadcast — data shuffles once, on the bucket key.
  *
  * Buckets come from `floor(value / bucketWidth)` rather than sampled
  * quantiles deliberately: sampled range boundaries are run-dependent
  * (Spark's range partitioner re-samples every execution), while the
  * value-derived bucket makes the whole plan deterministic and
  * oracle-checkable. The trade is that the caller picks `bucketWidth` to
  * match the value distribution (aim for hundreds-to-thousands of
  * buckets); a pathological single-value distribution degrades to one
  * bucket — the same failure mode sampled ranges have on one repeated
  * key. */
object Ranking {

  /** 1-based exact global rank of every row by (`valueCol` asc, `tieCols`
    * asc). `valueCol` must be integral; ties beyond `tieCols` must not
    * exist (supply a unique id as the last tiebreak — ranks are then a
    * permutation, repartition-stable and engine-independent). Adds a
    * `rank` column; `_bkt`/`_rn`/`_off`/`rank` must not already exist. */
  def globalRank(df: DataFrame, valueCol: String, bucketWidth: Long,
                 tieCols: String*): DataFrame = {
    require(bucketWidth > 0, s"bucketWidth must be positive, got $bucketWidth")
    // exact floor division (DIV truncates, but v - pmod(v, w) is an exact
    // multiple of w, so truncation IS floor — no double arithmetic)
    globalRankBy(df,
      expr(s"($valueCol - pmod($valueCol, ${bucketWidth}L)) DIV ${bucketWidth}L"),
      (col(valueCol) +: tieCols.map(col)): _*)
  }

  /** [[globalRank]] generalized to any orderable sort key: ranks every row
    * by `orderCols` asc using `bucket` as the order-consistent range key.
    * `bucket` MUST be monotone with respect to `orderCols` — every row of
    * bucket b sorts entirely before every row of bucket b' > b (e.g. a
    * fixed-length prefix of a string key, or floor(value/width) of a
    * numeric one); rows sharing the full sort key must share the bucket.
    * `orderCols` must end in a unique tiebreak so the rank is a
    * permutation. Adds `rank`; `_bkt`/`_rn`/`_off`/`rank` are reserved. */
  def globalRankBy(df: DataFrame, bucket: Column, orderCols: Column*): DataFrame =
    globalRankBy(df, bucket, None, orderCols: _*)

  /** [[globalRankBy]] with an optional THIRD prefix-sum level for bucket
    * universes beyond the two-level √N ceiling: with `superWidth =
    * Some(w)`, the per-bucket offset table (which the two-level scheme
    * scans in ONE window over #buckets rows) is itself bucketed into
    * super-buckets of `w` consecutive bucket ids — within-super cumsum
    * windows run in parallel and only the #supers-row table pays a
    * single-partition window. N rows now need only ∛N-sized frames at
    * every level (w ≈ #buckets^(1/2) balances the two meta levels).
    * Ranks are IDENTICAL to the two-level form (spec-asserted) — this
    * changes the plan, never the permutation. Requires an integral
    * bucket expression when `superWidth` is set (super = bkt DIV w needs
    * arithmetic; the two-level form accepts any orderable bucket). */
  def globalRankBy(df: DataFrame, bucket: Column, superWidth: Option[Long],
                   orderCols: Column*): DataFrame = {
    require(orderCols.nonEmpty, "need at least one order column")
    require(superWidth.forall(_ >= 1), s"superWidth must be >= 1, got $superWidth")
    val reserved = Seq("_bkt", "_rn", "_off", "rank")
    reserved.foreach(r => require(!df.columns.contains(r),
      s"input must not already contain column $r"))
    val base = df.withColumn("_bkt", bucket)
    val wIn = Window.partitionBy(col("_bkt")).orderBy(orderCols.map(_.asc): _*)
    val counts = base.groupBy(col("_bkt")).agg(count(lit(1)).as("_bc"))
    val offsets = superWidth match {
      case None =>
        // prefix sum over #buckets rows — a model-sized frame, not a data window
        val wBkt = Window.orderBy(col("_bkt")).rowsBetween(Window.unboundedPreceding, -1)
        counts.select(col("_bkt"),
          coalesce(sum(col("_bc")).over(wBkt), lit(0L)).as("_off"))
      case Some(w) =>
        // third level: within-super cumsums in parallel + ONE window over
        // #supers rows — the same trick applied to the offset table itself
        val withSuper = counts.withColumn("_sup",
          expr(s"(_bkt - pmod(_bkt, ${w}L)) DIV ${w}L"))
        val wInSup = Window.partitionBy(col("_sup")).orderBy(col("_bkt"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val wSup = Window.orderBy(col("_sup")).rowsBetween(Window.unboundedPreceding, -1)
        val supOffsets = withSuper.groupBy(col("_sup")).agg(sum(col("_bc")).as("_sc"))
          .select(col("_sup"), coalesce(sum(col("_sc")).over(wSup), lit(0L)).as("_soff"))
        withSuper
          .withColumn("_loff", coalesce(sum(col("_bc")).over(wInSup), lit(0L)))
          .join(broadcast(supOffsets), Seq("_sup"))
          .select(col("_bkt"), (col("_soff") + col("_loff")).as("_off"))
    }
    base
      .withColumn("_rn", row_number().over(wIn))
      .join(broadcast(offsets), Seq("_bkt"))
      .withColumn("rank", col("_off") + col("_rn").cast("long"))
      .drop("_bkt", "_rn", "_off")
  }

  /** EXACT global quantiles by rank selection — the scale path for
    * "median of 10¹² rows": Spark's exact `percentile` aggregate buffers
    * every value of a group in executor memory, which is fine per
    * bounded group (q46) and a cliff for a GLOBAL quantile; here the
    * quantile is the element at rank ⌈p·N⌉ of [[globalRankBy]]'s
    * distributed order — one bucket-keyed exchange, a broadcast count,
    * and a filter. Type-1 (discontinuous) quantiles by definition: the
    * returned value is an actual data element, so it hash-matches any
    * engine selecting the same rank — no interpolation arithmetic to
    * mirror. `ps` must be in (0, 1]; ties across rows are fine (ranks
    * are a permutation via the id tiebreak, and rank selection is
    * order-stable under ties by construction). Returns `(p, value)`. */
  def globalQuantiles(df: DataFrame, valueCol: String, bucket: Column,
                      idCol: String, ps: Seq[Double]): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p > 0 && p <= 1),
      s"quantiles must lie in (0, 1], got $ps")
    val ranked = globalRankBy(df.select(col(valueCol), col(idCol)),
      bucket, col(valueCol), col(idCol))
    val total = df.select(count(lit(1)).as("_n"))
    val wanted = explode(array(ps.map(lit(_)): _*))
    ranked.crossJoin(total.select(col("_n"), wanted.as("p")))
      .where(col("rank") === ceil(col("p") * col("_n")).cast("long"))
      .select(col("p"), col(valueCol).as("value"))
  }

  /** Exact EQUI-DEPTH binning — `ntile(n)` semantics without ntile's
    * SinglePartition window: bin b of n over N rows holds ⌈N/n⌉ rows for
    * the first `N mod n` bins and ⌊N/n⌋ for the rest (larger bins first,
    * exactly the SQL-standard rule, so a DuckDB `ntile` oracle
    * hash-matches bin-for-bin). The bin is pure integer arithmetic over
    * [[globalRankBy]]'s distributed rank plus one broadcast row count —
    * data shuffles once, on the bucket key. The workhorse behind
    * quantile feature bucketization and equal-mass shard assignment.
    * `orderCols` must end in a unique tiebreak (rank must be a
    * permutation, else bin membership at bucket boundaries is
    * run-dependent). Adds `bin` (1-based); `bin`/`_n` join the
    * [[globalRankBy]] reserved set. */
  def equiDepthBins(df: DataFrame, bucket: Column, n: Int,
                    orderCols: Column*): DataFrame = {
    require(n >= 1, s"bin count must be >= 1, got $n")
    Seq("bin", "_n").foreach(r => require(!df.columns.contains(r),
      s"input must not already contain column $r"))
    val ranked = globalRankBy(df, bucket, orderCols: _*)
    val total = df.select(count(lit(1)).as("_n"))
    // q = floor(N/n), r = N mod n; ranks 1..r*(q+1) land in the r wide
    // bins, the rest in narrow ones — all BIGINT, no doubles at the cut
    ranked.crossJoin(total)
      .withColumn("bin", expr(
        s"""CASE WHEN rank <= (_n % $n) * (_n DIV $n + 1)
                 THEN (rank - 1) DIV (_n DIV $n + 1) + 1
                 ELSE (_n % $n) + (rank - (_n % $n) * (_n DIV $n + 1) - 1)
                        DIV (_n DIV $n) + 1 END"""))
      .drop("_n")
  }

  /** Per-group PERCENTILE NORMALIZATION: the exact `percent_rank()` of
    * every row within its group — `(rank − 1) / (n_group − 1)`, 0.0 for
    * singleton groups, one IEEE division of exact integers — computed
    * through [[groupedRank]] so a double-digit-share group never
    * serializes through one window task. The curation use: per-domain
    * quality-score calibration (a fixed raw threshold keeps different
    * fractions of every domain; "top 30% of EACH domain" is a percentile
    * cut, and this makes it exact at any group size). `orderCols` must
    * end in a unique tiebreak, which also makes the value equal SQL's
    * `percent_rank() OVER (... ORDER BY <same full key>)` — full-key
    * uniqueness collapses rank() to row_number(). Group count frame is
    * #groups rows (model-sized for domain-like groups) and broadcasts.
    * Adds `rank` and `pct_rank`; reserves `_gn` plus [[groupedRank]]'s
    * set. */
  def groupedPercentRank(df: DataFrame, groupCol: String, subBucket: Column,
                         orderCols: Column*): DataFrame = {
    Seq("pct_rank", "_gn").foreach(r => require(!df.columns.contains(r),
      s"input must not already contain column $r"))
    val ranked = groupedRank(df, col(groupCol), subBucket, orderCols: _*)
    val counts = df.groupBy(col(groupCol)).agg(count(lit(1)).as("_gn"))
    ranked.join(broadcast(counts), Seq(groupCol))
      .withColumn("pct_rank",
        when(col("_gn") === 1L, lit(0.0))
          .otherwise((col("rank") - 1L).cast("double") /
            (col("_gn") - 1L).cast("double")))
      .drop("_gn")
  }

  /** Exact 1-based rank WITHIN each `group`, for groups too large for a
    * `PARTITION BY group` window (which serializes every group through one
    * task — fine for thousands of small groups, a scale-killer when a
    * group is a double-digit share of the data). The same two-level
    * scheme, nested: `subBucket` must be monotone with respect to
    * `orderCols` WITHIN a group (a prefix/range of the sort key, as
    * [[globalRankBy]]); ranks are local per (group, subBucket) and each
    * sub-bucket's start offset is a prefix sum over the
    * #(group × subBucket) counts frame — model-sized, and even its window
    * partitions by group, so NO single-partition exchange exists anywhere
    * in the plan. `orderCols` must end in a unique tiebreak. Adds `rank`;
    * `_grp`/`_sb`/`_rn`/`_off`/`rank` are reserved. */
  def groupedRank(df: DataFrame, group: Column, subBucket: Column,
                  orderCols: Column*): DataFrame = {
    require(orderCols.nonEmpty, "need at least one order column")
    val reserved = Seq("_grp", "_sb", "_rn", "_off", "rank")
    reserved.foreach(r => require(!df.columns.contains(r),
      s"input must not already contain column $r"))
    val base = df.withColumn("_grp", group).withColumn("_sb", subBucket)
    val wIn = Window.partitionBy(col("_grp"), col("_sb"))
      .orderBy(orderCols.map(_.asc): _*)
    val counts = base.groupBy(col("_grp"), col("_sb")).agg(count(lit(1)).as("_bc"))
    val wOff = Window.partitionBy(col("_grp")).orderBy(col("_sb"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = counts.select(col("_grp"), col("_sb"),
      coalesce(sum(col("_bc")).over(wOff), lit(0L)).as("_off"))
    base
      .withColumn("_rn", row_number().over(wIn))
      .join(broadcast(offsets), Seq("_grp", "_sb"))
      .withColumn("rank", col("_off") + col("_rn").cast("long"))
      .drop("_grp", "_sb", "_rn", "_off")
  }

  /** Exact PER-GROUP quantiles by rank selection — [[globalQuantiles]]
    * for groups too large for `percentile`'s per-group value buffer (q46's
    * documented cliff: the aggregate holds a whole group's values in one
    * executor). The p-quantile of group g is the element at rank
    * `⌈p·n_g⌉` of [[groupedRank]]'s within-group order — type-1
    * (discontinuous) by the same argument as [[globalQuantiles]]: the
    * answer is an actual data element, no interpolation to mirror, so a
    * DuckDB `quantile_disc` oracle hash-matches. Group sizes ride a
    * #groups-row broadcast; no single-partition exchange anywhere (the
    * groupedRank guarantee). Returns `(groupCol, p, value)`, one row per
    * (group, p). */
  def groupedQuantiles(df: DataFrame, groupCol: String, valueCol: String,
                       subBucket: Column, idCol: String,
                       ps: Seq[Double]): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p > 0 && p <= 1),
      s"quantiles must lie in (0, 1], got $ps")
    val ranked = groupedRank(df.select(col(groupCol), col(valueCol), col(idCol)),
      col(groupCol), subBucket, col(valueCol), col(idCol))
    val sizes = df.groupBy(col(groupCol)).agg(count(lit(1)).as("_gn"))
    val wanted = explode(array(ps.map(lit(_)): _*))
    // NOTE — float-ceil convention: the selected rank is ceil(p·n) in
    // IEEE doubles, which for some exact-integer products rounds up one
    // past the mathematical ceiling (0.07·100 = 7.000000000000001 →
    // rank 8). An oracle must mirror the same double arithmetic; for
    // bit-exact type-1 selection use [[groupedQuantilesRational]].
    ranked
      .join(broadcast(sizes.select(col(groupCol), col("_gn"), wanted.as("p"))),
        Seq(groupCol))
      .where(col("rank") === ceil(col("p") * col("_gn")).cast("long"))
      .select(col(groupCol), col("p"), col(valueCol).as("value"))
  }

  /** Exact WEIGHTED per-group quantiles — the importance-weighted twin of
    * [[groupedQuantiles]] (mixture weighting, token-weighted length
    * medians, sample-weight calibration): the p = num/den quantile of
    * group g is the SMALLEST value whose cumulative weight w satisfies
    * `w·den ≥ num·W_g` (lower weighted quantile, exact integer
    * comparison — no float rank arithmetic to mirror).
    *
    * ## Scale shape (100 TB)
    * Rows first collapse to the per-(group, value) weight HISTOGRAM
    * (partial-aggregable; the q116 de-skew argument: the sorted frame is
    * #distinct values, never the group's row count), cumulative weights
    * then ride [[groupedRank]]'s two-level scheme over the histogram —
    * per-(group, subBucket) local cumsums in parallel plus a
    * #buckets-row offset window broadcast back, so no per-group sort of
    * anything data-sized; the selection is one more partial-aggregable
    * min. Weights must be nonnegative (cumulative monotonicity) — an
    * in-plan guard raises on violation rather than silently selecting
    * garbage. Returns `(groupCol, p, value)` with p = num/den as the
    * IEEE double both engines print identically. */
  def weightedQuantilesPerGroup(df: DataFrame, groupCol: String,
                                valueCol: String, weightCol: String,
                                subBucket: Column,
                                ps: Seq[(Long, Long)]): DataFrame = {
    require(ps.nonEmpty && ps.forall { case (n, d) => n > 0 && n <= d },
      s"quantiles must be rationals in (0, 1], got $ps")
    val hist = df
      .select(col(groupCol), subBucket.as("_sb"), col(valueCol),
        col(weightCol).cast("long").as("_w0"))
      .withColumn("_wchecked",
        when(col("_w0") < 0L, raise_error(concat(
          lit(s"weightedQuantilesPerGroup: negative weight in $weightCol: "),
          col("_w0").cast("string")))).otherwise(col("_w0")))
      .groupBy(col(groupCol), col("_sb"), col(valueCol))
      .agg(sum(col("_wchecked")).as("_hw"))
    val wIn = Window.partitionBy(col(groupCol), col("_sb"))
      .orderBy(col(valueCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wOff = Window.partitionBy(col(groupCol)).orderBy(col("_sb"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = hist.groupBy(col(groupCol), col("_sb"))
      .agg(sum(col("_hw")).as("_bw"))
      .select(col(groupCol), col("_sb"),
        coalesce(sum(col("_bw")).over(wOff), lit(0L)).as("_off"))
    val totals = hist.groupBy(col(groupCol)).agg(sum(col("_hw")).as("_tw"))
    val wanted = explode(array(ps.map { case (n, d) =>
      struct(lit(n).as("_num"), lit(d).as("_den")) }: _*))
    hist
      .join(broadcast(offsets), Seq(groupCol, "_sb"))
      .withColumn("_cw", col("_off") + sum(col("_hw")).over(wIn))
      .join(broadcast(totals.select(col(groupCol), col("_tw"), wanted.as("_p"))),
        Seq(groupCol))
      .where(col("_cw") * col("_p._den") >= col("_p._num") * col("_tw"))
      .groupBy(col(groupCol), col("_p._num").as("_num"), col("_p._den").as("_den"))
      .agg(min(col(valueCol)).as("value"))
      .select(col(groupCol),
        (col("_num").cast("double") / col("_den").cast("double")).as("p"),
        col("value"))
  }

  /** RECIPROCAL RANK FUSION (Cormack, Clarke, Buettcher 2009): combine
    * N retrieval rankings of the same id space into one score,
    * `rrf(id) = Σ_systems 1/(k + rank_system(id))` — the standard
    * training-data retrieval move for merging BM25 with embedding
    * similarity (each system's scores are incomparable; their RANKS
    * fuse robustly, k=60 the paper's constant). Exactness is the
    * micro-unit quantize-before-sum scheme: each reciprocal is ONE
    * deterministic double op quantized to `round(10⁶/(k+r))` and the
    * fusion is an exact BIGINT sum — order-independent, oracle-ready.
    * Ids absent from a system contribute nothing (the paper's
    * convention). Input frames carry `(idCol, rankCol)` with rank
    * 1-based; compute them with [[globalRankBy]] so no system's ranking
    * ever serializes. One union + one partial-aggregable groupBy on the
    * id — N·ids rows shuffle, nothing data-wide beyond that. Returns
    * `(idCol, rrf_unats, n_systems)`. */
  def reciprocalRankFusion(rankings: Seq[DataFrame], idCol: String,
                           rankCol: String, k: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "need at least one ranking")
    require(k >= 0, s"k must be >= 0, got $k")
    rankings
      .map(df => df.select(col(idCol), col(rankCol).cast("long").as("_r")))
      .reduce(_ unionAll _)
      .select(col(idCol),
        round(lit(1e6) / (col("_r") + lit(k.toLong)).cast("double"))
          .cast("long").as("_q"))
      .groupBy(col(idCol))
      .agg(sum(col("_q")).as("rrf_unats"), count(lit(1)).as("n_systems"))
  }

  /** TRIMMED (truncated-mean) per-group statistics: drop each group's
    * lowest and highest `⌊n·trimNum/trimDen⌋` values (by `(value, id)`
    * order — the id tiebreak makes the trim set deterministic) and
    * report the surviving count/sum/bounds and mean — the robust
    * location estimate for quality-score aggregation where [[Outliers]]-
    * style MAD flags individual rows but a per-domain summary must
    * simply not be dragged by tails. Rank rides [[groupedRank]] (no
    * per-group sort task), the trim cut is pure integer arithmetic
    * against a #groups-row broadcast, and the surviving rows partial-
    * aggregate. Values must be exact integers (quantize first); the mean
    * is the single trailing IEEE division. Returns `(groupCol, n_total,
    * n_kept, sum_kept, min_kept, max_kept, trimmed_mean)`. */
  def trimmedStats(df: DataFrame, groupCol: String, valueCol: String,
                   subBucket: Column, idCol: String,
                   trimNum: Long, trimDen: Long): DataFrame = {
    require(trimNum >= 0 && trimDen > 0 && 2 * trimNum < trimDen,
      s"trim fraction must lie in [0, 1/2), got $trimNum/$trimDen")
    val ranked = groupedRank(df.select(col(groupCol), col(valueCol), col(idCol)),
      col(groupCol), subBucket, col(valueCol), col(idCol))
    val sizes = df.groupBy(col(groupCol)).agg(count(lit(1)).as("_gn"))
    ranked
      .join(broadcast(sizes), Seq(groupCol))
      .withColumn("_t", expr(s"(_gn * $trimNum) DIV $trimDen"))
      .where(col("rank") > col("_t") && col("rank") <= col("_gn") - col("_t"))
      .groupBy(col(groupCol))
      .agg(max(col("_gn")).as("n_total"), count(lit(1)).as("n_kept"),
        sum(col(valueCol)).as("sum_kept"),
        min(col(valueCol)).as("min_kept"), max(col(valueCol)).as("max_kept"))
      .select(col(groupCol), col("n_total"), col("n_kept"), col("sum_kept"),
        col("min_kept"), col("max_kept"),
        (col("sum_kept").cast("double") / col("n_kept").cast("double"))
          .as("trimmed_mean"))
  }

  /** [[groupedQuantiles]] with the quantiles given as RATIONALS
    * `(num, den)` and the rank selected by pure integer comparison:
    * rank r is the type-1 p-quantile of an n-row group iff
    * `(r−1)·den < num·n ≤ r·den` — the integer form of r = ⌈p·n⌉ with no
    * IEEE rounding anywhere in the selection, so it IS the element a
    * textbook (or DuckDB `quantile_disc`-style rank arithmetic) type-1
    * quantile names for every p, including the 0.07·100-style products
    * where the double `ceil` rounds up one too far. The reported `p`
    * column is num/den in one IEEE division of exact integers — same
    * determinism argument as every other quantized ratio in the library.
    * Same plan shape as the double form: grouped rank + #groups-row
    * broadcast, no single-partition exchange. */
  def groupedQuantilesRational(df: DataFrame, groupCol: String,
                               valueCol: String, subBucket: Column,
                               idCol: String,
                               ps: Seq[(Long, Long)]): DataFrame = {
    require(ps.nonEmpty && ps.forall { case (n, d) => n > 0 && d > 0 && n <= d },
      s"quantiles must be rationals in (0, 1], got $ps")
    val ranked = groupedRank(df.select(col(groupCol), col(valueCol), col(idCol)),
      col(groupCol), subBucket, col(valueCol), col(idCol))
    val sizes = df.groupBy(col(groupCol)).agg(count(lit(1)).as("_gn"))
    val wanted = explode(array(ps.map { case (n, d) =>
      struct(lit(n).as("_pn"), lit(d).as("_pd")) }: _*))
    ranked
      .join(broadcast(sizes.select(col(groupCol), col("_gn"), wanted.as("_p"))),
        Seq(groupCol))
      .where((col("rank") - 1) * col("_p._pd") < col("_p._pn") * col("_gn") &&
        col("_p._pn") * col("_gn") <= col("rank") * col("_p._pd"))
      .select(col(groupCol),
        (col("_p._pn").cast("double") / col("_p._pd").cast("double")).as("p"),
        col(valueCol).as("value"))
  }

  /** SPLIT-CONFORMAL threshold per group — the finite-sample-valid
    * quantile (Vovk; Angelopoulos & Bates' tutorial form): with n
    * calibration scores, `q̂ = the ⌈(n+1)(1−α)⌉-th smallest` guarantees
    * `P(new score ≤ q̂) ≥ 1−α` for an exchangeable new draw — the +1
    * over the naive quantile is exactly what a pipeline needs before
    * promising "this filter keeps ≥ 95% of good documents". α is a
    * RATIONAL `alphaNum/alphaDen`, the rank `k = ⌈(n+1)·(den−num)/den⌉`
    * pure-integer ceil (`(a + den − 1) DIV den` — no IEEE product, the
    * [[groupedQuantilesRational]] doctrine); when `k > n` the guarantee
    * is unattainable at this sample size and the threshold is NULL
    * (never silently clamped — a clamped threshold would claim coverage
    * it cannot honor).
    *
    * ## Scale shape (100 TB)
    * One [[groupedRank]] (two-level per-(group, subBucket) frames +
    * model-sized offsets — no single-partition exchange), one #groups
    * count, one broadcast join, a rank-equality filter. Returns one row
    * per group `(groupCol, n, k, threshold)` — including infeasible
    * groups, with NULL threshold. */
  def conformalThreshold(df: DataFrame, groupCol: String, valueCol: String,
                         subBucket: Column, idCol: String,
                         alphaNum: Long, alphaDen: Long): DataFrame = {
    require(alphaNum > 0 && alphaDen > 0 && alphaNum < alphaDen,
      s"alpha must be a rational in (0, 1), got $alphaNum/$alphaDen")
    val keepNum = alphaDen - alphaNum
    val ranked = groupedRank(df.select(col(groupCol), col(valueCol), col(idCol)),
      col(groupCol), subBucket, col(valueCol), col(idCol))
    val sizes = df.groupBy(col(groupCol)).agg(count(lit(1)).as("n"))
      .withColumn("k",
        expr(s"((n + 1) * $keepNum + ${alphaDen - 1}) DIV $alphaDen"))
    val selected = ranked
      .join(broadcast(sizes), Seq(groupCol))
      .where(col("rank") === col("k")) // k > n matches nothing: infeasible
      .select(col(groupCol), col(valueCol).as("threshold"))
    sizes.join(selected, Seq(groupCol), "left")
      .select(col(groupCol), col("n"), col("k"), col("threshold"))
  }
}
