package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Declarative data-quality validation — the Deequ/Great-Expectations
  * shape: a table is asserted against a list of CHECKS (not-null, key
  * uniqueness, value ranges, referential integrity) and the engine emits
  * one audit row per check with exact violation counts. At 100 TB this
  * is the gate that runs BEFORE training ever sees a batch: a silent
  * schema drift (nulls appearing, a key fan-out, an FK orphan) surfaces
  * as a failed row in a tiny report instead of a corrupted model three
  * days later.
  *
  * ## Exactness
  * Violation counts are exact BIGINTs with engine-portable null
  * semantics, pinned per check type:
  *  - `not_null`: NULL is the violation.
  *  - `in_range`: NULL or out of [lo, hi] violates (a range assertion
  *    implies presence).
  *  - `unique`: violations = surplus copies = Σ_groups (cnt − 1) —
  *    computed via GROUP BY, where both engines treat NULLs as equal
  *    (COUNT(DISTINCT struct) does NOT agree across engines on null
  *    tuples, so it is deliberately not used).
  *  - `foreign_key`: NULL passes (SQL FK semantics); violations are
  *    non-null values absent from the dimension, counted by anti-join —
  *    never `NOT IN` (whose three-valued logic nukes the count if the
  *    dimension ever contains a NULL).
  *
  * ## Scale shape (100 TB)
  * All not-null and range checks share ONE aggregation pass over the
  * fact scan (a single partial-agg'd row of counters). Each uniqueness
  * check is one partial-aggregable GROUP BY on its key. Each FK check is
  * one left-anti equi-join against the dimension's distinct keys (AQE
  * broadcasts small dimensions). The report itself is #checks rows.
  */
object Checks {

  sealed trait Check
  final case class NotNull(column: String) extends Check
  final case class Unique(columns: Seq[String]) extends Check
  final case class InRange(column: String, lo: Double, hi: Double) extends Check
  final case class ForeignKey(column: String, dim: DataFrame, dimColumn: String) extends Check

  def nameOf(c: Check): String = c match {
    case NotNull(col) => s"not_null($col)"
    case Unique(cols) => s"unique(${cols.mkString(",")})"
    case InRange(col, lo, hi) => s"in_range($col,$lo,$hi)"
    case ForeignKey(col, _, dimCol) => s"foreign_key($col->$dimCol)"
  }

  /** One audit row per check: `(check, n_rows, n_violations, pass)`,
    * ordered by check name. */
  def validate(df: DataFrame, checks: Seq[Check]): DataFrame = {
    require(checks.nonEmpty, "need at least one check")
    require(checks.map(nameOf).distinct.size == checks.size,
      "duplicate check names")
    // every scalar (per-row) check rides one shared aggregation pass; the
    // report rows explode from that ONE row, so the pass executes once no
    // matter how many checks share it
    val scalarChecks: Seq[(String, Column)] = checks.collect {
      case c @ NotNull(column) =>
        nameOf(c) -> sum(when(col(column).isNull, 1L).otherwise(0L))
      case c @ InRange(column, lo, hi) =>
        nameOf(c) -> sum(when(
          col(column).isNull || col(column) < lo || col(column) > hi,
          1L).otherwise(0L))
    }
    val scalarReport =
      if (scalarChecks.isEmpty) Seq.empty[DataFrame]
      else Seq(df.agg(
          count(lit(1)).as("_n"),
          scalarChecks.zipWithIndex.map { case ((_, c), i) => c.as(s"_v$i") }: _*)
        .select(explode(array(scalarChecks.zipWithIndex.map { case ((name, _), i) =>
          struct(lit(name).as("check"), col("_n").as("n_rows"),
            coalesce(col(s"_v$i"), lit(0L)).as("n_violations"))
        }: _*)).as("_r"))
        .select(col("_r.check"), col("_r.n_rows"), col("_r.n_violations")))

    val total = df.select(count(lit(1)).as("n_rows"))
    val otherReport = checks.collect {
      case c @ Unique(columns) =>
        // surplus copies: Σ (cnt − 1) over key groups; GROUP BY nulls-equal
        // on both engines
        df.groupBy(columns.map(col): _*).agg(count(lit(1)).as("_c"))
          .agg(coalesce(sum(col("_c")) - count(lit(1)), lit(0L)).as("n_violations"))
          .crossJoin(total)
          .select(lit(nameOf(c)).as("check"), col("n_rows"), col("n_violations"))
      case c @ ForeignKey(column, dim, dimColumn) =>
        df.select(col(column)).where(col(column).isNotNull)
          .join(dim.select(col(dimColumn).as(column)).distinct(),
            Seq(column), "left_anti")
          .agg(count(lit(1)).as("n_violations"))
          .crossJoin(total)
          .select(lit(nameOf(c)).as("check"), col("n_rows"), col("n_violations"))
    }

    (scalarReport ++ otherReport).reduce(_ unionAll _)
      .withColumn("pass", col("n_violations") === 0L)
      .orderBy(col("check"))
  }

  /** GINI concentration of group contributions — "how unequally do
    * sources/domains contribute to this corpus": 0 = every group equal,
    * →1 = one group is the corpus. The composition red-flag a mixing
    * recipe checks before training (a 0.9-Gini corpus is one domain
    * wearing twenty hats, and [[graft.operators.Sampling]]'s caps and
    * temperatures are the fix). Exact integer form of the standard
    * sorted-shares formula: with group sizes x₁ ≤ … ≤ x_G (ties broken
    * by group name for a deterministic permutation),
    * `gini = Σ (2i − G − 1)·x_i / (G · Σx)` — the numerator an exact
    * BIGINT, one trailing IEEE division. The data-wide work is ONE
    * partial-aggregable count; everything after lives on the G-row
    * group-size table (model-sized — its rank window is the #buckets
    * frame of the two-level scheme, not a data window). Returns one row
    * `(n_groups, total, gini_num, gini)`. */
  def giniConcentration(df: DataFrame, groupCol: String): DataFrame = {
    val sizes = df.groupBy(col(groupCol)).agg(count(lit(1)).as("_x"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("_x").asc, col(groupCol).asc)
    val whole = org.apache.spark.sql.expressions.Window.partitionBy()
    sizes
      .withColumn("_i", row_number().over(w).cast("long"))
      .withColumn("_g", count(lit(1)).over(whole).cast("long"))
      .agg(max(col("_g")).as("n_groups"), sum(col("_x")).as("total"),
        sum((lit(2L) * col("_i") - col("_g") - 1L) * col("_x")).as("gini_num"))
      .select(col("n_groups"), col("total"), col("gini_num"),
        (col("gini_num").cast("double") /
          (col("n_groups") * col("total")).cast("double")).as("gini"))
  }

  /** BENFORD first-digit deviation — the fraud/synthetic-data smell test
    * a pipeline runs over magnitude columns (prices, counts, file
    * sizes): naturally-grown multiplicative quantities put digit d first
    * with probability log₁₀(1 + 1/d); fabricated or truncated feeds
    * don't. One χ² goodness-of-fit row per digit over the FULL 1–9
    * spine (absent digits contribute their whole expectation — the q204
    * shard-balance honesty rule).
    *
    * ## Exactness
    * The leading digit is the first character of the value's decimal
    * string (never a float log — `floor(log10(1000))` can land at 2.999…
    * and misbucket). Expected probabilities are PLAN-TIME literals
    * (driver `math.log10`, inlined verbatim into the oracle — the
    * keyness frozen-log scheme); each digit's χ² term
    * `(o − N·p)²/(N·p)` is ONE deterministic double chain quantized to
    * micro-units at its site, so the total is an exact BIGINT sum with
    * no float-accumulation order anywhere.
    *
    * ## Scale shape (100 TB)
    * ONE partial-aggregable groupBy over ≤ 9 distinct keys (map-side
    * combine collapses each partition to ≤ 9 rows); everything after
    * lives on the 9-row spine. Returns 9 rows
    * `(digit, n_obs, exp_micro, term_micro)` — `Σ term_micro` is the
    * χ² statistic in micro-units (8 degrees of freedom; > 20.09·10⁶
    * rejects at α = 0.01). Non-positive values are excluded (Benford is
    * a positive-magnitude law); an all-excluded input returns the spine
    * with zeros and NULL terms. */
  def benfordDeviation(df: DataFrame, valueCol: Column): DataFrame = {
    val spark = df.sparkSession
    val counts = df.select(valueCol.cast("long").as("_v"))
      .where(col("_v") > 0L)
      .select(substring(col("_v").cast("string"), 1, 1).cast("long").as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("_o"))
    val spine = spark.range(1L, 10L).select(col("id").as("digit"))
    val n = counts.agg(coalesce(sum(col("_o")), lit(0L)).as("_n"))
    val probs = array((1 to 9).map(d => lit(math.log10(1.0 + 1.0 / d))): _*)
    spine.join(counts, Seq("digit"), "left")
      .crossJoin(n)
      .select(col("digit"), coalesce(col("_o"), lit(0L)).as("n_obs"),
        col("_n"),
        (col("_n").cast("double") *
          element_at(probs, col("digit").cast("int"))).as("_e"))
      .select(col("digit"), col("n_obs"),
        floor(col("_e") * lit(1e6)).cast("long").as("exp_micro"),
        when(col("_n") > 0,
          floor((col("n_obs").cast("double") - col("_e")) *
            (col("n_obs").cast("double") - col("_e")) / col("_e") * lit(1e6))
            .cast("long"))
          .as("term_micro"))
      .orderBy(col("digit"))
  }

  /** POPULATION STABILITY INDEX drift monitor — the industry-standard
    * "has this feature's distribution moved" number (PSI < 0.1 stable,
    * 0.1–0.25 drifting, > 0.25 shifted): bin the REFERENCE into `bins`
    * exact equi-depth bins, count both snapshots against the reference
    * edges, `PSI = Σ_b (p_ref − p_tgt)·ln(p_ref/p_tgt)` with add-1
    * count smoothing so empty bins stay finite. The scheduled twin of
    * [[graft.operators.LmScore]]'s corpus KL (q153): KL compares corpora
    * over a vocabulary, PSI watches ONE feature over time against frozen
    * bins.
    *
    * ## Exactness
    * Values must be integral (quantize first — the engine-wide rule).
    * Edges are per-bin maxima of [[Ranking.equiDepthBins]]'s exact ntile
    * arithmetic; BOTH snapshots re-assign by the same value rule
    * `bin = 1 + #{edges < v}` (ties land at the edge's own bin on both
    * engines, and re-assignment keeps ref counts consistent with tgt
    * counts when duplicate runs straddle a rank boundary). Counts are
    * exact; each bin's term is ONE deterministic double expression
    * quantized to micro-nats BEFORE the exact BIGINT sum — the
    * PMI/LmScore scheme.
    *
    * ## Scale shape (100 TB)
    * The ranking shuffles the reference once (two-level scheme, no
    * single-partition window); the `bins−1` edges are a model-sized
    * collect riding into both scans as a literal array (codegen'd
    * `filter` probe — no join, no shuffle to assign); per-bin counts
    * partial-aggregate; everything after lives on `bins` rows. Returns
    * `(bin, ref_n, tgt_n, term_unats)` — PSI in micro-nats = the exact
    * sum of `term_unats`. */
  def psiDrift(ref: DataFrame, tgt: DataFrame, valueCol: String,
               idCol: String, subBucket: Column, bins: Int): DataFrame = {
    require(bins >= 2, s"bins must be >= 2, got $bins")
    val spark = ref.sparkSession
    val binned = Ranking.equiDepthBins(
      ref.select(col(valueCol), col(idCol)), subBucket, bins,
      col(valueCol), col(idCol))
    val edges = binned.groupBy(col("bin"))
      .agg(max(col(valueCol)).as("_edge"))
      .where(col("bin") < bins)
      .orderBy(col("bin"))
      .collect().map(_.getLong(1)) // <= bins-1 values — the model
    def assigned(df: DataFrame): Column =
      lit(1L) + size(filter(typedLit(edges.toSeq),
        e => e < col(valueCol))).cast("long")
    def binCounts(df: DataFrame, as: String): DataFrame =
      df.select(assigned(df).as("bin"))
        .groupBy(col("bin")).agg(count(lit(1)).as(as))
    import spark.implicits._
    val spine = (1L to bins.toLong).toDF("bin")
    val joined = spine
      .join(binCounts(ref, "_rn"), Seq("bin"), "left")
      .join(binCounts(tgt, "_tn"), Seq("bin"), "left")
      .select(col("bin"),
        coalesce(col("_rn"), lit(0L)).as("ref_n"),
        coalesce(col("_tn"), lit(0L)).as("tgt_n"))
    val totals = joined.agg(
      sum(col("ref_n")).as("_rt"), sum(col("tgt_n")).as("_tt"))
    joined.crossJoin(totals)
      .withColumn("term_unats", expr(
        s"""CAST(round(1e6 * (
              (CAST(ref_n + 1 AS DOUBLE) / CAST(_rt + $bins AS DOUBLE)
                - CAST(tgt_n + 1 AS DOUBLE) / CAST(_tt + $bins AS DOUBLE))
              * ln((CAST(ref_n + 1 AS DOUBLE) / CAST(_rt + $bins AS DOUBLE))
                   / (CAST(tgt_n + 1 AS DOUBLE) / CAST(_tt + $bins AS DOUBLE)))
            )) AS BIGINT)"""))
      .select(col("bin"), col("ref_n"), col("tgt_n"), col("term_unats"))
  }
}
