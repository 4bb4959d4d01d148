package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of (point-in-time) join: for each left row, the most recent right row
  * with the same key and `right.ts <= left.ts`.
  *
  * Spark has no native as-of join, and the naive form
  * (`join on key AND r.ts <= l.ts` + keep-latest) is a range join that
  * explodes quadratically per key. This implementation uses the
  * union-merge technique instead (the standard scalable formulation, also
  * how pandas/DuckDB implement ASOF internally): tag both sides, union,
  * sort within key by (ts, side), and carry the last-seen right payload
  * forward with a running `last(ignoreNulls)` window. Cost: ONE shuffle on
  * the key + a per-partition sort — same as a sort-merge join, no
  * quadratic pair generation, skew-safe under AQE. */
object AsOf {

  /** @param left      left rows (kept in full)
    * @param right     right rows; `payloadCols` are carried to the output
    * @param keyCol    equi-key column name present on both sides
    * @param leftTs    left event-time column name
    * @param rightTs   right event-time column name
    * @param payloadCols right columns to attach (renamed as given)
    */
  def join(left: DataFrame, right: DataFrame, keyCol: String,
           leftTs: String, rightTs: String,
           payloadCols: Seq[(String, String)]): DataFrame = {
    require(payloadCols.nonEmpty, "as-of join needs at least one payload column")
    val leftCols = left.columns
    // ALL payload columns travel in ONE struct that exists only on right
    // rows (null on left rows). A single `last(struct, ignoreNulls)` then
    // carries the most-recent right ROW wholesale — including any null
    // FIELDS inside it. Carrying each payload column through its own
    // last(ignoreNulls) window would back-fill a null field from an OLDER
    // right row, silently mixing columns of different rows.
    val payloadType = org.apache.spark.sql.types.StructType(payloadCols.map { case (in, out) =>
      org.apache.spark.sql.types.StructField(out, right.schema(in).dataType, nullable = true) })
    val l = left
      .withColumn("_ts", col(leftTs))
      .withColumn("_side", lit(1))
      .select(Seq(col(keyCol).as("_k"), col("_ts"), col("_side")) ++
        leftCols.map(c => col(c).as(s"_l_$c")) :+
        lit(null).cast(payloadType).as("_r"): _*)
    val r = right
      .withColumn("_ts", col(rightTs))
      .withColumn("_side", lit(0))
      .select(Seq(col(keyCol).as("_k"), col("_ts"), col("_side")) ++
        leftCols.map(c => lit(null).cast(left.schema(c).dataType).as(s"_l_$c")) :+
        struct(payloadCols.map { case (in, out) => col(in).as(out) }: _*).as("_r"): _*)

    // Right rows sort before left rows at equal ts (side 0 < 1), so an
    // exactly-equal timestamp matches — ASOF's `<=` semantics.
    val w = Window.partitionBy(col("_k")).orderBy(col("_ts").asc, col("_side").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    // SQL semantics: a null right timestamp can never satisfy `rt <= lt` —
    // drop such rows before the merge (they'd otherwise sort NULLS FIRST
    // and be carried into every match)
    val carried = l.unionByName(r.where(col("_ts").isNotNull))
      .select((Seq(col("_k"), col("_ts"), col("_side")) ++
        leftCols.map(c => col(s"_l_$c")) :+
        last(col("_r"), ignoreNulls = true).over(w).as("_r")): _*)

    carried
      .where(col("_side") === 1)
      // SQL semantics: a NULL join key or NULL left timestamp matches
      // nothing (the window partition groups NULL keys together and NULL ts
      // sorts first, so mask the carried payload for both)
      .select(leftCols.map(c => col(s"_l_$c").as(c)) ++
        payloadCols.map { case (_, out) =>
          when(col("_k").isNotNull && col("_ts").isNotNull, col("_r").getField(out)).as(out) }: _*)
  }

  /** Native as-of join through the engine's own operator
    * ([[graft.plans.AsOfJoinPlan]] → [[graft.plans.AsOfJoinExec]]): one
    * shuffle+sort per side, then a single-pass per-partition merge with
    * O(1) state. Column names of `right` should be disjoint from `left`
    * (rename before joining). Left-outer: unmatched left rows keep nulls
    * for the right columns. */
  def joinNative(left: DataFrame, right: DataFrame,
                 leftKey: String, rightKey: String,
                 leftTs: String, rightTs: String): DataFrame = {
    val spark = left.sparkSession
    graft.plans.AsOfJoinStrategy.setup(spark)
    val lPlan = left.queryExecution.analyzed
    val rPlan = right.queryExecution.analyzed
    def attr(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, name: String) =
      plan.output.find(_.name == name).getOrElse(sys.error(s"no column $name"))
    val (lk, rk) = (attr(lPlan, leftKey), attr(rPlan, rightKey))
    val (lt, rt) = (attr(lPlan, leftTs), attr(rPlan, rightTs))
    // fail at plan build, not mid-job in an executor: the merge compares
    // keys with one natural ordering and reads timestamps as Long
    import org.apache.spark.sql.types._
    require(lk.dataType == rk.dataType,
      s"as-of key types differ: ${lk.dataType} vs ${rk.dataType}")
    val keyTypeOk = lk.dataType match {
      case _: NumericType | StringType | BooleanType | DateType | TimestampType | TimestampNTZType => true
      case _ => false
    }
    require(keyTypeOk, s"as-of key must be an atomic orderable type, got ${lk.dataType}")
    def tsOk(dt: DataType) = dt match {
      case TimestampType | TimestampNTZType | LongType => true
      case _ => false
    }
    require(tsOk(lt.dataType) && tsOk(rt.dataType),
      s"as-of ts must be timestamp or long, got ${lt.dataType} / ${rt.dataType}")
    // the merge compares raw Long values — mixed units (micros vs seconds)
    // would silently mis-join, so the ts types must match exactly
    require(lt.dataType == rt.dataType,
      s"as-of ts types differ: ${lt.dataType} vs ${rt.dataType}")
    val plan = graft.plans.AsOfJoinPlan(lPlan, rPlan, lk, rk, lt, rt)
    org.apache.spark.sql.classic.GraftBridge.ofRows(spark, plan)
  }
}
