package graft.stream

import graft.{Group, Grouped, TimeWindow, Timestamped, Windowed}
import graft.expr.{Expr, SparkType}
import graft.windows.WindowAssigner

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

import scala.jdk.CollectionConverters._

/** Typed dataflow facade over a Spark `DataFrame`.
  *
  * Mirrors the reference's `DataStream[A]` logical-plan AST + fluent API
  * (reference: src/main/scala/zio/analytics/DataStream.scala:5-88) — but
  * where the reference builds its own tree and interprets it over ZIO streams
  * (Local.scala:114-229), each combinator here immediately declares the
  * corresponding Spark logical-plan operation, so Catalyst owns optimization
  * and Tungsten owns execution (SURVEY.md §4.2).
  *
  * Encoding: the element `A` lives in a single column named `value`
  * (primitives directly; tuples as `_1.._n` structs; `Grouped`/`Timestamped`
  * etc. as structs with their field names — see [[graft.expr.SparkType]]).
  * User lambdas receive `Expr.id` and can only build expression trees, never
  * closures — exactly the reference's plan-build-time discipline
  * (DataStream.scala:59: `Map(ds, f(Expression.Id()))`), which is what keeps
  * every operator inside Catalyst/whole-stage codegen.
  */
final class DataStream[A] private[graft] (private[graft] val df: DataFrame) {
  import DataStream._

  /** Escape hatch to the full Spark surface. */
  def toDF: DataFrame = df

  /** Print the formatted physical plan — the analogue of the reference's
    * plan pretty-print (WordCountSpec.scala:19-20), except this one shows
    * the *optimized, executable* plan Catalyst produced. */
  def explain(): Unit = df.explain("formatted")

  private def value: Column = col(ValueCol)

  /** Per-element projection (reference DataStream.scala:41,59;
    * Local.scala:119-121). Pure narrow op — no shuffle. */
  def map[B](f: Expr[A, A] => Expr[A, B]): DataStream[B] =
    new DataStream[B](df.select(f(Expr.id[A]).toColumn(value).as(ValueCol)))

  /** Flat-map / UNNEST (reference `MapConcat`, DataStream.scala:42,60;
    * Local.scala:131-137). Uses `explode`, which stays in Catalyst
    * (Generate node) rather than an opaque flatMap closure. */
  def mapConcat[B](f: Expr[A, A] => Expr[A, List[B]]): DataStream[B] =
    new DataStream[B](df.select(explode(f(Expr.id[A]).toColumn(value)).as(ValueCol)))

  /** Predicate selection (reference DataStream.scala:43,61-62;
    * Local.scala:123-129). The reference's fluent `filter` takes a redundant
    * stream parameter (DataStream.scala:61) — fixed here per SURVEY §2.1 #4.
    * As a plain Catalyst Filter this is pushed toward the scan. */
  def filter(f: Expr[A, A] => Expr[A, Boolean]): DataStream[A] =
    new DataStream[A](df.filter(f(Expr.id[A]).toColumn(value)))

  /** Key-tag each element (reference DataStream.scala:46-47,65-68;
    * Local.scala:153-160). Like the reference, this does NOT shuffle — the
    * exchange happens at the terminal `fold`/`foldWindow` (SURVEY §2.1 #6),
    * and in Spark only there, with partial aggregation before it.
    *
    * Re-grouping an already-grouped stream nests keys:
    * `Grouped[K0,V].groupBy(f)` yields `Grouped[(K0,K),V]` — the reference's
    * `ComputeGrouping.alreadyGrouped` behavior (DataStream.scala:14-29). */
  def groupBy[K](f: Expr[A, A] => Expr[A, K])(implicit cg: ComputeGrouping[A, K]): DataStream[cg.Out] =
    new DataStream[cg.Out](
      df.select(cg.toGrouped(value, f(Expr.id[A]).toColumn(value)).as(ValueCol)))

  /** Extract event time (epoch millis) into `Timestamped(ts, a)` (reference
    * DataStream.scala:50,69-70; Local.scala:185-193). The reference must drop
    * pre-existing watermarks here; Spark derives watermarks from the column,
    * so the concern disappears (SURVEY §2.1 #9). */
  def assignTimestamps(f: Expr[A, A] => Expr[A, Long]): DataStream[Timestamped[A]] =
    new DataStream[Timestamped[A]](df.select(
      struct(f(Expr.id[A]).toColumn(value).as("timestamp"), value.as("value")).as(ValueCol)))

  /** Ordered stateful 1→1 scan with running state `S` (reference
    * `MapAccumulate`, DataStream.scala:44-45,63-64; Local.scala:139-151).
    *
    * An ordered *global* scan is inherently sequential (SURVEY §7.3 #1): this
    * general form coalesces to one partition and interprets the expression
    * per element — correct, deliberately non-scalable, and documented as
    * such. For the running aggregations a pipeline actually needs at scale,
    * use [[graft.operators.Accumulate]] (per-key window frames — distributed
    * and codegen'd). */
  def mapAccumulate[S, B](z: S)(f: Expr[(S, A), (S, A)] => Expr[(S, A), (S, B)])(
      implicit sb: SparkType[B]): DataStream[B] = {
    val e = f(Expr.id[(S, A)])
    val outSchema = StructType(Seq(StructField(ValueCol, sb.dataType)))
    val out = df.coalesce(1).mapPartitions { it =>
      var state: Any = z
      it.map { row =>
        // eval yields a Scala tuple for FanOut-built pairs, but a Row when
        // the (state, out) pair comes from a struct-backed field access
        val (s, b) = e.eval((state, row.get(0))) match {
          case (a, c)  => (a, c)
          case r: Row  => (r.get(0), r.get(1))
          case other   => sys.error(s"mapAccumulate expression must return a pair, got $other")
        }
        state = s
        Row(toExternal(b))
      }
    }(Encoders.row(outSchema))
    new DataStream[B](out)
  }

  /** Keyed running scan — the DISTRIBUTED mapAccumulate (mirror of
    * [[graft.operators.Accumulate]], reachable from the facade).
    *
    * When the accumulate expression has the running-aggregate shape
    * `f(s, a) = (s + g(a), out(s, a))` with `g` state-free and the state a
    * Long, it compiles to a per-key window frame: ONE hash exchange on the
    * key, per-partition sort, codegen'd unbounded-preceding sum — the plan
    * shows `Window`, never `coalesce(1)`. Any other shape falls back to a
    * still-distributed general path (hash-partition by key, sort within
    * partitions, sequential per-key interpretation) — correct for arbitrary
    * expressions, interpreted per row.
    *
    * `order` must be a total order within each key (include a unique
    * tiebreaker) or the scan order — and therefore per-row output — is not
    * deterministic. Tuple-valued `order` expressions sort
    * lexicographically. */
  def mapAccumulateByKey[K, O, S, B](z: S)(
      key: Expr[A, A] => Expr[A, K], order: Expr[A, A] => Expr[A, O])(
      f: Expr[(S, A), (S, A)] => Expr[(S, A), (S, B)])(
      implicit sb: SparkType[B]): DataStream[B] = {
    val e = Expr.normalize(f(Expr.id[(S, A)]))
    val keyCol = key(Expr.id[A]).toColumn(value)
    val orderCol = order(Expr.id[A]).toColumn(value)
    // pre-project key/order to plain attributes: a complex (e.g. struct)
    // order EXPRESSION is otherwise re-extracted per window function, the
    // specs stop comparing equal, and Catalyst plans TWO Window+Sort pairs
    // where one frame suffices
    val prepared0 = df.select(keyCol.as("_k"), orderCol.as("_o"), value.as(ValueCol))
    AccumulateRewrite(e, z, col(ValueCol), col("_k"), col("_o")) match {
      case Some(out) =>
        new DataStream[B](prepared0.select(out.as(ValueCol)))
      case None =>
        val outSchema = StructType(Seq(StructField(ValueCol, sb.dataType)))
        val prepared = prepared0
          .repartition(col("_k"))
          .sortWithinPartitions(col("_k"), col("_o"))
        val out = prepared.mapPartitions { it =>
          var curKey: Any = null
          var started = false
          var state: Any = z
          it.map { row =>
            val k = row.get(0)
            if (!started || !java.util.Objects.equals(k, curKey)) {
              state = z; curKey = k; started = true
            }
            val (s2, b) = e.eval((state, row.get(2))) match {
              case (a, c) => (a, c)
              case r: Row => (r.get(0), r.get(1))
              case other  => sys.error(s"mapAccumulate expression must return a pair, got $other")
            }
            state = s2
            Row(toExternal(b))
          }
        }(Encoders.row(outSchema))
        new DataStream[B](out)
    }
  }

  // ---- capability-category extensions (SURVEY §2.4; absent from the
  // reference but required of the engine) ----

  /** Multiset union (SQL UNION ALL). */
  def union(other: DataStream[A]): DataStream[A] = new DataStream[A](df.union(other.df))

  def distinct: DataStream[A] = new DataStream[A](df.distinct())

  def intersect(other: DataStream[A]): DataStream[A] = new DataStream[A](df.intersect(other.df))

  def except(other: DataStream[A]): DataStream[A] = new DataStream[A](df.except(other.df))

  def sortBy[K](f: Expr[A, A] => Expr[A, K], ascending: Boolean = true): DataStream[A] = {
    val k = f(Expr.id[A]).toColumn(value)
    new DataStream[A](df.orderBy(if (ascending) k.asc else k.desc))
  }

  def limit(n: Int): DataStream[A] = new DataStream[A](df.limit(n))

  /** Equi-join on expression keys → stream of pairs. Catalyst picks the
    * physical strategy (broadcast vs shuffle) from the sides' sizes.
    *
    * Semi/anti join types produce no right-side columns, so a pair-typed
    * result is unrepresentable — they are rejected here; use the correctly
    * typed [[semiJoin]]/[[antiJoin]] (returning `DataStream[A]`) instead. */
  def join[B, K](other: DataStream[B], how: String = "inner")(
      keyL: Expr[A, A] => Expr[A, K], keyR: Expr[B, B] => Expr[B, K]): DataStream[(A, B)] = {
    val normalized = how.toLowerCase.replace("_", "")
    require(!Set("semi", "leftsemi", "anti", "leftanti").contains(normalized),
      s"join type '$how' keeps only left rows — use semiJoin/antiJoin (typed DataStream[A])")
    val l = df.select(value.as("_l"))
    val r = other.df.select(col(ValueCol).as("_r"))
    val cond = keyL(Expr.id[A]).toColumn(col("_l")) === keyR(Expr.id[B]).toColumn(col("_r"))
    new DataStream[(A, B)](
      l.join(r, cond, how).select(struct(col("_l").as("_1"), col("_r").as("_2")).as(ValueCol)))
  }

  /** Semi join (SQL EXISTS): keep left elements with at least one key match
    * on the right. Right-side payloads never materialize, so the result is
    * the left element type. */
  def semiJoin[B, K](other: DataStream[B])(
      keyL: Expr[A, A] => Expr[A, K], keyR: Expr[B, B] => Expr[B, K]): DataStream[A] =
    filteringJoin(other, "left_semi")(keyL, keyR)

  /** Anti join (SQL NOT EXISTS): keep left elements with NO key match on the
    * right. */
  def antiJoin[B, K](other: DataStream[B])(
      keyL: Expr[A, A] => Expr[A, K], keyR: Expr[B, B] => Expr[B, K]): DataStream[A] =
    filteringJoin(other, "left_anti")(keyL, keyR)

  private def filteringJoin[B, K](other: DataStream[B], how: String)(
      keyL: Expr[A, A] => Expr[A, K], keyR: Expr[B, B] => Expr[B, K]): DataStream[A] = {
    val l = df.select(value.as("_l"))
    val r = other.df.select(col(ValueCol).as("_r"))
    val cond = keyL(Expr.id[A]).toColumn(col("_l")) === keyR(Expr.id[B]).toColumn(col("_r"))
    new DataStream[A](l.join(r, cond, how).select(col("_l").as(ValueCol)))
  }

  /** Materialize to the driver as decoded Scala values (tests only). */
  def collectValues(implicit st: SparkType[A]): Seq[A] =
    df.collect().toSeq.map(r => st.decode(r.get(0)))
}

object DataStream {
  private[graft] val ValueCol = "value"

  /** Finite in-memory source (reference `fromLiterals`,
    * DataStream.scala:87-88; Local.scala:116-117). The reference appends a
    * terminal watermark to flush windows; in batch Spark all windows flush at
    * end-of-input by construction. */
  def fromLiterals[A](as: A*)(implicit st: SparkType[A], spark: SparkSession): DataStream[A] = {
    val rows = as.map(a => Row(st.encode(a))).asJava
    val schema = StructType(Seq(StructField(ValueCol, st.dataType)))
    new DataStream[A](spark.createDataFrame(rows, schema))
  }

  /** Wrap an existing DataFrame: a single column becomes the element; a
    * multi-column frame becomes a tuple-struct element (`_1.._n`). The type
    * parameter is asserted, not checked — this is the untyped ingress from
    * the relational world (parquet scans etc.). */
  def fromDF[A](frame: DataFrame): DataStream[A] = {
    val cols = frame.columns
    val df =
      if (cols.sameElements(Array(ValueCol))) frame
      else if (cols.length == 1) frame.select(col(cols(0)).as(ValueCol))
      else frame.select(
        struct(cols.zipWithIndex.map { case (c, i) => col(c).as(s"_${i + 1}") }.toSeq: _*).as(ValueCol))
    new DataStream[A](df)
  }

  private[graft] def toExternal(v: Any): Any = v match {
    case r: Row     => r
    case s: Seq[_]  => s.map(toExternal)
    case p: Product => Row(p.productIterator.map(toExternal).toSeq: _*)
    case other      => other
  }

  /** Key-composition typeclass for `groupBy` (reference `ComputeGrouping`,
    * DataStream.scala:7-38): grouping an already-grouped stream nests the
    * new key with the existing one instead of regrouping. */
  sealed trait ComputeGrouping[A, K] {
    type Out
    private[graft] def toGrouped(in: Column, key: Column): Column
  }

  object ComputeGrouping extends LowPriorityGrouping {
    type Aux[A, K, O] = ComputeGrouping[A, K] { type Out = O }

    /** `Grouped[K0,V].groupBy(f)` ⇒ `Grouped[(K0,K),V]` (reference
      * `alreadyGrouped`, DataStream.scala:14-29). In Spark a composite key is
      * just a struct — no expression machinery needed (SURVEY §2.1 note). */
    implicit def nested[K0, V, K]: Aux[Grouped[K0, V], K, Grouped[(K0, K), V]] =
      new ComputeGrouping[Grouped[K0, V], K] {
        type Out = Grouped[(K0, K), V]
        private[graft] def toGrouped(in: Column, key: Column): Column =
          struct(
            struct(in.getField("key").as("_1"), key.as("_2")).as("key"),
            in.getField("value").as("value"))
      }
  }

  trait LowPriorityGrouping {
    implicit def plain[A, K]: ComputeGrouping.Aux[A, K, Grouped[K, A]] =
      new ComputeGrouping[A, K] {
        type Out = Grouped[K, A]
        private[graft] def toGrouped(in: Column, key: Column): Column =
          struct(key.as("key"), in.as("value"))
      }
  }

  // =====================================================================
  // Operations available only on grouped streams
  // =====================================================================

  implicit final class GroupedStreamOps[K, V](private val ds: DataStream[Grouped[K, V]]) extends AnyVal {

    /** Per-element value transform preserving the key tag (reference
      * `MapValues`, DataStream.scala:49,76-77; Local.scala:177-183). */
    def mapValues[B](f: Expr[V, V] => Expr[V, B]): DataStream[Grouped[K, B]] = {
      val v = f(Expr.id[V]).toColumn(col(ValueCol).getField("value"))
      new DataStream[Grouped[K, B]](ds.df.select(
        struct(col(ValueCol).getField("key").as("key"), v.as("value")).as(ValueCol)))
    }

    /** Terminal per-key aggregation (reference `Fold`,
      * DataStream.scala:48,73-75; Local.scala:162-175).
      *
      * The reference materializes every whole group in memory (`runCollect`,
      * Local.scala:172 — unbounded). Here, reducers whose expression shape is
      * recognizably aggregative (`values.sum`, `values.length`, arithmetic
      * over those and the key) are rewritten to native Spark aggregates —
      * partial (map-side) + final hash aggregation, the scalable form. Only
      * genuinely whole-group reducers fall back to `collect_list`, and that
      * fallback is the documented scalability cliff. */
    def fold[R](f: Expr[Group[K, V], Group[K, V]] => Expr[Group[K, V], R]): DataStream[R] = {
      // normalization flattens >>> / *** / flip so Compose-rooted reducers
      // still match the native-aggregate rewriter (same semantics either way)
      val e = Expr.normalize(f(Expr.id[Group[K, V]]))
      val keyed = ds.df.select(
        col(ValueCol).getField("key").as("key"),
        col(ValueCol).getField("value").as("payload"))
      val grouped = keyed.groupBy(col("key"))
      AggRewrite.fold(e, col("payload")) match {
        case Some(agg) =>
          new DataStream[R](grouped.agg(agg.as(ValueCol)).select(ValueCol))
        case None =>
          val collected = grouped.agg(collect_list(col("payload")).as("values"))
          val in = struct(col("key").as("key"), col("values").as("values"))
          new DataStream[R](collected.select(e.toColumn(in).as(ValueCol)))
      }
    }
  }

  implicit final class GroupedTimestampedOps[K, V](
      private val ds: DataStream[Grouped[K, Timestamped[V]]]) extends AnyVal {

    /** Event-time windowed incremental fold per (window, key) (reference
      * `FoldWindow`, DataStream.scala:51-56,80-85; Local.scala:195-228).
      *
      * Spark's `window()`/`session_window()` grouping column replaces the
      * reference's manual assign-replicate-rekey (Local.scala:204-211); the
      * shuffle is hash-partitioned by (key, window) with partial aggregation
      * before the exchange. Folds of the shape `acc + g(v)` are rewritten to
      * native `sum`/`count`; arbitrary folds run as an ordered
      * `aggregate()` over a per-group sorted array — still a Catalyst
      * higher-order function, but materializes the group (documented cliff).
      * In streaming, the same groupBy compiles to the state store with
      * watermark eviction; late elements are dropped exactly like the
      * reference drops post-emit elements (Local.scala:218-219). */
    /** @param allowedLateness watermark delay, used only when the underlying
      *   frame is streaming: late rows beyond it are dropped and windows
      *   flush once the watermark passes — the reference's emit-on-watermark
      *   + silent late drop (Local.scala:214-226). Batch input ignores it
      *   (end-of-input flushes everything, like the reference's terminal
      *   watermark). */
    def foldWindow[S](assigner: WindowAssigner, z: S,
        allowedLateness: String = "0 milliseconds")(
        f: Expr[(S, TimeWindow, V), (S, TimeWindow, V)] => Expr[(S, TimeWindow, V), S])(
        implicit zs: SparkType[S]): DataStream[Grouped[K, Windowed[S]]] = {
      val e = Expr.normalize(f(Expr.id[(S, TimeWindow, V)]))
      val tsMillis = col(ValueCol).getField("value").getField("timestamp")
      val payload = col(ValueCol).getField("value").getField("value")
      val withTs = ds.df.select(
        col(ValueCol).getField("key").as("key"),
        timestamp_millis(tsMillis).as("event_ts"),
        tsMillis.as("ts"),
        payload.as("payload"))
      val marked =
        if (withTs.isStreaming) withTs.withWatermark("event_ts", allowedLateness)
        else withTs
      val keyed = marked.withColumn("w", assigner.onTimestamp(col("event_ts")))
      val grouped = keyed.groupBy(col("key"), col("w"))

      val aggregated = AggRewrite.windowFold(e, z, col("payload")) match {
        case Some(agg) => grouped.agg(agg.as("s"))
        case None =>
          // Ordered fallback: fold elements in event-time order.
          // functions.lit cannot build composite literals (tuple states);
          // go through a raw Catalyst Literal with the SparkType encoding
          val zCol = org.apache.spark.sql.classic.GraftBridge.column(
            org.apache.spark.sql.catalyst.expressions.Literal.create(zs.encode(z), zs.dataType))
          grouped
            .agg(sort_array(collect_list(struct(col("ts").as("_1"), col("payload").as("_2")))).as("xs"))
            .withColumn("s",
              aggregate(col("xs"), zCol, (acc, x) =>
                e.toColumn(struct(
                  acc.as("_1"),
                  WindowAssigner.toTimeWindow(col("w")).as("_2"),
                  x.getField("_2").as("_3")))))
            .drop("xs")
      }
      new DataStream[Grouped[K, Windowed[S]]](aggregated.select(
        struct(
          col("key").as("key"),
          struct(WindowAssigner.toTimeWindow(col("w")).as("window"), col("s").as("value")).as("value")
        ).as(ValueCol)))
    }
  }

  /** Accumulate-shape → window-frame rewriter (the mapAccumulate mirror of
    * [[AggRewrite]]): recognizes `f(s, a) = (s + g(a), out(s, a))` with a
    * state-free `g` and a Long state, and compiles the per-row OLD state to
    * `z + sum(g(payload))` over an unbounded-preceding-to-previous-row frame
    * — `out` then evaluates as a plain projection over (oldState, payload).
    * One exchange on the key, codegen'd frame, no interpretation per row.
    *
    * Null discipline mirrors the sequential path exactly: a null `g(a)`
    * poisons the state for every LATER row of that key (SQL `+`
    * propagation), where a bare window `sum` would silently skip it — so the
    * frame also carries a running any-null flag and masks the state. */
  private object AccumulateRewrite {
    import org.apache.spark.sql.expressions.{Window => W}

    def apply(e: Expr[_, _], z: Any, payload: Column,
              keyCol: Column, orderCol: Column): Option[Column] = (z, e) match {
      case (zl: Long, Expr.FanOut(Expr.Arith(acc, g, "+"), outE))
          if AggRewrite.isAcc(acc) && !AggRewrite.refsAcc(g) =>
        val gCol = g.toColumn(struct(lit(null).as("_1"), payload.as("_2")))
        val prec = W.partitionBy(keyCol).orderBy(orderCol.asc)
          .rowsBetween(W.unboundedPreceding, -1)
        val poisoned =
          coalesce(max(when(gCol.isNull, lit(1)).otherwise(lit(0))).over(prec), lit(0)) === 1
        val oldState = when(poisoned, lit(null))
          .otherwise(lit(zl) + coalesce(sum(gCol).over(prec), lit(0L)))
        Some(outE.toColumn(struct(oldState.as("_1"), payload.as("_2"))))
      case _ => None
    }
  }

  /** Expression-shape → native-aggregate rewriter. This is the one piece of
    * "optimizer" the facade owns: it decides whether a reified reducer can be
    * partial-aggregated (scalable) or must materialize its group.
    * The reference has no equivalent — it always materializes
    * (Local.scala:170-173); SURVEY §4.2 calls this replacement out as the
    * deliberate improvement. */
  private object AggRewrite {

    /** Rewrite a reducer over `Group[K,V]` to an aggregate Column, given the
      * per-row payload column. Returns None if the shape needs the whole
      * group. */
    private def isId(e: Expr[_, _]): Boolean = e.isInstanceOf[Expr.Id[_]]
    private def isGroupValuesOfId(e: Expr[_, _]): Boolean = e match {
      case gv: Expr.GroupValues[_, _, _] => isId(gv.e)
      case _                             => false
    }

    def fold(e: Expr[_, _], payload: Column): Option[Column] = e match {
      case gk: Expr.GroupKey[_, _, _] if isId(gk.e)        => Some(col("key"))
      // count(payload), not count(1): the collect_list fallback drops null
      // payloads, so the rewrite must skip them too to stay equivalent
      case l: Expr.Length[_, _] if isGroupValuesOfId(l.list) => Some(count(payload))
      // coalesce to 0: the collect_list fallback drops nulls then folds
      // from 0L, so an all-null group is 0 there — sum alone would be null
      case s: Expr.ListSum[_] if isGroupValuesOfId(s.list)  =>
        Some(coalesce(sum(payload), lit(0L)).cast("long"))
      case Expr.KeyValue(k, v) =>
        for (a <- fold(k, payload); b <- fold(v, payload))
          yield struct(a.as("key"), b.as("value"))
      case Expr.FanOut(l, r) =>
        for (a <- fold(l, payload); b <- fold(r, payload))
          yield struct(a.as("_1"), b.as("_2"))
      case Expr.Arith(l, r, op) =>
        // keep this table in sync with Expr.Arith.toColumn (incl. "quot")
        for (a <- fold(l, payload); b <- fold(r, payload)) yield op match {
          case "+" => a + b; case "-" => a - b; case "*" => a * b
          case "/" => a / b; case "%" => a % b
          case "quot" => (a / b).cast("long")
        }
      case Expr.LitLong(v)    => Some(lit(v))
      case Expr.LitDouble(v)  => Some(lit(v))
      case Expr.LitString(v)  => Some(lit(v))
      case Expr.LitBoolean(v) => Some(lit(v))
      case _ => None
    }

    /** Rewrite an incremental window fold `f(acc, w, v)` of shape
      * `acc + g(v)` to `z + sum(g(payload))` (or `count` when `g` is the
      * literal 1). */
    def windowFold[S](e: Expr[_, _], z: S, payload: Column): Option[Column] = e match {
      case Expr.Arith(acc, g, "+") if isAcc(acc) && !refsAcc(g) =>
        val summed = g match {
          case Expr.LitLong(1L) => count(lit(1))
          case other =>
            val in = struct(lit(null).as("_1"), lit(null).as("_2"), payload.as("_3"))
            val gCol = other.toColumn(in)
            // the ordered fallback null-poisons the accumulator when any
            // increment is null (SQL propagation); sum() would skip nulls —
            // reproduce the fallback's semantics exactly
            when(count(gCol) < count(lit(1)), lit(null)).otherwise(sum(gCol))
        }
        z match {
          case 0L | 0 | 0.0 => Some(summed)
          case zl: Long     => Some((summed + lit(zl)).cast("long"))
          case zd: Double   => Some(summed + lit(zd))
          case _            => None
        }
      case _ => None
    }

    /** The first component of the (state, input) pair — the accumulator. */
    def isAcc(e: Expr[_, _]): Boolean = e match {
      case n: Expr.Nth[_, _] => isId(n.child) && n.n == 0
      case _                 => false
    }

    /** Conservative: unknown/unlisted nodes are assumed to reference the
      * accumulator (→ ordered fallback, correct just slower). Only literal
      * leaves are definitively acc-free; a new Expr node added without a
      * case here therefore degrades performance, never correctness. */
    def refsAcc(e: Expr[_, _]): Boolean = e match {
      case _: Expr.LitLong[_] | _: Expr.LitDouble[_] |
           _: Expr.LitString[_] | _: Expr.LitBoolean[_] => false
      case n: Expr.Nth[_, _] if isId(n.child) => n.n == 0
      case Expr.Compose(f, g)       => refsAcc(f) || refsAcc(g)
      case Expr.FanOut(f, g)        => refsAcc(f) || refsAcc(g)
      case Expr.Both(f, g)          => refsAcc(f) || refsAcc(g)
      case Expr.Nth(c, _)           => refsAcc(c)
      case Expr.Arith(l, r, _)      => refsAcc(l) || refsAcc(r)
      case Expr.Cmp(l, r, _)        => refsAcc(l) || refsAcc(r)
      case Expr.BoolOp(l, r, _)     => refsAcc(l) || refsAcc(r)
      case Expr.Not(x)              => refsAcc(x)
      case Expr.SplitStr(s, d)      => refsAcc(s) || refsAcc(d)
      case Expr.Length(x)           => refsAcc(x)
      case Expr.ListSum(x)          => refsAcc(x)
      case Expr.KeyValue(k, v)      => refsAcc(k) || refsAcc(v)
      case _                        => true
    }
  }
}
