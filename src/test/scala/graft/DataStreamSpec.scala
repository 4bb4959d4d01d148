package graft

import graft.expr.Expr
import graft.stream.DataStream
import graft.windows.WindowAssigner

class DataStreamSpec extends SparkSuite {
  import Expr._
  implicit def s = spark

  /** The reference's canonical windowed word count (FIXTURES.md A.1,
    * reference WordCountSpec.scala:9-17): golden output check. Windows are
    * normalized to Spark's [start, end) from the reference's inclusive
    * bounds (SURVEY §7.3 #3). */
  test("golden: reference word count via assignTimestamps→groupBy→foldWindow") {
    val ds = DataStream.fromLiterals((12L, "quick"), (15L, "quick"), (30L, "brown"), (40L, "brown"))
    val out = ds
      .assignTimestamps(t => t._1)
      .groupBy(t => t.value._2)
      .foldWindow(WindowAssigner.Tumbling(10L), 0L)(t => t._1 + 1L)
      .collectValues
      .map(g => (g.key, g.value.window.start, g.value.window.end, g.value.value))
      .sortBy(t => (t._1, t._2))
    assert(out == Seq(
      ("brown", 30L, 40L, 1L),
      ("brown", 40L, 50L, 1L),
      ("quick", 10L, 20L, 2L)))
  }

  test("sliding windows replicate elements into every covering window (not the reference's firstStart bug)") {
    // size=10, step=3, ts=11 → windows starting at 3, 6, 9 (and NOT 12)
    val ds = DataStream.fromLiterals((11L, "k"))
    val out = ds
      .assignTimestamps(t => t._1)
      .groupBy(t => t.value._2)
      .foldWindow(WindowAssigner.Sliding(10L, 3L), 0L)(t => t._1 + 1L)
      .collectValues.map(_.value.window.start).sorted
    assert(out == Seq(3L, 6L, 9L))
  }

  test("session windows merge within gap (reference declared-but-??? operator)") {
    val ds = DataStream.fromLiterals((0L, "k"), (5L, "k"), (100L, "k"))
    val out = ds
      .assignTimestamps(t => t._1)
      .groupBy(t => t.value._2)
      .foldWindow(WindowAssigner.Session(20L), 0L)(t => t._1 + 1L)
      .collectValues.map(g => (g.value.window.start, g.value.value)).sorted
    assert(out == Seq((0L, 2L), (100L, 1L)))
  }

  test("foldWindow general fallback: order-sensitive fold over event-time order") {
    // f = acc*10 + v: depends on order, not rewritable → sorted-array fold
    val grouped = DataStream.fromLiterals((1L, 3L), (2L, 1L), (3L, 2L))
      .assignTimestamps(t => t._1)
      .groupBy(_ => Expr.LitString[Timestamped[(Long, Long)]]("k"))
      .foldWindow(WindowAssigner.Tumbling(100L), 0L)(t => t._1 * 10L + t._3._2)
    val out = grouped.collectValues.map(_.value.value)
    assert(out == Seq(312L)) // fold in ts order: ((0*10+3)*10+1)*10+2
  }

  test("foldWindow with composite (tuple) state: windowed (sum, count)") {
    val out = DataStream.fromLiterals((1L, 10L), (2L, 20L), (3L, 12L))
      .assignTimestamps(t => t._1)
      .groupBy(_ => Expr.LitString[Timestamped[(Long, Long)]]("k"))
      .foldWindow(WindowAssigner.Tumbling(100L), (0L, 0L)) { t =>
        (t._1._1 + t._3._2) &&& (t._1._2 + 1L)
      }
      .collectValues.map(_.value.value)
    assert(out == Seq((42L, 3L)))
  }

  test("groupBy nesting composes keys (reference ComputeGrouping)") {
    val ds = DataStream.fromLiterals(("a", "x", 1L), ("a", "y", 2L), ("a", "x", 3L))
    val nested = ds.groupBy(t => t._1).groupBy(g => g.value._2)
    val counts = nested.fold(g => Expr.KeyValue(g.key, g.values.length)).collectValues
    assert(counts.map(g => ((g.key._1, g.key._2), g.value)).sortBy(_._1) ==
      Seq((("a", "x"), 2L), (("a", "y"), 1L)))
  }

  test("fold: rewritten native aggregate equals collect_list fallback") {
    val ds = DataStream.fromLiterals((1L, 10L), (1L, 20L), (2L, 5L))
    val grouped = ds.groupBy(t => t._1).mapValues(v => v._2)
    // rewritable shape → native sum/count
    val fast = grouped.fold(g => Expr.KeyValue(g.key, g.values.sum &&& g.values.length))
      .collectValues.map(g => (g.key, g.value)).sortBy(_._1)
    assert(fast == Seq((1L, (30L, 2L)), (2L, (5L, 1L))))
    // a comparison over an aggregate is outside the rewrite table → the
    // whole-group collect_list fallback must engage and stay correct
    val slowDs = grouped.fold { g =>
      val i = Expr.id[Group[Long, Long]]
      Expr.KeyValue(Expr.GroupKey(i),
        Expr.Cmp(Expr.ListSum(Expr.GroupValues(i)), Expr.LitLong(20L), ">"))
    }
    assert(slowDs.toDF.queryExecution.optimizedPlan.toString.contains("collect_list"))
    val slow = slowDs.collectValues.map(g => (g.key, g.value)).sortBy(_._1)
    assert(slow == Seq((1L, true), (2L, false)))
  }

  test("Compose-rooted reducers normalize to native aggregates (no collect_list)") {
    val ds = DataStream.fromLiterals((1L, 10L), (1L, 20L), (2L, 5L))
    val grouped = ds.groupBy(t => t._1).mapValues(v => v._2)
    // Compose at the ROOT (id >>> reducer): pre-normalization this fell back
    // to collect_list; the rewriter must now see through it
    val composedRoot = grouped.fold { g =>
      val i = Expr.id[Group[Long, Long]]
      Expr.Compose(i,
        Expr.KeyValue(Expr.GroupKey(i), Expr.FanOut(Expr.ListSum(Expr.GroupValues(i)), Expr.Length(Expr.GroupValues(i)))))
    }
    // composition AFTER the aggregate (g.values.sum >>> (_ + 1))
    val postMapped = grouped.fold(g =>
      Expr.KeyValue(g.key, g.values.sum >>> (Expr.id[Long] + 1L)))
    Seq(composedRoot.toDF, postMapped.toDF).foreach { df =>
      val plan = df.queryExecution.optimizedPlan.toString
      assert(!plan.contains("collect_list"), s"expected native rewrite, got:\n$plan")
    }
    assert(composedRoot.collectValues.map(g => (g.key, g.value)).sortBy(_._1) ==
      Seq((1L, (30L, 2L)), (2L, (5L, 1L))))
    assert(postMapped.collectValues.map(g => (g.key, g.value)).sortBy(_._1) ==
      Seq((1L, 31L), (2L, 6L)))
  }

  test("fold rewrite handles long division (per-key average shape)") {
    val ds = DataStream.fromLiterals((1L, 10L), (1L, 21L), (2L, 5L))
    val avg = ds.groupBy(t => t._1).mapValues(v => v._2)
      .fold(g => Expr.KeyValue(g.key, g.values.sum / g.values.length))
      .collectValues.map(g => (g.key, g.value)).sortBy(_._1)
    assert(avg == Seq((1L, 15L), (2L, 5L)))
  }

  test("mapAccumulate handles struct-backed (Row) pair results") {
    // f = t._2: the result pair IS the input payload struct, which eval
    // yields as a Row, not a Scala tuple
    val ds = DataStream.fromLiterals((1L, 2L), (3L, 4L))
    val out = ds.mapAccumulate[Long, Long](0L)(t => t._2).collectValues
    assert(out == Seq(2L, 4L))
  }

  test("mapValues preserves the key tag") {
    val ds = DataStream.fromLiterals((1L, 2L), (3L, 4L))
    val out = ds.groupBy(t => t._1).mapValues(v => v._2 * 10L)
      .collectValues.map(g => (g.key, g.value)).sortBy(_._1)
    assert(out == Seq((1L, 20L), (3L, 40L)))
  }

  test("mapAccumulate: sequential scan with running state (reference MapAccumulate)") {
    val ds = DataStream.fromLiterals(1L, 2L, 3L, 4L)
    val out = ds.mapAccumulate[Long, (Long, Long)](100L) { t =>
      val ns = t._1 + t._2
      ns &&& (t._2 &&& ns)
    }.collectValues
    assert(out == Seq((1L, 101L), (2L, 103L), (3L, 106L), (4L, 110L)))
  }

  test("mapAccumulateByKey: running-sum shape compiles to a window frame, no coalesce(1)") {
    // A = (key, seq, v); per-key running sum emitted as (key, (seq, running))
    val ds = DataStream.fromLiterals(
      (1L, 1L, 10L), (1L, 2L, 5L), (2L, 1L, 100L), (1L, 3L, 7L), (2L, 2L, 1L))
    val scanned = ds.mapAccumulateByKey(0L)(t => t._1, t => t._2) { t =>
      val ns = t._1 + t._2._3
      ns &&& (t._2._1 &&& (t._2._2 &&& ns))
    }
    val plan = scanned.toDF.queryExecution.executedPlan.toString
    assert(plan.contains("Window"), s"expected a window-frame plan:\n$plan")
    // the Coalesce(1) OPERATOR is the global-scan cliff (the SQL coalesce()
    // null-default function legitimately appears in the frame expressions)
    assert(!plan.contains("Coalesce 1"), s"global-scan cliff leaked into keyed path:\n$plan")
    val out = scanned.collectValues.map(g => (g._1, g._2._1, g._2._2)).sorted
    assert(out == Seq((1L, 1L, 10L), (1L, 2L, 15L), (1L, 3L, 22L), (2L, 1L, 100L), (2L, 2L, 101L)))
  }

  test("mapAccumulateByKey: window rewrite and interpreted fallback agree on NULL increments") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // (key, seq, v) with nulls in v: SQL + propagation must null-poison the
    // state from the first null onward on BOTH paths
    val src = Seq((1L, 1L, Some(10L)), (1L, 2L, None), (1L, 3L, Some(7L)), (2L, 1L, Some(5L)))
      .toDF("k", "s", "v")
    def run(ds: graft.stream.DataStream[(Long, Long)]): Seq[(Long, Option[Long])] =
      ds.toDF.select(col("value._1"), col("value._2"))
        .collect().map(r => (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Long])))
        .sortBy(identity).toSeq
    val base = DataStream.fromDF[(Long, Long, Long)](src)
    // rewritable: s + v → window frame with the null-poison mask
    val viaWindow = run(base.mapAccumulateByKey(0L)(t => t._1, t => t._2) { t =>
      (t._1 + t._2._3) &&& (t._2._2 &&& (t._1 + t._2._3))
    })
    // s*1 + v defeats the rewrite → per-key sequential interpretation
    val viaFallback = run(base.mapAccumulateByKey(0L)(t => t._1, t => t._2) { t =>
      (t._1 * 1L + t._2._3) &&& (t._2._2 &&& (t._1 + t._2._3))
    })
    assert(viaWindow == viaFallback, s"window=$viaWindow fallback=$viaFallback")
    // key 1: 10, then null-poisoned forever; key 2: 5
    assert(viaWindow == Seq((1L, Some(5L)), (1L, Some(10L)), (2L, None), (3L, None)))
  }

  test("mapAccumulateByKey fallback: non-rewritable shape stays distributed and per-key correct") {
    // f = (acc*2 + v, out): multiplication of the accumulator defeats the
    // window rewrite → hash-partitioned per-key sequential path
    val ds = DataStream.fromLiterals(
      (1L, 1L, 3L), (1L, 2L, 4L), (2L, 1L, 5L), (1L, 3L, 1L))
    val scanned = ds.mapAccumulateByKey(1L)(t => t._1, t => t._2) { t =>
      val ns = t._1 * 2L + t._2._3
      ns &&& (t._2._1 &&& (t._2._2 &&& ns))
    }
    val plan = scanned.toDF.queryExecution.executedPlan.toString
    assert(!plan.contains("Coalesce 1"), s"fallback must stay keyed-distributed:\n$plan")
    assert(plan.contains("hashpartitioning"), s"fallback must hash-partition by key:\n$plan")
    val out = scanned.collectValues.map(g => (g._1, g._2._1, g._2._2)).sorted
    // key 1 (z=1): 1*2+3=5, 5*2+4=14, 14*2+1=29; key 2: 1*2+5=7
    assert(out == Seq((1L, 1L, 5L), (1L, 2L, 14L), (1L, 3L, 29L), (2L, 1L, 7L)))
  }

  test("mapAccumulateByKey with Expr.If: next-fit packing matches a sequential reference") {
    // q57's transition: (fill, seq) -> new sequence when the doc overflows
    // the budget. Conditional state defeats the window rewrite by
    // construction; the general path must still match scanLeft per key.
    val budget = 10L
    val docs = Seq( // (id, key, n)
      (1L, 1L, 4L), (2L, 1L, 5L), (3L, 1L, 3L), (4L, 1L, 10L), (5L, 1L, 1L),
      (6L, 2L, 12L), (7L, 2L, 2L))
    val ds = DataStream.fromLiterals(docs: _*)
    val packed = ds.mapAccumulateByKey((0L, 0L))(t => t._2, t => t._1) { t =>
      val fill = t._1._1; val seq = t._1._2; val n = t._2._3
      val newSeq = (fill + n) > budget
      val fill2 = newSeq.ifElse(n, fill + n)
      val seq2 = newSeq.ifElse(seq + 1L, seq)
      val off = newSeq.ifElse[Long](Expr.LitLong(0L), fill)
      (fill2 &&& seq2) &&& (t._2._1 &&& (seq2 &&& off))
    }
    val got = packed.collectValues.map(v => (v._1, v._2._1, v._2._2)).sortBy(_._1)
    // sequential reference per key
    val expected = docs.groupBy(_._2).toSeq.flatMap { case (_, ds0) =>
      ds0.sortBy(_._1).scanLeft((0L, 0L, 0L, 0L, 0L)) { case ((fill, seq, _, _, _), (id, _, n)) =>
        if (fill + n > budget) (n, seq + 1, id, seq + 1, 0L)
        else (fill + n, seq, id, seq, fill)
      }.tail.map(x => (x._3, x._4, x._5))
    }.sortBy(_._1)
    // key 1: 4(s0,o0) 5(s0,o4) 3(s1,o0) 10(s2,o0) 1(s3,o0)? fill=10,1 ->
    //   10+1>10 -> s3. key 2: 12 overflows alone (s1,o0), 2 (s2? 12+2>10 ->
    //   new) — the reference computes it; just assert agreement.
    assert(got == expected, s"got $got\nexpected $expected")
  }

  test("set ops, sort, limit, join") {
    val a = DataStream.fromLiterals(1L, 2L, 3L)
    val b = DataStream.fromLiterals(3L, 4L)
    assert(a.union(b).collectValues.sorted == Seq(1L, 2L, 3L, 3L, 4L))
    assert(a.intersect(b).collectValues == Seq(3L))
    assert(a.except(b).collectValues.sorted == Seq(1L, 2L))
    assert(a.sortBy(x => x, ascending = false).limit(2).collectValues == Seq(3L, 2L))
    val joined = a.join(b)(x => x, y => y).collectValues
    assert(joined == Seq((3L, 3L)))
  }

  test("semi/anti joins are typed DataStream[A]; pair-typed join rejects semi/anti hows") {
    val a = DataStream.fromLiterals(1L, 2L, 3L)
    val b = DataStream.fromLiterals(3L, 4L)
    assert(a.semiJoin(b)(x => x, y => y).collectValues.sorted == Seq(3L))
    assert(a.antiJoin(b)(x => x, y => y).collectValues.sorted == Seq(1L, 2L))
    // a pair result has no right side for semi/anti — must fail loudly at
    // plan build, not with an analysis error about a missing _r column
    Seq("left_semi", "leftsemi", "semi", "left_anti", "leftanti", "anti").foreach { how =>
      val e = intercept[IllegalArgumentException] {
        a.join(b, how = how)(x => x, y => y)
      }
      assert(e.getMessage.contains("semiJoin/antiJoin"), s"how=$how: ${e.getMessage}")
    }
  }
}
