package graft

import graft.operators.{AsOf, Dedup, Sessionize, Similarity}
import graft.functions.{Text, Vectors}

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Operator unit tests: ranking/percentiles, graph, skew, as-of, intervals, layout/sources (split from OperatorsSpec, round 11 — bodies verbatim). */
class OperatorsRankingGraphSpec extends SparkSuite {

  test("as-of join: <= semantics, equal-ts match, and no-match null") {
    import spark.implicits._
    val left = Seq((1L, 10L, 100L), (1L, 20L, 200L), (2L, 5L, 300L))
      .toDF("k", "t", "lv").withColumn("t", timestamp_millis($"t"))
    val right = Seq((1L, 10L, 7L), (1L, 15L, 8L), (2L, 6L, 9L))
      .toDF("k", "t", "rv").withColumn("t", timestamp_millis($"t"))
    val out = AsOf.join(left, right, "k", "t", "t", Seq("rv" -> "rv"))
      .orderBy("lv").collect().map(r => (r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Long])))
    assert(out.toSeq == Seq(
      (100L, Some(7L)),  // equal ts matches (<=)
      (200L, Some(8L)),  // latest at-or-before
      (300L, None)))     // right side only after left ts → null
  }

  test("native as-of join (custom LogicalPlan/Strategy/SparkPlan) matches the compositional form") {
    import spark.implicits._
    val left = Seq((1L, 10L, 100L), (1L, 20L, 200L), (2L, 5L, 300L))
      .toDF("k", "t", "lv").withColumn("t", timestamp_millis($"t"))
    val right = Seq((1L, 10L, 7L), (1L, 15L, 8L), (2L, 6L, 9L))
      .toDF("rk", "rt", "rv")
      .withColumn("rt", timestamp_millis($"rt"))
    val out = graft.operators.AsOf.joinNative(left, right, "k", "rk", "t", "rt")
    // the custom exec must actually be in the plan
    assert(out.queryExecution.executedPlan.toString.contains("AsOfJoin"))
    val rows = out.orderBy("lv").collect()
      .map(r => (r.getLong(2), Option(r.get(5)).map(_.asInstanceOf[Long])))
    assert(rows.toSeq == Seq((100L, Some(7L)), (200L, Some(8L)), (300L, None)))

    // cross-check on real data against the window-function formulation
    val ev = graft.sources.Tables.events(spark, sf0001)
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val clicks = ev.where(col("event_type") === "click")
      .select(col("user_id").as("c_uid"), col("ts").as("c_ts"), col("event_id").as("click_event_id"))
    val native = graft.operators.AsOf.joinNative(purchases, clicks, "user_id", "c_uid", "ts", "c_ts")
      .select(col("event_id"), coalesce(col("click_event_id"), lit(-1L)).as("click"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val composed = graft.operators.AsOf.join(purchases,
        clicks.select(col("c_uid").as("user_id"), col("c_ts").as("ts"), col("click_event_id")),
        "user_id", "ts", "ts", Seq("click_event_id" -> "click_event_id"))
      .select(col("event_id"), coalesce(col("click_event_id"), lit(-1L)).as("click"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(native.toSeq == composed.toSeq)
  }

  test("as-of joins: SQL null semantics — null keys and null timestamps never match (both impls)") {
    import spark.implicits._
    val left = Seq(
      (1L, Some(1L), Some(10L)),  // normal: matches
      (2L, None, Some(10L)),      // null key
      (3L, Some(1L), None))       // null ts
      .toDF("lid", "k", "tms")
      .select(col("lid"), col("k"), timestamp_millis(col("tms")).as("t"))
    val right = Seq(
      (Some(1L), Some(5L), 77L),
      (Option.empty[Long], Some(1L), 88L), // null key on right: matches nothing
      (Some(1L), None, 99L))               // null ts on right: matches nothing
      .toDF("rk", "rtms", "pay")
      .select(col("rk"), timestamp_millis(col("rtms")).as("rt"), col("pay"))

    val native = graft.operators.AsOf.joinNative(left, right, "k", "rk", "t", "rt")
      .select(col("lid"), col("pay")).collect()
      .map(r => (r.getLong(0), Option(r.get(1)))).sortBy(_._1).toSeq
    val composed = graft.operators.AsOf.join(left,
        right.select(col("rk").as("k"), col("rt").as("t"), col("pay")),
        "k", "t", "t", Seq("pay" -> "pay"))
      .select(col("lid"), col("pay")).collect()
      .map(r => (r.getLong(0), Option(r.get(1)))).sortBy(_._1).toSeq
    val expected = Seq((1L, Some(77L)), (2L, None), (3L, None))
    assert(native == expected, s"native: $native")
    assert(composed == expected, s"composed: $composed")
  }

  test("as-of join carries the matched right row wholesale: null payload fields stay null") {
    import spark.implicits._
    // right rows for key 1: ts=5 has (pay1=50, pay2=500); ts=15 — the MOST
    // RECENT for a left ts of 20 — has pay1=NULL. True as-of semantics
    // return that row's NULL, not a pay1 back-filled from the older ts=5 row
    // (per-column last(ignoreNulls) windows would mix the two rows).
    val left = Seq((1L, 20L, 1L)).toDF("k", "tms", "lid")
      .select(col("k"), timestamp_millis(col("tms")).as("t"), col("lid"))
    val right = Seq(
      (1L, 5L, Some(50L), Some(500L)),
      (1L, 15L, Option.empty[Long], Some(900L)))
      .toDF("k", "tms", "pay1", "pay2")
      .select(col("k"), timestamp_millis(col("tms")).as("t"), col("pay1"), col("pay2"))
    val out = AsOf.join(left, right, "k", "t", "t", Seq("pay1" -> "pay1", "pay2" -> "pay2"))
      .select(col("lid"), col("pay1"), col("pay2")).head()
    assert(out.isNullAt(1), s"pay1 must be the matched row's NULL, got ${out.get(1)}")
    assert(out.getLong(2) == 900L)

    // randomized cross-check vs the native operator with ~30% planted nulls
    // in one of two payload columns (the native merge carries whole rows by
    // construction — it is the semantics oracle here)
    val rnd = new scala.util.Random(13)
    val ls = (0 until 300).map(i => (rnd.nextInt(5).toLong, rnd.nextInt(1000).toLong, i.toLong))
    val rs = (0 until 200).map { i =>
      (rnd.nextInt(5).toLong, rnd.nextInt(1000).toLong,
        if (rnd.nextInt(10) < 3) Option.empty[Long] else Some(i.toLong), i.toLong)
    }
    val lf = ls.toDF("k", "tms", "lid")
      .select(col("k"), timestamp_millis(col("tms")).as("t"), col("lid"))
    val rf = rs.toDF("k", "tms", "p1", "p2")
      .select(col("k"), timestamp_millis(col("tms")).as("rt"), col("p1"), col("p2"))
    val composed = AsOf.join(lf, rf.withColumnRenamed("rt", "t"), "k", "t", "t",
        Seq("p1" -> "p1", "p2" -> "p2"))
      .select(col("lid"), col("p1"), col("p2")).collect()
      .map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2)))).sortBy(_._1).toSeq
    val native = AsOf.joinNative(lf, rf.withColumnRenamed("k", "rk"), "k", "rk", "t", "rt")
      .select(col("lid"), col("p1"), col("p2")).collect()
      .map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2)))).sortBy(_._1).toSeq
    assert(composed == native)
  }

  test("salted join equals plain join (skewed key spread across salts)") {
    import spark.implicits._
    // 90% of the big side lands on one hot key
    val big = (0 until 1000).map(i => (if (i % 10 == 0) i.toLong % 7 else 0L, i.toLong)).toDF("k", "v")
    val small = Seq((0L, "hot"), (1L, "a"), (3L, "b"), (99L, "unmatched")).toDF("k", "name")
    val plain = big.join(small, Seq("k")).select("k", "v", "name")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted
    val salted = graft.operators.Skew.saltedJoin(big, small, "k", salts = 8)
      .select("k", "v", "name")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted
    assert(salted.toSeq == plain.toSeq && plain.nonEmpty)
  }

  test("salting measurably rebalances a planted hot key: max shuffle cell ~ hot/salts") {
    import spark.implicits._
    val salts = 32
    // q54's shape: 70% of rows collapse onto one hot key
    val big = (0 until 20000).map(i => (if (i % 10 < 7) 1L else i.toLong, i.toLong))
      .toDF("k", "v").repartition(8)
    val hot = big.where($"k" === 1L).count()
    // unsalted, the hot key IS one shuffle cell of `hot` rows; salted, the
    // row-uniform salt splits it into ~equal 1/salts shares
    val cells = big.withColumn("_salt", graft.operators.Skew.saltCol(salts))
      .groupBy("k", "_salt").count()
      .agg(max("count")).head().getLong(0)
    assert(hot >= 14000, s"skew plant broken: hot=$hot")
    assert(cells <= hot / salts * 2,
      s"max (key,salt) cell $cells should be ~${hot / salts} (hot=$hot, salts=$salts)")
  }

  test("native functions usable from SQL after registration") {
    // GraftExtensions, installed by graft.Session at build, injects all 8
    // SQL names and the as-of strategy; no spec registers anything itself
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    Seq("graft_dot", "graft_shingles", "graft_topk", "graft_l2normalize",
      "graft_java_split", "graft_bloom_positions", "graft_bloom_contains",
      "graft_bloom_count").foreach { name =>
      assert(spark.sessionState.functionRegistry.functionExists(FunctionIdentifier(name)),
        s"$name is not registered on the shared session")
    }
    // the DataFrame API's idempotent install of the as-of strategy
    graft.plans.AsOfJoinStrategy.setup(spark)
    graft.plans.AsOfJoinStrategy.setup(spark)
    assert(spark.experimental.extraStrategies.count(_ == graft.plans.AsOfJoinStrategy) == 1)
    val d = spark.sql("SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d").head().getDouble(0)
    assert(d == 11.0)
    val sh = spark.sql("SELECT graft_shingles('The quick  Brown fox', 2) AS s").head().getSeq[String](0)
    assert(sh == Seq("the quick", "quick brown", "brown fox"))
  }

  test("csv, json, and orc round-trip through Tables sources") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("lang"), col("n_chars")).limit(50)
    val base = java.nio.file.Files.createTempDirectory("graft-src").toString
    docs.write.mode("overwrite").option("header", "true").csv(s"$base/csv")
    docs.write.mode("overwrite").json(s"$base/json")
    docs.write.mode("overwrite").orc(s"$base/orc")
    val fromCsv = graft.sources.Tables.csv(spark, s"$base/csv", Some("doc_id BIGINT, lang STRING, n_chars BIGINT"))
    val fromJson = graft.sources.Tables.json(spark, s"$base/json")
    val fromOrc = graft.sources.Tables.orc(spark, s"$base/orc")
    assert(fromCsv.count() == 50 && fromJson.count() == 50 && fromOrc.count() == 50)
    val want = docs.agg(sum(col("n_chars"))).head().getLong(0)
    assert(fromCsv.agg(sum(col("n_chars"))).head().getLong(0) == want)
    assert(fromOrc.agg(sum(col("n_chars"))).head().getLong(0) == want)
    // ORC scans take pushdown like parquet
    val plan = fromOrc.where(col("doc_id") === 7).queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("doc_id"), plan)
  }

  test("Tables.events: µs NTZ, instant and raw BIGINT-ns ts all read as the same UTC instants") {
    import spark.implicits._
    val micros = Seq(1700000000123456L, 1700003600000001L)
    val base = micros.zipWithIndex.map { case (us, i) =>
      (i.toLong, us, 7L, "view", 1.5, "{}") }
      .toDF("event_id", "_us", "user_id", "event_type", "value", "props")
    def cols(ts: org.apache.spark.sql.Column) = base.select(col("event_id"), ts.as("ts"),
      col("user_id"), col("event_type"), col("value"), col("props"))
    val root = java.nio.file.Files.createTempDirectory("graft-events").toString
    val layouts = Seq(
      "ntz" -> cols(timestamp_micros(col("_us")).cast("timestamp_ntz")),
      "instant" -> cols(timestamp_micros(col("_us"))),
      "raw_ns" -> cols(col("_us") * 1000L))
    for ((name, df) <- layouts) {
      df.write.parquet(s"$root/$name/events.parquet")
      val read = graft.sources.Tables.events(spark, s"$root/$name")
      assert(read.schema("ts").dataType == org.apache.spark.sql.types.TimestampType, name)
      val got = read.orderBy(col("event_id")).select(unix_micros(col("ts")))
        .collect().map(_.getLong(0)).toSeq
      assert(got == micros, s"$name: $got")
    }
  }

  test("zOrderKey: hand-computed Morton interleave, bit i of col k at i*d+k") {
    import spark.implicits._
    val out = Seq((3L, 1L), (5L, 9L), (0L, 0L), (255L, 255L))
      .toDF("x", "y")
      .select(graft.sources.Layout.zOrderKey(21, col("x"), col("y")).as("z"))
      .collect().map(_.getLong(0))
    // (3,1): x bits 0,1 -> z0,z2 = 5; y bit 0 -> z1 = 2          => 7
    // (5,9): x bits 0,2 -> z0,z4 = 17; y bits 0,3 -> z1,z7 = 130 => 147
    // (255,255): all 16 low bits set                             => 65535
    assert(out.toSeq == Seq(7L, 147L, 0L, 65535L))
  }

  test("globalRank: exact permutation, bucket-width invariant, negative values") {
    import spark.implicits._
    val rows = Seq((1L, -17L), (2L, 5L), (3L, -17L), (4L, 0L), (5L, 42L),
      (6L, -3L), (7L, 5L)).toDF("id", "v")
    // expected: sort by (v, id): (-17,1) (-17,3) (-3,6) (0,4) (5,2) (5,7) (42,5)
    val expected = Map(1L -> 1L, 3L -> 2L, 6L -> 3L, 4L -> 4L, 2L -> 5L, 7L -> 6L, 5L -> 7L)
    for (w <- Seq(3L, 10L, 1000L)) { // widths spanning many/few/one bucket
      val got = graft.operators.Ranking.globalRank(rows, "v", w, "id")
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      assert(got == expected, s"bucketWidth=$w")
    }
    val reparted = graft.operators.Ranking.globalRank(rows.repartition(7), "v", 3L, "id")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(reparted == expected)
  }

  test("triangleCount: counts exact triangles; dupes/reversals/self-loops canonicalized") {
    import spark.implicits._
    // K4 on {1,2,3,4} (4 triangles) + pendant 5-1 + noise: duplicate,
    // reversed, and self-loop edges
    val edges = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (5L, 1L),
      (2L, 1L), (1L, 2L), (3L, 3L)
    ).toDF("src", "dst")
    val out = graft.operators.Graph.triangleCount(edges, "src", "dst")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq((5L, 7L, 4L)))
  }

  test("triangleCount: triangle-free bipartite graph counts zero") {
    import spark.implicits._
    val edges = Seq((1L, 10L), (1L, 11L), (2L, 10L), (2L, 11L)).toDF("src", "dst")
    val out = graft.operators.Graph.triangleCount(edges, "src", "dst")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq((4L, 4L, 0L)))
  }

  test("triangleIncrement: shuffled degree join past the row budget == broadcast path") {
    import spark.implicits._
    // old triangle 1-2-3; fresh edges close 1-2-4, 1-3-4, 2-3-4, plus a
    // pendant 4-5 and a re-delivered old edge (a no-op)
    val old = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("src", "dst")
    val fresh = Seq((4L, 1L), (2L, 4L), (3L, 4L), (4L, 5L), (2L, 1L)).toDF("src", "dst")
    def run(): Seq[(Long, Long, Long)] = graft.operators.Graph
      .triangleIncrement(old, fresh, "src", "dst")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val base = run()
    assert(base == Seq((3L, 4L, 3L)))
    assert(graft.operators.Broadcast.withRowBudget(0L)(run()) == base)
  }

  test("groupedQuantiles: type-1 rank selection per group, no single-partition window") {
    import spark.implicits._
    import graft.operators.Ranking
    val rows = ((1L to 10L).map(v => ("a", v, v)) :+ (("b", 42L, 99L)))
      .toDF("g", "v", "id")
    val q = Ranking.groupedQuantiles(rows, "g", "v",
      subBucket = expr("(v - pmod(v, 4L)) DIV 4L"), idCol = "id",
      ps = Seq(0.25, 0.5, 1.0))
    val got = q.collect().map(r => ((r.getString(0), r.getDouble(1)), r.getLong(2))).toMap
    // ceil(p·10): 3, 5, 10 — actual elements, no interpolation
    assert(got(("a", 0.25)) == 3L && got(("a", 0.5)) == 5L && got(("a", 1.0)) == 10L)
    // singleton group: every quantile IS the one element
    assert(got(("b", 0.25)) == 42L && got(("b", 1.0)) == 42L)
    assert(!q.queryExecution.executedPlan.toString.contains("SinglePartition"),
      "grouped quantiles must not serialize through one window task")
  }

  test("globalRankBy three-level: identical permutation, only #supers rows pay a global window") {
    import spark.implicits._
    import graft.operators.Ranking
    val rows = (1L to 5000L).map(i => ((i * 2654435761L) % 100000, i)).toDF("v", "id")
    val bucket = expr("(v - pmod(v, 500L)) DIV 500L") // 200 buckets
    val two = Ranking.globalRankBy(rows, bucket, col("v"), col("id"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    // third level (supers of 16 buckets): the plan changes, the permutation
    // must not — byte-for-byte equal ranks
    val three = Ranking.globalRankBy(rows, bucket, Some(16L), col("v"), col("id"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(three.sameElements(two))
    // degenerate widths collapse gracefully: w=1 (one bucket per super)
    val w1 = Ranking.globalRankBy(rows, bucket, Some(1L), col("v"), col("id"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(w1.sameElements(two))
  }

  test("globalRankBy: string-keyed rank is the exact global sort order, repartition-stable") {
    import spark.implicits._
    val df = Seq(("delta", 1L), ("alpha", 2L), ("alpha", 3L), ("charlie", 4L),
      ("bravo", 5L)).toDF("name", "id")
    def rankIt(d: org.apache.spark.sql.DataFrame) =
      graft.operators.Ranking.globalRankBy(d,
          substring(col("name"), 1, 1), col("name"), col("id"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val got = rankIt(df).sortBy(_._3)
    // ties on the key fall back to the id tiebreak; ranks are 1..n
    assert(got.map(x => (x._1, x._2)).toSeq ==
      Seq(("alpha", 2L), ("alpha", 3L), ("bravo", 5L), ("charlie", 4L), ("delta", 1L)))
    assert(got.map(_._3).toSeq == (1L to 5L))
    assert(rankIt(df.repartition(7)).sortBy(_._3).toSeq == got.toSeq)
  }

  test("kCore: unique fixpoint on a hand graph, canonicalization, empty core, loud non-convergence") {
    import spark.implicits._
    // K4 on {1,2,3,4} + pendant path 4-5-6; dupes/reversals/self-loops mixed in
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (5L, 6L), (2L, 1L), (5L, 5L), (6L, 5L)).toDF("src", "dst")
    val core3 = graft.operators.Graph.kCore(edges, "src", "dst", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(core3.toSeq == Seq((1L, 3L), (2L, 3L), (3L, 3L), (4L, 3L)))
    assert(graft.operators.Graph.kCore(edges, "src", "dst", k = 4).count() == 0)
    // k=2 needs two peel rounds (6 first, then 5) + the confirming round;
    // a 2-round budget must fail LOUDLY, not return a partial answer
    val e = intercept[IllegalArgumentException] {
      graft.operators.Graph.kCore(edges, "src", "dst", k = 2, maxRounds = 2)
    }
    assert(e.getMessage.contains("fixpoint"))
    val core2 = graft.operators.Graph.kCore(edges, "src", "dst", k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(core2.toSeq == Seq((1L, 3L), (2L, 3L), (3L, 3L), (4L, 3L)))
  }

  test("globalQuantiles: rank-selected elements match the sorted list, bucket-partitioned windows") {
    import spark.implicits._
    val df = scala.util.Random.shuffle((1L to 100L).toList)
      .map(v => (v, v + 1000L)).toDF("v", "id")
    val out = graft.operators.Ranking.globalQuantiles(
      df, "v", expr("v DIV 10"), "id", Seq(0.01, 0.5, 0.75, 1.0))
    val got = out.collect().map(r => (r.getDouble(0), r.getLong(1))).sortBy(_._1)
    // type-1: the element at rank ceil(p*100)
    assert(got.toSeq == Seq((0.01, 1L), (0.5, 50L), (0.75, 75L), (1.0, 100L)))
    // the ranking rides globalRankBy: data windows partition by bucket
    val plan = out.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    val dataWindows = plan.linesIterator
      .filter(l => l.contains("Window") && l.contains("row_number")).toSeq
    assert(dataWindows.nonEmpty && dataWindows.forall(_.contains("_bkt")),
      s"ranking windows must be bucket-partitioned:\n${dataWindows.mkString("\n")}")
  }

  test("groupedRank: exact within-group ranks, zero single-partition exchanges") {
    import spark.implicits._
    val df = (1L to 200L).map(i => (s"g${i % 3}", i)).toDF("grp", "id")
    // sub-bucket = range of the sort key (monotone within every group)
    val out = graft.operators.Ranking.groupedRank(df, col("grp"),
      expr("id DIV 25"), col("id"))
    val got = out.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val expected = (1L to 200L).groupBy(i => s"g${i % 3}")
      .flatMap { case (g, ids) =>
        ids.toSeq.sorted.zipWithIndex.map { case (id, i) => (g, id, i + 1L) } }
      .toSet
    assert(got.toSet == expected)
    // unlike globalRankBy, even the offset frame partitions by group:
    // NOTHING in the plan may collapse to one partition
    val plan = out.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(!plan.contains("Exchange SinglePartition"),
      s"groupedRank must have no single-partition exchange:\n$plan")
  }

  test("labelPropagation: bridged triangles stay separate communities, no oscillation, no window") {
    import spark.implicits._
    // two triangles joined by ONE weak bridge (3-4): connected components
    // would merge everything to label 1; LPA keeps two communities
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L), (5L, 6L),
      (3L, 4L)).toDF("src", "dst")
    val out = graft.operators.Graph.labelPropagation(edges, "src", "dst", rounds = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(out.toSeq == Seq((1L, 1L), (2L, 1L), (3L, 1L),
      (4L, 4L), (5L, 4L), (6L, 4L)))
    // the self-vote damps the bipartite oscillation: a single edge is
    // stable at the smaller label under an EVEN and an ODD round count
    val pair = Seq((1L, 2L)).toDF("src", "dst")
    for (r <- Seq(3, 4)) {
      val got = graft.operators.Graph.labelPropagation(pair, "src", "dst", rounds = r)
        .collect().map(r2 => (r2.getLong(0), r2.getLong(1))).toSet
      assert(got == Set((1L, 1L), (2L, 1L)), s"rounds=$r gave $got")
    }
    // WEIGHTED votes: the same bridged triangles, but the bridge carries
    // weight 10 — the heavy tie binds {3,4} into their own community
    // (stronger than either node's triangle), fragmenting both triangles
    // to their remaining members: weights change the partition, the rule
    // stays deterministic and STABLE (the max-incident self-vote stops
    // the heavy pair from swapping labels forever)
    val wEdges = Seq((1L, 2L, 1L), (1L, 3L, 1L), (2L, 3L, 1L), (4L, 5L, 1L),
      (4L, 6L, 1L), (5L, 6L, 1L), (3L, 4L, 10L)).toDF("src", "dst", "w")
    def wRun(rounds: Int): Seq[Long] = graft.operators.Graph.labelPropagation(
        wEdges, "src", "dst", rounds = rounds, weightCol = Some("w"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).map(_._2).toSeq
    assert(wRun(4) == Seq(1L, 1L, 3L, 3L, 4L, 4L), s"got ${wRun(4)}")
    // stability under odd AND even round counts — no period-2 flip
    assert(wRun(3) == wRun(4))
    // duplicate UNWEIGHTED edges still dedup (a repeat must not
    // double-vote): same result as the clean edge list
    val dupEdges = edges.unionAll(edges)
    val dupOut = graft.operators.Graph.labelPropagation(dupEdges, "src", "dst", rounds = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(dupOut.toSeq == out.toSeq)
    // plan: the argmax is a partial-aggregable max_by, never a per-node
    // sort/window
    val lp = graft.operators.Lineage.uncut(graft.operators.Graph.labelPropagation(edges, "src", "dst",
      rounds = 2))
    lp.collect()
    val plan = lp.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(plan.toLowerCase.contains("partial_max_by"),
      s"label argmax must partial-aggregate:\n$plan")
    assert(!plan.contains("WindowExec"),
      s"label argmax must not sort votes through a window:\n$plan")
  }

  test("coreNumbers: h-index iteration converges to core numbers; canonicalization; histogram frames") {
    import spark.implicits._
    // K4 on {1,2,3,4} + pendant path 4-5-6; dupes/reversals/self-loops mixed in
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (5L, 6L), (2L, 1L), (5L, 5L), (6L, 5L)).toDF("src", "dst")
    val out = graft.operators.Graph.coreNumbers(edges, "src", "dst", rounds = 6)
    val got = out.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    // K4 members embed at depth 3; the pendant path is 1-core only
    assert(got.toSeq == Seq((1L, 3L), (2L, 3L), (3L, 3L), (4L, 3L), (5L, 1L), (6L, 1L)))
    // converged: one more round changes nothing (fixpoint = core numbers)
    val more = graft.operators.Graph.coreNumbers(edges, "src", "dst", rounds = 7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(more.toSeq == got.toSeq)
    // the H-index is computed from the per-node value HISTOGRAM: the
    // per-edge rows collapse through a partial-aggregable groupBy before
    // any window, so the plan carries a partial_count for it and never a
    // single-partition sort (read inside Lineage.uncut — the shipped cut
    // truncates the visible plan to a Scan ExistingRDD)
    def planOf(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    val plan = planOf(graft.operators.Lineage.uncut(
      graft.operators.Graph.coreNumbers(edges, "src", "dst", rounds = 2)))
    assert(!plan.contains("SinglePartition"), s"unexpected SinglePartition:\n$plan")
    assert(plan.contains("partial_count") || plan.contains("partial count"),
      s"histogram counts must partial-aggregate map-side:\n$plan")
    assert(!plan.contains("Scan ExistingRDD"), s"uncut plan must not be cut:\n$plan")
    // both sides of the hook: outside it the shipped path cuts the edge
    // table, and an exception thrown inside it still restores the cut
    val cutPlan = planOf(graft.operators.Graph.coreNumbers(edges, "src", "dst", rounds = 2))
    assert(cutPlan.contains("Scan ExistingRDD"), s"shipped plan must be cut:\n$cutPlan")
    intercept[IllegalStateException](graft.operators.Lineage.uncut[Unit](
      throw new IllegalStateException("inside uncut")))
    assert(graft.operators.Lineage.cutting)
    val afterPlan = planOf(graft.operators.Graph.coreNumbers(edges, "src", "dst", rounds = 2))
    assert(afterPlan.contains("Scan ExistingRDD"), s"cut not restored:\n$afterPlan")
  }

  test("coreNumbers agrees with kCore on every k-slice of a deterministic graph") {
    import spark.implicits._
    // pseudo-random but deterministic: two out-edges per node over 40 nodes
    val edges = (0L until 40L).flatMap(i =>
      Seq((i, (i * 7 + 3) % 40), (i, (i * 13 + 5) % 40))).toDF("src", "dst")
    val cn = graft.operators.Graph.coreNumbers(edges, "src", "dst", rounds = 12)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val stable = graft.operators.Graph.coreNumbers(edges, "src", "dst", rounds = 13)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cn == stable, "h-index iteration must have converged at 12 rounds")
    val maxCore = cn.values.max
    (1L to maxCore).foreach { k =>
      val slice = graft.operators.Graph.kCore(edges, "src", "dst", k = k.toInt)
        .collect().map(_.getLong(0)).toSet
      assert(cn.filter(_._2 >= k).keySet == slice,
        s"core>=$k slice disagrees with kCore($k)")
    }
  }

  test("equiDepthBins: bin-for-bin parity with ntile, bucket-partitioned windows") {
    import spark.implicits._
    val df = scala.util.Random.shuffle((1L to 103L).toList)
      .map(v => (v * 3 % 97, v)).toDF("v", "id") // duplicate values, unique ids
    val out = graft.operators.Ranking.equiDepthBins(
      df, expr("v DIV 10"), 5, col("v"), col("id"))
    // oracle twin inside Spark: the SQL-standard ntile over the same order
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("v"), col("id"))
    val expected = df.withColumn("bin_exp", ntile(5).over(w).cast("long"))
    val joined = out.join(expected, Seq("v", "id"))
    assert(joined.where(col("bin") =!= col("bin_exp")).count() == 0)
    // 103 rows into 5 bins: 21,21,21,20,20 — larger bins first
    val sizes = out.groupBy("bin").count().orderBy("bin")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(sizes == Seq((1L, 21L), (2L, 21L), (3L, 21L), (4L, 20L), (5L, 20L)))
    // more bins than rows: every row its own bin, bins 1..N
    val tiny = Seq((5L, 1L), (3L, 2L), (9L, 3L)).toDF("v", "id")
    val tb = graft.operators.Ranking.equiDepthBins(
        tiny, expr("v"), 10, col("v"), col("id"))
      .collect().map(r => (r.getAs[Long]("v"), r.getAs[Long]("bin"))).sortBy(_._2)
    assert(tb.toSeq == Seq((3L, 1L), (5L, 2L), (9L, 3L)))
    // the ranking window partitions by bucket (no global sort anywhere)
    val plan = out.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    val dataWindows = plan.linesIterator
      .filter(l => l.contains("Window") && l.contains("row_number")).toSeq
    assert(dataWindows.nonEmpty && dataWindows.forall(_.contains("_bkt")),
      s"ranking windows must be bucket-partitioned:\n${dataWindows.mkString("\n")}")
  }

  test("groupedPercentRank: exact percent_rank per group incl. singleton-zero, no group serialization") {
    import spark.implicits._
    // group sizes 1, 4, 7 with duplicate values inside groups
    val df = (Seq(("s", 9L, 1L)) ++
      (1L to 4L).map(i => ("m", i % 2, i + 10L)) ++
      (1L to 7L).map(i => ("l", i % 3, i + 20L))).toDF("grp", "v", "id")
    val out = graft.operators.Ranking.groupedPercentRank(
      df, "grp", expr("v"), col("v"), col("id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("grp")).orderBy(col("v"), col("id"))
    val expected = df.withColumn("exp", percent_rank().over(w))
    val joined = out.join(expected, Seq("grp", "v", "id"))
    assert(joined.where(col("pct_rank") =!= col("exp")).count() == 0)
    assert(joined.where(col("grp") === "s").head().getAs[Double]("pct_rank") == 0.0)
    // the data windows partition by (group, sub-bucket) — never one task
    // per whole group, never a global sort
    val plan = out.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    val dataWindows = plan.linesIterator
      .filter(l => l.contains("Window") && l.contains("row_number")).toSeq
    assert(dataWindows.nonEmpty && dataWindows.forall(l => l.contains("_grp") && l.contains("_sb")),
      s"ranking windows must be (group, sub-bucket)-partitioned:\n${dataWindows.mkString("\n")}")
  }

  test("writeSortedRange: disjoint range dirs, rows sorted inside, deterministic boundaries") {
    import spark.implicits._
    import graft.sources.Tables
    val rows = (1L to 400L).map(i => ((i * 37) % 400, i)).toDF("v", "id")
    val path = java.nio.file.Files.createTempDirectory("sorted_export").toString
    Tables.writeSortedRange(rows, path,
      expr("(v - pmod(v, 100L)) DIV 100L"), col("v"), col("id"))
    val dirs = new java.io.File(path).listFiles()
      .filter(_.getName.startsWith("range=")).sortBy(_.getName)
    assert(dirs.length == 4)
    // each range directory holds ONE task's output, already in (v, id)
    // order on disk — a single-file single-partition read preserves it
    val perRange = dirs.map { d =>
      val vs = spark.read.parquet(d.toString).select("v", "id")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(vs.sameElements(vs.sortBy(identity)),
        s"${d.getName} not sorted on disk")
      (vs.head._1, vs.last._1, vs.length)
    }
    // ranges tile [0, 400) disjointly: global order = dir order
    val sorted = perRange.sortBy(_._1)
    sorted.sliding(2).foreach { case Array(a, b) => assert(a._2 < b._1) }
    assert(perRange.map(_._3).sum == 400)
    // boundaries are value-derived, not sampled: a rerun is byte-stable
    val again = java.nio.file.Files.createTempDirectory("sorted_export2").toString
    Tables.writeSortedRange(rows.repartition(7), again,
      expr("(v - pmod(v, 100L)) DIV 100L"), col("v"), col("id"))
    val names2 = new java.io.File(again).listFiles()
      .filter(_.getName.startsWith("range=")).map(_.getName).sorted
    assert(names2.sameElements(dirs.map(_.getName)))
  }

  test("groupedQuantilesRational: integer rank selection immune to double-ceil overshoot") {
    import spark.implicits._
    import graft.operators.Ranking
    val rows = (1L to 100L).map(v => ("a", v, v)).toDF("g", "v", "id")
    val sub = expr("(v - pmod(v, 25L)) DIV 25L")
    // 0.07 of 100: the double path computes 0.07*100 = 7.000000000000001
    // and ceils to rank 8 — the documented float-ceil convention
    val viaDouble = Ranking.groupedQuantiles(rows, "g", "v", sub, "id", Seq(0.07))
      .collect().map(_.getLong(2))
    assert(viaDouble.toSeq == Seq(8L), "double form documents the ceil overshoot")
    // the rational form selects by (r-1)*den < num*n <= r*den: rank 7,
    // the true type-1 element at ceil(7/100 * 100) = 7
    val q = Ranking.groupedQuantilesRational(rows, "g", "v", sub, "id",
      Seq((7L, 100L), (1L, 2L), (1L, 1L)))
    val got = q.collect().map(r => r.getDouble(1) -> r.getLong(2)).toMap
    assert(got(0.07) == 7L && got(0.5) == 50L && got(1.0) == 100L)
    assert(!q.queryExecution.executedPlan.toString.contains("SinglePartition"),
      "rational quantiles must keep the grouped-rank plan shape")
  }

  test("reciprocalRankFusion: exact quantized fusion, absent ids contribute nothing") {
    import spark.implicits._
    import graft.operators.Ranking
    val a = Seq((1L, 1L), (2L, 2L), (3L, 3L)).toDF("id", "rank")
    val b = Seq((3L, 1L), (2L, 2L), (4L, 3L)).toDF("id", "rank")
    val got = Ranking.reciprocalRankFusion(Seq(a, b), "id", "rank")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // round(1e6/61)=16393, /62=16129, /63=15873
    assert(got(1L) == (16393L, 1L))
    assert(got(2L) == (32258L, 2L))
    assert(got(3L) == (16393L + 15873L, 2L))
    assert(got(4L) == (15873L, 1L))
    // the shared-id fusion outranks the single-system leader
    assert(got(3L)._1 > got(1L)._1 && got(2L)._1 > got(1L)._1)
  }

  test("trimmedStats: integer trim cut per group, small groups keep everything") {
    import spark.implicits._
    import graft.operators.Ranking
    val df = ((1L to 10L).map(v => ("big", v, v)) ++
      Seq(("small", 100L, 11L), ("small", 1L, 12L), ("small", 50L, 13L)))
      .toDF("g", "v", "id")
    val out = Ranking.trimmedStats(df, "g", "v",
        subBucket = expr("v DIV 4"), idCol = "id", trimNum = 1L, trimDen = 10L)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getDouble(6))).toMap
    // big: n=10, t=1 -> keep ranks 2..9 = values 2..9
    assert(out("big") == (10L, 8L, 44L, 2L, 9L, 5.5))
    // small: n=3, t=0 -> untouched
    assert(out("small") == (3L, 3L, 151L, 1L, 100L, 151.0 / 3.0))
  }

  test("hitsInt: hand-computed two-round max-normalized scores; zero-degree sides at exact 0") {
    import spark.implicits._
    import graft.operators.Graph
    // 1→3, 2→3, 2→4, 3→4 at scale 100:
    // r1: rawAuth {3:200, 4:200} → auth {3:100, 4:100};
    //     rawHub {1:100, 2:200, 3:100} → hub {1:50, 2:100, 3:50}
    // r2: rawAuth {3:150, 4:150} → auth {3:100, 4:100}; hubs repeat
    val edges = Seq((1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L)).toDF("s", "d")
    val out = Graph.hitsInt(edges, "s", "d", iterations = 2, scale = 100L)
      .orderBy(col("node")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq((1L, 50L, 0L), (2L, 100L, 0L),
      (3L, 50L, 100L), (4L, 0L, 100L)))
    // duplicate edges must not double-count (distinct contract)
    val dup = Graph.hitsInt(edges.union(edges), "s", "d", iterations = 2,
        scale = 100L)
      .orderBy(col("node")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(dup.toSeq == out.toSeq)
  }

  test("bfsDistances: min-hop distances, unreachable absent, maxHops bounds the ring") {
    import spark.implicits._
    import graft.operators.Graph
    // path 1→2→3→4, shortcut 1→3, island 5→6
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 3L), (5L, 6L))
      .toDF("s", "d")
    val seeds = Seq(Tuple1(1L)).toDF("node")
    val out = Graph.bfsDistances(edges, "s", "d", seeds, maxHops = 2)
      .orderBy(col("node")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // shortcut wins: dist(3) = 1, so dist(4) = 2; island 5/6 absent
    assert(out.toSeq == Seq((1L, 0L), (2L, 1L), (3L, 1L), (4L, 2L)))
    // maxHops = 0 returns exactly the seed set
    val only = Graph.bfsDistances(edges, "s", "d", seeds, maxHops = 0).collect()
    assert(only.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 0L)))
    // multi-source: min over seeds
    val two = Graph.bfsDistances(edges, "s", "d",
        Seq(Tuple1(1L), Tuple1(3L)).toDF("node"), maxHops = 2)
      .orderBy(col("node")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(two.toSeq == Seq((1L, 0L), (2L, 1L), (3L, 0L), (4L, 1L)))
  }

  test("weightedQuantilesPerGroup: lower weighted quantile over the value histogram") {
    import spark.implicits._
    import graft.operators.Ranking
    // A: (1,w1) (2,w3) (3,w1), W=5: median = 2 (cum 4·2 >= 5), p90 = 3
    // B: all weight on 7: every quantile = 7
    val df = Seq(("A", 1L, 1L), ("A", 2L, 2L), ("A", 2L, 1L), ("A", 3L, 1L),
      ("B", 7L, 4L), ("B", 5L, 0L)).toDF("g", "v", "w")
    val out = Ranking.weightedQuantilesPerGroup(df, "g", "v", "w",
        subBucket = expr("v DIV 2"), ps = Seq((1L, 2L), (9L, 10L)))
      .orderBy(col("g"), col("p")).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
    assert(out.toSeq == Seq(("A", 0.5, 2L), ("A", 0.9, 3L),
      ("B", 0.5, 7L), ("B", 0.9, 7L)))
    // bucketing must not change the answer (two-level ≡ one-level)
    val coarse = Ranking.weightedQuantilesPerGroup(df, "g", "v", "w",
        subBucket = lit(0L), ps = Seq((1L, 2L), (9L, 10L)))
      .orderBy(col("g"), col("p")).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
    assert(coarse.toSeq == out.toSeq)
    // negative weights are refused loudly, not silently mis-selected
    val bad = Seq(("A", 1L, -1L)).toDF("g", "v", "w")
    assertThrows[Exception] {
      Ranking.weightedQuantilesPerGroup(bad, "g", "v", "w", lit(0L),
        Seq((1L, 2L))).collect()
    }
  }

  test("Graph.ssspInt: weighted relaxation beats direct edge; rounds bound path length") {
    import spark.implicits._
    val edges = Seq((1L, 2L, 5L), (2L, 3L, 1L), (1L, 3L, 10L), (3L, 4L, 2L))
      .toDF("src", "dst", "w")
    val seeds = Seq(1L).toDF("node")
    def dists(rounds: Int): Map[Long, Long] =
      graft.operators.Graph.ssspInt(edges, "src", "dst", "w", seeds, rounds)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dists(1) == Map(1L -> 0L, 2L -> 5L, 3L -> 10L))         // direct only
    assert(dists(2) == Map(1L -> 0L, 2L -> 5L, 3L -> 6L, 4L -> 12L)) // 1-2-3 relaxes
    assert(dists(3)(4L) == 8L)                                      // 1-2-3-4
    // negative weight refused in-plan
    val neg = Seq((1L, 2L, -1L)).toDF("src", "dst", "w")
    intercept[Exception] {
      graft.operators.Graph.ssspInt(neg, "src", "dst", "w", seeds, 1).collect()
    }
  }

  test("Intervals.overlapCounts: closed endpoints, zero-overlap rows kept") {
    import spark.implicits._
    val a = Seq((1L, 0L, 10L), (2L, 20L, 30L), (3L, 100L, 110L))
      .toDF("id", "s", "e")
    val b = Seq((5L, 15L), (10L, 12L), (28L, 28L), (40L, 50L), (110L, 120L))
      .toDF("s", "e")
    val out = graft.operators.Intervals.overlapCounts(
        a, "id", "s", "e", b, "s", "e", v => shiftright(v, 4))
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(out == Map(1L -> 2L, 2L -> 1L, 3L -> 1L)) // [100,110] touches [110,120]
    // disjoint B: count 0, row still present
    val far = Seq((500L, 600L)).toDF("s", "e")
    val z = graft.operators.Intervals.overlapCounts(
        a, "id", "s", "e", far, "s", "e", v => shiftright(v, 4))
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(z == Map(1L -> 0L, 2L -> 0L, 3L -> 0L))
    // inverted interval: refused in-plan, not silently undercounted
    val bad = Seq((9L, 30L, 20L)).toDF("id", "s", "e")
    intercept[Exception] {
      graft.operators.Intervals.overlapCounts(
        bad, "id", "s", "e", far, "s", "e", v => shiftright(v, 4)).collect()
    }
  }

  test("conformalThreshold: hand rank arithmetic, finite-sample +1, infeasible group NULL, tie insensitivity") {
    import spark.implicits._
    import graft.operators.Ranking

    // group g1: n=19 scores 1..19, alpha=1/10 -> k = ceil(20*9/10) = 18
    // group g2: n=4 -> k = ceil(5*9/10) = 5 > 4 -> NULL threshold
    // group g3: n=10 with heavy ties -> k = ceil(11*9/10) = 10
    val rows =
      (1L to 19L).map(v => ("g1", v * 100, v)) ++
      (1L to 4L).map(v => ("g2", v + 1000, v)) ++
      (1L to 10L).map(v => ("g3", v + 2000, if (v <= 8) 5L else 9L))
    val got = Ranking.conformalThreshold(
      rows.toDF("g", "id", "v"), "g", "v",
      subBucket = expr("v DIV 4"), idCol = "id",
      alphaNum = 1L, alphaDen = 10L)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), if (r.isNullAt(3)) -1L else r.getLong(3))).toMap
    assert(got("g1") == ((19L, 18L, 18L)))
    assert(got("g2") == ((4L, 5L, -1L)), "k > n must report NULL, not clamp")
    assert(got("g3") == ((10L, 10L, 9L)))
    // alpha = 1/2 on n=3: k = ceil(4*1/2) = 2 -> the middle value
    val med = Ranking.conformalThreshold(
      Seq(("a", 1L, 30L), ("a", 2L, 10L), ("a", 3L, 20L)).toDF("g", "id", "v"),
      "g", "v", subBucket = lit(0L), idCol = "id",
      alphaNum = 1L, alphaDen = 2L).collect()(0)
    assert(med.getLong(1) == 3L && med.getLong(2) == 2L && med.getLong(3) == 20L)
  }
}
