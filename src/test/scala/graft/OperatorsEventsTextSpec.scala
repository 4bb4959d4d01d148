package graft

import graft.operators.{AsOf, Dedup, Sessionize, Similarity}
import graft.functions.{Text, Vectors}

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Operator unit tests: events-series monitors, checks, text analysis, LM scoring, sketches (split from OperatorsSpec, round 11 — bodies verbatim). */
class OperatorsEventsTextSpec extends SparkSuite with DocsWithDupsFixture {

  test("redactPii masks emails, IPv4s, and phones; clean text passes through") {
    import spark.implicits._
    val df = Seq(
      (1L, "reach me at jane.doe+spam@sub.example.co.uk thanks"),
      (2L, "server 192.168.001.1 and backup 10.0.0.254 are up"),
      (3L, "call +14155550123 today"),
      (4L, "nothing sensitive here, just 3.14 and v1.2.3 and a@b"), // a@b: no TLD → kept
      (5L, "mixed: bob@corp.io from 172.16.4.20 or +4915123456789")
    ).toDF("doc_id", "text")
    val out = df.select(col("doc_id"), graft.functions.Text.redactPii(col("text")))
      .orderBy("doc_id").collect().map(_.getString(1))
    assert(out(0) == "reach me at <EMAIL> thanks")
    assert(out(1) == "server <IP> and backup <IP> are up")
    assert(out(2) == "call <PHONE> today")
    assert(out(3) == "nothing sensitive here, just 3.14 and v1.2.3 and a@b")
    assert(out(4) == "mixed: <EMAIL> from <IP> or <PHONE>")
  }

  test("repetitionRatio: exact duplicated-n-gram fraction on planted text") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b a b a b"),        // 6 tokens, 3 distinct... 1-grams: 6 total, 2 distinct
      (2L, "all distinct words"), // no repetition
      (3L, "x")                   // single token → single shingle → 0.0
    ).toDF("doc_id", "text")
    val out = df.select(col("doc_id"),
        Text.repetitionRatio(col("text"), 1).as("r1"),
        Text.repetitionRatio(col("text"), 2).as("r2"))
      .orderBy("doc_id").collect().map(r => (r.getDouble(1), r.getDouble(2)))
    assert(out(0) == ((1.0 - 2.0 / 6.0, 1.0 - 2.0 / 5.0))) // 2-grams: [ab,ba,ab,ba,ab] → 2/5 distinct
    assert(out(1) == ((0.0, 0.0)))
    assert(out(2) == ((0.0, 0.0)))
  }

  test("Text.clean strips control chars, collapses whitespace, truncates") {
    import spark.implicits._
    val df = Seq(("  a\u0000b\tc\u001f  d   e\u007f  ", 1L), (("x" * 300), 2L)).toDF("text", "id")
    val out = df.select(col("id"), Text.clean(col("text"), 200).as("c"))
      .orderBy("id").collect().map(_.getString(1))
    assert(out(0) == "a b c d e")
    assert(out(1) == "x" * 200)
  }

  test("sessionize: gap starts new session; summary is per (key, session)") {
    import spark.implicits._
    val df = Seq((1L, 0L), (1L, 1000L), (1L, 10000L), (2L, 0L))
      .toDF("user_id", "ms").withColumn("ts", timestamp_millis($"ms")).drop("ms")
    val out = Sessionize.summarize(df, "user_id", "ts", gapMs = 5000L)
      .orderBy("user_id", "session_start")
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(5)))
    assert(out.toSeq == Seq((1L, 2L, 1000L), (1L, 1L, 0L), (2L, 1L, 0L)))
  }

  test("sliding chunks: coverage, overlap, and lossless reconstruction") {
    import spark.implicits._
    val n = 100
    val text = (1 to n).map(i => s"t$i").mkString(" ")
    val rows = Seq((1L, text), (2L, "short doc"), (3L, "   ")).toDF("doc_id", "text")
      .select(col("doc_id"), explode(Text.slidingChunks(col("text"), 32, 24)).as("c"))
      .select(col("doc_id"), col("c.chunk_idx"), col("c.chunk"), col("c.n_tokens"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3)))
    // doc 1: ceil((100-1)/24)+1 = 5 chunks; stride-aligned prefixes of each
    // chunk (first 24 tokens, all of the tail) reconstruct the doc exactly
    val d1 = rows.filter(_._1 == 1L).sortBy(_._2)
    assert(d1.length == 5)
    // a chunk is full iff its window fits: start + 32 <= n (with n=100 and
    // stride 24 that is chunks 0-2; chunks 3 and 4 clip to 28 and 4)
    d1.foreach { case (_, idx, _, nt) =>
      assert(nt == math.min(32, n - idx * 24).toLong, s"chunk $idx has $nt tokens") }
    val rebuilt = d1.map(_._3.split(" ").take(24)).flatten.take(n) // overlap dropped
    val full = d1.init.map(_._3.split(" ").take(24)).flatten ++ d1.last._3.split(" ")
    assert(full.mkString(" ") == text)
    assert(rebuilt.sameElements(text.split(" ").take(rebuilt.length)))
    // overlap: chunk i+1 starts with the last 8 tokens of chunk i (full chunks)
    d1.sliding(2).foreach {
      case Array((_, _, a, 32L), (_, _, b, _)) =>
        assert(b.split(" ").take(8).sameElements(a.split(" ").drop(24)))
      case _ =>
    }
    // short doc: one chunk, whole text; whitespace doc: zero chunks
    assert(rows.filter(_._1 == 2L).toSeq == Seq((2L, 0, "short doc", 2L)))
    assert(!rows.exists(_._1 == 3L))
  }

  test("tf-idf: rare terms outrank common ones at equal tf; tf dominates within a doc") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the zebra the the crossing"), // tf: the=3, zebra=1, crossing=1
      (2L, "the quick fox"),
      (3L, "the lazy dog"),
      (4L, "the calm river")
    ).toDF("doc_id", "text")
    val out = operators.TfIdf.topTerms(docs, "doc_id", "text", k = 5)
      .where(col("id") === 1L).orderBy("rank").collect()
      .map(r => (r.getInt(1), r.getString(2), r.getLong(3), r.getLong(4)))
    // within doc 1: 'the' wins on tf (3 * idf_min); among the tf=1 terms,
    // the corpus-unique ones outrank nothing-else-here (both unique, tie
    // broken alphabetically)
    assert(out.map(_._2).toSeq == Seq("the", "crossing", "zebra"))
    assert(out.head._3 == 3L && out.head._4 == 4L) // the: tf 3, df 4
    assert(out(1)._4 == 1L && out(2)._4 == 1L)     // unique terms: df 1
    // and at EQUAL tf, lower df must rank strictly higher: compare doc 2's
    // 'quick' (df 1) vs 'the' (df 4), both tf 1
    val d2 = operators.TfIdf.topTerms(docs, "doc_id", "text", k = 5)
      .where(col("id") === 2L).orderBy("rank").collect().map(_.getString(2))
    assert(d2.indexOf("quick") < d2.indexOf("the"))
  }

  test("text functions: tokens, shingles, fingerprint, langid") {
    import spark.implicits._
    val df = Seq(("  The QUICK  brown ", 1L)).toDF("text", "id")
    val toks = df.select(Text.tokens($"text")).head().getSeq[String](0)
    assert(toks == Seq("the", "quick", "brown"))
    val sh = df.select(Text.wordShingles($"text", 2)).head().getSeq[String](0)
    assert(sh == Seq("the quick", "quick brown"))
    val fp = df.select(Text.fingerprint($"text")).head().getString(0)
    assert(fp == java.security.MessageDigest.getInstance("MD5")
      .digest("the quick brown".getBytes("UTF-8")).map("%02x".format(_)).mkString)
    val lang = Seq(("the cat is on the mat and it is happy", 1L)).toDF("text", "id")
      .select(Text.langId($"text")).head().getString(0)
    assert(lang == "en")
  }

  test("SpaceSaving top-k sketch: exact when capacity >= distinct; bounded error under eviction") {
    import spark.implicits._
    // skewed stream: item i appears (i+1)*10 times, i in 0..9
    val rows = (0 until 10).flatMap(i => Seq.fill((i + 1) * 10)(s"item$i"))
    val df = spark.createDataset(rows).toDF("w").repartition(8)

    // exact regime
    val exactTk = df.agg(call_function("graft_topk", col("w"), lit(3), lit(64)).as("tk"))
      .select(explode(col("tk")).as("t")).select(col("t.item"), col("t.count"), col("t.err"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(exactTk.toSeq == Seq(("item9", 100L, 0L), ("item8", 90L, 0L), ("item7", 80L, 0L)))

    // eviction regime: capacity 4 < 10 distinct; heavy hitters must surface
    // with estimate in [true, true+err]
    val approx = df.agg(call_function("graft_topk", col("w"), lit(2), lit(4)).as("tk"))
      .select(explode(col("tk")).as("t")).select(col("t.item"), col("t.count"), col("t.err"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val truth = Map("item9" -> 100L, "item8" -> 90L)
    assert(approx.exists(_._1 == "item9"))
    approx.filter(t => truth.contains(t._1)).foreach { case (i, est, err) =>
      assert(est >= truth(i) && est - err <= truth(i), s"$i est=$est err=$err true=${truth(i)}")
    }
  }

  test("grouped SpaceSaving: one exact sketch per group, map-side partial aggregation") {
    import spark.implicits._
    // group A: a×5, b×3, c×3, d×1 — tie at the k=2 boundary resolves
    // (count desc, item asc) → b beats c; group B: disjoint vocabulary
    val rows = Seq.fill(5)(("A", "a")) ++ Seq.fill(3)(("A", "b")) ++
      Seq.fill(3)(("A", "c")) ++ Seq(("A", "d")) ++
      Seq.fill(4)(("B", "x")) ++ Seq.fill(2)(("B", "y"))
    val df = rows.toDF("g", "w").repartition(8)
    val out = df.groupBy(col("g"))
      .agg(call_function("graft_topk", col("w"), lit(2), lit(64)).as("tk"))
      .select(col("g"), explode(col("tk")).as("t"))
      .select(col("g"), col("t.item"), col("t.count"))
      .orderBy(col("g"), col("t.count").desc, col("t.item"))
    assert(out.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq ==
      Seq(("A", "a", 5L), ("A", "b", 3L), ("B", "x", 4L), ("B", "y", 2L)))
    // the sketch must combine ACROSS partitions map-side like any native
    // aggregate — per-group state is the sketch, never the group's rows
    val plan = out.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(plan.toLowerCase.contains("partial_graft_topk") ||
      plan.toLowerCase.contains("partial(graft_topk"),
      s"grouped sketch must partial-aggregate before the exchange:\n$plan")
  }

  test("rolling fingerprint matches a hand-computed polynomial hash") {
    import spark.implicits._
    val df = Seq(("ab c", 1L)).toDF("text", "id")
    val got = df.select(graft.functions.Text.rollingFingerprint($"text")).head().getLong(0)
    val norm = "ab c"
    val want = norm.foldLeft(0L)((a, ch) => (a * 31 + ch.toLong) % 1000000007L)
    assert(got == want)
  }

  test("canonical dedup: clusters keep the argmax-quality member, tiebreak min id") {
    import spark.implicits._
    // 1-2-3 near-dup cluster (2 has the longest, highest-quality text),
    // 4 is a singleton
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (2L, "the quick brown fox jumps over the lazy dog near the river bank today and the calm water is clear and the air is warm"),
      (3L, "the quick brown fox jumps over the lazy dog near the river bank tonight"),
      (4L, "completely different content about spark query engines and columnar execution plans")
    ).toDF("doc_id", "text")
    val stop = Text.langMarkers.toMap.apply("en")
    val out = Dedup.canonicalizeNearDups(docs, "doc_id", "text",
        score = _ => Text.qualityScore(col("text"), stop),
        shingleLen = 3, threshold = 0.3, maxShingleDf = 50)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val byId = out.map(t => t._1 -> t).toMap
    // quality is length-driven here: doc 2 must win its cluster
    val canon123 = byId(1L)._2
    assert(canon123 == 2L, s"expected doc 2 as canonical, got $canon123")
    assert(Seq(1L, 3L).forall(id => byId(id)._2 == canon123 && !byId(id)._3))
    assert(byId(2L)._3)
    assert(byId(4L) == ((4L, 4L, true))) // singleton keeps itself
  }

  test("winsorize: interpolated per-group bounds clamp the tails, approx twin within rank error") {
    import spark.implicits._
    val df = ((1 to 100).map(v => ("a", v.toLong)) ++ Seq(("b", 1000L), ("b", 2000L)))
      .toDF("grp", "v")
    val out = operators.Outliers.winsorize(df, "grp", "v", lo = 0.05, hi = 0.95)
      .where(col("grp") === "a")
      .select(col("v"), col("v_lo"), col("v_hi"), col("v_clipped")).collect()
    // percentile's linear interpolation on 1..100: rank = p*(n-1)+1
    val (lo, hi) = (0.05 * 99 + 1, 0.95 * 99 + 1) // 5.95, 95.05
    out.foreach { r =>
      assert(r.getDouble(1) == lo && r.getDouble(2) == hi)
      val (v, c) = (r.getLong(0).toDouble, r.getDouble(3))
      assert(c == math.min(math.max(v, lo), hi), s"v=$v clipped to $c")
    }
    // the production (approx_percentile) path: bounds within a value of
    // exact on this dense 1..100 ladder, clip column present
    val approx = operators.Outliers.winsorize(df, "grp", "v", 0.05, 0.95, exact = false)
      .where(col("grp") === "a").select(col("v_lo"), col("v_hi")).head()
    assert(math.abs(approx.getDouble(0) - lo) <= 1.0)
    assert(math.abs(approx.getDouble(1) - hi) <= 1.0)
  }

  test("winsorize keeps NULL-group rows and clips them against the NULL group's bounds") {
    import spark.implicits._
    val df = Seq((Some("a"), 1L), (Some("a"), 100L), (None, 5L), (None, 50L))
      .toDF("grp", "v")
    val out = operators.Outliers.winsorize(df, "grp", "v", lo = 0.0, hi = 1.0)
    assert(out.count() == 4L) // no silent drop of the NULL group
    val nulls = out.where(col("grp").isNull)
      .select(col("v_lo"), col("v_hi")).distinct().collect()
    assert(nulls.toSeq.map(r => (r.getDouble(0), r.getDouble(1))) == Seq((5.0, 50.0)))
  }

  test("bigramScore: hand-computed add-1 micro-nat log-likelihoods") {
    import spark.implicits._
    // corpus: uni a:3 b:2 c:1 solo:1, V=4; bigrams d1:(a,b)x2,(b,a)x1  d2:(a,c)x1
    val docs = Seq((1L, "a b A b"), (2L, "a c"), (3L, "solo")).toDF("doc_id", "text")
    val out = graft.operators.LmScore.bigramScore(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // (a,b): ln((2+1)/(3+4)) = ln(3/7) -> -847298 (round half-away)
    // (b,a): ln((1+1)/(2+4)) = ln(1/3) -> -1098612
    // (a,c): ln((1+1)/(3+4)) = ln(2/7) -> -1252763
    assert(out(0) == ((1L, 3L, 2L * -847298L + -1098612L)))
    assert(out(1) == ((2L, 1L, -1252763L)))
    assert(out(2) == ((3L, 0L, 0L))) // <2 tokens: no bigrams, score 0
  }

  test("LM lifecycle: scoreWith through persisted tables; OOV falls out of add-1") {
    import spark.implicits._
    // train corpus = bigramScore's hand case: uni a:3 b:2 c:1 solo:1, V=4
    val train = Seq((1L, "a b a b"), (2L, "a c"), (3L, "solo")).toDF("doc_id", "text")
    graft.operators.LmScore.writeModel(train, "doc_id", "text", "graft_test_lm", buckets = 2)
    val batch = Seq(
      (10L, "a b"),   // seen transition: ln((2+1)/(3+4)) -> -847298
      (11L, "a zzz"), // seen head, unseen tail: ln((0+1)/(3+4)) = ln(1/7) -> -1945910
      (12L, "qq rr"), // fully OOV: ln(1/(0+4)) = ln(.25) -> -1386294
      (13L, "tiny")   // <2 tokens: zero row
    ).toDF("doc_id", "text")
    val out = graft.operators.LmScore.scoreWith(batch, "doc_id", "text", "graft_test_lm")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq((10L, 1L, -847298L), (11L, 1L, -1945910L),
      (12L, 1L, -1386294L), (13L, 0L, 0L)))
  }

  test("funnel: strict ordering, inclusive conversion window, per-step counts") {
    import spark.implicits._
    def t(ms: Long) = new java.sql.Timestamp(ms)
    val events = Seq(
      // u1 completes everything comfortably
      (1L, t(1000), "signup"), (1L, t(2000), "click"), (1L, t(3000), "purchase"),
      // u2's click precedes signup → stalls at step 1
      (2L, t(1000), "click"), (2L, t(2000), "signup"), (2L, t(2500), "purchase"),
      // u3's click is outside the 3000 ms window → step 1 only
      (3L, t(1000), "signup"), (3L, t(5000), "click"),
      // u4 never signs up → not even step 1
      (4L, t(1000), "click"), (4L, t(2000), "purchase"),
      // u5's purchase misses the window from their click → step 2
      (5L, t(1000), "signup"), (5L, t(2000), "click"), (5L, t(6000), "purchase"),
      // u6's purchase lands EXACTLY at click+3000 → inclusive, completes
      (6L, t(0), "signup"), (6L, t(1000), "click"), (6L, t(4000), "purchase"),
      // u7's click shares the signup timestamp → strict >, step 1 only
      (7L, t(1000), "signup"), (7L, t(1000), "click")
    ).toDF("user_id", "ts", "event_type")
    val out = graft.operators.Funnel.funnel(events, "user_id", "event_type", "ts",
        Seq("signup", "click", "purchase"), withinMs = Some(3000L))
      .orderBy("step").collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out.toSeq == Seq((1L, "signup", 6L), (2L, "click", 3L), (3L, "purchase", 2L)))
  }

  test("cohortRetention: first-event bucket is the cohort, offsets count distinct actives") {
    import spark.implicits._
    def t(ms: Long) = new java.sql.Timestamp(ms)
    val events = Seq(
      (1L, t(10)), (1L, t(120)), (1L, t(350)),   // cohort 0; active buckets 0,1,3
      (3L, t(30)), (3L, t(140)),                  // cohort 0; active 0,1
      (2L, t(250)), (2L, t(260)), (2L, t(430))    // cohort 2; active 2,2,4 → offsets 0,0,2
    ).toDF("user_id", "ts")
    val out = graft.operators.Retention.cohortRetention(events, "user_id", "ts", bucketMs = 100L)
      .orderBy("cohort_bucket", "bucket_offset")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq((0L, 0L, 2L), (0L, 1L, 2L), (0L, 3L, 1L), (2L, 0L, 1L), (2L, 2L, 1L)))
  }

  test("bm25: scores match the formula exactly (quantize-once micro-nats)") {
    import spark.implicits._
    val docs = Seq(
      (1L, "apple banana apple"),
      (2L, "apple cherry"),
      (3L, "banana cherry cherry banana")
    ).toDF("doc_id", "text")
    spark.sql("DROP TABLE IF EXISTS graft_opspec_bm25")
    spark.sql("DROP TABLE IF EXISTS graft_opspec_bm25_meta")
    try {
      graft.operators.InvertedIndex.writeIndex(docs, "doc_id", "text", "graft_opspec_bm25", buckets = 2)
      val got = graft.operators.InvertedIndex.bm25(spark, "graft_opspec_bm25", Seq("apple", "cherry"))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      // n_docs=3, sum_dl=9, avgdl=3; df(apple)=df(cherry)=2
      val (k1, b) = (1.2, 0.75)
      def s(tf: Long, dl: Long, df: Long): Long = {
        val idf = math.log(1.0 + (3.0 - df.toDouble + 0.5) / (df.toDouble + 0.5))
        val x = idf * (tf.toDouble * (k1 + 1.0)) /
          (tf.toDouble + k1 * ((1.0 - b) + b * dl.toDouble / 3.0)) * 1e6
        BigDecimal(x).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      }
      val expected = Map(
        1L -> (1L, s(2, 3, 2)),               // apple tf=2
        2L -> (2L, s(1, 2, 2) + s(1, 2, 2)),  // apple + cherry, tf=1 each
        3L -> (1L, s(2, 4, 2)))               // cherry tf=2
      assert(got == expected)
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_opspec_bm25")
      spark.sql("DROP TABLE IF EXISTS graft_opspec_bm25_meta")
    }
  }

  test("gopherFilter: inclusive boundaries, empty doc fails r_wlen, stopword hits are distinct") {
    import spark.implicits._
    val docs = Seq((1L, "aa bb cc"), (2L, ""), (3L, "the the the aaa bbbb"))
      .toDF("doc_id", "text")
    val out = graft.operators.QualityRules.gopherFilter(docs, "doc_id", "text",
        minTokens = 3, maxTokens = 3, minMeanLen = 2.0, maxMeanLen = 3.0,
        repN = 2, maxRepetition = 0.5, stopwords = Seq("the", "a"), minStopHits = 1)
      .collect().map(r => (r.getLong(0),
        (r.getBoolean(5), r.getBoolean(6), r.getBoolean(7), r.getBoolean(8), r.getBoolean(9)),
        r.getLong(4)))
      .sortBy(_._1)
    // doc1: n_tok=3 (inclusive), mean=2.0 (inclusive lower bound), rep 0,
    // no stopwords -> keep false only via r_stop
    assert(out(0)._2 == ((true, true, true, false, false)))
    // doc2: empty -> r_len false AND r_wlen false (NULL mean), rep 0.0 passes
    assert(out(1)._2 == ((false, false, true, false, false)))
    // doc3: 'the' occurs 3 times but counts ONCE
    assert(out(2)._3 == 1L)
    assert(out(2)._2._4 == true)
  }

  test("hourlyRateAnomalies: planted burst flags, cold start never alarms, gaps use value ranges") {
    import spark.implicits._
    def at(hour: Long, i: Long): Long = hour * 3600000000L + i * 1000L
    val rows =
      // user 1: steady 2/hour for hours 0..9, then a 12-event burst at 10
      (for (h <- 0L to 9L; i <- 0L until 2L) yield (1L, at(h, i))) ++
        (0L until 12L).map(i => (1L, at(10L, i))) ++
        // user 2: 7 quiet hours, then a 50-event burst AFTER a >24h gap —
        // the value-range frame sees zero prior buckets, so no alarm
        (0L to 6L).map(h => (2L, at(h, 0L))) ++
        (0L until 50L).map(i => (2L, at(40L, i)))
    val ev = rows.toDF("user_id", "us")
      .withColumn("ts", timestamp_micros(col("us"))).drop("us")
    val out = graft.operators.Anomaly.hourlyRateAnomalies(
        ev, "user_id", "ts", sigmas = 3.0, window = 24, minPrior = 6)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3), r.getBoolean(6)))).toMap
    // cold start: hours 0..5 have < 6 prior buckets — never flagged
    for (h <- 0L to 5L) assert(!out((1L, h))._3, s"hour $h must not alarm cold")
    // steady state: cnt == mu, sigma == 0, strict > does not fire
    for (h <- 6L to 9L) assert(!out((1L, h))._3, s"steady hour $h must not alarm")
    // the burst fires: 12 > mu 2 + 3*sigma 0
    assert(out((1L, 10L)) == ((12L, 10L, true)))
    // user 2's burst is outside any prior window: n_prior 0, no alarm
    assert(out((2L, 40L)) == ((50L, 0L, false)))
  }

  test("Checks.validate: per-check null semantics pinned, exact violation counts") {
    import spark.implicits._
    import graft.operators.Checks._
    val df = Seq(
      (Some(1L), Some(1L), Some(10.0)),
      (Some(1L), Some(1L), Some(20.0)),   // duplicate key (1,1)
      (Some(1L), Some(1L), Some(200.0)),  // triple copy + range violation
      (Some(2L), None, None),             // null key part; null value
      (Some(2L), None, Some(5.0)),        // (2, null) duplicated: nulls EQUAL in unique
      (None, Some(3L), Some(30.0)))       // null FK column: passes FK
      .toDF("k1", "k2", "v")
    val dim = Seq(1L, 2L).toDF("dk")     // k1=2 rows pass, any other non-null violates
    val out = validate(df, Seq(
        NotNull("k1"), NotNull("v"),
        Unique(Seq("k1", "k2")),
        InRange("v", 0.0, 100.0),
        ForeignKey("k1", dim, "dk")))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(out("not_null(k1)") == ((6L, 1L, false)))
    assert(out("not_null(v)") == ((6L, 1L, false)))
    // groups: (1,1)x3 -> 2 surplus; (2,null)x2 -> 1 surplus; (null,3)x1
    assert(out("unique(k1,k2)") == ((6L, 3L, false)))
    // NULL violates a range assertion; 200.0 is out of range
    assert(out("in_range(v,0.0,100.0)") == ((6L, 2L, false)))
    // NULL passes FK; every non-null k1 value exists in the dim
    assert(out("foreign_key(k1->dk)") == ((6L, 0L, true)))
  }

  test("robustZScore: modified z flags the planted spike, MAD-0 group never flags, null group kept") {
    import spark.implicits._
    // group a (6 values): interpolated median 10.5, devs {2.5,1.5,0.5,0.5,
    // 1.5,89.5} -> MAD 1.5; the spike scores 0.6745*89.5/1.5 = 40.2;
    // group b: all-identical -> MAD 0 -> NULL scores, no flags;
    // null group: must survive the joins (winsorize's contract)
    val df = (Seq(8L, 9L, 10L, 11L, 12L, 100L).map(v => (Option("a"), v)) ++
      Seq(5L, 5L, 5L, 5L).map(v => (Option("b"), v)) ++
      Seq((Option.empty[String], 7L))).toDF("g", "v")
    val out = graft.operators.Outliers.robustZScore(df, "g", "v", sigmas = 3.5)
    val rows = out.collect().map(r => (Option(r.getString(0)), r.getLong(1)) ->
      ((Option(r.get(4)).map(_.asInstanceOf[Double]), r.getBoolean(5)))).toMap
    assert(rows((Some("a"), 100L))._2, "the spike must flag")
    assert(rows((Some("a"), 100L))._1.get == 0.6745 * 89.5 / 1.5)
    assert(rows((Some("a"), 10L))._1.get == 0.6745 * -0.5 / 1.5)
    Seq(8L, 9L, 11L, 12L).foreach(v => assert(!rows((Some("a"), v))._2, s"a/$v must not flag"))
    Seq(5L).foreach(v => assert(rows((Some("b"), v)) == ((None, false)), "MAD-0 group: NULL score, no flag"))
    // singleton null group: MAD 0 -> NULL score, kept, unflagged
    assert(rows((None, 7L)) == ((None, false)))
    assert(out.count() == 11)
  }

  test("snapshotDiff: all four statuses from content fingerprints") {
    import spark.implicits._
    val v1 = Seq((1L, "same"), (2L, "will change"), (3L, "gone")).toDF("id", "text")
    val v2 = Seq((1L, "same"), (2L, "did change"), (4L, "brand new")).toDF("id", "text")
    val out = graft.operators.Cdc.snapshotDiff(v1, v2, "id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "unchanged", 2L -> "changed", 3L -> "removed", 4L -> "added"))
  }

  test("countMin: estimates never undercount, honor the eps*N bound, and merge linearly") {
    import graft.operators.CountMin
    import spark.implicits._
    // 300 keys, key k occurring (k % 13 + 1) times -> N = sum of counts
    val occ = (1L to 300L).flatMap(k => Seq.fill((k % 13).toInt + 1)(k))
    val keys = occ.toDF("key")
    val cms = CountMin.build(keys, "key", depth = 4, width = 2048)
    assert(cms.total == occ.length.toLong)
    val exact = occ.groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val est = keys.distinct().withColumn("est", cms.estimate(col("key")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // one-sided: a CMS can only ever overcount
    exact.foreach { case (k, c) =>
      assert(est(k) >= c, s"undercount for $k: ${est(k)} < $c") }
    // the eps*N bound holds per-key with prob 1 - e^-depth (~0.98); the
    // fixed hash family makes the outcome deterministic — require >= 95%
    val within = exact.count { case (k, c) => est(k) - c <= cms.errorBound }
    assert(within >= (exact.size * 95) / 100,
      s"only $within/${exact.size} within eps*N = ${cms.errorBound}")
    // linearity: cellwise merge of two half-builds = one build of the union
    val (a, b) = occ.splitAt(occ.length / 2)
    val merged = CountMin.build(a.toDF("key"), "key", 4, 2048)
      .merge(CountMin.build(b.toDF("key"), "key", 4, 2048))
    assert(merged.table.toSeq == cms.table.toSeq && merged.total == cms.total)
    // weighted build: weights sum instead of counting rows
    val wdf = Seq((7L, 5L), (7L, 3L), (9L, 2L)).toDF("key", "w")
    val wcms = CountMin.build(wdf, "key", 2, 64, weightCol = Some("w"))
    val west = wdf.select(col("key")).distinct()
      .withColumn("est", wcms.estimate(col("key")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(wcms.total == 10L && west(7L) >= 8L && west(9L) >= 2L)
  }

  test("decayedScore: exact dyadic weights, hard expiry, clamp, refPerKey") {
    import spark.implicits._
    import graft.operators.Decay
    val stepU = 14400000000L // 4h in micros
    def ts(step: Long) = step * stepU + 123456L // mid-bucket offset
    val events = Seq(
      (1L, ts(100), 2.5),    // qv 250, age 0  -> 250 << 20
      (1L, ts(99), 1.999),   // qv 199 (floor), age 1 -> 199 << 19
      (1L, ts(80), 1.0),     // qv 100, age 20 -> 100 << 0 (horizon edge)
      (1L, ts(79), 7.0),     // age 21 -> expired, exactly 0, not live
      (2L, ts(100), -5.0),   // clamped to 0: live but weightless
      (3L, ts(50), 1.0)      // global ref 100 -> expired; own ref 50 -> live
    ).toDF("user_id", "raw_ts", "value")
      .select(col("user_id"), timestamp_micros(col("raw_ts")).as("ts"), col("value"))
    val out = Decay.decayedScore(events, "user_id", "ts", "value",
        halfLifeHours = 4, horizonSteps = 20, valueScale = 100L)
      .orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out(0) == ((1L, (250L << 20) + (199L << 19) + 100L, 3L, 100L)))
    assert(out(1) == ((2L, 0L, 1L, 100L)))
    assert(out(2) == ((3L, 0L, 0L, 100L)))
    // refPerKey: each key ages against its OWN frontier (the streaming view)
    val perKey = Decay.decayedScore(events, "user_id", "ts", "value",
        halfLifeHours = 4, horizonSteps = 20, valueScale = 100L, refPerKey = true)
      .orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(perKey(2) == ((3L, 100L << 20, 1L, 50L)))
    // global path is pure partial-aggregable: no window, no sort anywhere
    val plan = Decay.decayedScore(events, "user_id", "ts", "value")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window") && !plan.contains("Sort"),
      s"global decayedScore must stay window/sort-free:\n$plan")
  }

  test("HLL distinct lifecycle: merge within error of rebuild both orders, new/untouched groups") {
    import spark.implicits._
    import graft.operators.DistinctSketch
    val rows = (1 to 4000).map { i =>
      (s"g${i % 3}", (i * 2654435761L) % 1500) // ~1500-key universe, 3 groups
    }.toDF("grp", "k")
    val (a, b) = (rows.where(col("k") % 4 =!= 0), rows.where(col("k") % 4 === 0))
    def ests(df: org.apache.spark.sql.DataFrame) =
      DistinctSketch.estimates(df, "grp").collect()
        .map(r => (r.getString(0), r.getLong(1))).toMap
    val rebuilt = ests(DistinctSketch.groupSketches(rows, "grp", "k"))
    val merged = ests(DistinctSketch.updateSketches(
      DistinctSketch.groupSketches(a, "grp", "k"), b, "grp", "k"))
    // union cannot preserve the stream-built HIP estimator, so incremental
    // is within the error bound of rebuild (not bitwise) — <1% at lgK 12
    rebuilt.foreach { case (g, n) =>
      assert(math.abs(merged(g).toDouble - n) / n < 0.01,
        s"group $g: merged ${merged(g)} vs rebuilt $n")
    }
    // merge order: register max is commutative, but DataSketches' union
    // result representation (and hence the estimate's last ulp) depends on
    // promotion order — assert order-independence WITHIN the error bound,
    // same contract as incremental-vs-rebuild
    val swapped = ests(DistinctSketch.updateSketches(
      DistinctSketch.groupSketches(b, "grp", "k"), a, "grp", "k"))
    merged.foreach { case (g, n) =>
      assert(math.abs(swapped(g).toDouble - n) / n < 0.01,
        s"group $g: swapped ${swapped(g)} vs merged $n")
    }
    // ~1.6% RSE at lgK 12; assert a generous 3-sigma 5% against exact
    val exact = rows.groupBy("grp").agg(countDistinct(col("k")).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    exact.foreach { case (g, n) =>
      assert(math.abs(rebuilt(g).toDouble - n) / n < 0.05,
        s"group $g: est ${rebuilt(g)} vs exact $n")
    }
    // a batch-only group enters the model; an untouched group passes through
    val withNew = ests(DistinctSketch.updateSketches(
      DistinctSketch.groupSketches(a, "grp", "k"),
      Seq(("brand_new", 1L), ("brand_new", 2L)).toDF("grp", "k"), "grp", "k"))
    assert(withNew("brand_new") == 2L)
    assert(withNew("g1") == ests(DistinctSketch.groupSketches(a, "grp", "k"))("g1"))
  }

  test("recrawl suppress: TTL chains from kept sightings, ties admit min id") {
    import spark.implicits._
    import graft.operators.Recrawl
    // one fp, sightings at 0,5,10,14,20 with ttl 10: windows chain from
    // KEPT sightings only -> kept at 0, 10, 20 (5 and 14 suppressed; a
    // per-sighting chain would wrongly suppress 10 and keep 14)
    val log = Seq(
      ("a", 1L, 0L), ("a", 2L, 5L), ("a", 3L, 10L), ("a", 4L, 14L), ("a", 5L, 20L),
      ("b", 6L, 100L), ("b", 7L, 100L) // tie: min id admitted, other suppressed
    ).toDF("fp", "crawl_id", "ts_us")
    val out = Recrawl.suppress(log, "fp", "crawl_id", "ts_us", ttlMicros = 10L)
      .collect().map(r => (r.getLong(1), r.getBoolean(3))).toMap
    assert(out == Map(1L -> true, 2L -> false, 3L -> true, 4L -> false,
      5L -> true, 6L -> true, 7L -> false))
    // ttl 0 keeps everything; huge ttl = exact dedup (first only)
    val all = Recrawl.suppress(log, "fp", "crawl_id", "ts_us", 0L)
      .collect().map(_.getBoolean(3))
    assert(all.forall(identity))
    val first = Recrawl.suppress(log, "fp", "crawl_id", "ts_us", Long.MaxValue)
      .collect().map(r => (r.getLong(1), r.getBoolean(3))).toMap
    assert(first.count(_._2) == 2 && first(1L) && first(6L))
  }

  test("snapshotDiff: NULL content is presence, not absence") {
    import spark.implicits._
    // id 1: present old only (removed) — NULL content must not mask it
    // id 2: NULL in both -> unchanged (NULL <=> NULL), NOT added
    // id 3: NULL -> value  -> changed;  id 4: only new, NULL -> added
    val v1 = Seq((1L, Option("x")), (2L, Option.empty[String]),
      (3L, Option.empty[String])).toDF("id", "text")
    val v2 = Seq((2L, Option.empty[String]), (3L, Option("y")),
      (4L, Option.empty[String])).toDF("id", "text")
    val out = graft.operators.Cdc.snapshotDiff(v1, v2, "id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "removed", 2L -> "unchanged",
      3L -> "changed", 4L -> "added"))
  }

  test("CountMin.build rejects negative weights before touching the cell pass") {
    import spark.implicits._
    import graft.operators.CountMin
    val df = Seq((1L, 5L), (2L, -1L)).toDF("key", "w")
    val e = intercept[IllegalArgumentException] {
      CountMin.build(df, "key", depth = 2, width = 64, weightCol = Some("w"))
    }
    assert(e.getMessage.contains("negative weights"))
    // zero weights are legal (they just contribute nothing)
    val ok = CountMin.build(Seq((1L, 0L), (2L, 3L)).toDF("key", "w"),
      "key", depth = 2, width = 64, weightCol = Some("w"))
    assert(ok.total == 3L)
  }

  test("ewmaControlChart: spike flagged against prior window, zero-variance repeats stay in-control") {
    import spark.implicits._
    import graft.operators.Decay
    val stepU = 14400000000L // 4h in micros
    def mk(user: Long, step: Long, v: Double, id: Long) = (user, step * stepU + 7L, v, id)
    val rows = (
      (100L to 104L).zipWithIndex.map { case (st, i) => mk(1L, st, 10.0, i.toLong) } ++
      Seq(mk(1L, 105L, 10.0, 50L)) ++                 // exact repeat: in-control
      (100L to 104L).zipWithIndex.map { case (st, i) => mk(2L, st, 10.0, 100L + i) } ++
      Seq(mk(2L, 105L, 99.0, 150L))                   // spike: out-of-control
    ).toDF("user_id", "us", "value", "event_id")
      .withColumn("ts", expr("timestamp_micros(us)")).drop("us")
    val out = Decay.ewmaControlChart(rows, "user_id", "ts", "value", "event_id")
      .collect().map(r => r.getLong(1) -> (r.getLong(4), r.getBoolean(5))).toMap
    // first events have no prior window
    assert(out(0L) == (0L, false) && out(100L) == (0L, false))
    // constant history: zero prior variance, zero deviation -> in-control
    assert(out(50L) == (5L, false))
    // spike against the same zero-variance history -> flagged
    assert(out(150L) == (5L, true))
    // mid-history events see exactly their predecessors
    assert(out(3L)._1 == 3L)
  }

  test("corpusDivergence: zero on identical corpora, positive both ways on disjoint") {
    import spark.implicits._
    import graft.operators.LmScore
    val a = Seq((1L, "alpha beta gamma alpha"), (2L, "beta delta")).toDF("id", "text")
    // unats export as double since the DECIMAL(38) hardening (exact —
    // the decimal sum casts once at the end)
    val same = LmScore.corpusDivergence(a, a, "text").collect()(0)
    assert(same.getDouble(3) == 0.0 && same.getDouble(4) == 0.0,
      "identical corpora must diverge by exactly zero")
    val b = Seq((3L, "zz yy xx zz ww")).toDF("id", "text")
    val d = LmScore.corpusDivergence(a, b, "text").collect()(0)
    // (n_tok_a, n_tok_b, vocab, kl_ab_unats, kl_ba_unats, kl_ab, kl_ba)
    assert(d.getLong(0) == 6L && d.getLong(1) == 5L && d.getLong(2) == 8L)
    assert(d.getDouble(5) > 0.1 && d.getDouble(6) > 0.1,
      s"disjoint corpora must diverge both ways: $d")
  }

  test("giniConcentration: zero on balance, known value on 1-vs-9 split") {
    import spark.implicits._
    import graft.operators.Checks
    val even = (1L to 40L).map(i => (s"g${i % 4}", i)).toDF("g", "x")
    val r0 = Checks.giniConcentration(even, "g").collect()(0)
    assert(r0.getLong(0) == 4L && r0.getLong(1) == 40L && r0.getDouble(3) == 0.0)
    val skewed = ((1 to 1).map(_ => ("a", 0)) ++ (1 to 9).map(i => ("b", i))).toDF("g", "x")
    val r1 = Checks.giniConcentration(skewed, "g").collect()(0)
    // sizes (1, 9): num = (2*1-3)*1 + (2*2-3)*9 = 8; gini = 8/(2*10) = 0.4
    assert(r1.getLong(2) == 8L && r1.getDouble(3) == 0.4)
  }

  test("Bpe: N-round training matches hand merges, stops early when dry; encode compresses") {
    import spark.implicits._
    import graft.operators.Bpe
    // words: abab x2, ab x1, cd x1
    // r1: (a,b) count 2·2+1 = 5 wins; r2: (ab,ab) 2; r3: (c,d) 1; r4: dry
    val docs = Seq((1L, "abab abab ab cd")).toDF("doc_id", "text")
    val merges = Bpe.trainMerges(spark, docs, "text", rounds = 4)
      .orderBy(col("round")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(merges.toSeq == Seq((1L, "a", "b", 5L), (2L, "ab", "ab", 2L),
      (3L, "c", "d", 1L)))
    // encode: abab→1 sym, ab→1, cd→1; plus out-of-universe single chars
    val docs2 = Seq((1L, "abab abab ab cd"), (2L, "a x")).toDF("doc_id", "text")
    val enc = Bpe.encodeCorpus(docs2, "doc_id", "text",
        Bpe.trainMerges(spark, docs, "text", rounds = 4))
      .orderBy(col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    assert(enc.toSeq == Seq((1L, 4L, 12L, 4L, 3.0), (2L, 2L, 2L, 2L, 1.0)))
  }

  test("psiDrift: identical halves give zero terms; a shifted target shows positive PSI") {
    import spark.implicits._
    import graft.operators.Checks
    val ref = (1L to 400L).map(i => (i % 100, i)).toDF("v", "id")
    // identical distribution: pa = pb in every bin -> every term exactly 0
    val same = Checks.psiDrift(ref, ref.withColumn("id", col("id") + 1000L),
      "v", "id", expr("v DIV 10"), bins = 10).collect()
    assert(same.length == 10)
    assert(same.forall(_.getLong(3) == 0L))
    assert(same.map(_.getLong(1)).sum == 400L && same.map(_.getLong(2)).sum == 400L)
    // shifted target: mass moves to the top bins, PSI sum > 0
    val tgt = (1L to 400L).map(i => (50L + i % 50, i)).toDF("v", "id")
    val drift = Checks.psiDrift(ref, tgt, "v", "id", expr("v DIV 10"), bins = 10)
      .collect()
    assert(drift.map(_.getLong(3)).sum > 100000L, "a half-range shift is > 0.1 PSI")
    // bins with no target mass exist and stay finite (add-1 smoothing)
    assert(drift.exists(r => r.getLong(2) == 0L))
  }

  test("Markov.transitionMatrix: counts, totals, truncating micro probabilities") {
    import spark.implicits._
    val ev = Seq(
      (1L, 1L, "A"), (1L, 2L, "B"), (1L, 3L, "A"), (1L, 4L, "B"),
      (2L, 1L, "A"), (2L, 2L, "A"))
      .toDF("user", "seq", "state")
    val m = graft.operators.Markov.transitionMatrix(ev, col("user"), col("state"),
        Seq(col("seq")))
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(m(("A", "B")) == ((2L, 3L, 666666L))) // 2 of A's 3 exits; floor div
    assert(m(("A", "A")) == ((1L, 3L, 333333L)))
    assert(m(("B", "A")) == ((1L, 1L, 1000000L)))
    assert(m.size == 3) // first event per key contributes nothing
  }

  test("Tuning.lshThresholdSweep: planted dups at decile 10, survivor curve monotone") {
    val out = graft.operators.Tuning.lshThresholdSweep(
        docsWithDups, "doc_id", "text", shingleLen = 3, k = 16, bands = 4)
      .orderBy(col("decile")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byDecile = out.map(t => t._1 -> t._2).toMap
    assert(byDecile(10L) == 3L) // {1,2,5} pairwise identical shingle sets
    // doc 3 is an 11/13 near-dup of each of {1,2,5}: banding surfaces all
    // three pairs, decile (11*10) DIV 13 = 8
    assert(byDecile(8L) == 3L)
    // survivor curve: bottom decile's n_pairs_ge equals the total pair count
    assert(out.head._3 == out.map(_._2).sum)
    assert(out.sliding(2).forall(w => w.size < 2 || w(0)._3 >= w(1)._3))
  }

  test("Survival.kaplanMeier: censoring shapes the risk set, exact micro-nat terms") {
    import spark.implicits._
    val subjects = Seq(
      (1L, true), (1L, true), (1L, false),     // day 1: 2 events, 1 censored
      (2L, true),                              // day 2: 1 event
      (3L, false), (3L, false),                // day 3: censoring only (no row)
      (4L, true),                              // day 4: 1 event
      (5L, false), (5L, false), (5L, false))   // tail censoring
      .toDF("dur", "ev")
    val out = graft.operators.Survival.kaplanMeier(subjects, col("dur"), col("ev"))
      .orderBy(col("day")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    def term(n: Long, d: Long): Long =
      math.round(math.log((n - d).toDouble / n.toDouble) * 1e6)
    val t1 = term(10, 2); val t2 = term(7, 1); val t4 = term(4, 1)
    assert(out.toSeq == Seq(
      (1L, 10L, 2L, t1, t1),
      (2L, 7L, 1L, t2, t1 + t2),           // day-1 censor left the risk set
      (4L, 4L, 1L, t4, t1 + t2 + t4)))     // day-3 censors gone too
  }

  test("keyness: add-half log-odds, B-absent terms finite, top-k order") {
    import spark.implicits._
    // corpus A: "x" dominant + shared "c"; corpus B: "y" only + shared "c"
    val a = Seq((1L, "x x x c")).toDF("id", "text")
    val b = Seq((2L, "y c c c")).toDF("id", "text")
    val out = graft.operators.Colloc.keyness(a, b, "text", k = 3)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    def lo(ca: Long, na: Long, cb: Long, nb: Long): Long =
      math.round((math.log((ca + 0.5) / (na - ca + 0.5)) -
        math.log((cb + 0.5) / (nb - cb + 0.5))) * 1e6)
    assert(out("x") == ((3L, 0L, lo(3, 4, 0, 4))))   // absent in B, finite
    assert(out("y") == ((0L, 1L, lo(0, 4, 1, 4))))
    assert(out("c") == ((1L, 3L, lo(1, 4, 3, 4))))
    assert(out("x")._3 > 0 && out("y")._3 < 0)
  }

  test("benfordDeviation: string leading digit, full spine with zeros, non-positive exclusion, micro-term parity") {
    import spark.implicits._
    import graft.operators.Checks

    // leading digits: 1×4 (1, 19, 1000, 123), 9×2 (9, 987), 3×1 (30);
    // 0, -5, -9000 excluded -> N = 7; digits 2,4,5,6,7,8 are zero rows
    val vals = Seq(1L, 19L, 1000L, 123L, 9L, 987L, 30L, 0L, -5L, -9000L)
    val out = Checks.benfordDeviation(vals.toDF("v"), col("v")).collect()
    assert(out.length == 9 && out.map(_.getLong(0)).toSeq == (1L to 9L))
    val byDigit = out.map(r => r.getLong(0) ->
      (r.getLong(1), r.getLong(2), if (r.isNullAt(3)) -1L else r.getLong(3))).toMap
    assert(byDigit(1)._1 == 4 && byDigit(9)._1 == 2 && byDigit(3)._1 == 1)
    assert((2 to 8).filterNot(_ == 3).forall(d => byDigit(d.toLong)._1 == 0))
    // micro-term parity with the driver-side IEEE chain
    for (d <- 1 to 9) {
      val p = math.log10(1.0 + 1.0 / d)
      val e = 7.0 * p
      val o = byDigit(d.toLong)._1.toDouble
      assert(byDigit(d.toLong)._2 == math.floor(e * 1e6).toLong, s"exp d=$d")
      assert(byDigit(d.toLong)._3 == math.floor((o - e) * (o - e) / e * 1e6).toLong,
        s"term d=$d")
    }
    // all-excluded input: spine survives with zero counts and NULL terms
    val none = Checks.benfordDeviation(Seq(-1L, 0L).toDF("v"), col("v")).collect()
    assert(none.length == 9 && none.forall(r =>
      r.getLong(1) == 0L && r.getLong(2) == 0L && r.isNullAt(3)))
  }

  test("pageHinkley: brute sequential parity, planted drift alarms, constant series stays silent") {
    import spark.implicits._
    import graft.operators.Anomaly

    def brute(pts: Seq[(String, Long, Long)], mu0: Long, delta: Long,
              lambda: Long): Map[String, (Long, Long, Option[(Long, Long, Long)])] =
      pts.groupBy(_._1).map { case (g, rows) =>
        var m = 0L; var mn = 0L; var maxPh = 0L
        var alarm: Option[(Long, Long, Long)] = None
        var i = 0L
        rows.sortBy(_._2).foreach { case (_, t, y) =>
          i += 1
          m += 1000000L * y - (mu0 + delta)
          mn = if (i == 1L) m else math.min(mn, m)
          val ph = m - mn
          maxPh = math.max(maxPh, ph)
          if (alarm.isEmpty && ph > lambda) alarm = Some((i, t, ph))
        }
        g -> ((i, maxPh, alarm))
      }

    // group a: mean 10 for 12 steps then jumps to 30; group b constant 10
    val pts = (0L until 24L).map(t => ("a", t, if (t < 12) 10L else 30L)) ++
      (0L until 24L).map(t => ("b", t, 10L))
    val (mu0, delta, lambda) = (10000000L, 1000000L, 30000000L)
    val got = Anomaly.pageHinkley(pts.toDF("g", "t", "y"), "g", col("t"), col("y"),
        mu0, delta, lambda)
      .collect().map(r => r.getString(0) -> r).toMap
    val want = brute(pts, mu0, delta, lambda)
    for (g <- Seq("a", "b")) {
      assert(got(g).getLong(1) == want(g)._1 && got(g).getLong(2) == want(g)._2,
        s"$g: ${got(g)} vs ${want(g)}")
      want(g)._3 match {
        case Some((ai, as2, ap)) =>
          assert(got(g).getLong(3) == ai && got(g).getLong(4) == as2 &&
            got(g).getLong(5) == ap, s"$g alarm: ${got(g)} vs ${want(g)}")
        case None =>
          assert(got(g).isNullAt(3) && got(g).isNullAt(4) && got(g).isNullAt(5))
      }
    }
    // the planted drift fires shortly after step 12; the constant series never does
    assert(got("a").getLong(4) >= 12L && !got("a").isNullAt(3))
    assert(got("b").isNullAt(3))
  }

  test("hoeffdingSplitScan: brute triangular parity, planted shift alarms near the change, calm series stays silent") {
    import spark.implicits._
    import graft.operators.Anomaly

    def brute(series: Seq[(String, Long, Long)], deltaInv: Long)
        : Map[String, (Long, Option[Long], Option[Long], Long)] = {
      series.groupBy(_._1).map { case (g, xs) =>
        val ys = xs.sortBy(_._2)
        val n = ys.size.toLong
        val pre = ys.map(x => BigInt(x._3)).scanLeft(BigInt(0))(_ + _).tail
        def lq(t: Long): Long =
          Math.round(math.log(4.0 * deltaInv * t.toDouble) * 1e6)
        val alarms = (2L to n).filter { t =>
          (1L until t).exists { i =>
            val ds = pre(i.toInt - 1) * (t - i) -
              (pre(t.toInt - 1) - pre(i.toInt - 1)) * i
            2 * ds * ds >= BigInt(1000000L) * lq(t) * t * i * (t - i)
          }
        }
        val first = alarms.headOption
        g -> ((n, first, first.map(t => ys(t.toInt - 1)._2), alarms.size.toLong))
      }
    }
    def run(series: Seq[(String, Long, Long)]) =
      Anomaly.hoeffdingSplitScan(series.toDF("g", "t", "y"), "g",
        col("t"), col("y")).collect()
        .map(r => r.getString(0) -> ((r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2)),
          if (r.isNullAt(3)) None else Some(r.getLong(3)),
          r.getLong(4)))).toMap

    val rnd = new scala.util.Random(269)
    // "a": mean jumps 100k -> 900k at day 21 (a 0.8 jump - the Hoeffding
    // bound is conservative: it needs ~8 post-change steps to clear);
    // "b": calm around 500k
    val series = (1L to 40L).map(d => ("a", 100L + d,
        (if (d <= 20) 100000L else 900000L) + rnd.nextInt(20001) - 10000L)) ++
      (1L to 40L).map(d => ("b", 100L + d, 500000L + rnd.nextInt(20001) - 10000L))
    val got = run(series); val want = brute(series, 20L)
    assert(got == want, s"got $got\nwant $want")
    // the planted jump alarms once enough post-change mass accumulates
    val aFirst = got("a")._3.get
    assert(aFirst >= 121L && aFirst <= 136L, s"alarm at $aFirst")
    assert(got("b")._2.isEmpty && got("b")._4 == 0L, "calm series silent")
    // tiny-noise exchangeable series never clears the bound
    val calm = (1L to 60L).map(d => ("c", d, 300000L + (d % 7) * 100L))
    assert(run(calm)("c")._2.isEmpty)
    // a single-step group has no split pairs, but keeps its row
    assert(run(Seq(("solo", 5L, 42L))) ==
      Map("solo" -> ((1L, None, None, 0L))),
      "single-step group must keep its row")
    // maxSteps horizon: capped == uncapped while T <= cap, and a capped
    // long series == the uncapped scan over exactly its last cap steps
    def runCap(s: Seq[(String, Long, Long)], cap: Int) =
      Anomaly.hoeffdingSplitScan(s.toDF("g", "t", "y"), "g",
        col("t"), col("y"), maxSteps = cap).collect()
        .map(r => r.getString(0) -> ((r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2)),
          if (r.isNullAt(3)) None else Some(r.getLong(3)),
          r.getLong(4)))).toMap
    assert(runCap(series, 100) == run(series),
      "cap above the horizon must be bit-equal")
    val recent = series.groupBy(_._1).flatMap {
      case (_, xs) => xs.sortBy(_._2).takeRight(15) }.toSeq
    assert(runCap(series, 15) == run(recent),
      "capped scan must equal the uncapped scan over the recent horizon")
  }

  test("runsTest: brute parity, clumped series z << 0, alternating series z >> 0, degenerates") {
    import spark.implicits._
    import graft.operators.Anomaly

    def brute(pts: Seq[(String, Long, Long)]): Map[String, (Long, Long, Long, Long, Option[Double])] = {
      pts.groupBy(_._1).map { case (g, xs) =>
        val sorted = xs.map(_._3).sorted
        val med = sorted(((xs.size + 1) / 2 - 1).toInt) // lower median
        val signs = xs.sortBy(_._2).map(_._3).filter(_ != med).map(_ > med)
        val n = signs.size.toLong
        val n1 = signs.count(identity).toLong
        val r = if (signs.isEmpty) 0L
          else 1L + signs.zip(signs.tail).count { case (a, b) => a != b }
        val p2 = BigInt(2) * n1 * (n - n1)
        val z = if (n1 > 0 && n1 < n && n >= 2 && p2 > n)
          Some((BigInt(n) * (r - 1) - p2).toDouble /
            math.sqrt((p2 * (p2 - n)).toDouble / (n - 1).toDouble))
        else None
        g -> ((n, n1, n - n1, r, z))
      }
    }
    def run(pts: Seq[(String, Long, Long)]) =
      Anomaly.runsTest(pts.toDF("g", "t", "y"), "g", col("t"), col("y"))
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4),
          if (r.isNullAt(5)) None else Some(r.getDouble(5))))).toMap

    val rnd = new scala.util.Random(281)
    // "clump": 25 low days then 25 high days (two runs); "alt":
    // strict alternation; "mix": random around the median
    val pts = (1L to 50L).map(d => ("clump", d, if (d <= 25) 10L + rnd.nextInt(3) else 100L + rnd.nextInt(3))) ++
      (1L to 50L).map(d => ("alt", d, if (d % 2 == 0) d else 1000L + d)) ++
      (1L to 50L).map(d => ("mix", d, rnd.nextInt(1000).toLong))
    val got = run(pts); val want = brute(pts)
    assert(got == want, s"got $got\nwant $want")
    assert(got("clump")._5.get < -5.0, s"clumped: ${got("clump")._5}")
    assert(got("alt")._5.get > 5.0, s"alternating: ${got("alt")._5}")
    assert(math.abs(got("mix")._5.get) < 3.0)
    // all values equal to the median: everything drops from the sign
    // sequence, but the one-row-per-group contract still holds
    val flat = (1L to 10L).map(d => ("f", d, 7L))
    assert(run(flat) == Map("f" -> ((0L, 0L, 0L, 0L, None))),
      s"degenerate group must keep its row: ${run(flat)}")
  }

  test("coxStuart: brute half-pairing parity incl. odd length, trend sign, tied pairs drop") {
    import spark.implicits._
    import graft.operators.Anomaly

    def brute(pts: Seq[(String, Long, Long)]): Map[String, (Long, Long, Long, Option[Double])] = {
      pts.groupBy(_._1).map { case (g, xs) =>
        val ys = xs.sortBy(_._2).map(_._3)
        val n = ys.size
        val shift = (n + 1) / 2
        val pairs = (0 until n / 2).map(i => (ys(i), ys(i + shift)))
        val up = pairs.count(p => p._2 > p._1).toLong
        val down = pairs.count(p => p._2 < p._1).toLong
        val z = if (up + down > 0)
          Some((2L * up - (up + down)).toDouble / math.sqrt((up + down).toDouble))
        else None
        g -> ((pairs.size.toLong, up, down, z))
      }
    }
    def run(pts: Seq[(String, Long, Long)]) =
      Anomaly.coxStuart(pts.toDF("g", "t", "y"), "g", col("t"), col("y"))
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
          r.getLong(3),
          if (r.isNullAt(4)) None else Some(r.getDouble(4))))).toMap

    val rnd = new scala.util.Random(283)
    // "up": steady climb; "down": decline; "odd": 21 steps (middle drops)
    val pts = (1L to 30L).map(d => ("up", d, d * 10L + rnd.nextInt(5))) ++
      (1L to 30L).map(d => ("down", d, 1000L - d * 7L + rnd.nextInt(3))) ++
      (1L to 21L).map(d => ("odd", d, d + rnd.nextInt(2).toLong))
    val got = run(pts); val want = brute(pts)
    assert(got == want, s"got $got\nwant $want")
    assert(got("up")._4.get > 3.0 && got("down")._4.get < -3.0)
    assert(got("odd")._1 == 10L, "odd length: middle element drops")
    // constant series: every pair ties -> z NULL
    val const = (1L to 12L).map(d => ("c", d, 5L))
    assert(run(const)("c")._4.isEmpty && run(const)("c")._1 == 6L)
  }

  test("cusumChangepoint: planted mean shift found exactly, earliest-step tie-break, negative-mean floor, single-step group absent") {
    import spark.implicits._
    import graft.operators.Anomaly

    // planted shift: 10 days at 5, then 10 days at 50 -> split at day 10
    val shift = (1L to 10L).map(d => ("a", d, 5L)) ++
      (11L to 20L).map(d => ("a", d, 50L))
    // constant series: every split ties at stat 0 -> earliest day wins
    val const = (1L to 6L).map(d => ("b", d, 7L))
    // negative values: mean_before = -5/2 -> floor -2500000 micro
    val neg = Seq(("c", 1L, -2L), ("c", 2L, -3L), ("c", 3L, 100L))
    val lone = Seq(("d", 9L, 1L))
    val got = Anomaly.cusumChangepoint(
      (shift ++ const ++ neg ++ lone).toDF("g", "t", "y"),
      "g", col("t"), col("y"))
      .collect().map(r => r.getString(0) -> r).toMap

    assert(!got.contains("d"), "single-step group has no proper split")
    val a = got("a")
    assert(a.getLong(2) == 10L && a.getLong(3) == 10L)
    // stat at the true split: |20*50 - 10*550| = 4500
    assert(a.getDouble(4) == 4500.0)
    assert(a.getLong(5) == 5000000L && a.getLong(6) == 50000000L)
    val b = got("b")
    assert(b.getDouble(4) == 0.0 && b.getLong(2) == 1L,
      "all-tied stats must break to the earliest step")
    val c = got("c")
    // brute argmax over i=1: |3*(-2) - 1*95| = 101; i=2: |3*(-5) - 2*95| = 205
    assert(c.getLong(3) == 2L && c.getDouble(4) == 205.0)
    assert(c.getLong(5) == -2500000L, "negative mean must floor, not truncate")
    assert(c.getLong(6) == 100000000L)
  }

  test("jensenShannon: zero on identical corpora, symmetric, bounded by ln 2, brute micro parity") {
    import spark.implicits._
    import graft.operators.LmScore

    def jsd(a: Seq[String], b: Seq[String]): org.apache.spark.sql.Row =
      LmScore.jensenShannon(a.toDF("text"), b.toDF("text"), "text").collect()(0)

    // identical corpora: every mixture ratio is exactly 1 -> all-zero
    val same = jsd(Seq("x y z x", "y y"), Seq("x y z x", "y y"))
    assert(same.getDouble(3) == 0.0 && same.getDouble(4) == 0.0 &&
      same.getDouble(5) == 0.0)

    // brute parity: replicate the exact micro-nat chain in Scala
    val aToks = Seq("a", "a", "a", "b"); val bToks = Seq("b", "b", "c")
    val got = jsd(Seq(aToks.mkString(" ")), Seq(bToks.mkString(" ")))
    val vocab = (aToks ++ bToks).distinct
    val (ta, tb, v) = (aToks.size.toLong, bToks.size.toLong, vocab.size.toLong)
    val terms = vocab.map { w =>
      val ca = aToks.count(_ == w).toLong; val cb = bToks.count(_ == w).toLong
      val pa = (ca + 1).toDouble * (tb + v).toDouble
      val pb = (cb + 1).toDouble * (ta + v).toDouble
      val qa = math.round(math.log(2.0 * pa / (pa + pb)) * 1e6)
      val qb = math.round(math.log(2.0 * pb / (pa + pb)) * 1e6)
      ((ca + 1) * qa, (cb + 1) * qb)
    }
    val sa = terms.map(_._1).sum; val sb = terms.map(_._2).sum
    assert(got.getLong(0) == ta && got.getLong(1) == tb && got.getLong(2) == v)
    assert(got.getDouble(3) == sa.toDouble && got.getDouble(4) == sb.toDouble)
    assert(got.getDouble(5) ==
      0.5 * (sa.toDouble / ((ta + v).toDouble * 1e6) +
        sb.toDouble / ((tb + v).toDouble * 1e6)))

    // symmetric: swapping corpora swaps the unat sums, jsd identical
    val rev = jsd(Seq(bToks.mkString(" ")), Seq(aToks.mkString(" ")))
    assert(rev.getDouble(3) == got.getDouble(4) &&
      rev.getDouble(4) == got.getDouble(3) &&
      rev.getDouble(5) == got.getDouble(5))

    // disjoint corpora approach the ln 2 bound from below (smoothing
    // keeps them strictly inside)
    val far = jsd(Seq(Seq.fill(200)("aa").mkString(" ")),
      Seq(Seq.fill(200)("zz").mkString(" ")))
    assert(far.getDouble(5) > 0.5 && far.getDouble(5) < math.log(2.0))
  }

  test("logRank: identical cohorts chi2 exactly 0, brute chain parity with censoring, empty cohort NULL, zero-variance convention") {
    import spark.implicits._
    import graft.operators.Survival

    def run(a: Seq[(Long, Boolean)], b: Seq[(Long, Boolean)]) =
      Survival.logRank(a.toDF("dur", "ev"), b.toDF("dur", "ev"),
        col("dur"), col("ev")).collect()
    def brute(a: Seq[(Long, Boolean)], b: Seq[(Long, Boolean)])
        : (Long, Long, Long, Long) = {
      val days = (a ++ b).map(_._1).distinct.sorted
      var (oA, eM, vM) = (0L, 0L, 0L)
      for (t <- days) {
        val ra = a.count(_._1 >= t).toLong; val rb = b.count(_._1 >= t).toLong
        val da = a.count(p => p._1 == t && p._2).toLong
        val db = b.count(p => p._1 == t && p._2).toLong
        val dj = da + db; val nj = ra + rb
        if (dj > 0) {
          oA += da
          eM += math.round(dj.toDouble * ra.toDouble / nj.toDouble * 1e6)
          if (nj > 1)
            vM += math.round(dj.toDouble * ra.toDouble / nj.toDouble *
              rb.toDouble / nj.toDouble * (nj - dj).toDouble /
              (nj - 1).toDouble * 1e6)
        }
      }
      (oA, eM, vM,
        a.length.toLong)
    }

    // identical cohorts: per day da = db and ra = rb, so each E term is
    // exactly da·1e6 -> O == E/1e6 -> chi2 exactly 0
    val s = Seq((1L, true), (2L, false), (3L, true), (3L, true),
      (5L, true), (8L, false))
    val same = run(s, s)(0)
    assert(same.getDouble(5) == 0.0 && same.getLong(2) == 4L)

    // randomized cohorts with censoring: exact chain parity
    val rnd = new scala.util.Random(37)
    val ca = (1 to 120).map(_ => (rnd.nextInt(30).toLong, rnd.nextInt(4) > 0))
    val cb = (1 to 90).map(_ => (rnd.nextInt(40).toLong, rnd.nextInt(3) > 0))
    val got = run(ca, cb)(0)
    val (oA, eM, vM, _) = brute(ca, cb)
    assert(got.getLong(0) == 120L && got.getLong(1) == 90L)
    assert(got.getLong(2) == oA && got.getLong(3) == eM && got.getLong(4) == vM)
    val chi2 = (oA.toDouble - eM.toDouble / 1e6) *
      (oA.toDouble - eM.toDouble / 1e6) / (vM.toDouble / 1e6)
    assert(got.getDouble(5) == chi2, "chi2 must be the identical IEEE chain")

    // empty cohort: E and V collapse to 0 -> chi2 NULL, counts honest
    val empty = run(s, Seq.empty[(Long, Boolean)])(0)
    assert(empty.getLong(0) == 6L && empty.getLong(1) == 0L &&
      empty.getLong(4) == 0L && empty.isNullAt(5))

    // single subject at risk on the last event day: its E term counts
    // (day 9 adds the full 1e6), its V term is 0 (the pinned 0/0
    // convention) — day 1 contributes V = 250000 alone, so
    // chi2 = (1 − 1.5)² / 0.25 = 1 exactly
    val lone = run(Seq((9L, true)), Seq((1L, true)))(0)
    assert(lone.getLong(3) == 1500000L && lone.getLong(4) == 250000L &&
      lone.getDouble(5) == 1.0)
  }
}
