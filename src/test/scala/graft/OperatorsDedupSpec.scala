package graft

import graft.operators.{AsOf, Dedup, Sessionize, Similarity}
import graft.functions.{Text, Vectors}

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Operator unit tests: dedup, prefix-join, bloom, boilerplate, blocklist, chunking (split from OperatorsSpec, round 11 — bodies verbatim). */
class OperatorsDedupSpec extends SparkSuite with DocsWithDupsFixture {

  test("exact dedup keeps min id per normalized fingerprint") {
    val out = Dedup.exact(docsWithDups, "doc_id", "text")
      .orderBy("doc_id").collect().map(r => (r.getLong(1), r.getLong(2)))
    // fp groups: {1,2,5} -> (1,3), {3} -> (3,1), {4} -> (4,1)
    assert(out.toSeq == Seq((1L, 3L), (3L, 1L), (4L, 1L)))
  }

  test("minhash LSH finds planted near-dups, est_jaccard sane") {
    val pairs = Dedup.minHashLsh(docsWithDups, "doc_id", "text",
        shingleLen = 3, k = 16, bands = 4, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(t => (t._1, t._2))
    val ids = pairs.map(t => (t._1, t._2)).toSet
    assert(ids.contains((1L, 2L)) && ids.contains((1L, 5L)) && ids.contains((2L, 5L)))
    assert(pairs.filter(t => Set((1L, 2L), (1L, 5L), (2L, 5L))(t._1 -> t._2)).forall(_._3 == 1.0))
    assert(!ids.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("simHashTable equals per-row simHash expression; near-dups closer than random") {
    val fromTable = Dedup.simHashTable(docsWithDups, "doc_id", "text", 32)
      .orderBy("id").collect().map(_.getString(1))
    val fromExpr = docsWithDups.select(col("doc_id"), Dedup.simHash(col("text"), 32).as("sh"))
      .orderBy("doc_id").collect().map(_.getString(1))
    assert(fromTable.toSeq == fromExpr.toSeq)
    def ham(a: String, b: String) = a.zip(b).count(p => p._1 != p._2)
    assert(ham(fromTable(0), fromTable(2)) < ham(fromTable(0), fromTable(3)))
    assert(fromTable(0) == fromTable(1)) // exact dups → identical simhash
  }

  test("ngram jaccard: exact value on planted docs") {
    val pairs = Dedup.ngramJaccard(docsWithDups, "doc_id", "text",
        shingleLen = 3, threshold = 0.5, maxShingleDf = 50)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs((1L, 2L)) == 1.0)
    assert(pairs((1L, 5L)) == 1.0)
    // doc 3 differs in last word: 12 shingles each, 11 shared → 11/13
    assert(math.abs(pairs((1L, 3L)) - 11.0 / 13.0) < 1e-12)
    assert(!pairs.keySet.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("near-dup clustering: components + representative selection on planted docs") {
    val out = Dedup.deduplicateNearDups(docsWithDups, "doc_id", "text",
        shingleLen = 3, threshold = 0.5, maxShingleDf = 50)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    // {1,2,3,5} form one cluster (2,5 exact dups of 1; 3 near-dup); 4 alone
    assert(out.toSeq == Seq(
      (1L, 1L, true), (2L, 1L, false), (3L, 1L, false), (4L, 4L, true), (5L, 1L, false)))
  }

  test("connected components: chain merges transitively") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("id_a", "id_b")
    val comps = Dedup.connectedComponents(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(comps(_) == 1L))
    assert(comps(10L) == 10L && comps(11L) == 10L)
  }

  test("connected components: worst-case diameter chain and late-improving star under frontier propagation") {
    import spark.implicits._
    // a 26-node path is the frontier rewrite's worst case: the min label
    // crosses exactly one hop per round (the frontier is a single node),
    // so any frontier bookkeeping bug (dropping a just-changed node,
    // declaring convergence while a change is in flight) breaks the tail
    val chain = (1L until 26L).map(i => (i, i + 1L)).toDF("id_a", "id_b")
    val comps = Dedup.connectedComponents(chain, maxIterations = 40).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert((1L to 26L).forall(comps(_) == 1L), s"chain labels: $comps")
    // star whose center improves LATE: the center adopts 1 only after the
    // arm delivers it, and must then re-enter the frontier so the other
    // leaves hear about it the round after
    val star = (Seq((50L, 2L)) ++ Seq(60L, 70L, 80L).map(l => (50L, l))
      ++ Seq((1L, 2L))).toDF("id_a", "id_b")
    val starComps = Dedup.connectedComponents(star).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(Seq(1L, 2L, 50L, 60L, 70L, 80L).forall(starComps(_) == 1L),
      s"star labels: $starComps")
  }

  test("connected components: reliable checkpointing matches local and frees superseded rounds") {
    import spark.implicits._
    // without a checkpoint dir the reliable path must fail loudly, not
    // surface Spark's internal assertion from deep inside the first round
    val noDir = intercept[IllegalArgumentException] {
      Dedup.connectedComponents(
        Seq((1L, 2L)).toDF("id_a", "id_b"), reliable = true)
    }
    assert(noDir.getMessage.contains("setCheckpointDir"))

    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toFile
    try {
      spark.sparkContext.setCheckpointDir(dir.getAbsolutePath)
      // a 4-chain needs several propagation rounds → superseded reliable
      // checkpoints must be cleaned up as the iteration advances
      val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("id_a", "id_b")
      val comps = Dedup.connectedComponents(pairs, reliable = true).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(Seq(1L, 2L, 3L, 4L).forall(comps(_) == 1L))
      assert(comps(10L) == 10L && comps(11L) == 10L)
      // only the FINAL label table's files may remain (they back the
      // returned frame); edges + every superseded round must be gone
      def rddDirs = {
        def walk(f: java.io.File): Seq[java.io.File] =
          Option(f.listFiles).toSeq.flatten.flatMap(c => c +: walk(c))
        walk(dir).filter(f => f.isDirectory && f.getName.startsWith("rdd-"))
      }
      assert(rddDirs.size <= 1, s"leaked reliable checkpoints: $rddDirs")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(dir)
    }
  }

  test("near-dup dedup: reliable mode end-to-end matches the local-checkpoint result") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt2").toFile
    try {
      spark.sparkContext.setCheckpointDir(dir.getAbsolutePath)
      val local = Dedup.deduplicateNearDups(docsWithDups, "doc_id", "text",
        shingleLen = 3, threshold = 0.5, maxShingleDf = 50).orderBy("id").collect()
      val rel = Dedup.deduplicateNearDups(docsWithDups, "doc_id", "text",
        shingleLen = 3, threshold = 0.5, maxShingleDf = 50, reliable = true)
        .orderBy("id").collect()
      assert(local.toSeq == rel.toSeq)
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(dir)
    }
  }

  test("simHashPairs: pigeonhole blocking is complete vs brute force; hot buckets stay bounded") {
    import spark.implicits._
    val d = 3
    // completeness: every pair within hamming <= d that brute force finds,
    // the blocked operator must also find (pigeonhole guarantees it)
    val hashes = Dedup.simHashTable(docsWithDups, "doc_id", "text", 32)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val brute = (for {
      (ia, sa) <- hashes; (ib, sb) <- hashes if ia < ib
      h = sa.zip(sb).count(p => p._1 != p._2) if h <= d
    } yield (ia, ib, h.toLong)).toSet
    val blocked = Dedup.simHashPairs(docsWithDups, "doc_id", "text",
        bits = 32, maxDistance = d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(blocked == brute)
    assert(brute.exists(p => p._1 == 1L && p._2 == 2L)) // the planted dups are in there

    // hot bucket: 60 identical docs land every block in one bucket of 60
    // (~1770 pairs per block without the guard); with maxBucketSize = 10
    // those buckets are dropped and only the small-bucket pair survives
    val hot = (100L until 160L).map(i => (i, "spam spam spam spam spam spam spam"))
    val planted = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river"),
      (2L, "the quick brown fox jumps over the lazy dog near the rivers"))
    val out = Dedup.simHashPairs((hot ++ planted).toDF("doc_id", "text"),
        "doc_id", "text", bits = 32, maxDistance = 8, maxBucketSize = 10,
        saltHotBuckets = false)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!out.exists(p => p._1 >= 100L || p._2 >= 100L),
      "hot-bucket pairs must be excluded by the size guard")
    assert(out.contains((1L, 2L)), "small buckets must still produce their pairs")
  }

  test("simHashPairs: salted hot buckets keep completeness with bounded sub-buckets") {
    import spark.implicits._
    // 60 identical docs make every block a hot bucket at cap 10; salting
    // must keep ALL C(60,2) = 1770 intra-hot pairs (plus the planted
    // near-dup pair) — exactly the brute-force set, unlike the drop path
    val hot = (100L until 160L).map(i => (i, "spam spam spam spam spam spam spam"))
    val planted = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river"),
      (2L, "the quick brown fox jumps over the lazy dog near the rivers"))
    val docs = (hot ++ planted).toDF("doc_id", "text")
    val d = 8
    val hashes = Dedup.simHashTable(docs, "doc_id", "text", 32)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val brute = (for {
      (ia, sa) <- hashes; (ib, sb) <- hashes if ia < ib
      h = sa.zip(sb).count(p => p._1 != p._2) if h <= d
    } yield (ia, ib, h.toLong)).toSet
    val salted = Dedup.simHashPairs(docs, "doc_id", "text",
        bits = 32, maxDistance = d, maxBucketSize = 10, saltHotBuckets = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(salted == brute,
      s"salted pairs (${salted.size}) must equal brute force (${brute.size})")
    assert(salted.count(p => p._1 >= 100L && p._2 >= 100L) == 60 * 59 / 2,
      "all intra-hot-bucket pairs retained")
    assert(salted.exists(p => p._1 == 1L && p._2 == 2L))
  }

  test("cross-corpus decontamination: one-sided containment on planted docs") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"), // superset of probe 100
      (2L, "completely unrelated training material about distributed query engines")
    ).toDF("doc_id", "text")
    val probe = Seq(
      (100L, "alpha beta gamma delta epsilon"), // 3 shingles, all inside doc 1
      (101L, "nothing shared with training at all whatsoever today")
    ).toDF("doc_id", "text")
    val out = Dedup.crossCorpusOverlap(corpus, probe, "doc_id", "text",
        shingleLen = 3, threshold = 0.5, maxShingleDf = 50)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // probe 100 fully embedded in corpus 1 → containment 1.0 (the one-sided
    // measure; Jaccard would be 3/6 and miss the embedding)
    assert(out == Map((1L, 100L) -> 1.0))
  }

  test("bloom filter: zero false negatives, measured fpp near the configured bound") {
    import spark.implicits._
    val members = (0L until 2000L).map(i => i * 7919L)
    val bloom = operators.Bloom.build(members.toDF("k"), "k",
      expectedItems = members.size, fpp = 0.01)
    // every inserted key answers true — a Bloom filter's hard guarantee
    val misses = members.toDF("k")
      .where(!bloom.mightContain(col("k"))).count()
    assert(misses == 0L)
    // non-members: the observed false-positive rate should sit near 1%
    // (binomial slack: well under 3x the bound at 20k trials)
    val nonMembers = (0L until 20000L).map(i => i * 7919L + 1L)
    val fp = nonMembers.toDF("k")
      .where(bloom.mightContain(col("k"))).count()
    assert(fp.toDouble / nonMembers.size < 0.03,
      s"observed fpp ${fp.toDouble / nonMembers.size}")
  }

  test("bloom expressions work from SQL after registration") {
    // build positions via SQL, probe via SQL, against the Scala-built model
    val pos = spark.sql(
      "SELECT graft_bloom_positions(CAST(42 AS BIGINT), 640, 3) AS p")
      .head().getSeq[Long](0)
    assert(pos.length == 3 && pos.forall(p => p >= 0 && p < 640))
    import spark.implicits._
    val bloom = operators.Bloom.build(Seq(42L).toDF("k"), "k", 1L, 0.01)
    val hit = spark.sql(
      s"SELECT graft_bloom_contains(CAST(42 AS BIGINT), " +
        s"ARRAY(${bloom.words.mkString("CAST(", " AS BIGINT), CAST(", " AS BIGINT)")}), ${bloom.k})")
      .head().getBoolean(0)
    assert(hit)
  }

  test("bloom decontamination equals the exact path and the prefilter actually prunes") {
    val docs = sources.Tables.documents(spark, sf0001)
    val corpus = docs.where(col("doc_id") % 10 =!= 0)
    val probe = docs.where(col("doc_id") % 10 === 0)
    val exact = Dedup.crossCorpusOverlap(corpus, probe, "doc_id", "text",
        shingleLen = 3, threshold = 0.5, maxShingleDf = 50)
      .orderBy("corpus_id", "probe_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val bloomed = Dedup.crossCorpusOverlapBloom(corpus, probe, "doc_id", "text",
        shingleLen = 3, threshold = 0.5, maxShingleDf = 50, fpp = 0.01)
      .orderBy("corpus_id", "probe_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(bloomed.toSeq == exact.toSeq)
  }

  test("bloom prefilter prunes a disjoint corpus down to the planted matches plus fpp trickle") {
    import spark.implicits._
    // corpus: 500 docs of doc-unique token streams (zero shingles shared
    // with the probe) plus 5 planted copies of probe text
    val gibberish = (0 until 500).map(i =>
      (i.toLong, (0 until 30).map(j => s"w${i}x$j").mkString(" ")))
    val probeText = "shared evaluation prompt about distributed query planning and shuffles"
    val planted = (500 until 505).map(i => (i.toLong, probeText))
    val corpus = (gibberish ++ planted).toDF("doc_id", "text")
    val probe = Seq((9000L, probeText)).toDF("doc_id", "text")
    def keys(df: org.apache.spark.sql.DataFrame) = df
      .select(explode(array_distinct(Text.fastWordShingles(col("text"), 3))).as("s"))
      .select(expr("CAST(conv(substring(md5(s), 1, 15), 16, 10) AS BIGINT)").as("sh"))
    val psKeys = keys(probe).distinct()
    val bloom = operators.Bloom.build(psKeys, "sh", psKeys.count(), fpp = 0.01)
    val total = keys(corpus).count()
    val survivors = keys(corpus).where(bloom.mightContain(col("sh"))).count()
    // 505 docs x 28 shingles each; only the 5 planted docs' shingles (x8
    // distinct) should survive, plus ~1% false positives of the rest
    assert(survivors < total / 10,
      s"prefilter barely pruned: $survivors of $total shingle rows survived")
    // and the operator built on it still finds exactly the planted docs
    val hits = Dedup.crossCorpusOverlapBloom(corpus, probe, "doc_id", "text",
        shingleLen = 3, threshold = 0.5, maxShingleDf = 50, fpp = 0.01)
      .select("corpus_id").collect().map(_.getLong(0)).sorted
    assert(hits.toSeq == Seq(500L, 501L, 502L, 503L, 504L))
  }

  test("incremental dedup: batch classified against the index, min-id within-batch tie-breaks") {
    import spark.implicits._
    val corpusText = "the quick brown fox jumps over the lazy dog near the river bank today"
    val indexDocs = Seq((1L, corpusText)).toDF("doc_id", "text")
    val index = Dedup.dedupIndex(indexDocs, "doc_id", "text", shingleLen = 3, k = 16, bands = 4)
    val batch = Seq(
      (10L, corpusText),                                            // exact copy of indexed -> exact_dup
      (11L, "THE  Quick  brown fox jumps over the lazy dog near the river bank today"), // normalizes to same fp -> exact_dup
      (12L, "the quick brown fox jumps over the lazy dog near the river bank tonight"), // near variant -> candidate
      (13L, "completely different content about spark query engines and columnar execution plans"), // fresh -> kept
      (14L, "completely different content about spark query engines and columnar execution plans")  // batch dup of 13 -> exact_dup
    ).toDF("doc_id", "text")
    val out = Dedup.incrementalDedup(index, batch, "doc_id", "text",
        shingleLen = 3, k = 16, bands = 4)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(10L) == "exact_dup")
    assert(out(11L) == "exact_dup")
    assert(out(12L) == "near_dup_candidate", s"got ${out(12L)}")
    assert(out(13L) == "kept")
    assert(out(14L) == "exact_dup") // 13 is the min-id batch holder of that fp
  }

  test("per-row minhash band keys are bit-identical to the index's flat formulation") {
    val docs = sources.Tables.documents(spark, sf0001).limit(50)
    val flat = Dedup.dedupIndex(docs, "doc_id", "text", shingleLen = 3, k = 16, bands = 4)
      .select(col("id"), col("bands"))
    val perRow = docs.select(col("doc_id").as("id"),
      Dedup.minHashBandKeysPerRow(col("text"), 3, 16, 4).as("bands2"))
    val joined = flat.join(perRow, Seq("id"))
      .where(not(col("bands") === col("bands2")))
    assert(joined.count() == 0L, "per-row band keys diverged from the flat index bands")
  }

  test("index update absorbs only kept docs; the next batch sees them as corpus") {
    import spark.implicits._
    val corpusText = "the quick brown fox jumps over the lazy dog near the river bank today"
    val freshText = "completely different content about spark query engines and columnar execution plans"
    val index = Dedup.dedupIndex(Seq((1L, corpusText)).toDF("doc_id", "text"),
      "doc_id", "text", 3, 16, 4)
    val batch = Seq((10L, corpusText), (13L, freshText)).toDF("doc_id", "text")
    val statuses = Dedup.incrementalDedup(index, batch, "doc_id", "text", 3, 16, 4)
    val updated = Dedup.updateDedupIndex(index, batch, statuses, "doc_id", "text", 3, 16, 4)
    // 10 was an exact dup (not absorbed); 13 was kept (absorbed)
    assert(updated.select("id").collect().map(_.getLong(0)).toSet == Set(1L, 13L))
    // the loop: a re-sent copy of the absorbed doc is now an exact dup
    val next = Dedup.incrementalDedup(updated, Seq((20L, freshText)).toDF("doc_id", "text"),
      "doc_id", "text", 3, 16, 4)
    assert(next.collect().map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((20L, "exact_dup")))
  }

  test("canonical dedup: equal scores fall back to min id") {
    import spark.implicits._
    val docs = Seq(
      (7L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (9L, "alpha beta gamma delta epsilon zeta eta theta iota kappa")
    ).toDF("doc_id", "text")
    val out = Dedup.canonicalizeNearDups(docs, "doc_id", "text",
        score = _ => lit(1.0), shingleLen = 3, threshold = 0.3, maxShingleDf = 50)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(out.toSeq == Seq((7L, 7L, true), (9L, 7L, false)))
  }

  test("canonical dedup: string doc ids resolve, tiebreak is lexicographic min") {
    import spark.implicits._
    // the (-score, id) tiebreak must not require a numeric id — UUIDs and
    // string keys are accepted by every other Dedup operator
    val docs = Seq(
      ("doc-b", "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      ("doc-a", "alpha beta gamma delta epsilon zeta eta theta iota kappa")
    ).toDF("doc_id", "text")
    val out = Dedup.canonicalizeNearDups(docs, "doc_id", "text",
        score = _ => lit(1.0), shingleLen = 3, threshold = 0.3, maxShingleDf = 50)
      .orderBy("id").collect().map(r => (r.getString(0), r.getString(1), r.getBoolean(2)))
    assert(out.toSeq == Seq(("doc-a", "doc-a", true), ("doc-b", "doc-a", false)))
  }

  test("blockDedup: keep-first per distinct block, reassembly, empty docs") {
    import spark.implicits._
    // blockWords=3: doc 1 = [A B C][D E F], doc 2 = [A B C][X Y Z], doc 3
    // repeats its own block, doc 4 is unique, doc 5 is empty after norm
    val docs = Seq(
      (1L, "a b c d e f"),
      (2L, "a b c x y z"),
      (3L, "p q r p q r"),
      (4L, "unique words only here now"),
      (5L, "   ")
    ).toDF("doc_id", "text")
    val out = Dedup.blockDedup(docs, "doc_id", "text", blockWords = 3)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out(0) == ((1L, 2L, 2L, "a b c d e f")))      // first owner of [a b c]
    assert(out(1) == ((2L, 2L, 1L, "x y z")))            // [a b c] lost to doc 1
    assert(out(2) == ((3L, 2L, 1L, "p q r")))            // self-repeat collapses
    assert(out(3) == ((4L, 2L, 2L, "unique words only here now"))) // short tail kept
    assert(out(4) == ((5L, 0L, 0L, "")))                 // empty doc stays 1:1
    // no-duplicate corpus reconstructs exactly (normalized)
    val clean = Seq((1L, "aa bb cc dd"), (2L, "ee ff gg")).toDF("doc_id", "text")
    val re = Dedup.blockDedup(clean, "doc_id", "text", blockWords = 2)
      .orderBy("doc_id").collect().map(_.getString(3))
    assert(re.toSeq == Seq("aa bb cc dd", "ee ff gg"))
  }

  test("contaminationSpans: overlap coverage not double-counted, short docs zero") {
    import spark.implicits._
    // benchmark holds "w1 w2 w3 w4 w5" → its two 4-gram windows; the corpus
    // doc embeds all 5 tokens at positions 2..6 of 10 → matched windows at
    // i=2,3 overlap on 3 positions; covered = 5, not 8
    val corpus = Seq(
      (1L, "x0 x1 w1 w2 w3 w4 w5 x7 x8 x9"),
      (2L, "totally clean text with other words entirely"),
      (3L, "too short")
    ).toDF("doc_id", "text")
    val bench = Seq((100L, "w1 w2 w3 w4 w5")).toDF("doc_id", "text")
    val out = Dedup.contaminationSpans(corpus, bench, "doc_id", "text", gramWords = 4)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(out(0) == ((1L, 7L, 2L, 5L, 0.5)))
    assert(out(1) == ((2L, 4L, 0L, 0L, 0.0)))
    assert(out(2) == ((3L, 0L, 0L, 0L, 0.0))) // < gramWords tokens: no windows, still present
  }

  test("spanDedup: all-but-first at token granularity, self-repeats, uniques untouched") {
    import spark.implicits._
    // k=3; doc 1 owns [a b c d e] (3 windows); doc 2 embeds the same run →
    // every position of the run is covered by a duplicated non-winner
    // window; doc 3 repeats a span inside itself; doc 4 is clean
    val docs = Seq(
      (1L, "a b c d e x1 x2"),
      (2L, "y1 a b c d e y2"),
      (3L, "p q r z1 p q r"),
      (4L, "all unique tokens here")
    ).toDF("doc_id", "text")
    val out = graft.operators.Dedup.spanDedup(docs, "doc_id", "text", spanWords = 3)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out(0) == ((1L, 7L, 0L, "a b c d e x1 x2")))   // first occurrence untouched
    assert(out(1) == ((2L, 7L, 5L, "y1 y2")))             // embedded run removed whole
    assert(out(2) == ((3L, 7L, 3L, "p q r z1")))          // self-repeat: second copy out
    assert(out(3) == ((4L, 4L, 0L, "all unique tokens here")))
  }

  test("scrubContaminatedSpans: removes exactly the measured coverage, keeps clean text") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "x0 x1 w1 w2 w3 w4 w5 x7 x8 x9"), // 5 covered positions (q77 case)
      (2L, "totally clean text with other words entirely"),
      (3L, "too short")
    ).toDF("doc_id", "text")
    val bench = Seq((100L, "w1 w2 w3 w4 w5")).toDF("doc_id", "text")
    val out = graft.operators.Dedup.scrubContaminatedSpans(
        corpus, bench, "doc_id", "text", gramWords = 4)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    // n_removed must equal contaminationSpans' covered_tokens on the same
    // inputs — the measure/scrub pair is one contract
    val covered = graft.operators.Dedup.contaminationSpans(
        corpus, bench, "doc_id", "text", gramWords = 4)
      .orderBy("doc_id").collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(out.map(t => t._1 -> t._3).toMap == covered)
    assert(out(0) == ((1L, 10L, 5L, "x0 x1 x7 x8 x9"))) // benchmark run cut, flanks kept
    assert(out(1)._4 == "totally clean text with other words entirely")
    assert(out(2) == ((3L, 2L, 0L, "too short")))
  }

  test("selfDedup: first in-doc occurrence survives, tail segment distinct, empty doc intact") {
    import spark.implicits._
    val docs = Seq(
      // segs (2 words): "a b" | "c d" | "a b" | "e"  → third is a repeat
      (1L, "a b c d a b e"),
      // no repeats — identity
      (2L, "x y z"),
      // whitespace-only → zero segments, empty text
      (3L, "   "),
      // repeated SHORT tail never matches the full segment "a b", only
      // an equal-length tail would — here it survives
      (4L, "a b a")
    ).toDF("doc_id", "text")
    val out = graft.operators.Dedup.selfDedup(docs, "doc_id", "text", segWords = 2)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out.toSeq == Seq(
      (1L, 4L, 1L, "a b c d e"),
      (2L, 2L, 0L, "x y z"),
      (3L, 0L, 0L, ""),
      (4L, 2L, 0L, "a b a")))
  }

  test("selfDedup plan: zero exchanges — pure scan-stage expression work") {
    import spark.implicits._
    val docs = Seq((1L, "a b c a b c")).toDF("doc_id", "text")
    val out = graft.operators.Dedup.selfDedup(docs, "doc_id", "text")
    out.collect()
    val plan = out.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(!plan.contains("Exchange"),
      s"intra-doc dedup must not shuffle:\n$plan")
  }

  test("containmentPairs: quote inclusion scores ~1.0 overlap where jaccard stays tiny") {
    import spark.implicits._
    // doc 2 is a verbatim 6-token excerpt of the 24-token doc 1: every
    // trigram of doc 2 appears in doc 1 → containment_b = overlap = 1.0,
    // while jaccard = 4/22 ≈ 0.18 would never trip a sane threshold
    val big = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi psi omega"
    val docs = Seq(
      (1L, big),
      (2L, "lambda mu nu xi omicron pi"),
      (3L, "one two three four five six")  // disjoint — no pair
    ).toDF("doc_id", "text")
    val out = graft.operators.Dedup.containmentPairs(docs, "doc_id", "text",
        shingleLen = 3, threshold = 0.8, maxShingleDf = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6)))
    assert(out.toSeq == Seq((1L, 2L, 22L, 4L, 4.0 / 22.0, 1.0, 1.0)))
    // the dedup ACTION: the excerpt (smaller side) is dropped, the
    // article and the unrelated doc survive
    val kept = graft.operators.Dedup.containmentDedup(docs, "doc_id", "text",
        shingleLen = 3, threshold = 0.8, maxShingleDf = 50)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(1L, 3L))
    // the same pair at the same shingle length is INVISIBLE to jaccard 0.5
    val jac = graft.operators.Dedup.ngramJaccard(docs, "doc_id", "text",
      shingleLen = 3, threshold = 0.5, maxShingleDf = 50)
    assert(jac.count() == 0)
  }

  test("pruneHighDfTokens: inclusive threshold, order preserved, all-boilerplate doc survives") {
    import spark.implicits._
    val docs = Seq((1L, "x y z x"), (2L, "y x"), (3L, "x y"), (4L, "x"), (5L, ""))
      .toDF("doc_id", "text")
    // df: x=4/5, y=3/5, z=1/5; threshold 80/100 — x sits EXACTLY on the
    // boundary (4*100 == 5*80) and must be pruned (>= is inclusive)
    val vocab = graft.operators.Boilerplate.highDfTokens(docs, "doc_id", "text", 80, 100)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(vocab.toSeq == Seq(("x", 4L)))
    val out = graft.operators.Boilerplate.pruneHighDfTokens(docs, "doc_id", "text", 80, 100)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(out.toSeq == Seq(
      (1L, "y z", 2L, 2L),   // order preserved, both x occurrences dropped
      (2L, "y", 1L, 1L),
      (3L, "y", 1L, 1L),
      (4L, "", 0L, 1L),      // every token was boilerplate: row survives
      (5L, "", 0L, 0L)))     // empty doc: nothing to drop
  }

  test("shingleNovelty: corpus-unique vs shared shingles on a hand corpus") {
    import spark.implicits._
    val docs = Seq((1L, "a b c d"), (2L, "a b c e"), (3L, "x y z w"))
      .toDF("doc_id", "text")
    // 3-shingles: doc1 {abc, bcd}, doc2 {abc, bce}, doc3 {xyz, yzw};
    // "a b c" is shared (df 2), everything else unique
    val out = graft.operators.Boilerplate.shingleNovelty(docs, "doc_id", "text", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1)
    assert(out.toSeq == Seq((1L, 2L, 1L, 0.5), (2L, 2L, 1L, 0.5), (3L, 2L, 2L, 1.0)))
  }

  test("updateDfStats: incremental merge equals a from-scratch rebuild, empty sides included") {
    import graft.operators.Boilerplate
    import spark.implicits._
    val base = Seq((1L, "alpha beta gamma"), (2L, "alpha beta"), (3L, "alpha delta"))
      .toDF("doc_id", "text")
    val batch = Seq((4L, "beta gamma"), (5L, "epsilon alpha")).toDF("doc_id", "text")
    val all = base.unionAll(batch)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("tok").collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val merged = Boilerplate.updateDfStats(
      Boilerplate.dfStats(base, "doc_id", "text"), batch, "doc_id", "text")
    // full stats agree with one-pass stats: tok/df rows and the doc count
    assert(canon(merged.select("tok", "df")) ==
      canon(Boilerplate.dfStats(all, "doc_id", "text").select("tok", "df")))
    assert(merged.select("n_docs").distinct().collect().map(_.getLong(0)).toSeq == Seq(5L))
    // thresholded vocabulary agrees with highDfTokens over the union
    assert(canon(Boilerplate.vocabularyFromStats(merged, 50, 100)) ==
      canon(Boilerplate.highDfTokens(all, "doc_id", "text", 50, 100)))
    // empty batch: stats unchanged; empty base: stats = batch stats
    val emptyDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val noBatch = Boilerplate.updateDfStats(
      Boilerplate.dfStats(base, "doc_id", "text"), emptyDocs, "doc_id", "text")
    assert(canon(noBatch.select("tok", "df")) ==
      canon(Boilerplate.dfStats(base, "doc_id", "text").select("tok", "df")))
    assert(noBatch.select("n_docs").distinct().collect().map(_.getLong(0)).toSeq == Seq(3L))
    val noBase = Boilerplate.updateDfStats(
      Boilerplate.dfStats(emptyDocs, "doc_id", "text"), batch, "doc_id", "text")
    assert(canon(noBase.select("tok", "df")) ==
      canon(Boilerplate.dfStats(batch, "doc_id", "text").select("tok", "df")))
    assert(noBase.select("n_docs").distinct().collect().map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("updateShingleDfStats: incremental shingle-df merge equals rebuild; shared keys agree") {
    import graft.operators.Boilerplate
    import spark.implicits._
    val base = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma zeta eta")).toDF("doc_id", "text")
    val batch = Seq(
      (3L, "alpha beta gamma delta theta"),
      (4L, "iota kappa lambda mu nu")).toDF("doc_id", "text")
    val all = base.unionAll(batch)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("sh").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val merged = Boilerplate.updateShingleDfStats(
      Boilerplate.shingleDfStats(base, "doc_id", "text", 3), batch,
      "doc_id", "text", 3)
    assert(canon(merged.select("sh", "df")) ==
      canon(Boilerplate.shingleDfStats(all, "doc_id", "text", 3).select("sh", "df")))
    assert(merged.select("n_docs").distinct().collect().map(_.getLong(0)).toSeq == Seq(4L))
    // the df >= 2 key set off the merged stats = sharedShingleKeys(all)
    val fromStats = Boilerplate.sharedKeysFromStats(merged)
      .collect().map(_.getLong(0)).sorted.toSeq
    val oneShot = Boilerplate.sharedShingleKeys(all, "doc_id", "text", 3)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(fromStats == oneShot && fromStats.nonEmpty)
  }

  test("contentDefinedChunks: boundary locality — an early edit leaves later chunks identical") {
    import graft.operators.Chunking
    import spark.implicits._
    // long synthetic doc; divisor 8 for several chunks at this length
    val words = (1 to 120).map(i => s"w${i % 37}x$i").mkString(" ")
    val edited = "INSERTED " + words // one token prepended at the front
    val docs = Seq((1L, words), (2L, edited)).toDF("doc_id", "text")
    val out = Chunking.contentDefinedChunks(docs, "doc_id", "text", divisor = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getString(3)).toMap
    val c1 = out.filter(_._1._1 == 1L).toSeq.sortBy(_._1._2).map(_._2)
    val c2 = out.filter(_._1._1 == 2L).toSeq.sortBy(_._1._2).map(_._2)
    assert(c1.size >= 3, s"need several chunks, got ${c1.size}")
    // content-defined: every boundary is a pure function of local content,
    // so the edited doc re-synchronizes — its trailing chunks equal the
    // original's trailing chunks (fixed-stride windows would ALL shift)
    val common = c1.reverse.zip(c2.reverse).takeWhile { case (a, b) => a == b }.size
    assert(common >= c1.size - 2,
      s"chunks did not re-synchronize after the edit: $common of ${c1.size} shared")
    // reconstruction: chunks tile the token stream exactly, in order
    val rebuilt = Chunking.contentDefinedChunks(docs, "doc_id", "text", divisor = 8)
      .where(col("doc_id") === 1L).orderBy(col("chunk_idx"))
      .collect().map(_.getString(4)).mkString(" ")
    assert(rebuilt == words)
    // tiny docs (< shingle length) never cut
    val tiny = Seq((9L, "just two")).toDF("doc_id", "text")
    val t9 = Chunking.contentDefinedChunks(tiny, "doc_id", "text", divisor = 2)
      .collect()
    assert(t9.length == 1 && t9.head.getLong(2) == 2L && t9.head.getString(4) == "just two")
    // the whole chunker is per-row HOFs + a scan-stage explode: a
    // document's chunks never leave the task that read it — NO exchange
    val chunked = Chunking.contentDefinedChunks(docs, "doc_id", "text", divisor = 8)
    chunked.collect()
    val plan = chunked.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"chunker must not shuffle:\n$plan")
  }

  test("contentDefinedChunks: sub-shingle docs report true token counts even in the boundary hash class") {
    import graft.operators.Chunking
    import spark.implicits._
    // 1- and 2-token docs (< shingleLen 3): fastWordShingles emits one
    // whole-text shingle, and with divisor 2 roughly half the docs hash
    // into the boundary class where the unclamped cut used to land past
    // the end (reporting n_tok = shingleLen instead of the real count)
    val docs = (1 to 40).map(i =>
      (i.toLong, if (i % 2 == 0) s"tok$i" else s"tok$i other$i")).toDF("doc_id", "text")
    // the test must actually exercise the boundary class
    val boundaryHits = docs.select(
        explode(Text.fastWordShingles(col("text"), 3)).as("sh"))
      .where(pmod(Dedup.shingleKey(col("sh")), lit(2L)) === 0L).count()
    assert(boundaryHits >= 1, "fixture never hits the boundary hash class")
    val out = Chunking.contentDefinedChunks(docs, "doc_id", "text", divisor = 2)
      .collect()
    assert(out.length == 40, "short docs chunk to exactly one whole-text chunk")
    out.foreach { r =>
      val n = r.getLong(2); val txt = r.getString(4)
      assert(n == txt.split(" ").length.toLong,
        s"n_tok $n != actual tokens in '$txt'")
      assert(r.getLong(1) == 0L, "single chunk must be index 0")
    }
  }

  test("corpusSimilarityMatrix: exact jaccard per group pair, sparse on disjoint") {
    import spark.implicits._
    import graft.operators.Dedup
    // a and b share their first two docs' shingles; c is disjoint
    val docs = Seq(
      ("a", "one two three four"), ("a", "five six seven"),
      ("b", "one two three four"), ("b", "eight nine ten"),
      ("c", "xx yy zz ww")).toDF("g", "text")
    val out = Dedup.corpusSimilarityMatrix(docs, "g", "text", shingleLen = 3)
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))
    assert(out.length == 1, s"only (a,b) overlap; got ${out.toSeq}")
    val (ga, gb, na, nb, nc, j) = out.head
    // a: 2 shingles from doc1 + 1 whole-text from doc2; b likewise
    assert(ga == "a" && gb == "b" && na == 3L && nb == 3L && nc == 2L)
    assert(j == 2.0 / 4.0)
  }

  test("blocklist: token-boundary matching, report counts, drop action") {
    import spark.implicits._
    import graft.operators.Blocklist
    val docs = Seq(
      (1L, "the hash join beats the sort"),   // "hash join"
      (2L, "a hashjoin is one token"),        // no boundary match
      (3L, "Hash  JOIN and table scan here"), // normalization: 2 phrases
      (4L, "scan table join hash"),           // reversed orders: none
      (5L, "")).toDF("doc_id", "text")
    val phrases = Seq("hash join", "table scan", "missing phrase three tokens")
    val report = Blocklist.matchReport(docs, "doc_id", "text", phrases)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(report == Map(1L -> 1L, 2L -> 0L, 3L -> 2L, 4L -> 0L, 5L -> 0L))
    val kept = Blocklist.dropMatching(docs, "doc_id", "text", phrases)
      .collect().map(_.getLong(0)).sorted
    assert(kept.toSeq == Seq(2L, 4L, 5L))
    // duplicate phrase spellings collapse under normalization
    val matches = Blocklist.phraseMatches(docs, "doc_id", "text",
      Seq("hash join", "HASH   Join"))
    assert(matches.collect().length == 2) // docs 1 and 3, one phrase each
  }

  test("winnowing: guarantee on shared runs, density, single-window short docs, no exchange") {
    import spark.implicits._
    import graft.operators.Dedup
    val run = (1 to 30).map(i => s"shared$i").mkString(" ")
    val docs = Seq(
      (1L, s"alpha beta gamma $run delta epsilon"),
      (2L, s"completely different prefix words here $run and another tail"),
      (3L, "nothing in common with anybody at all zz"),
      (4L, "tiny doc")).toDF("doc_id", "text")
    val fps = Dedup.winnowingFingerprints(docs, "doc_id", "text",
      shingleLen = 3, window = 8)
    val byDoc = fps.collect().groupBy(_.getLong(0))
      .map { case (k, v) => k -> v.map(_.getLong(1)).toSet }
    // the winnowing GUARANTEE: a shared run of >= w + shingleLen - 1 = 10
    // tokens forces a shared fingerprint — doc 1 and 2 share a 30-run
    assert((byDoc(1L) & byDoc(2L)).nonEmpty, "shared run must share a fingerprint")
    assert((byDoc(3L) & byDoc(1L)).isEmpty && (byDoc(3L) & byDoc(2L)).isEmpty)
    // density: ~2/(w+1) of shingle positions, never more than all
    assert(byDoc(1L).size < 36 && byDoc(1L).size >= 36 / 8)
    // a doc shorter than window+shingle is ONE window -> one fingerprint
    assert(byDoc(4L).size == 1)
    // per-row HOFs + scan-stage explode: no exchange
    val plan = fps.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(!plan.contains("Exchange"), s"fingerprinting must not shuffle:\n$plan")
    // pair detection finds exactly the planted overlap
    val pairs = Dedup.winnowedPairs(docs, "doc_id", "text", 3, 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((1L, 2L)))
  }

  test("frequencySpectrum: count-of-counts, mass conservation") {
    import spark.implicits._
    import graft.operators.Boilerplate
    // a:3, b:2, c:2, d:1, e:1, f:1 -> spectrum 1->3, 2->2, 3->1
    val docs = Seq((1L, "a b c d"), (2L, "a b c e"), (3L, "a f")).toDF("id", "text")
    val got = Boilerplate.frequencySpectrum(docs, "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 3L, 2L -> 2L, 3L -> 1L))
    // sum(freq * n_types) must equal the corpus token count
    assert(got.map { case (f, n) => f * n }.sum == 10L)
  }

  test("kmvSimilarityMatrix: exact at k >= universe, within KMV tolerance at small k") {
    import spark.implicits._
    import graft.operators.Dedup
    val docs = Seq(
      ("a", "one two three four five six seven eight"),
      ("b", "one two three four five nine ten eleven"),
      ("c", "alpha beta gamma delta epsilon zeta eta theta")).toDF("g", "text")
    // k beyond every group's shingle universe -> the sketch IS the set,
    // so the estimate equals the exact Jaccard
    val exact = Dedup.corpusSimilarityMatrix(docs, "g", "text", 3)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(5)).toMap
    val big = Dedup.kmvSimilarityMatrix(docs, "g", "text", 3, k = 1000)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(4)).toMap
    assert(big(("a", "b")) == exact(("a", "b")))
    assert(big(("a", "c")) == 0.0 && big(("b", "c")) == 0.0)
    // sketch sizes respect k and rank ordering
    val sk = Dedup.kmvSketch(docs, "g", "text", 3, k = 3).collect()
      .groupBy(_.getString(0)).map { case (g, v) => g -> v.map(_.getLong(2)).sorted.toSeq }
    assert(sk.values.forall(_ == Seq(1L, 2L, 3L)))
  }

  test("oovRate: per-group OOV fraction against a reference vocabulary") {
    import spark.implicits._
    import graft.operators.Boilerplate
    val docs = Seq(("a", "known words here"), ("a", "unknown stuff"),
      ("b", "known known known")).toDF("src", "text")
    val vocab = Seq("known", "words").toDF("tok")
    val got = Boilerplate.oovRate(docs, "src", "text", vocab)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // a: 5 tokens, oov = here, unknown, stuff = 3; b: 3 tokens, 0 oov
    assert(got("a") == (5L, 3L) && got("b") == (3L, 0L))
  }

  test("vocabGrowthCurve: nested samples grow monotonically; full rate is the whole corpus") {
    import spark.implicits._
    import graft.operators.Boilerplate
    val docs = (1L to 200L).map(i => (i, s"common w${i % 30} unique$i")).toDF("doc_id", "text")
    val out = Boilerplate.vocabGrowthCurve(docs, "doc_id", "text", Seq(0.1, 0.5, 1.0))
      .orderBy(col("rate")).collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.length == 3)
    // nesting: every statistic is monotone nondecreasing in the rate
    assert(out.sliding(2).forall { case Array(a, b) =>
      a._2 <= b._2 && a._3 <= b._3 && a._4 <= b._4 })
    // rate 1.0 is the exact whole corpus: 200 docs, 600 tokens,
    // vocab = common + 30 w-types + 200 unique = 231
    assert(out.last == (1.0, 200L, 600L, 231L))
    // the 10% sample is a real subsample, not empty and not everything
    assert(out.head._2 > 0 && out.head._2 < 200L)
  }

  test("PrefixJoin.jaccardSelfJoin: complete at the threshold, exact rational verify") {
    val out = graft.operators.PrefixJoin.jaccardSelfJoin(
        docsWithDups, "doc_id", "text", shingleLen = 3, tNum = 1L, tDen = 2L)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getLong(3)))).toMap
    // identical trio: inter = uni = 12 shingles; doc 3 is 11/13 vs each
    assert(out.keySet == Set((1L, 2L), (1L, 5L), (2L, 5L),
      (1L, 3L), (2L, 3L), (3L, 5L)))
    assert(out((1L, 2L)) == ((12L, 12L)))
    assert(out((1L, 3L)) == ((11L, 13L)))
    // threshold 1: only exact-set pairs survive
    val exact = graft.operators.PrefixJoin.jaccardSelfJoin(
        docsWithDups, "doc_id", "text", shingleLen = 3, tNum = 1L, tDen = 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact == Set((1L, 2L), (1L, 5L), (2L, 5L)))
  }

  test("multiScaleSpanDedup: planted 70-token repeat dies at occ 2, idiom survives, hot chrome dies, single-scale ≡ spanDedup") {
    import spark.implicits._
    import graft.operators.Dedup
    val banner = (0 until 70).map(i => s"b$i").mkString(" ")
    val idiom = (0 until 8).map(i => s"i$i").mkString(" ")
    val chrome = (0 until 8).map(i => s"c$i").mkString(" ")
    def uniq(d: Long, n: Int) = (0 until n).map(i => s"u${d}_$i").mkString(" ")
    val docs = (
      // planted LONG repeat: doc 1 carries the banner first, doc 2 repeats it
      Seq(1L -> (uniq(1, 10) + " " + banner), 2L -> (banner + " " + uniq(2, 10))) ++
      // 8-token idiom in 10 docs — occ 10 < minOcc 50, must survive everywhere
      (10L until 20L).map(d => d -> (uniq(d, 4) + " " + idiom + " " + uniq(d + 1000, 4))) ++
      // 8-token chrome in 60 docs — occ 60 >= 50, all but the first cut
      (100L until 160L).map(d => d -> (uniq(d, 4) + " " + chrome))
    ).toDF("doc_id", "text")
    val out = Dedup.multiScaleSpanDedup(docs, "doc_id", "text",
        scales = Seq(8 -> 50L, 16 -> 8L, 64 -> 2L))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    // the 64-scale covers the repeat's FULL 70-token extent in doc 2
    // (stride-1 duplicated windows union to the whole run)...
    assert(out(2L) == ((80L, 70L, uniq(2, 10))), s"got ${out(2L)}")
    // ...while keep-first leaves doc 1 verbatim
    assert(out(1L) == ((80L, 0L, uniq(1, 10) + " " + banner)))
    // mid-frequency idiom: below every scale's threshold, untouched
    (10L until 20L).foreach(d => assert(out(d)._2 == 0L, s"doc $d lost tokens"))
    // hot chrome: the least-id doc keeps it, the other 59 lose exactly it
    assert(out(100L)._2 == 0L && out(100L)._3.endsWith(chrome))
    (101L until 160L).foreach { d =>
      assert(out(d) == ((12L, 8L, uniq(d, 4))), s"doc $d: ${out(d)}")
    }
    // degenerate single scale at minOcc 2 is EXACTLY spanDedup
    val single = Dedup.multiScaleSpanDedup(docs, "doc_id", "text", scales = Seq(8 -> 2L))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
    val span = Dedup.spanDedup(docs, "doc_id", "text", spanWords = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
    assert(single == span)
  }
}
