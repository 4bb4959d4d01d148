package graft

import graft.expr.Expr
import graft.stream.DataStream
import graft.windows.WindowAssigner

import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.{forAll, propBoolean}

/** Property-based algebraic laws the reference defines implicitly
  * (SURVEY §5.2 #4). Few examples per property — each evaluation runs real
  * Spark jobs. */
object AlgebraProps extends Properties("graft.algebra") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(6).withWorkers(1)

  private lazy val spark = SparkSuite.session
  private implicit def s = spark
  import Expr._

  private val smallLongs = Gen.listOfN(6, Gen.chooseNum(-100L, 100L))
  private val keyedPairs = Gen.listOfN(8, Gen.zip(Gen.oneOf("a", "b", "c"), Gen.oneOf("x", "y"), Gen.chooseNum(0L, 50L)))

  property("map fusion: map(f)>>>map(g) == map(f>>>g)") = forAll(smallLongs) { xs =>
    val ds = DataStream.fromLiterals(xs: _*)
    val two = ds.map(x => x * 2L + 1L).map(y => y * 3L).collectValues
    val one = ds.map(x => (x * 2L + 1L) * 3L).collectValues
    two == one
  }

  property("filter/map commute when independent") = forAll(smallLongs) { xs =>
    val ds = DataStream.fromLiterals(xs.map(x => (x, x + 1)): _*)
    val a = ds.filter(t => t._1 >= 0L).map(t => t._2).collectValues.sorted
    val b = ds.map(t => t._1 &&& t._2).filter(t => t._1 >= 0L).map(t => t._2).collectValues.sorted
    a == b
  }

  property("groupBy nesting == composite-key groupBy") = forAll(keyedPairs) { rows =>
    val ds = DataStream.fromLiterals(rows: _*)
    val nested = ds.groupBy(t => t._1).groupBy(g => g.value._2)
      .fold(g => Expr.KeyValue(g.key, g.values.length))
      .collectValues.map(g => ((g.key._1, g.key._2), g.value)).sortBy(_._1)
    val direct = ds.groupBy(t => t._1 &&& t._2)
      .fold(g => Expr.KeyValue(g.key, g.values.length))
      .collectValues.map(g => ((g.key._1, g.key._2), g.value)).sortBy(_._1)
    nested == direct
  }

  property("sliding windows: each element lands in exactly size/step windows") =
    forAll(Gen.listOfN(5, Gen.chooseNum(0L, 200L)), Gen.oneOf(2L, 5L, 10L)) { (ts, step) =>
      val size = 10L
      val ds = DataStream.fromLiterals(ts.map(t => (t, "k")): _*)
      val out = ds.assignTimestamps(t => t._1)
        .groupBy(t => t.value._2)
        .foldWindow(WindowAssigner.Sliding(size, step), 0L)(t => t._1 + 1L)
        .collectValues
      // total (element, window) memberships — the reference's firstStart bug
      // (SURVEY §2.3) under-counts this
      out.map(_.value.value).sum == ts.size * (size / step)
    }

  property("native WordShingles == builtin HOF shingles on arbitrary text") =
    forAll(Gen.listOfN(12, Gen.oneOf("fox", "the", "a", " ", "  ", "\t", "b,c", "Ün", ""))) { parts =>
      import org.apache.spark.sql.functions._
      val df = spark.createDataFrame(Seq(Tuple1(parts.mkString(" ")))).toDF("text")
      val native = df.select(graft.functions.Text.fastWordShingles(col("text"), 3)).head().getSeq[String](0)
      val builtin = df.select(graft.functions.Text.wordShingles(col("text"), 3)).head().getSeq[String](0)
      native == builtin
    }

  property("codegen'd graft_dot == builtin HOF dot, bit-identical") =
    forAll(Gen.listOfN(16, Gen.chooseNum(-1e3f, 1e3f)), Gen.listOfN(16, Gen.chooseNum(-1e3f, 1e3f))) { (a, b) =>
      import org.apache.spark.sql.functions._
      val df = spark.createDataFrame(Seq((a.toArray, b.toArray))).toDF("a", "b")
      val fast = df.select(graft.functions.Vectors.fastDot(col("a"), col("b"))).head().getDouble(0)
      val slow = df.select(graft.functions.Vectors.dot(col("a"), col("b"))).head().getDouble(0)
      java.lang.Double.doubleToLongBits(fast) == java.lang.Double.doubleToLongBits(slow)
    }

  property("native as-of join == compositional as-of join on random inputs") =
    forAll(
      Gen.listOfN(10, Gen.zip(Gen.chooseNum(1L, 3L), Gen.chooseNum(0L, 40L))),
      Gen.listOfN(10, Gen.zip(Gen.chooseNum(1L, 4L), Gen.chooseNum(0L, 40L)))) { (ls, rs) =>
      import org.apache.spark.sql.functions._
      // unique left ids for row identity; right payload = its own ts
      val lRows = ls.zipWithIndex.map { case ((k, t), i) => (i.toLong, k, t) }
      val lDf = spark.createDataFrame(lRows).toDF("lid", "k", "tms")
        .withColumn("t", timestamp_millis(col("tms"))).drop("tms")
      val rDf = spark.createDataFrame(rs.map { case (k, t) => (k, t, t) }).toDF("rk", "rtms", "pay")
        .withColumn("rt", timestamp_millis(col("rtms"))).drop("rtms")
      val native = graft.operators.AsOf.joinNative(lDf, rDf, "k", "rk", "t", "rt")
        .select(col("lid"), coalesce(col("pay"), lit(-1L)))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
      val composed = graft.operators.AsOf.join(
          lDf, rDf.select(col("rk").as("k"), col("rt").as("t"), col("pay")),
          "k", "t", "t", Seq("pay" -> "pay"))
        .select(col("lid"), coalesce(col("pay"), lit(-1L)))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
      // ambiguity guard: with duplicate (k, ts) on the right, "the" latest
      // row is not unique; both implementations pick max-ts payload here
      // because payload == ts, so results are comparable
      native == composed
    }

  property("foldWindow: rewritten count == order-insensitive general fold on random events") =
    forAll(Gen.listOfN(8, Gen.zip(Gen.chooseNum(0L, 60L), Gen.oneOf("a", "b")))) { rows =>
      val fast = DataStream.fromLiterals(rows: _*)
        .assignTimestamps(t => t._1)
        .groupBy(t => t.value._2)
        .foldWindow(WindowAssigner.Tumbling(10L), 0L)(t => t._1 + 1L) // rewritten to count
        .collectValues.map(g => (g.key, g.value.window.start, g.value.value)).sortBy(x => (x._1, x._2))
      val slow = DataStream.fromLiterals(rows: _*)
        .assignTimestamps(t => t._1)
        .groupBy(t => t.value._2)
        .foldWindow(WindowAssigner.Tumbling(10L), 0L)(t => (t._1 * 1L) + 1L) // *1 defeats the rewriter
        .collectValues.map(g => (g.key, g.value.window.start, g.value.value)).sortBy(x => (x._1, x._2))
      fast == slow
    }

  property("facade split == Java String.split on arbitrary strings (trailing/intermediate empties)") =
    forAll(Gen.listOfN(8, Gen.oneOf("a", "b", ":", "::", "", " "))) { parts =>
      val str = parts.mkString
      val viaCatalyst = DataStream.fromLiterals(str)
        .map(t => t.split("::")).collectValues.head
      viaCatalyst == str.split("::").toSeq
    }

  property("computed (per-row) split delimiter == literal delimiter path") =
    forAll(Gen.listOfN(6, Gen.oneOf("a", "b", ":", "::", "")), Gen.oneOf("::", ":", "b")) { (parts, delim) =>
      val str = parts.mkString
      // delimiter arrives as DATA (second tuple element) — exercises the
      // non-foldable JavaSplit branch (per-row Pattern compile)
      val dynamic = DataStream.fromLiterals((str, delim))
        .map(t => t._1.split(t._2)).collectValues.head
      dynamic == str.split(delim).toSeq
    }

  property("Compose-normalized fold rewrite == whole-group fallback on random groups") =
    forAll(Gen.listOfN(10, Gen.zip(Gen.chooseNum(1L, 3L), Gen.chooseNum(-50L, 50L)))) { rows =>
      val grouped = DataStream.fromLiterals(rows: _*).groupBy(t => t._1).mapValues(v => v._2)
      // composed form: sum >>> (_ * 2 + 1) — normalized, rewritten native
      val fast = grouped.fold(g =>
          Expr.KeyValue(g.key, g.values.sum >>> (Expr.id[Long] * 2L + 1L)))
        .collectValues.map(g => (g.key, g.value)).sortBy(_._1)
      // same function through the non-rewritable fallback (Cmp blocks the
      // rewrite table, so the fold materializes the group): recompute the
      // value from the collected list and compare
      val slow = grouped.fold { g =>
          val i = Expr.id[Group[Long, Long]]
          Expr.KeyValue(Expr.GroupKey(i),
            Expr.FanOut(Expr.ListSum(Expr.GroupValues(i)),
              Expr.Cmp(Expr.ListSum(Expr.GroupValues(i)), Expr.LitLong(Long.MinValue), ">")))
        }
        .collectValues.map(g => (g.key, g.value._1 * 2L + 1L)).sortBy(_._1)
      fast == slow
    }

  property("date parts: civil-from-days arithmetic == java.time UTC for arbitrary instants") =
    forAll(Gen.listOfN(6, Gen.chooseNum(-4000L * 365 * 86400000L, 4000L * 365 * 86400000L))) { ms =>
      val parts = Seq("year", "month", "day", "hour", "minute", "second", "dow", "doy")
      def expected(m: Long): Seq[Long] = {
        val z = java.time.Instant.ofEpochMilli(m).atZone(java.time.ZoneOffset.UTC)
        Seq(z.getYear.toLong, z.getMonthValue.toLong, z.getDayOfMonth.toLong,
          z.getHour.toLong, z.getMinute.toLong, z.getSecond.toLong,
          (z.getDayOfWeek.getValue % 7 + 1).toLong, z.getDayOfYear.toLong)
      }
      // eval path (pure arithmetic, no Spark job) on every instant; the
      // Catalyst path is the same formulas — its parity is spec-checked
      ms.forall(m => parts.map(p => Expr.DatePart[Long](Expr.id[Long], p).eval(m)) == expected(m))
    }

  property("tumbling windows partition the timeline: counts sum to n, windows disjoint") =
    forAll(Gen.listOfN(6, Gen.chooseNum(0L, 100L))) { ts =>
      val ds = DataStream.fromLiterals(ts.map(t => (t, "k")): _*)
      val out = ds.assignTimestamps(t => t._1)
        .groupBy(t => t.value._2)
        .foldWindow(WindowAssigner.Tumbling(7L), 0L)(t => t._1 + 1L)
        .collectValues
      val total = out.map(_.value.value).sum == ts.size.toLong
      val disjoint = out.map(_.value.window).distinct.size == out.size
      total && disjoint
    }

  property("sliding chunks reconstruct the token stream for arbitrary size/stride") =
    forAll(Gen.chooseNum(0, 40), Gen.chooseNum(1, 8), Gen.chooseNum(0, 7)) { (n, stride, extra) =>
      import org.apache.spark.sql.functions.{col, explode}
      import spark.implicits._
      val size = stride + extra
      val text = (1 to n).map(i => s"w$i").mkString(" ")
      val chunks = Seq(Tuple1(text)).toDF("text")
        .select(explode(graft.functions.Text.slidingChunks(col("text"), size, stride)).as("c"))
        .select(col("c.chunk_idx"), col("c.chunk"))
        .collect().map(r => (r.getInt(0), r.getString(1))).sortBy(_._1)
      // stride-aligned prefixes of every chunk but the last, plus the last
      // chunk whole, must equal the original token stream exactly
      val rebuilt =
        if (chunks.isEmpty) ""
        else (chunks.init.flatMap(_._2.split(" ").take(stride)) ++ chunks.last._2.split(" "))
          .mkString(" ")
      (n == 0 && chunks.isEmpty) || rebuilt == text
    }

  // Pure-JVM property (no Spark job per case): the membership guarantee a
  // Bloom filter's correctness contract rests on, over arbitrary key sets
  // and sizings. The word-bitset assembly below is the same position
  // arithmetic the distributed build's bit_or aggregation performs — the
  // SQL build path itself is unit-tested against this in OperatorsSpec.
  property("bloom: every inserted key answers mightContain = true (no false negatives)") = {
    import graft.functions.catalyst.BloomOps
    forAll(
      Gen.nonEmptyListOf(Gen.chooseNum(Long.MinValue, Long.MaxValue)),
      Gen.chooseNum(0.001, 0.3)) { (keys, fpp) =>
      val (numBits, k) = BloomOps.sizeFor(keys.size.toLong, fpp)
      val words = new Array[Long]((numBits / 64L).toInt)
      keys.foreach(key => BloomOps.positions(key, k, numBits).foreach { pos =>
        words((pos >>> 6).toInt) |= 1L << (pos & 63L).toInt
      })
      keys.forall(key => BloomOps.mightContain(words, k, key))
    }
  }

  // sortedNeighborhoodPairs vs the direct definition, over ARBITRARY
  // corpora: sort by (key, id), pair everything within window-1 rank
  // steps. Random strings exercise duplicate keys (the tiebreak path),
  // shared prefixes straddling bucket boundaries, and empty-ish keys.
  property("sorted-neighborhood pairs == brute-force rank-band pairs") = {
    val nameGen = Gen.listOfN(12,
      Gen.zip(Gen.chooseNum(1L, 1000L),
        Gen.listOfN(3, Gen.oneOf("ab", "ba", "bb", "a", "b", "c")).map(_.mkString)))
      .map(_.distinctBy(_._1))
    forAll(nameGen, Gen.chooseNum(2, 5)) { (rows, window) =>
      rows.nonEmpty ==> {
        import org.apache.spark.sql.functions.{col, substring}
        import spark.implicits._
        val df = rows.toDF("id", "name")
        val got = graft.operators.Linkage.sortedNeighborhoodPairs(
            df, "id", "name",
            passes = Seq((col("name"), substring(col("name"), 1, 1))),
            window = window, maxDist = 100)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val sorted = rows.sortBy { case (id, n) => (n, id) }
        val expect = (for {
          i <- sorted.indices
          j <- (i + 1) until math.min(i + window, sorted.length)
        } yield (math.min(sorted(i)._1, sorted(j)._1),
          math.max(sorted(i)._1, sorted(j)._1))).toSet
        got == expect
      }
    }
  }

  // groupedRank over arbitrary (group, value) data with an order-consistent
  // sub-bucket: ranks must be exactly the per-group sort positions — a
  // permutation 1..|group| — regardless of how rows distribute
  property("groupedRank == per-group sort positions") = {
    val rowsGen = Gen.listOfN(14,
      Gen.zip(Gen.oneOf("g1", "g2", "g3"), Gen.chooseNum(1L, 2000L)))
      .map(_.distinctBy(identity))
    forAll(rowsGen) { rows =>
      rows.nonEmpty ==> {
        import org.apache.spark.sql.functions.{col, expr}
        import spark.implicits._
        val df = rows.toDF("grp", "v")
        val got = graft.operators.Ranking.groupedRank(
            df, col("grp"), expr("v DIV 500"), col("v"))
          .collect().map(r => ((r.getString(0), r.getLong(1)), r.getLong(2))).toMap
        val expect = rows.groupBy(_._1).flatMap { case (g, rs) =>
          rs.map(_._2).sorted.zipWithIndex.map { case (v, i) => (g, v) -> (i + 1L) }
        }
        got == expect
      }
    }
  }
}
