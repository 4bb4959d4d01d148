package graft.operators

import graft.functions.Text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact, MinHash+LSH,
  * SimHash, and n-gram Jaccard.
  *
  * Algorithms follow the published formulations: MinHash and shingling from
  * Broder, "On the resemblance and containment of documents" (1997); LSH
  * banding from Leskovec/Rajaraman/Ullman, "Mining of Massive Datasets"
  * ch. 3; SimHash from Charikar, "Similarity estimation techniques from
  * rounding algorithms" (STOC 2002).
  *
  * Design for 100 TB:
  *  - Exact dedup is a single hash aggregation on a fingerprint — the
  *    canonical partial-agg + shuffle-on-digest pattern; the shuffled key is
  *    a 32-char digest, not the document body.
  *  - MinHash signatures and SimHash bit vectors are computed as *per-row
  *    Catalyst expressions* (higher-order functions over the shingle array) —
  *    zero shuffle until the candidate join, and the candidate join is an
  *    equi-join on short band keys, which Spark hash-partitions; each band
  *    bucket is tiny by construction.
  *  - All hashing bottoms out in `md5`: engine-portable (the DuckDB oracle
  *    computes the identical values) and deterministic under any
  *    partitioning. MinHash uses the two-hash family over the digest's
  *    32-bit halves (see [[minHashFlat]]); SimHash and band keys read the
  *    digest directly.
  */
object Dedup {

  /** 8-byte shingle key: the first 60 bits (15 hex digits) of `md5(sh)` as
    * a non-negative long. The inverted-index family ([[ngramJaccard]],
    * [[crossCorpusOverlap]], [[deduplicateNearDups]]) shuffles on this key
    * instead of the raw n-gram string: a word trigram averages ~25 UTF-8
    * bytes plus string header/offset overhead in the shuffle format where
    * the hashed key is a fixed 8. Measured on the posting aggregation
    * (tools/ShuffleProbe, sf0.1; the tool is in git history at 7dae035):
    * 1.75 → 1.41 MiB shuffled (−20% — LZ4 compresses repeated shingle
    * text, so the wire saving is smaller than the raw 3×) and 1.25 → 1.17 s warm (long-key hashing/sorting beats
    * string comparison in the exchange). At cluster scale the uncompressed
    * form is what sits in shuffle-sort buffers and spill files, so the
    * in-memory saving tracks the raw ~3×, not the wire −20%.
    *
    * Collisions: two distinct shingles colliding in 60 bits needs ~2³⁰
    * distinct shingles per document for even-odds (birthday bound) — a
    * document that big is broken elsewhere first. The DuckDB oracle mirrors
    * the identical key (`('0x' || substr(md5(s), 1, 15))::BIGINT`), so both
    * engines compute over the SAME hashed universe and results stay
    * hash-checkable bit for bit. */
  private[graft] def shingleKey(sh: Column): Column =
    conv(substring(md5(sh), 1, 15), 16, 10).cast("long")

  /** Exact dedup on normalized text: keep the smallest id per fingerprint.
    * One shuffle on the md5 digest; partial aggregation applies. */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol), Text.fingerprint(col(textCol)).as("fp"))
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))

  /** MinHash signature: for each of `k` hash functions, the minimum of
    * `md5(shingle || '|' || i)` over the document's distinct shingles.
    * Entirely per-row (no shuffle); cost k × |shingles| md5s. */
  def minHashSignature(shingles: Column, k: Int): Column =
    transform(
      sequence(lit(0), lit(k - 1)),
      i => array_min(transform(array_distinct(shingles), s => md5(concat(s, lit("|"), i.cast("string"))))))

  /** Modulus of the two-hash min-hash family: largest prime below 2³². */
  private[graft] val MinHashP = 4294967291L

  /** Shared signature construction: (id, m0..mk-1) LONG columns via explode
    * + k min aggregates. Single source of truth for the hashing scheme used
    * by [[minHashSignatures]] and [[minHashLsh]].
    *
    * Hash family: ONE md5 per distinct shingle, split into two 32-bit
    * halves (h1, h2); hash i is `(h1 + i·h2) mod P` — the standard
    * two-hash construction (Kirsch & Mitzenmacher, "Less hashing, same
    * performance", ESA 2006). Per-row cost drops from k md5 string digests
    * to one digest + k multiply-adds (measured 2.9s → ~1.4s for q18 at
    * sf0.1); i·h2 ≤ 15·2³² fits a long with no overflow, and both engines
    * compute identical BIGINT arithmetic, so the signatures stay
    * hash-checkable. `array_distinct` before the explode: the min over a
    * multiset equals the min over the set, so deduping only saves work. */
  private def minHashFlat(docs: DataFrame, idCol: String, textCol: String,
                          shingleLen: Int, k: Int): DataFrame = {
    require(k >= 1, s"minhash needs k >= 1, got $k")
    require(k <= 64, s"two-hash family overflow bound: k must be <= 64, got $k")
    val h = md5(col("sh"))
    // spreadRead: the per-shingle md5 fan-out is scan-stage CPU (§2.5)
    val ex = graft.sources.Tables.spreadRead(docs).select(col(idCol).as("id"),
        explode(array_distinct(Text.fastWordShingles(col(textCol), shingleLen))).as("sh"))
      .select(col("id"),
        conv(substring(h, 1, 8), 16, 10).cast("long").as("h1"),
        conv(substring(h, 9, 8), 16, 10).cast("long").as("h2"))
    val aggs = (0 until k).map(i =>
      min((col("h1") + lit(i.toLong) * col("h2")) % MinHashP).as(s"m$i"))
    ex.groupBy(col("id")).agg(aggs.head, aggs.tail: _*)
  }

  def minHashSignatures(docs: DataFrame, idCol: String, textCol: String,
                        shingleLen: Int, k: Int): DataFrame =
    minHashFlat(docs, idCol, textCol, shingleLen, k)
      .select(col("id"), array((0 until k).map(i => col(s"m$i")): _*).as("sig"))

  /** MinHash+LSH near-duplicate pairs: shingle → signature → band →
    * bucket-join → verify estimated Jaccard (signature agreement ratio)
    * ≥ threshold. Returns (id_a, id_b, est_jaccard) with id_a < id_b.
    *
    * The only shuffles: the signature aggregation, the explode-bands
    * equi-join on the band key, and the final distinct — all on short keys.
    * At 100 TB you'd additionally salt any pathological band key; bucket
    * sizes here are bounded because a full signature-band match already
    * implies high similarity. */
  /** Band-key columns over [[minHashFlat]]'s flat m0..m(k-1) signature
    * columns — shared by [[minHashLsh]] and [[dedupIndex]]. Explicit cast:
    * signature components are longs; both engines render them identically
    * as decimal strings inside the band digest. */
  private def bandColumns(k: Int, bands: Int): Seq[Column] = {
    require(bands >= 1 && bands <= k && k % bands == 0,
      s"bands must divide k (got k=$k, bands=$bands): otherwise band slices are empty or drop signature rows")
    val rows = k / bands
    (0 until bands).map(b =>
      concat(lit(s"$b:"), md5(concat_ws("|",
        (b * rows until (b + 1) * rows).map(i => col(s"m$i").cast("string")): _*))))
  }

  def minHashLsh(docs: DataFrame, idCol: String, textCol: String,
                 shingleLen: Int = 3, k: Int = 16, bands: Int = 4,
                 threshold: Double = 0.7): DataFrame = {
    // Signatures and band keys as FLAT columns (m0..m15) rather than
    // array-typed HOF plumbing: md5/concat_ws over plain columns stay in
    // whole-stage codegen, where slice/transform over the packed array ran
    // interpreted (measured ~2s of fixed+per-row cost at sf0.1).
    val mins = minHashFlat(docs, idCol, textCol, shingleLen, k)
    val bandCols = bandColumns(k, bands)
    // In-bucket pair generation from a collected posting list instead of a
    // self equi-join: computes signatures ONCE (a self-join reads the plan
    // twice, and persist() in the middle of this shape measured 4× slower
    // by defeating partial-agg pipelining). Band buckets only contain
    // near-identical documents plus rare collisions, so lists stay tiny; a
    // pathological hot band at extreme scale would be salted upstream.
    val banded = mins.select(col("id"),
      array((0 until k).map(i => col(s"m$i")): _*).as("sig"),
      explode(array(bandCols: _*)).as("band"))
    val buckets = banded.groupBy(col("band"))
      .agg(sort_array(collect_list(struct(col("id"), col("sig")))).as("xs"))
      .where(size(col("xs")) >= 2)
    // pair generation as two Generate nodes (posexplode + explode of the
    // sorted suffix) — codegen'd collection functions, no interpreted
    // nested-transform lambdas; the signature-agreement count runs per
    // PAIR, where pairs are few by construction
    buckets
      .select(posexplode(col("xs")).as(Seq("i", "a")), col("xs"))
      .select(col("a"),
        explode(slice(col("xs"), col("i") + 2, size(col("xs")) - col("i") - 1)).as("b"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        (size(filter(zip_with(col("a.sig"), col("b.sig"), (x, y) => x === y), v => v))
          .cast("double") / lit(k.toDouble)).as("est_jaccard"))
      .where(col("est_jaccard") >= threshold)
      .distinct()
  }

  /** Per-ROW MinHash band keys, bit-identical to [[dedupIndex]]'s bands
    * (same two-hash family over md5 halves, same band digest layout) but
    * computed as a narrow column expression with no aggregation — for
    * STREAMING classification, where [[minHashFlat]]'s explode+groupBy
    * would be a stateful operator. HOF lambdas evaluate interpreted and
    * the md5 digest is re-derived per (shingle, hash-index) pair — the
    * known per-row cost of the streaming prefilter path (same note as
    * [[graft.streaming.Streams.dedupStreamNearDup]]); the batch side keeps
    * the flat codegen'd formulation. */
  def minHashBandKeysPerRow(text: Column, shingleLen: Int, k: Int, bands: Int): Column = {
    require(bands >= 1 && bands <= k && k % bands == 0,
      s"bands must divide k (got k=$k, bands=$bands)")
    val sh = array_distinct(Text.fastWordShingles(text, shingleLen))
    val sigs: Seq[Column] = (0 until k).map { i =>
      array_min(transform(sh, s => {
        val h = md5(s)
        (conv(substring(h, 1, 8), 16, 10).cast("long")
          + lit(i.toLong) * conv(substring(h, 9, 8), 16, 10).cast("long")) % lit(MinHashP)
      }))
    }
    val rows = k / bands
    array((0 until bands).map(b =>
      concat(lit(s"$b:"), md5(concat_ws("|",
        (b * rows until (b + 1) * rows).map(i => sigs(i).cast("string")): _*)))): _*)
  }

  /** The persistent dedup INDEX for incremental pipelines: one row per
    * indexed document — (id, fp, bands), where `fp` is the exact-dup
    * fingerprint ([[graft.functions.Text.fingerprint]]) and `bands` the
    * MinHash LSH band keys. This is the state a production pipeline stores
    * (e.g. bucketed parquet on `fp`) and grows batch over batch; dedup of a
    * new crawl joins against it instead of re-clustering the full corpus
    * (see [[incrementalDedup]]). */
  def dedupIndex(docs: DataFrame, idCol: String, textCol: String,
                 shingleLen: Int = 3, k: Int = 16, bands: Int = 4): DataFrame = {
    val mins = minHashFlat(docs, idCol, textCol, shingleLen, k)
      .select(col("id"), array(bandColumns(k, bands): _*).as("bands"))
    docs
      .select(col(idCol).as("id"), Text.fingerprint(col(textCol)).as("fp"))
      .join(mins, Seq("id"))
  }

  /** Incremental dedup: classify a NEW batch of documents against an
    * existing [[dedupIndex]] without touching the indexed corpus bodies —
    * the dedup shape that actually runs at 100 TB, where the corpus is
    * re-deduplicated never and each incoming crawl joins against the
    * accumulated index.
    *
    * Status per batch document (first match wins):
    *  - `exact_dup`: its fingerprint is in the index, or an earlier
    *    (smaller-id) document OF THIS BATCH has the same fingerprint;
    *  - `near_dup_candidate`: any of its LSH band keys is in the index or
    *    shared with an earlier batch document — the candidate set a
    *    downstream exact verify (e.g. [[ngramJaccard]] against just the
    *    matched bucket) would confirm;
    *  - `kept`: neither.
    *
    * Deterministic by construction (md5 fingerprints, md5 two-hash band
    * keys, min-id tie-breaks), so the DuckDB oracle reproduces it exactly.
    *
    * Scale shape: every comparison is an equi-join or a window on a SHORT
    * key (32-char fp digest / band digest) — batch×index document pairs
    * are never formed. The index side ships only (fp) and (band) columns
    * into the joins: distinct-project first, so the index's body columns
    * stay unread (column pruning reaches the index scan). Kept docs'
    * (id, fp, bands) rows union onto the stored index to close the loop. */
  def incrementalDedup(index: DataFrame, batch: DataFrame,
                       idCol: String, textCol: String,
                       shingleLen: Int = 3, k: Int = 16, bands: Int = 4): DataFrame =
    incrementalDedupFromIndex(index, dedupIndex(batch, idCol, textCol, shingleLen, k, bands))

  /** [[incrementalDedup]] over a PRE-BUILT batch index — the form the
    * production loop uses so the batch's (fp, bands) are computed once and
    * shared with [[updateDedupIndex]] (building them is the only pass over
    * the document bodies; everything else is digest joins). */
  def incrementalDedupFromIndex(index: DataFrame, batchIndex: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val b = batchIndex
    val idxFps = index.select(col("fp")).distinct().withColumn("_fp_hit", lit(1))
    val idxBands = index.select(explode(col("bands")).as("band")).distinct()
      .withColumn("_band_hit", lit(1))
    val exact = b
      .join(idxFps, Seq("fp"), "left")
      .withColumn("_batch_min", min(col("id")).over(Window.partitionBy(col("fp"))))
      .select(col("id"),
        (col("_fp_hit").isNotNull || col("_batch_min") < col("id")).as("_exact"))
    val near = b.select(col("id"), explode(col("bands")).as("band"))
      .join(idxBands, Seq("band"), "left")
      .withColumn("_band_min", min(col("id")).over(Window.partitionBy(col("band"))))
      .groupBy(col("id"))
      .agg(max(when(col("_band_hit").isNotNull || col("_band_min") < col("id"), 1)
        .otherwise(0)).as("_near"))
    exact.join(near, Seq("id"), "left")
      .select(col("id"),
        when(col("_exact"), "exact_dup")
          .when(coalesce(col("_near"), lit(0)) === 1, "near_dup_candidate")
          .otherwise("kept").as("status"))
  }

  /** Close the incremental-dedup loop: the index after absorbing a batch —
    * the existing rows plus the KEPT batch documents' (id, fp, bands).
    * `statuses` is [[incrementalDedup]]'s output; exact dups and near-dup
    * candidates are NOT absorbed (a candidate's fate belongs to the
    * downstream verify — absorbing it would make later copies of a
    * dropped doc look fresh). Persist the result with
    * [[graft.sources.Tables.writeBucketed]] on `fp` so future batches'
    * fingerprint joins co-locate without a shuffle. */
  def updateDedupIndex(index: DataFrame, batch: DataFrame, statuses: DataFrame,
                       idCol: String, textCol: String,
                       shingleLen: Int = 3, k: Int = 16, bands: Int = 4): DataFrame =
    updateDedupIndexFromIndex(index,
      dedupIndex(batch, idCol, textCol, shingleLen, k, bands), statuses)

  /** [[updateDedupIndex]] over the PRE-BUILT batch index (see
    * [[incrementalDedupFromIndex]] — build once, classify, absorb). */
  def updateDedupIndexFromIndex(index: DataFrame, batchIndex: DataFrame,
                                statuses: DataFrame): DataFrame =
    index.unionByName(
      batchIndex
        .join(statuses.where(col("status") === "kept").select(col("id")), Seq("id"), "left_semi"))

  /** SimHash bit vector as a '0'/'1' string of length `bits` (string keeps
    * it portable across engines and safe from sign issues). Bit `p` is set
    * when the sum over tokens of ±1 (per bit `p` of `md5(token)`) is
    * positive. Per-row expression, no shuffle. */
  def simHash(text: Column, bits: Int = 32): Column = {
    require(bits >= 1 && bits <= 128, s"simhash bits must be in [1, 128] (md5 has 128 bits), got $bits")
    val toks = Text.tokens(text)
    val bitCols = (0 until bits).map { p =>
      val contrib = aggregate(
        toks,
        lit(0L),
        (acc, t) => {
          val digit = substring(md5(t), p / 4 + 1, 1)
          val v = (instr(lit("0123456789abcdef"), digit) - 1).cast("long")
          val bit = shiftright(v, 3 - p % 4) % 2L
          acc + (bit * 2L - 1L)
        })
      when(contrib > 0L, lit("1")).otherwise(lit("0"))
    }
    concat(bitCols: _*)
  }

  /** SimHash table via explode → single groupBy: md5 once per token, then
    * `bits` sum-aggregates (partial-agg'd) of ±1 bit contributions — the
    * scalable form of [[simHash]] (which re-walks the token array per bit).
    * Documents with zero tokens keep an all-'0' hash via the left join. */
  def simHashTable(docs: DataFrame, idCol: String, textCol: String,
                   bits: Int = 32): DataFrame = {
    require(bits >= 1 && bits <= 128, s"simhash bits must be in [1, 128] (md5 has 128 bits), got $bits")
    val nDigits = (bits + 3) / 4
    val ex = docs
      .select(col(idCol).as("id"), explode(Text.tokens(col(textCol))).as("t"))
      .select(col("id"), md5(col("t")).as("h"))
      // extract each hex digit's value once per row; the per-bit aggregates
      // below then reduce to shift/mask arithmetic (keeps the 32 generated
      // aggregate expressions tiny for codegen)
      .select(col("id") +: (0 until nDigits).map(d =>
        (instr(lit("0123456789abcdef"), substring(col("h"), d + 1, 1)) - 1).cast("long").as(s"v$d")): _*)
    val aggs = (0 until bits).map { p =>
      val bit = shiftright(col(s"v${p / 4}"), 3 - p % 4) % 2L
      sum(bit * 2L - 1L).as(s"b$p")
    }
    val summed = ex.groupBy(col("id"))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("id"),
        concat((0 until bits).map(p => when(col(s"b$p") > 0L, lit("1")).otherwise(lit("0"))): _*).as("simhash"))
    docs.select(col(idCol).as("id")).join(summed, Seq("id"), "left")
      .select(col("id"), coalesce(col("simhash"), lit("0" * bits)).as("simhash"))
  }

  /** SimHash near-dup pairs via pigeonhole multi-block indexing (the
    * fingerprint-dedup scheme of Manku/Jain/Das Sarma, "Detecting
    * near-duplicates for web crawling", WWW 2007): split the `bits`-bit
    * SimHash into `maxDistance + 1` blocks — a pair within Hamming distance
    * `maxDistance` has at most `maxDistance` differing bits, so by
    * pigeonhole it agrees EXACTLY on at least one block. Candidates are
    * docs sharing any (block index, block value) key; each candidate pair
    * is then verified on full Hamming distance.
    *
    * Unlike prefix blocking this is complete (no recall loss from the
    * blocking step) and never quadratic on a hot prefix: pair generation is
    * per-bucket from sorted posting lists, and buckets larger than
    * `maxBucketSize` take one of two deterministic routes:
    *
    *  - `saltHotBuckets = true` (default): the bucket is split into
    *    `s = ⌈n / maxBucketSize⌉` salted sub-buckets by a hash of the id,
    *    and every sub-bucket PAIR (a ≤ b) becomes its own task key — the
    *    classic triangle replication for distributed all-pairs. Each element
    *    is replicated s× (once per partner sub-bucket), each task holds
    *    ~2·maxBucketSize elements, and a pair (x, y) is generated exactly
    *    once per block (in task (min, max) of the two salts). Completeness
    *    is preserved on degenerate corpora at bounded PER-TASK cost; the
    *    total pair volume of a genuinely hot bucket is inherently ~n²/2 —
    *    that work now spreads across s·(s+1)/2 tasks instead of overrunning
    *    one aggregation buffer.
    *  - `saltHotBuckets = false`: the bucket is dropped — the cheaper guard
    *    when degenerate values are expected and acceptable to lose. A
    *    dropped bucket can only lose a pair whose EVERY agreeing block is
    *    hot; in practice such docs are near-always exact duplicates, better
    *    routed through [[exact]] dedup first (that remains the right
    *    pipeline order even with salting — exact dedup is O(n), all-pairs
    *    on a hot block is O(n²)).
    *
    * The only shuffles: the posting-list aggregation on (block, value) —
    * plus, when salting, a count-per-block pre-pass and a broadcast join
    * against the (tiny) over-cap block set — and the candidate distinct. */
  def simHashPairs(docs: DataFrame, idCol: String, textCol: String,
                   bits: Int = 32, maxDistance: Int = 3,
                   maxBucketSize: Int = 10000,
                   saltHotBuckets: Boolean = true): DataFrame = {
    val nBlocks = maxDistance + 1
    require(maxDistance >= 0 && bits >= nBlocks,
      s"need bits >= maxDistance + 1 blocks (got bits=$bits, maxDistance=$maxDistance)")
    require(maxBucketSize >= 2, s"maxBucketSize must be >= 2, got $maxBucketSize")
    // block b covers [b*bits/nBlocks, (b+1)*bits/nBlocks) — even split with
    // the remainder spread one bit at a time, so blocks differ by <= 1 bit
    val blockCols = (0 until nBlocks).map { b =>
      val start = b * bits / nBlocks
      val len = (b + 1) * bits / nBlocks - start
      concat(lit(s"$b:"), substring(col("simhash"), start + 1, len))
    }
    // pack the bit string into 32-bit words ONCE per doc, so the per-pair
    // verify is nWords codegen'd xor+popcounts instead of an interpreted
    // string-split/zip lambda over every candidate (measured 4.1s → well
    // under 1s at sf0.1 with ~700k candidates)
    val nWords = (bits + 31) / 32
    val wordCols = (0 until nWords).map { w =>
      val len = math.min(32, bits - w * 32)
      conv(substring(col("simhash"), w * 32 + 1, len), 2, 10).cast("long").as(s"w$w")
    }
    val words = (0 until nWords).map(w => col(s"w$w"))
    // salting reads the hashed table twice (block sizes, then posting
    // lists); materialize the small (id, simhash) table once so the
    // simhash aggregation doesn't run per pass
    val table0 = simHashTable(docs, idCol, textCol, bits)
    val table = if (saltHotBuckets) table0.localCheckpoint(eager = true) else table0
    val keyed = table
      .select(col("id") +: wordCols :+
        // refs simhash, not an alias from this select: a lateral-alias ref
        // under Generate trips an analyzer internal error
        explode(array(blockCols: _*)).as("blk"): _*)
    // posting element: id first so sort_array orders by id; `r` is the salt
    // (0 on unsalted paths), needed to keep cross-sub-bucket tasks from
    // regenerating same-salt pairs owned by another task
    def postingList(grouped: org.apache.spark.sql.RelationalGroupedDataset) =
      grouped.agg(sort_array(collect_list(struct(
        col("id") +: col("r") +: words: _*))).as("xs"))
    // each bucket row: xs (sorted posting list) + `same` (true when all
    // pairs in the list are valid; false when only cross-salt pairs are)
    val buckets =
      if (!saltHotBuckets)
        postingList(keyed.withColumn("r", lit(0)).groupBy(col("blk")))
          .where(size(col("xs")).between(2, maxBucketSize))
          .select(col("xs"), lit(true).as("same"))
      else {
        val hot = keyed.groupBy(col("blk")).agg(count(lit(1)).as("n"))
          .where(col("n") > maxBucketSize)
          .select(col("blk"),
            ceil(col("n").cast("double") / maxBucketSize).cast("int").as("s"))
        val cold = postingList(
          keyed.join(broadcast(hot), Seq("blk"), "left_anti")
            .withColumn("r", lit(0)).groupBy(col("blk")))
          .where(size(col("xs")) >= 2)
          .select(col("xs"), lit(true).as("same"))
        val salted = postingList(
          keyed.join(broadcast(hot), Seq("blk"))
            .withColumn("r", pmod(xxhash64(col("id")), col("s").cast("long")).cast("int"))
            .select(col("blk") +: col("id") +: col("r") +: words :+
              explode(sequence(lit(0), col("s") - 1)).as("p"): _*)
            .groupBy(col("blk"), least(col("r"), col("p")).as("lo"),
              greatest(col("r"), col("p")).as("hi")))
          .where(size(col("xs")) >= 2)
          .select(col("xs"), (col("lo") === col("hi")).as("same"))
        cold.unionByName(salted)
      }
    // in-bucket pairs via two Generate nodes over the sorted posting list
    // (same codegen'd shape as minHashLsh); verify + threshold BEFORE the
    // distinct, so the dedup of multi-block agreements shuffles only the
    // surviving pairs — a pair agreeing on several blocks is generated once
    // per block but its duplicates compute the same cheap popcount
    val hamming = (0 until nWords)
      .map(w => bit_count(col(s"a.w$w").bitwiseXOR(col(s"b.w$w"))))
      .reduce(_ + _).cast("long")
    buckets
      .select(posexplode(col("xs")).as(Seq("i", "a")), col("xs"), col("same"))
      .select(col("a"), col("same"),
        explode(slice(col("xs"), col("i") + 2, size(col("xs")) - col("i") - 1)).as("b"))
      // a cross-salt task (lo < hi) owns only its cross pairs; same-salt
      // pairs there belong to task (r, r) and would double-generate
      .where(col("same") || col("a.r") =!= col("b.r"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), hamming.as("hamming"))
      .where(col("hamming") <= maxDistance)
      .distinct()
  }

  /** Materialize an iteration frame, truncating its lineage.
    *
    * `reliable = false`: `localCheckpoint` — blocks live in executor
    * storage, non-recomputable after executor loss. The right trade-off for
    * a single-JVM run (no filesystem round-trip).
    *
    * `reliable = true`: `checkpoint` to the session's checkpoint directory
    * (`spark.sparkContext.setCheckpointDir` must have been called) — the
    * cluster-scale mode: executor loss mid-propagation recomputes from the
    * checkpoint files instead of killing the job. */
  private def checkpointFrame(df: DataFrame, reliable: Boolean): DataFrame =
    if (!reliable) df.localCheckpoint(eager = true)
    else {
      require(df.sparkSession.sparkContext.getCheckpointDir.isDefined,
        "reliable checkpointing needs spark.sparkContext.setCheckpointDir(...) before the run")
      df.checkpoint(eager = true)
    }

  /** Drop the storage behind a checkpointed frame: block-manager blocks for
    * local checkpoints, materialized files for reliable ones. Only call once
    * nothing will read the frame again — a freed local checkpoint is
    * non-recomputable by design, and a freed reliable checkpoint has no
    * files left to recompute from. */
  private def freeCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.getCheckpointFile match {
          case Some(file) => // reliable: delete the checkpoint files
            val path = new org.apache.hadoop.fs.Path(file)
            path.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
              .delete(path, true)
          case None => lr.rdd.unpersist(blocking = false)
        }
      case _ => ()
    }

  /** Connected components over a similarity edge list: every node gets the
    * minimum id reachable through the edges (its cluster representative).
    * Iterative min-label propagation to a fixpoint — each round is one
    * groupBy over (edges + current labels); rounds needed = graph diameter
    * in hops (near-dup clusters are tiny and dense, so 2-4 rounds in
    * practice; `maxIterations` bounds pathological chains).
    *
    * Input: (id_a, id_b) pairs. Output: (id, component) for every id that
    * appears in at least one edge.
    *
    * Storage lifecycle: superseded per-round label checkpoints and the edge
    * list are freed before returning; the FINAL label checkpoint is pinned
    * by the returned frame (it IS the result's data) and is released by
    * Spark's context cleaner once the frame becomes unreachable, or
    * immediately by unpersisting the session's persistent RDDs after the
    * result has been consumed. */
  def connectedComponents(pairs: DataFrame, maxIterations: Int = 20,
                          reliable: Boolean = false): DataFrame =
    connectedComponentsWithRounds(pairs, maxIterations, reliable)._1

  /** [[connectedComponents]] plus the number of propagation rounds it took —
    * the observable the pathological-structure stress tooling records
    * (rounds ≈ component diameter; see tools.FrontierStress). */
  private[graft] def connectedComponentsWithRounds(
      pairs: DataFrame, maxIterations: Int = 20,
      reliable: Boolean = false): (DataFrame, Int) = {
    // materialize the edge list ONCE — every iteration joins against it,
    // and without this each round would re-execute the whole upstream
    // similarity pipeline (measured 17s → 3s at sf0.1)
    val edges = checkpointFrame(
      pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
        .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst"))),
      reliable)
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("component", col("id"))
    // FRONTIER propagation: a node's label can only improve via a neighbor
    // whose label improved LAST round (if L(u) is unchanged since round k,
    // u's contribution to every neighbor was already folded in at round k),
    // so each round joins the edges against just the changed labels instead
    // of the full table. Near-dup frontiers collapse fast (most clusters
    // are pairs — one round), so rounds 2+ see a tiny frontier that AQE
    // broadcasts: the edge list is scanned narrow, never re-shuffled. Round
    // 1 starts with frontier = all labels, identical to full propagation.
    var frontier = labels
    var checkpointed: DataFrame = null // superseded checkpoint to free
    var converged = false
    var i = 0
    while (!converged && i < maxIterations) {
      // each node adopts the min of: its label, its JUST-IMPROVED
      // neighbors' labels
      val neighborMin = edges
        .join(frontier.withColumnRenamed("id", "dst").withColumnRenamed("component", "nc"), Seq("dst"))
        .groupBy(col("src").as("id")).agg(min(col("nc")).as("mc"))
      // checkpoint FIRST (truncates lineage AND materializes); the per-row
      // CHANGED flag rides along in the same pass, so the convergence check
      // below is a narrow scan of the materialized blocks — not a second
      // join re-deriving old vs new labels (halves the per-round work)
      val updated = checkpointFrame(
        labels.join(neighborMin, Seq("id"), "left")
          .select(col("id"),
            least(col("component"), coalesce(col("mc"), col("component"))).as("component"),
            (coalesce(col("mc"), col("component")) < col("component")).as("_changed")),
        reliable)
      frontier = updated.where(col("_changed")).select(col("id"), col("component"))
      converged = frontier.isEmpty
      // the previous round's checkpoint is now superseded — free its blocks
      // instead of accumulating one copy of the label table per round
      if (checkpointed ne null) freeCheckpoint(checkpointed)
      checkpointed = updated
      labels = updated.select(col("id"), col("component"))
      i += 1
    }
    freeCheckpoint(edges)
    // inconsistent labels are silently wrong downstream (one cluster split
    // across several "representatives") — fail loudly instead
    if (!converged) sys.error(
      s"connectedComponents did not converge in $maxIterations iterations " +
        "(similarity chain longer than the bound); raise maxIterations")
    (labels, i)
  }

  /** Near-duplicate DEDUPLICATION: cluster docs by n-gram-Jaccard edges and
    * keep one representative (min id) per cluster. Docs with no near-dup
    * edge keep themselves. Output: (id, representative, is_kept).
    *
    * Storage lifecycle: the edge pipeline's inverted-index checkpoint is
    * freed here as soon as [[connectedComponents]] has materialized its edge
    * list (nothing reads the pair plan after that), so the only storage the
    * returned frame pins is the final label table — one small row per doc
    * that has a near-dup edge. */
  def deduplicateNearDups(docs: DataFrame, idCol: String, textCol: String,
                          shingleLen: Int = 3, threshold: Double = 0.6,
                          maxShingleDf: Int = 50, reliable: Boolean = false): DataFrame = {
    val (pairs, releaseIndex) =
      ngramJaccardReleasable(docs, idCol, textCol, shingleLen, threshold, maxShingleDf)
    val comps = connectedComponents(pairs.select(col("id_a"), col("id_b")), reliable = reliable)
    releaseIndex()
    docs.select(col(idCol).as("id"))
      .join(comps, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("component"), col("id")).as("representative"))
      .withColumn("is_kept", col("id") === col("representative"))
  }

  /** Near-duplicate CANONICALIZATION: cluster like [[deduplicateNearDups]],
    * but the kept representative is the cluster's argmax of `score`
    * (id ascending as the tiebreak) instead of its min id — the real
    * pipeline policy: when several near-copies of a page survive crawling,
    * keep the highest-QUALITY copy, not an arbitrary one.
    *
    * `score(docs)` must be a deterministic per-row column over `docs`
    * (e.g. [[graft.functions.Text.qualityScore]]); it is evaluated once in
    * the same scan that feeds the cluster join. Scale shape on top of the
    * clustering: one extra groupBy on the component id (max_by over
    * (score, -id)) and one join of the per-component winner back to the
    * membership table — both partial-agg'd, keyed on the component id.
    * Output: (id, canonical, is_kept) for every doc; singleton docs keep
    * themselves. */
  def canonicalizeNearDups(docs: DataFrame, idCol: String, textCol: String,
                           score: DataFrame => Column,
                           shingleLen: Int = 3, threshold: Double = 0.6,
                           maxShingleDf: Int = 50, reliable: Boolean = false): DataFrame = {
    val (pairs, releaseIndex) =
      ngramJaccardReleasable(docs, idCol, textCol, shingleLen, threshold, maxShingleDf)
    val comps = connectedComponents(pairs.select(col("id_a"), col("id_b")), reliable = reliable)
    releaseIndex()
    val members = docs.select(col(idCol).as("id"), score(docs).as("_score"))
      .join(comps, Seq("id"), "left")
      .select(col("id"), col("_score"), coalesce(col("component"), col("id")).as("component"))
    // argmax(score, tiebreak min id) per component: min_by over the pair
    // (-score, id) — a partial-aggregable reduction, no per-component sort.
    // The negation sits on the SCORE (numeric by contract — it is a score)
    // rather than the id, so string/UUID doc ids work like they do in every
    // other Dedup operator; NULL scores coalesce to +inf and never win.
    val winners = members.groupBy(col("component"))
      .agg(min_by(col("id"),
        struct(coalesce(-col("_score").cast("double"),
          lit(Double.PositiveInfinity)), col("id"))).as("canonical"))
    members.join(winners, Seq("component"))
      .select(col("id"), col("canonical"),
        (col("id") === col("canonical")).as("is_kept"))
  }

  /** Cross-corpus CONTAMINATION detection (decontamination of training data
    * against an eval/test set): for each probe (test) document, the corpus
    * (training) documents containing at least `threshold` of its distinct
    * shingles. Containment — `|probe ∩ corpus-doc| / |probe|` — is the
    * standard decontamination measure (one-sided, unlike Jaccard: a test
    * prompt fully embedded in a long training doc must score 1.0).
    *
    * Scale shape: a bipartite inverted-index equi-join on 8-byte hashed
    * shingle keys ([[shingleKey]]) — the training corpus is NEVER paired
    * all-vs-all with the probe set.
    * Shingles with corpus document frequency above `maxShingleDf` are
    * stop-shingles, excluded from the whole similarity universe (matching
    * AND the containment denominator — the [[ngramJaccard]] pruning rule,
    * mirrored by the oracle); this bounds the join's hottest keys. Probe
    * shingles absent from the corpus keep their denominator weight (their
    * corpus df is 0). Output: (corpus_id, probe_id, containment). */
  def crossCorpusOverlap(corpus: DataFrame, probe: DataFrame,
                         idCol: String, textCol: String,
                         shingleLen: Int = 3, threshold: Double = 0.5,
                         maxShingleDf: Int = 50): DataFrame = {
    // hash each distinct shingle to the 8-byte key BEFORE any shuffle: the
    // md5 runs map-side on the exploded rows, and everything downstream
    // (stop-set, anti-joins, the bipartite equi-join, probe sizes) moves
    // longs instead of n-gram strings — see [[shingleKey]]
    def shingled(df: DataFrame, as: String): DataFrame =
      graft.sources.Tables.spreadRead(df).select(
        col(idCol).as(as),
        explode(array_distinct(Text.fastWordShingles(col(textCol), shingleLen))).as("s"))
      .select(col(as), shingleKey(col("s")).as("sh"))
    val cs = shingled(corpus, "corpus_id")
    val ps = shingled(probe, "probe_id")
    // stop-shingles by CORPUS document frequency; anti-join keeps the
    // pruning a short-key hash join (the stop set is tiny by construction)
    val stop = cs.groupBy(col("sh")).agg(count(lit(1)).as("df"))
      .where(col("df") > maxShingleDf).select(col("sh"))
    val csb = cs.join(stop, Seq("sh"), "left_anti")
    val psb = ps.join(stop, Seq("sh"), "left_anti")
    val probeSizes = psb.groupBy(col("probe_id")).agg(count(lit(1)).as("n_sh"))
    val shared = csb.join(psb, Seq("sh"))
      .groupBy(col("corpus_id"), col("probe_id")).agg(count(lit(1)).as("shared"))
    shared.join(probeSizes, Seq("probe_id"))
      .select(col("corpus_id"), col("probe_id"),
        (col("shared").cast("double") / col("n_sh").cast("double")).as("containment"))
      .where(col("containment") >= threshold)
  }

  /** [[crossCorpusOverlap]] with a broadcast Bloom prefilter on the corpus
    * side — the decontamination shape for when the corpus is 100 TB and the
    * probe (benchmark) set is merely large.
    *
    * [[crossCorpusOverlap]] shuffles EVERY corpus shingle into its stop-df
    * aggregation before anything is pruned. Here the corpus never shuffles
    * at full width: a Bloom filter built over the probe's distinct shingle
    * keys ([[Bloom.build]] — one tiny aggregation over the probe side)
    * rides into the corpus scan as a plan literal, and the codegen'd
    * membership probe drops every corpus shingle absent from the probe set
    * IN THE SCAN STAGE. Only the surviving sliver — true probe∩corpus rows
    * plus an fpp-bounded trickle of false positives — enters the exact
    * verify semi-join and the aggregations behind it. At 1% fpp the filter
    * is ~10 bits per probe shingle (~10× smaller than broadcasting the key
    * set itself), and the shuffled volume drops from |corpus shingles| to
    * |matches| + 1% of non-matches.
    *
    * Result-identical to [[crossCorpusOverlap]] (the oracle is the same
    * SQL): the semi-join removes every false positive, so the surviving
    * corpus rows are exactly those whose shingle occurs in the probe; their
    * per-shingle document frequencies are the TRUE full-corpus df values
    * (the prefilter drops whole shingle groups, never individual rows of a
    * surviving shingle); and a stop-shingle not present in the probe can
    * affect neither the match counts nor the probe-side denominators, so
    * restricting the stop set to probe-present shingles changes nothing. */
  def crossCorpusOverlapBloom(corpus: DataFrame, probe: DataFrame,
                              idCol: String, textCol: String,
                              shingleLen: Int = 3, threshold: Double = 0.5,
                              maxShingleDf: Int = 50, fpp: Double = 0.01): DataFrame = {
    def shingled(df: DataFrame, as: String): DataFrame =
      graft.sources.Tables.spreadRead(df).select(
        col(idCol).as(as),
        explode(array_distinct(Text.fastWordShingles(col(textCol), shingleLen))).as("s"))
      .select(col(as), shingleKey(col("s")).as("sh"))
    val ps = shingled(probe, "probe_id")
    // distinct probe keys: the filter's input AND the exact-verify set.
    // Materialized once — three consumers (count, bloom build, semi-join)
    // must not re-shingle the probe corpus three times.
    val psKeys = ps.select(col("sh")).distinct().localCheckpoint(eager = true)
    val bloom = Bloom.build(psKeys, "sh", expectedItems = math.max(1L, psKeys.count()), fpp)
    // narrow prefilter in the corpus scan stage, then exact verify: AQE
    // broadcasts the semi-join at bench scale; beyond broadcast range it is
    // a shuffle of the fpp-bounded sliver, not the corpus.
    // The sliver is materialized ONCE: two plan branches read it (the
    // stop-df aggregation and the match join), and without this each would
    // re-run the corpus scan + shingling + probe + verify — the expensive
    // passes this operator exists to minimize. Materializing is exactly
    // what the prefilter makes affordable: the checkpoint holds the
    // matches + fpp-trickle, never the corpus.
    val cs = shingled(corpus, "corpus_id")
      .where(bloom.mightContain(col("sh")))
      .join(psKeys, Seq("sh"), "left_semi")
      .localCheckpoint(eager = true)
    // from here: identical pipeline to [[crossCorpusOverlap]], over the
    // probe-restricted universe (df values are true corpus-wide counts)
    val stop = cs.groupBy(col("sh")).agg(count(lit(1)).as("df"))
      .where(col("df") > maxShingleDf).select(col("sh"))
    val csb = cs.join(stop, Seq("sh"), "left_anti")
    val psb = ps.join(stop, Seq("sh"), "left_anti")
    val probeSizes = psb.groupBy(col("probe_id")).agg(count(lit(1)).as("n_sh"))
    val shared = csb.join(psb, Seq("sh"))
      .groupBy(col("corpus_id"), col("probe_id")).agg(count(lit(1)).as("shared"))
    val out = shared.join(probeSizes, Seq("probe_id"))
      .select(col("corpus_id"), col("probe_id"),
        (col("shared").cast("double") / col("n_sh").cast("double")).as("containment"))
      .where(col("containment") >= threshold)
    out
  }

  /** Exact n-gram Jaccard near-dup pairs via inverted index:
    * doc → distinct shingles → (shingle, doc) index → self-join on shingle →
    * shared-shingle counts → Jaccard = shared / (|A| + |B| - shared).
    *
    * `maxShingleDf` drops stop-shingles (document frequency above the bound)
    * from *candidate generation only* — the standard guard against the
    * quadratic blow-up on common n-grams. Deterministic, mirrored by the
    * oracle. */
  def ngramJaccard(docs: DataFrame, idCol: String, textCol: String,
                   shingleLen: Int = 3, threshold: Double = 0.6,
                   maxShingleDf: Int = 50): DataFrame =
    ngramJaccardReleasable(docs, idCol, textCol, shingleLen, threshold, maxShingleDf)._1

  /** [[ngramJaccard]] plus a release handle for its inverted-index
    * checkpoint. The checkpoint is pinned by the returned frame's plan, so
    * the handle must only be invoked once the pairs have been consumed into
    * something materialized (e.g. [[connectedComponents]]' edge list) —
    * after that the blocks are dead weight in the block manager. */
  private[graft] def ngramJaccardReleasable(
      docs: DataFrame, idCol: String, textCol: String,
      shingleLen: Int, threshold: Double,
      maxShingleDf: Int): (DataFrame, () => Unit) = {
    val (shared, release) =
      sharedShinglePairsReleasable(docs, idCol, textCol, shingleLen, maxShingleDf)
    val pairs = shared
      .select(col("id_a"), col("id_b"),
        (col("shared").cast("double") /
          (col("n_a") + col("n_b") - col("shared")).cast("double")).as("jaccard"))
      .where(col("jaccard") >= threshold)
    (pairs, release)
  }

  /** The shared core of [[ngramJaccard]] and [[containmentPairs]]: every
    * co-occurring document pair with its shared-shingle count and both
    * per-doc shingle counts carried in-row — `(id_a, id_b, n_a, n_b,
    * shared)` — so every similarity in the intersection family (Jaccard,
    * one-sided containment, overlap coefficient, Dice) is a pure
    * projection downstream. */
  private def sharedShinglePairsReleasable(
      docs: DataFrame, idCol: String, textCol: String,
      shingleLen: Int, maxShingleDf: Int): (DataFrame, () => Unit) = {
    // hash to the 8-byte key map-side (see [[shingleKey]]): the posting
    // aggregation — profiled at ~half this query's time — shuffles fixed
    // 8-byte longs instead of raw n-gram strings; the df-bound and the
    // per-doc sizes below operate on the same hashed universe, mirrored
    // exactly by the oracle
    // spreadRead: shingling + per-shingle md5 is scan-stage CPU, serial
    // on a few-row-group corpus (guide §2.5; no-op at real scale)
    val exploded = graft.sources.Tables.spreadRead(docs).select(
        col(idCol).as("id"),
        explode(array_distinct(Text.fastWordShingles(col(textCol), shingleLen))).as("s"))
      .select(col("id"), shingleKey(col("s")).as("sh"))
    // Inverted index as ONE aggregation (partial-agg'd), pairs generated
    // in-bucket from the sorted posting list — replaces a window-df pass
    // plus a self equi-join with a single shuffle. Shingles above the df
    // bound are stop-shingles, excluded from the WHOLE similarity universe
    // (both the shared counts and the per-doc sizes below) so the Jaccard
    // is exact over the pruned universe — pruning only candidates but not
    // sizes would systematically underestimate similarity for docs
    // containing frequent shingles. The oracle mirrors the same rule.
    // materialized once: three plan branches read it (buckets + both sizes
    // join sides); localCheckpoint truncates the plan so the collect_list
    // aggregation runs a single time (ReuseExchange alone still re-runs the
    // reduce-side aggregation per branch)
    val postings = exploded.groupBy(col("sh"))
      .agg(sort_array(collect_list(col("id"))).as("ids"))
      .where(size(col("ids")) <= maxShingleDf)
      .localCheckpoint(eager = true)
    // per-doc shingle counts over the pruned universe (df = 1 included)
    val sizes = postings.select(explode(col("ids")).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("n_sh"))
    // Re-assemble the pair-generating buckets with each member's n_sh
    // CARRIED IN the posting list (struct(id, n_sh) keeps the id sort
    // order), so the pair aggregation below emits (id_a, n_a, id_b, n_b)
    // and the Jaccard is a pure projection — NO post-aggregation join.
    // The sizes attach here at the posting-ENTRY level (rows = index
    // entries, linear in corpus size); the round-4 shape attached them at
    // the PAIR level (rows = co-occurrences, quadratic in bucket sizes),
    // where Catalyst's static stats mis-ranked the sides and broadcast the
    // multi-million-row pair table instead of the per-doc sizes — measured
    // 15-22 s of the 10 s sf1 query. This re-aggregation costs one extra
    // entry-level shuffle (~2.4 s at sf1) and removes the pair-level joins
    // entirely (5.7 s vs 17 s post-checkpoint, sf1, local[32]).
    val buckets = postings.where(size(col("ids")) >= 2)
      .select(col("sh"), explode(col("ids")).as("id"))
      .join(sizes, Seq("id"))
      .groupBy(col("sh"))
      .agg(sort_array(collect_list(struct(col("id"), col("n_sh")))).as("xs"))
    // in-bucket pair generation as two Generate nodes (posexplode the
    // sorted list, then explode each suffix via slice) — pure codegen'd
    // collection functions; the nested-transform formulation evaluated its
    // lambdas interpreted per bucket element
    val shared = buckets
      .select(posexplode(col("xs")).as(Seq("i", "a")), col("xs"))
      .select(col("a.id").as("id_a"), col("a.n_sh").as("n_a"),
        explode(slice(col("xs"), col("i") + 2, size(col("xs")) - col("i") - 1)).as("b"))
      .groupBy(col("id_a"), col("b.id").as("id_b"), col("n_a"), col("b.n_sh").as("n_b"))
      .agg(count(lit(1)).as("shared"))
    (shared, () => freeCheckpoint(postings))
  }

  /** Containment-based doc-in-doc detection — Broder's CONTAINMENT measure
    * (`|A∩B| / |A|`, "On the resemblance and containment of documents",
    * 1997) where [[ngramJaccard]] computes resemblance. The distinction
    * matters for training data: a 100-token boilerplate notice pasted into
    * a 10k-token article has Jaccard ≈ 0.01 (invisible at any sane
    * threshold) but containment ≈ 1.0 from the small side — quote
    * inclusions, template wrappers, and excerpt duplicates are containment
    * phenomena, not resemblance ones.
    *
    * Emits pairs where the SMALLER document's containment (equivalently
    * the overlap coefficient `shared / min(n_a, n_b)`) reaches
    * `threshold`, with both one-sided containments for the caller to
    * direct the keep/drop decision. Same inverted-index carry-N plan as
    * [[ngramJaccard]] — one posting aggregation on 8-byte hashed shingles,
    * pair generation in-bucket, sizes carried in the posting entries, NO
    * pair-level join — so the 100 TB story is identical and shared. */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
                       shingleLen: Int = 3, threshold: Double = 0.8,
                       maxShingleDf: Int = 50): DataFrame = {
    val (shared, _) =
      sharedShinglePairsReleasable(docs, idCol, textCol, shingleLen, maxShingleDf)
    shared
      .select(col("id_a"), col("id_b"), col("n_a"), col("n_b"),
        (col("shared").cast("double") / col("n_a").cast("double"))
          .as("containment_a"),
        (col("shared").cast("double") / col("n_b").cast("double"))
          .as("containment_b"),
        (col("shared").cast("double") /
          least(col("n_a"), col("n_b")).cast("double")).as("overlap"))
      .where(col("overlap") >= threshold)
  }

  /** The dedup ACTION on [[containmentPairs]]: drop every document that is
    * contained (overlap ≥ `threshold`) in a LARGER partner — the smaller
    * side of each flagged pair loses; equal sizes tie-break to the larger
    * id losing, so the rule is a total order and deterministic. Keeps the
    * 10k-token article, drops the excerpt — the keep/drop direction
    * document-level dedup ([[exact]], [[ngramJaccard]]+clustering) gets
    * WRONG for containment phenomena (resemblance ties them, so cluster
    * representatives are arbitrary; containment knows who swallowed whom).
    *
    * One extra aggregation over the pair set (victims, partial-agg'd
    * distinct) and one left-anti join against it — both on the id, both
    * hash-partitioned; the pair machinery's scale story is unchanged.
    * Output is the surviving rows of `docs`, schema-identical to the
    * input. */
  def containmentDedup(docs: DataFrame, idCol: String, textCol: String,
                       shingleLen: Int = 3, threshold: Double = 0.8,
                       maxShingleDf: Int = 50): DataFrame = {
    val pairs = containmentPairs(docs, idCol, textCol, shingleLen, threshold, maxShingleDf)
    val victims = pairs
      .select(when(struct(col("n_a"), lit(-1) * col("id_a")) <
            struct(col("n_b"), lit(-1) * col("id_b")),
          col("id_a")).otherwise(col("id_b")).as("victim"))
      .distinct()
    docs.join(victims.withColumnRenamed("victim", idCol), Seq(idCol), "left_anti")
  }

  /** Block-level exact SUBSTRING dedup — the fixed-stride relative of
    * suffix-array span dedup (Lee et al., "Deduplicating Training Data
    * Makes Language Models Better", ACL 2022): split each document's token
    * stream into consecutive `blockWords`-token blocks, keep only the
    * globally FIRST occurrence of each distinct block text (first = least
    * (id, block index), the deterministic keep-first rule), and reassemble
    * every document from its surviving blocks. Catches boilerplate repeated
    * INSIDE otherwise-distinct documents (headers, license banners,
    * navigation chrome) that document-level dedup ([[exact]], [[minHashLsh]])
    * can never see.
    *
    * Scale shape: blocks are hashed map-side to the 8-byte [[shingleKey]],
    * so the keep-first aggregation shuffles fixed-width longs, is
    * partial-aggregable (a boilerplate block occurring 10⁹ times collapses
    * to one row per map task before the exchange — no heavy-hitter
    * partition), and the winner set joins back on the same key. Reassembly
    * is one groupBy(id) whose per-group state is bounded by a single
    * document's blocks. Output rows are 1:1 with input documents. */
  def blockDedup(docs: DataFrame, idCol: String, textCol: String,
                 blockWords: Int = 10): DataFrame = {
    require(blockWords >= 1, s"blockWords must be >= 1, got $blockWords")
    val b = blockWords
    // consecutive b-token blocks (last one may be short — a short tail only
    // ever matches an equal-length tail, which is the intended semantics)
    val blockList = transform(
      sequence(lit(0), (ceil(size(col("toks")) / lit(b.toDouble))).cast("int") - 1),
      i => array_join(slice(col("toks"), i * b + 1, lit(b)), " "))
    val blocks = docs
      .select(col(idCol).as("id"), Text.tokens(col(textCol)).as("toks"))
      // posexplode_outer keeps empty documents as a (null pos, null blk)
      // row so the output stays 1:1 with the input
      .select(col("id"),
        posexplode_outer(when(size(col("toks")) > 0, blockList)).as(Seq("blk_idx", "blk")))
      .withColumn("h", when(col("blk").isNotNull, shingleKey(col("blk"))))
    // keep-first winner per distinct block: min(struct) groupBy — partial
    // aggregation collapses repeated blocks map-side (a window over
    // PARTITION BY h would sort whole heavy-hitter buckets instead)
    val keepers = blocks.where(col("h").isNotNull)
      .groupBy(col("h"))
      .agg(min(struct(col("id"), col("blk_idx"))).as("keeper"))
    blocks
      .join(keepers, Seq("h"), "left")
      .withColumn("kept",
        col("blk").isNotNull &&
          col("keeper.id") === col("id") && col("keeper.blk_idx") === col("blk_idx"))
      .groupBy(col("id"))
      .agg(
        count(col("blk")).as("n_blocks"),
        count(when(col("kept"), lit(1))).as("n_kept"),
        // deterministic reassembly: surviving blocks in original position
        // order (collect_list drops the nulls of non-kept/empty rows)
        array_join(
          transform(
            array_sort(collect_list(when(col("kept"), struct(col("blk_idx"), col("blk"))))),
            x => x("blk")),
          " ").as("dedup_text"))
      .withColumnRenamed("id", idCol)
  }

  /** Stride-1 exact SUBSTRING span dedup — the fine-grained counterpart of
    * [[blockDedup]] and the Spark re-expression of the suffix-array span
    * dedup of Lee et al., "Deduplicating Training Data Makes Language
    * Models Better" (ACL 2022): every `spanWords`-token rolling window
    * whose text occurs MORE THAN ONCE in the corpus keeps only its globally
    * first occurrence (least (id, position)); all other occurrences mark
    * their covered token positions for removal, and each document is
    * rebuilt from its surviving tokens. A doc that near-duplicates an
    * earlier one loses almost its whole body (measured: the planted
    * near-dups in the test corpus drop >95% of their tokens) while the
    * first occurrence survives verbatim — all-but-first semantics at token
    * granularity, which doc-level and block-level dedup only approximate.
    *
    * Scale shape: windows hash map-side to the 8-byte [[shingleKey]]
    * ([[rollingWindows]]); the winner pick is a partial-aggregable
    * groupBy(h) (duplicated-window filter `occ ≥ 2` keeps the join's build
    * side to actually-duplicated spans — typically a small fraction of all
    * windows); removal intervals aggregate per doc with state bounded by
    * the doc's own token count; reconstruction is a per-row expression.
    * The corpus is scanned twice (winner pick + mark), both times through
    * cheap narrow work — at 100 TB re-reading parquet beats materializing
    * a window-level intermediate ~`spanWords`× the corpus size. Per-row
    * reconstruction is O(tokens · removed) per doc — fine for documents,
    * not for a single billion-token row. */
  def spanDedup(docs: DataFrame, idCol: String, textCol: String,
                spanWords: Int = 8): DataFrame = {
    require(spanWords >= 1, s"spanWords must be >= 1, got $spanWords")
    val k = spanWords
    val wins = rollingWindows(docs, idCol, textCol, k)
    // winners of DUPLICATED spans only (occ >= 2): unique windows never
    // remove anything, so they stay out of the join entirely
    val winners = wins.groupBy(col("h"))
      .agg(min(struct(col("id"), col("i"))).as("keeper"), count(lit(1)).as("occ"))
      .where(col("occ") >= 2)
      .select(col("h"), col("keeper"))
    val marked = wins.join(winners, Seq("h"))
      .where(!(col("keeper.id") === col("id") && col("keeper.i") === col("i")))
    removeMarkedSpans(docs, idCol, textCol, marked, k)
  }

  /** MULTI-SCALE substring dedup — the bounded-length approximation of
    * arbitrary-length repeated-substring removal (the suffix-array family
    * of Lee et al., ACL 2022) over the same hashed stride-1 window
    * machinery as [[spanDedup]]: each `(spanWords, minOcc)` scale marks
    * the non-first occurrences of every window repeated at least `minOcc`
    * times, and a token position covered by ANY scale's mark is removed.
    *
    * The graduated default is the policy a real pipeline wants and a
    * single scale cannot express: LONG repeats are suspicious at the
    * second occurrence (64-token span, minOcc 2 — any repeated run ≥ 64
    * tokens is fully covered by its duplicated stride-1 windows, so this
    * IS threshold-64 suffix-style span removal over its full extent),
    * while SHORT spans are cut only as heavy boilerplate (8-token span at
    * minOcc 50 — idioms and common phrases survive, navigation chrome
    * repeated across a crawl does not). A single low-threshold short
    * scale would shred ordinary prose; a single long scale misses the
    * mid-frequency chrome.
    *
    * Keep-first is per scale (least `(id, i)` among that scale's
    * occurrences), so the canonical copy of a long repeat survives
    * verbatim at its scale even while its short windows are being cut
    * elsewhere by a hotter scale.
    *
    * Scale shape: one [[rollingWindows]] pass per scale (re-scanning
    * parquet beats materializing a window-level intermediate — the
    * [[spanDedup]] argument, ×|scales|); every pass shuffles 8-byte
    * hashed keys with partial-aggregable winner picks bounded by
    * actually-repeated windows; the mark union is a narrow unionAll and
    * the rebuild state stays bounded by each doc's own token count.
    * Output 1:1 with `docs`: `(idCol, n_tokens, n_removed,
    * cleaned_text)`. */
  def multiScaleSpanDedup(docs: DataFrame, idCol: String, textCol: String,
                          scales: Seq[(Int, Long)] =
                            Seq(8 -> 50L, 16 -> 8L, 64 -> 2L)): DataFrame = {
    require(scales.nonEmpty, "need >= 1 (spanWords, minOcc) scale")
    require(scales.forall { case (k, m) => k >= 1 && m >= 2 },
      s"every scale needs spanWords >= 1 and minOcc >= 2, got $scales")
    require(scales.map(_._1).distinct.length == scales.length,
      s"scale window sizes must be distinct, got $scales")
    val marked = scales.map { case (k, minOcc) =>
      val wins = rollingWindows(docs, idCol, textCol, k)
      val winners = wins.groupBy(col("h"))
        .agg(min(struct(col("id"), col("i"))).as("keeper"),
          count(lit(1)).as("occ"))
        .where(col("occ") >= minOcc)
        .select(col("h"), col("keeper"))
      wins.join(winners, Seq("h"))
        .where(!(col("keeper.id") === col("id") && col("keeper.i") === col("i")))
        .select(col("id"), col("i"), (col("i") + lit(k - 1)).as("_end"))
    }.reduce(_ unionAll _)
    removeMarkedRanges(docs, idCol, textCol, marked)
  }

  /** Shared tail of the span-surgery operators ([[spanDedup]],
    * [[scrubContaminatedSpans]]): aggregate the marked windows' covered
    * positions per doc (state bounded by the doc's token count) and rebuild
    * every document from its surviving tokens. `marked` carries (id, i)
    * window starts; output is 1:1 with `docs`. */
  private def removeMarkedSpans(docs: DataFrame, idCol: String, textCol: String,
                                marked: DataFrame, k: Int): DataFrame =
    removeMarkedRanges(docs, idCol, textCol,
      marked.select(col("id"), col("i"), (col("i") + lit(k - 1)).as("_end")))

  /** Variable-width tail shared with [[multiScaleSpanDedup]]: `marked`
    * carries inclusive `(id, i, _end)` token ranges. */
  private def removeMarkedRanges(docs: DataFrame, idCol: String, textCol: String,
                                 marked: DataFrame): DataFrame = {
    val removedPos = marked
      .groupBy(col("id"))
      .agg(array_sort(array_distinct(flatten(
        collect_list(sequence(col("i"), col("_end")))))).as("_rm"))
    docs
      .select(col(idCol).as("id"), Text.tokens(col(textCol)).as("toks"))
      .join(removedPos, Seq("id"), "left")
      .select(col("id").as(idCol),
        size(col("toks")).cast("long").as("n_tokens"),
        when(col("_rm").isNull, 0L).otherwise(size(col("_rm")).cast("long"))
          .as("n_removed"),
        array_join(
          filter(
            transform(col("toks"), (t, p) =>
              when(array_contains(coalesce(col("_rm"), array().cast("array<int>")), p),
                lit(null)).otherwise(t)),
            x => x.isNotNull),
          " ").as("cleaned_text"))
  }

  /** Decontamination SURGERY — the removal counterpart of the measuring
    * [[contaminationSpans]]: every corpus token position covered by a
    * `gramWords`-token window whose text occurs anywhere in the benchmark
    * set is cut, and documents are rebuilt from the survivors. Span
    * surgery keeps the 10k clean tokens of a doc that embeds one benchmark
    * prompt, where the doc-level gate ([[crossCorpusOverlap]]) must drop
    * or keep the doc wholesale.
    *
    * Same scale shape as [[contaminationSpans]] (hashed windows, benchmark
    * side distinct-collapsed before the equi-join) with [[spanDedup]]'s
    * per-doc rebuild tail. Output 1:1 with the corpus. */
  def scrubContaminatedSpans(corpus: DataFrame, benchmark: DataFrame,
                             idCol: String, textCol: String,
                             gramWords: Int = 4): DataFrame = {
    require(gramWords >= 1, s"gramWords must be >= 1, got $gramWords")
    val marked = rollingWindows(corpus, idCol, textCol, gramWords)
      .join(contaminationWindowKeys(benchmark, idCol, textCol, gramWords), Seq("h"))
    removeMarkedSpans(corpus, idCol, textCol, marked, gramWords)
  }

  /** Span-level contamination measurement: for every corpus document, how
    * much of it is covered by `gramWords`-token windows that also appear in
    * the `benchmark` set. The fine-grained companion to the document-level
    * [[crossCorpusOverlap]] decontamination gate: a doc that embeds one
    * benchmark prompt inside 10k tokens of clean text scores low here but
    * may be worth span-surgery rather than dropping.
    *
    * Output per corpus doc (1:1 with input): `n_windows` (total rolling
    * windows), `n_matched` (windows whose text occurs anywhere in the
    * benchmark), `covered_tokens` (distinct token positions under any
    * matched window — overlapping matches are not double-counted), and
    * `contamination` = covered_tokens / token count.
    *
    * Scale shape: both sides hash windows map-side to the 8-byte
    * [[shingleKey]]; the benchmark side is `distinct`-collapsed before the
    * equi-join (an eval set is tiny next to a training corpus, so AQE
    * broadcasts it); coverage is one groupBy(id) whose per-group state is
    * bounded by a single document's matched windows. */
  /** Rolling `g`-token windows of each doc with their start position and
    * 60-bit [[shingleKey]]: (id, i, h). Docs shorter than g tokens have
    * none (sequence(0, n−g) is only evaluated when n ≥ g). */
  private[graft] def rollingWindows(df: DataFrame, idCol: String,
                                    textCol: String, g: Int): DataFrame =
    df.select(col(idCol).as("id"), Text.tokens(col(textCol)).as("toks"))
      .where(size(col("toks")) >= g)
      .select(col("id"),
        explode(sequence(lit(0), size(col("toks")) - g)).as("i"), col("toks"))
      .select(col("id"), col("i"),
        shingleKey(array_join(slice(col("toks"), col("i") + 1, lit(g)), " ")).as("h"))

  /** The DISTINCT window keys of [[contaminationSpans]]'s benchmark side —
    * exposed so a streaming deployment builds its Bloom
    * ([[graft.streaming.Streams.contaminationSpansStream]]) over exactly
    * the key set the batch operator equi-joins against. */
  def contaminationWindowKeys(benchmark: DataFrame, idCol: String,
                              textCol: String, gramWords: Int = 4): DataFrame =
    rollingWindows(benchmark, idCol, textCol, gramWords)
      .select(col("h")).distinct()

  def contaminationSpans(corpus: DataFrame, benchmark: DataFrame,
                         idCol: String, textCol: String,
                         gramWords: Int = 4): DataFrame = {
    require(gramWords >= 1, s"gramWords must be >= 1, got $gramWords")
    val g = gramWords
    def toked(df: DataFrame): DataFrame =
      df.select(col(idCol).as("id"), Text.tokens(col(textCol)).as("toks"))
    val benchGrams = contaminationWindowKeys(benchmark, idCol, textCol, g)
    val matched = rollingWindows(corpus, idCol, textCol, g).join(benchGrams, Seq("h"))
    // per-doc coverage: union of [i, i+g) intervals, distinct positions —
    // bounded by the doc's own token count
    val stats = matched
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_matched"),
        size(array_distinct(flatten(
          collect_list(sequence(col("i"), col("i") + g - 1))))).cast("long")
          .as("covered_tokens"))
    toked(corpus)
      .select(col("id"), size(col("toks")).as("n_toks"))
      .join(stats, Seq("id"), "left")
      .select(col("id").as(idCol),
        greatest(col("n_toks") - g + 1, lit(0)).cast("long").as("n_windows"),
        coalesce(col("n_matched"), lit(0L)).as("n_matched"),
        coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"),
        (coalesce(col("covered_tokens"), lit(0L)).cast("double") /
          greatest(col("n_toks"), lit(1)).cast("double")).as("contamination"))
  }

  /** WITHIN-document duplicate-segment removal (intra-doc self-dedup) — the
    * repetition-removal stage of a quality pipeline (Rae et al., Gopher /
    * MassiveText, arXiv 2112.11446 §A.1.2 remove docs with high duplicate
    * fraction; here the duplicated segments themselves are cut, keeping the
    * first occurrence, as [[blockDedup]] does across documents).
    *
    * The document is split into consecutive `segWords`-token segments (tail
    * may be short) and segment `i` survives iff its FIRST occurrence index
    * in the same document is `i`. Everything is a per-row higher-order
    * expression over the token array: the n² first-occurrence probe is
    * bounded by a single document's segment count, and the operator as a
    * whole is **zero-shuffle** — no Exchange anywhere in the plan, it
    * composes into the scan stage of whatever runs next. Contrast with
    * [[blockDedup]]: cross-corpus keep-first NEEDS the shuffle (winners are
    * global); within-doc keep-first needs none (winners are local), so at
    * 100 TB this costs exactly one pass over the text column.
    *
    * Output is 1:1 with the input: `(idCol, n_segments, n_removed,
    * dedup_text)`; empty/whitespace docs yield 0 segments and `''`. */
  def selfDedup(docs: DataFrame, idCol: String, textCol: String,
                segWords: Int = 5): DataFrame = {
    require(segWords >= 1, s"segWords must be >= 1, got $segWords")
    val b = segWords
    val toks = Text.tokens(col(textCol))
    val segList = when(size(col("toks")) > 0,
      transform(
        sequence(lit(0), ceil(size(col("toks")) / lit(b.toDouble)).cast("int") - 1),
        i => array_join(slice(col("toks"), i * b + 1, lit(b)), " ")))
      .otherwise(array().cast("array<string>"))
    // filter's index lambda is 0-based; array_position is 1-based — segment
    // i survives iff the array's first occurrence of its text is at i
    val kept = filter(col("segs"),
      (s, i) => array_position(col("segs"), s) === (i + lit(1)).cast("long"))
    docs
      .select(col(idCol), toks.as("toks"))
      .select(col(idCol), segList.as("segs"))
      .select(col(idCol),
        size(col("segs")).cast("long").as("n_segments"),
        (size(col("segs")) - size(kept)).cast("long").as("n_removed"),
        array_join(kept, " ").as("dedup_text"))
  }

  /** CORPUS SIMILARITY MATRIX: exact pairwise Jaccard between the
    * distinct-shingle SETS of document groups (sources, crawls, dataset
    * versions) — the dataset-level counterpart of the per-document
    * near-dup family, answering "how much does corpus A overlap corpus
    * B" before a merge/dedup decision (overlapping sources get deduped
    * against each other first; disjoint ones concatenate). Works over
    * the hashed 60-bit shingle universe ([[shingleKey]]) like the whole
    * inverted-index family, so a DuckDB oracle hash-matches.
    *
    * ## Scale shape (100 TB)
    * The corpus collapses to the distinct `(group, shingle-key)` table
    * FIRST (partial-aggregable; 8-byte keys, text never shuffles
    * again). The pair universe is bounded by the GROUP count, not the
    * data: each shingle key appears in at most G group-rows, so the
    * self-equi-join on the key fans out ≤ G(G−1)/2 pairs per distinct
    * shingle and the intersection counts partial-aggregate down to the
    * G² matrix. Group sizes ride a G-row broadcast. G is domain-like
    * (sources/crawls — hundreds), never data-like; for G beyond that,
    * swap the exact intersection for per-group KMV sketches — the
    * documented approximate path, same shape as the HLL family.
    *
    * Returns `(g_a, g_b, n_a, n_b, n_common, jaccard)` for `g_a < g_b`,
    * `jaccard = n_common / (n_a + n_b − n_common)` — one IEEE division
    * of exact integers; sizes count DISTINCT shingle keys per group.
    * The matrix is SPARSE: pairs with zero shared shingles are absent
    * (they never meet in the key join — exactly the rows a 100 TB run
    * must not materialize). */
  /** WINNOWING document fingerprints (Schleimer, Wilkerson, Aiken 2003,
    * "Winnowing: Local Algorithms for Document Fingerprinting" — the
    * MOSS algorithm): slide a window of `w` consecutive shingle-hash
    * positions over the document and keep each window's MINIMUM hash;
    * the distinct minima are the fingerprint set. The winnowing
    * guarantee: any shared run of at least `w + shingleLen − 1` tokens
    * between two documents forces at least one SHARED fingerprint —
    * detection is deterministic, not probabilistic like MinHash — while
    * storing ~2/(w+1) of the shingle hashes. The pipeline role:
    * plagiarism-style partial-overlap detection where missing a long
    * verbatim overlap is not acceptable.
    *
    * Entirely per-row narrow work (tokenize → hash → windowed min →
    * distinct, all higher-order array functions) plus a scan-stage
    * explode — a document's fingerprints never leave its task. Returns
    * `(idCol, fp)` distinct; docs with ≤ w+shingleLen−1 tokens emit one
    * fingerprint (the global minimum — the whole doc is one window). */
  def winnowingFingerprints(docs: DataFrame, idCol: String, textCol: String,
                            shingleLen: Int, window: Int): DataFrame = {
    require(shingleLen >= 1, s"shingleLen must be >= 1, got $shingleLen")
    require(window >= 1, s"window must be >= 1, got $window")
    // POSITIONAL shingle hashes — winnowing needs order, so no
    // array_distinct before the windowed min
    val keys = transform(Text.fastWordShingles(col(textCol), shingleLen),
      s => shingleKey(s))
    val mins = transform(
      sequence(lit(0), greatest(size(col("_k")) - window, lit(0))),
      i => array_min(slice(col("_k"), i + 1, lit(window))))
    docs
      .select(col(idCol), keys.as("_k"))
      .where(size(col("_k")) > 0)
      .select(col(idCol), explode(array_distinct(mins)).as("fp"))
  }

  /** Near-dup candidate pairs from shared winnowing fingerprints — the
    * [[minHashLsh]] band-bucket recipe with the winnowing guarantee:
    * `(id_a, id_b, n_shared)` for pairs sharing ≥ 1 fingerprint, via the
    * fingerprint-keyed equi-join (never all-pairs). `maxFpDf` drops
    * fingerprints shared by more than that many docs (boilerplate runs —
    * the exact analogue of the LSH hot-bucket cap, and the df filter is
    * a partial-aggregable count over 8-byte keys). */
  def winnowedPairs(docs: DataFrame, idCol: String, textCol: String,
                    shingleLen: Int, window: Int,
                    maxFpDf: Int = 50): DataFrame = {
    require(maxFpDf >= 2, s"maxFpDf must be >= 2, got $maxFpDf")
    val fps = winnowingFingerprints(docs, idCol, textCol, shingleLen, window)
      .select(col(idCol).as("_id"), col("fp"))
    val kept = fps.join(
      fps.groupBy(col("fp")).agg(count(lit(1)).as("_df"))
        .where(col("_df") <= maxFpDf).select(col("fp")),
      Seq("fp"))
    kept.join(kept.select(col("_id").as("_id2"), col("fp")), Seq("fp"))
      .where(col("_id") < col("_id2"))
      .groupBy(col("_id"), col("_id2")).agg(count(lit(1)).as("n_shared"))
      .select(col("_id").as("id_a"), col("_id2").as("id_b"), col("n_shared"))
  }

  /** KMV (k-minimum-values) group sketch — the documented APPROXIMATE
    * path of [[corpusSimilarityMatrix]] for when the group universe
    * outgrows the exact intersection join: per group, the `k` smallest
    * DISTINCT shingle keys (Beyer et al. 2007; deterministic — the
    * "randomness" is the hash, so the sketch and everything computed
    * from it is exactly reproducible cross-engine). Selection runs
    * through [[Ranking.groupedRank]] with the key's high bits as the
    * sub-bucket — order-consistent, so a hot group's sort is split
    * across value-range buckets instead of serializing one window task
    * (the q98 de-skew shape, built in rather than documented). Returns
    * `(groupCol, sh, rank)`, rank 1..k ascending by key. */
  def kmvSketch(docs: DataFrame, groupCol: String, textCol: String,
                shingleLen: Int, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val gsh = docs
      .select(col(groupCol),
        explode(array_distinct(Text.fastWordShingles(col(textCol), shingleLen))).as("_s"))
      .select(col(groupCol), shingleKey(col("_s")).as("sh"))
      .distinct()
    Ranking.groupedRank(gsh, col(groupCol),
        subBucket = shiftrightunsigned(col("sh"), 52), col("sh"))
      .where(col("rank") <= k)
      .select(col(groupCol), col("sh"), col("rank"))
  }

  /** Pairwise Jaccard ESTIMATES from [[kmvSketch]]es: for each group
    * pair, take the `k` smallest keys of the sketch UNION (one more
    * groupedRank over sketch rows — pair-tagged, still value-bucketed)
    * and count how many lie in BOTH sketches;
    * `est = n_both / n_union_k` is the standard KMV Jaccard estimator
    * (± ~1/√k — spec-measured against the exact matrix). Every number
    * here is a deterministic function of the hashes, so the ESTIMATE
    * itself is exactly oracle-checkable even though it approximates the
    * true Jaccard. Sketch tables are G·k rows — model-sized; nothing
    * data-wide ever joins. Returns `(g_a, g_b, n_union_k, n_both,
    * est_jaccard)` for EVERY group pair (unlike the exact matrix's
    * sparse output, the estimator prices disjoint pairs at 0 from k
    * rows, so emitting them is free). */
  def kmvSimilarityMatrix(docs: DataFrame, groupCol: String,
                          textCol: String, shingleLen: Int,
                          k: Int): DataFrame = {
    // localCheckpoint (not persist): the G·k sketch is reused on three
    // join sides below; checkpointing materializes it once and lets the
    // ContextCleaner free the blocks, where a bare persist() leaked
    // executor storage across repeated calls
    val sk = kmvSketch(docs, groupCol, textCol, shingleLen, k)
      .select(col(groupCol).as("_g"), col("sh")).localCheckpoint(eager = true)
    // G×G pair frame — two G-row inputs, never data-sized
    val pairs = sk.select(col("_g")).distinct()
      .crossJoin(sk.select(col("_g").as("_g2")).distinct())
      .where(col("_g") < col("_g2"))
    // union rows per pair: sketch keys of both sides, tagged with how
    // many sides carry them (1 = one side, 2 = both)
    val tagged = pairs
      .join(sk, Seq("_g"))
      .select(col("_g"), col("_g2"), col("sh"))
      .unionAll(pairs
        .join(sk.select(col("_g").as("_g2"), col("sh")), Seq("_g2"))
        .select(col("_g"), col("_g2"), col("sh")))
      .groupBy(col("_g"), col("_g2"), col("sh"))
      .agg(count(lit(1)).as("_sides"))
    val ranked = Ranking.groupedRank(tagged,
        struct(col("_g"), col("_g2")),
        subBucket = shiftrightunsigned(col("sh"), 52), col("sh"))
      .where(col("rank") <= k)
    ranked
      .groupBy(col("_g"), col("_g2"))
      .agg(count(lit(1)).as("n_union_k"),
        sum(when(col("_sides") === 2, 1L).otherwise(0L)).as("n_both"))
      .select(col("_g").as("g_a"), col("_g2").as("g_b"),
        col("n_union_k"), col("n_both"),
        (col("n_both").cast("double") / col("n_union_k").cast("double"))
          .as("est_jaccard"))
  }

  def corpusSimilarityMatrix(docs: DataFrame, groupCol: String,
                             textCol: String, shingleLen: Int): DataFrame = {
    require(shingleLen >= 1, s"shingleLen must be >= 1, got $shingleLen")
    val gsh = docs
      .select(col(groupCol).as("_g"),
        explode(array_distinct(Text.fastWordShingles(col(textCol), shingleLen))).as("_s"))
      .select(col("_g"), shingleKey(col("_s")).as("_sh"))
      .distinct()
    val sizes = gsh.groupBy(col("_g")).agg(count(lit(1)).as("_n"))
    gsh.join(gsh.select(col("_g").as("_g2"), col("_sh")), Seq("_sh"))
      .where(col("_g") < col("_g2"))
      .groupBy(col("_g"), col("_g2")).agg(count(lit(1)).as("n_common"))
      .join(broadcast(sizes.select(col("_g"), col("_n").as("n_a"))), Seq("_g"))
      .join(broadcast(sizes.select(col("_g").as("_g2"), col("_n").as("n_b"))), Seq("_g2"))
      .select(col("_g").as("g_a"), col("_g2").as("g_b"),
        col("n_a"), col("n_b"), col("n_common"),
        (col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common")).cast("double")).as("jaccard"))
  }
}
