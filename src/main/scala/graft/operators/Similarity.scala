package graft.operators

import graft.functions.Vectors

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Two paths, per the standard scale playbook:
  *  - [[bruteForceTopK]]: exact cosine top-k of a *small* query set against
  *    the full corpus. The query side is broadcast, so the corpus is scanned
  *    once, narrow, with no shuffle of the corpus at all; the only exchange
  *    is the final per-query top-k (a tiny aggregation). This is the
  *    correctness baseline and the right physical plan even at 100 TB —
  *    corpus-side data never moves.
  *  - [[lshTopK]]: random-hyperplane LSH bucketing (deterministic
  *    hyperplanes, see [[Vectors.hyperplaneComponent]]) so candidate
  *    generation is an equi-join on bucket ids instead of a cross product —
  *    the scale path when the query set is large.
  *
  * Scoring discipline: norms are computed ONCE per row before any join
  * (never per candidate pair), and the pair-side inner loop is the native
  * codegen'd [[graft.functions.catalyst.ArrayDotProduct]]. The final
  * cosine `dot / (qn * cn)` is bit-identical to the naive
  * `dot(a,b)/(norm(a)*norm(b))`, so oracle parity is unaffected. */
object Similarity {

  /** Exact cosine top-k neighbors for each query vector.
    * Output: (query_id, rank, neighbor_id, cosine). */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame,
                     idCol: String, vecCol: String, k: Int,
                     excludeSelf: Boolean = true): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      Vectors.norm(col(vecCol)).as("qn")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      Vectors.norm(col(vecCol)).as("cn"))
    val scored = c.join(q, if (excludeSelf) col("neighbor_id") =!= col("query_id") else lit(true))
      .select(col("query_id"), col("neighbor_id"),
        when(col("qn") * col("cn") === 0.0, lit(0.0))
          .otherwise(Vectors.fastDot(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cosine"))
  }

  /** LSH-bucketed ANN: candidates share a random-hyperplane bucket in at
    * least one of `tables` independent hash tables; exact cosine re-ranks
    * within candidates. Recall grows with `tables`, bucket size shrinks with
    * `planes`. Output: (query_id, rank, neighbor_id, cosine).
    *
    * `multiprobe` > 0 additionally probes, per table, `multiprobe` buckets
    * at Hamming distance 1 from the query's bucket (multi-probe LSH, Lv et
    * al., VLDB 2007): near-misses where ONE hyperplane disagrees are
    * recovered without building more tables. With `queryDirected` (the
    * paper's actual heuristic) the flipped planes are the ones the query
    * projects CLOSEST to — the likeliest sides for a true neighbor to sit
    * on — instead of the first `multiprobe` planes; probe volume is
    * identical, recall is strictly better on diffuse data. The expansion is
    * QUERY-side only — the corpus is still indexed once per table, and
    * candidate generation stays an equi-join; candidate volume grows
    * ~×(1+multiprobe) per table. */
  def lshTopK(queries: DataFrame, corpus: DataFrame,
              idCol: String, vecCol: String, k: Int,
              planes: Int = 8, tables: Int = 4, dim: Int = -1,
              multiprobe: Int = 0, queryDirected: Boolean = true): DataFrame = {
    val d = if (dim > 0) dim else Vectors.dims(corpus, vecCol)
    require(d > 0, s"cannot infer embedding dimensionality of '$vecCol' (no non-empty vectors); pass dim explicitly")
    val cands = lshCandidates(queries, corpus, idCol, vecCol,
      planes, tables, d, multiprobe, queryDirected)
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      Vectors.norm(col(vecCol)).as("qn")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      Vectors.norm(col(vecCol)).as("cn"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    cands.join(q, Seq("query_id")).join(c, Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        when(col("qn") * col("cn") === 0.0, lit(0.0))
          .otherwise(Vectors.fastDot(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cosine"))
  }

  /** Candidate (query_id, neighbor_id) pairs for [[lshTopK]] — exposed for
    * the recall/candidate-volume specs. */
  private[graft] def lshCandidates(queries: DataFrame, corpus: DataFrame,
                                   idCol: String, vecCol: String,
                                   planes: Int, tables: Int, d: Int,
                                   multiprobe: Int, queryDirected: Boolean): DataFrame = {
    require(multiprobe >= 0 && multiprobe <= planes,
      s"multiprobe must be in [0, planes=$planes], got $multiprobe")
    // flip 0-based plane `j` (a COLUMN when query-directed) of a 0/1 string
    def flipBitAt(bucket: Column, j: Column): Column = concat(
      bucket.substr(lit(1), j),
      when(bucket.substr(j + 1, lit(1)) === "1", lit("0")).otherwise(lit("1")),
      bucket.substr(j + 2, lit(planes) - j - 1))
    // corpus side: base buckets only, straight from lshBucket
    val corpusBuckets = {
      val withBase = corpus.select(col(idCol).as("neighbor_id"),
        array((0 until tables).map(t => Vectors.lshBucket(col(vecCol), planes, d, seed = t)): _*).as("_bases"))
      val variants = (0 until tables).map(t => concat(lit(s"$t:"), element_at(col("_bases"), t + 1)))
      withBase.select(col("neighbor_id"), explode(array(variants: _*)).as("bucket"))
    }
    // query side: the per-table hyperplane PROJECTIONS are materialized once
    // (planes codegen'd dots each) — base bits, probe-plane choice, and
    // flipped variants are all cheap array reads over those attributes.
    // Sign bits come from the identical fastDot doubles lshBucket compares,
    // so query and corpus buckets stay bit-identical.
    val queryBuckets = {
      val withProjs = queries.select(col(idCol).as("query_id") +:
        (0 until tables).map { t =>
          array((0 until planes).map(p => Vectors.fastDot(col(vecCol),
            array(Vectors.hyperplane(t * 1000 + p, d).map(lit(_)): _*))): _*).as(s"_pr$t")
        }: _*)
      // materialize base bucket + probe order ONCE per table as their own
      // attributes: every probe variant reads them, and leaving them as
      // expressions re-evaluates the concat/sort per variant (measured 3×
      // the whole query's cost)
      val staged = withProjs.select(col("query_id") +:
        (0 until tables).flatMap { t =>
          val projs = col(s"_pr$t")
          val base = concat((0 until planes).map(p =>
            when(element_at(projs, p + 1) >= 0.0, lit("1")).otherwise(lit("0"))): _*).as(s"_base$t")
          if (!queryDirected || multiprobe == 0) Seq(base)
          else Seq(base,
            // the paper's heuristic: smallest |projection| = nearest planes
            slice(sort_array(array((0 until planes).map(p =>
              struct(abs(element_at(projs, p + 1)).as("d"), lit(p).as("idx"))): _*)),
              1, multiprobe).as(s"_order$t"))
        }: _*)
      val variants = (0 until tables).flatMap { t =>
        val base = col(s"_base$t")
        val probePlanes: Seq[Column] =
          if (queryDirected)
            (0 until multiprobe).map(j =>
              element_at(col(s"_order$t"), j + 1).getField("idx"))
          else (0 until multiprobe).map(j => lit(j))
        concat(lit(s"$t:"), base) +:
          probePlanes.map(j => concat(lit(s"$t:"), flipBitAt(base, j)))
      }
      staged.select(col("query_id"), explode(array(variants: _*)).as("bucket"))
    }
    // candidate ids only (cheap dedup on longs); vectors re-attached later
    queryBuckets.join(corpusBuckets, Seq("bucket"))
      .where(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"))
      .distinct()
  }

  /** IVF (inverted-file) ANN: cluster the corpus around `nCentroids`
    * centroids (deterministic hash-sampled seeds + `iterations` Lloyd
    * refinements), index each vector under its nearest centroid, then
    * search only the `probes` nearest clusters per query and exact-rerank.
    *
    * The centroid set is MODEL, not data — nCentroids × dim doubles, held
    * at the driver like Spark's own KMeansModel and baked into expressions,
    * so cluster assignment is a narrow codegen'd per-row argmax with NO
    * shuffle. Refinement is MLlib-KMeans shaped: per-(cluster, dim) means
    * partial-aggregate map-side (shuffle volume nPartitions × nCentroids ×
    * dim, never the corpus), and the mean vectors re-assemble and
    * re-normalize distributedly — the driver receives one refreshed model
    * row per cluster per round, the same magnitude as seeding. At 100 TB
    * the corpus is scanned once per Lloyd iteration and once to index —
    * then every query touches only `probes/nCentroids` of the data, and the
    * candidate fetch is an equi-join on the cluster id. (At model sizes
    * where plan-time literals stop being reasonable — say 2¹⁶ centroids ×
    * 2¹⁰ dims — assignment would switch to a broadcast-variable expression;
    * the refinement dataflow is already that shape.) Output: (query_id,
    * rank, neighbor_id, cosine). */
  def ivfTopK(queries: DataFrame, corpus: DataFrame,
              idCol: String, vecCol: String, k: Int,
              nCentroids: Int = 16, probes: Int = 4, iterations: Int = 1,
              miniBatchFraction: Double = 1.0): DataFrame =
    searchIvfIndex(queries,
      buildIvfIndex(corpus, idCol, vecCol, nCentroids, iterations, miniBatchFraction),
      idCol, vecCol, k, probes)

  /** A trained IVF index: the centroid MODEL (≤ nCentroids rows of dim
    * doubles — driver-resident, like Spark's own KMeansModel) plus the
    * cluster-keyed assignment table (cluster, neighbor_id, cnv =
    * L2-normalized vector; one row per corpus vector). Build once per
    * corpus with [[buildIvfIndex]], persist with [[writeIvfIndex]] /
    * [[readIvfIndex]], serve query batches with [[searchIvfIndex]] —
    * the production lifecycle, where clustering cost amortizes over every
    * subsequent batch instead of re-running per search (the same
    * store-don't-recompute shape as the q63/q66 dedup index). */
  final case class IvfIndex(centroids: Array[(Int, Array[Double])],
                            assignments: DataFrame)

  /** Train centroids and index every corpus vector under its nearest one.
    * One corpus scan per Lloyd iteration plus one to index; see
    * [[ivfTopK]]'s scale notes. */
  def buildIvfIndex(corpus: DataFrame, idCol: String, vecCol: String,
                    nCentroids: Int = 16, iterations: Int = 1,
                    miniBatchFraction: Double = 1.0): IvfIndex = {
    require(miniBatchFraction > 0.0 && miniBatchFraction <= 1.0,
      s"miniBatchFraction must be in (0,1], got $miniBatchFraction")

    // work on L2-normalized copies: dot ≡ cosine, means stay meaningful
    val c = corpus.select(col(idCol).as("cid_"), Vectors.l2normalize(col(vecCol)).as("nv"))
    // mini-batch Lloyd (Sculley WWW 2010 shape, deterministic): each
    // refinement round aggregates means over a content-keyed md5 sample of
    // the corpus instead of all of it — at 100 TB, refinement cost drops
    // by 1/fraction while the INDEXING pass below still assigns every
    // vector. The sample is Sampling.samplePredicate, so it is identical
    // across runs/partitionings and the whole operator stays deterministic.
    val refineSet =
      if (miniBatchFraction >= 1.0) c
      else c.where(Sampling.samplePredicate(col("cid_"), miniBatchFraction))

    // Deterministic pseudo-random seeds: smallest nCentroids by xxhash64(id)
    // via a distributed TakeOrderedAndProject. The centroid set itself is
    // tiny plan metadata (nCentroids × dim doubles) — like Spark's own
    // KMeansModel, it lives at the driver and is baked into expressions, so
    // cluster ASSIGNMENT is a narrow per-row projection with NO shuffle and
    // no C-fold duplication of vectors through an exchange.
    var centroids: Array[(Int, Array[Double])] = c
      .orderBy(xxhash64(col("cid_")), col("cid_")).limit(nCentroids)
      .collect().zipWithIndex
      .map { case (r, i) => (i + 1, r.getSeq[Double](1).toArray) }

    def centroidCol(v: Array[Double]): Column = array(v.map(lit(_)): _*)
    def scoreStructs(nv: Column): Seq[Column] = centroids.map { case (cl, v) =>
      struct(Vectors.fastDot(nv, centroidCol(v)).as("score"), lit(-cl).as("negc"))
    }.toSeq
    // deterministic argmax under ties: greatest over (score, -cluster)
    // picks max score, then the SMALLEST cluster id
    def bestCluster(nv: Column): Column =
      (-greatest(scoreStructs(nv): _*).getField("negc")).cast("int")

    (0 until iterations).foreach { _ =>
      // One Lloyd round, MLlib-KMeans shaped: a narrow codegen'd assignment
      // pass, then per-(cluster, dim) partial-agg'd means — the shuffle is
      // nPartitions × nCentroids × dim partial rows, never the corpus. The
      // mean VECTORS are re-assembled and spherically re-normalized where
      // the data is (sort_array over (pos, m) structs + HOF fold — tiny:
      // nCentroids rows of dim elements), so the driver receives one row
      // per cluster — the refreshed MODEL, same magnitude as seeding —
      // rather than nCentroids×dim scalar rows to stitch locally.
      val refreshed = refineSet.withColumn("cluster", bestCluster(col("nv")))
        .select(col("cluster"), posexplode(col("nv")).as(Seq("pos", "x")))
        .groupBy(col("cluster"), col("pos"))
        .agg(avg(col("x")).as("m"))
        .groupBy(col("cluster"))
        .agg(sort_array(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("cluster"), transform(col("pm"), p => p.getField("m")).as("mv"))
        .select(col("cluster"), col("mv"),
          // spherical k-means: re-normalize the mean, or dot-product argmax
          // no longer approximates cosine-nearest-centroid
          sqrt(aggregate(col("mv"), lit(0.0), (a, x) => a + x * x)).as("n"))
        .select(col("cluster"), col("n"),
          when(col("n") === 0.0, col("mv"))
            .otherwise(transform(col("mv"), _ / col("n"))).as("mv"))
        .collect()
        .map(r => r.getInt(0) -> (r.getDouble(1), r.getSeq[Double](2).toArray))
        .toMap
      centroids = centroids.map { case (cl, old) =>
        // empty cluster (no assigned vectors) or degenerate zero-norm mean:
        // keep the previous centroid
        (cl, refreshed.get(cl) match {
          case Some((n, mv)) if n > 0.0 => mv
          case _ => old
        })
      }
    }

    val indexed = c
      .withColumn("cluster", bestCluster(col("nv")))
      .select(col("cid_").as("neighbor_id"), col("cluster"), col("nv").as("cnv"))
    IvfIndex(centroids, indexed)
  }

  /** Serve one query batch from a built (or read-back) index: probe the
    * `probes` nearest clusters per query, fetch candidates by a cluster-id
    * equi-join, exact-rerank. The corpus is never scanned — only the
    * probed slices of the assignment table move. */
  def searchIvfIndex(queries: DataFrame, index: IvfIndex,
                     idCol: String, vecCol: String, k: Int,
                     probes: Int = 4): DataFrame = {
    def centroidCol(v: Array[Double]): Column = array(v.map(lit(_)): _*)
    val scoreStructs: Seq[Column] = index.centroids.map { case (cl, v) =>
      struct(Vectors.fastDot(col("qnv"), centroidCol(v)).as("score"), lit(-cl).as("negc"))
    }.toSeq
    // per-query probe list: top-`probes` clusters by centroid similarity —
    // a narrow expression (sort the tiny per-row score array)
    val q = queries.select(col(idCol).as("query_id"), Vectors.l2normalize(col(vecCol)).as("qnv"))
    val probed = q
      .withColumn("probe", explode(slice(
        sort_array(array(scoreStructs: _*), asc = false), 1, probes)))
      .select(col("query_id"), col("qnv"), (-col("probe.negc")).cast("int").as("cluster"))

    val rankW = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    probed.join(index.assignments, Seq("cluster"))
      .where(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        Vectors.fastDot(col("qnv"), col("cnv")).as("cosine"))
      .withColumn("rank", row_number().over(rankW))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cosine"))
  }

  /** Persist an IVF index as two tables: `<name>_centroids` (the model —
    * ≤ nCentroids rows) and `<name>_assign`, BUCKETED on the cluster id so
    * a probe's candidate fetch reads matching buckets without a shuffle of
    * the assignment table. The executable twin of "in production the index
    * is a STORED table". */
  def writeIvfIndex(index: IvfIndex, name: String, buckets: Int = 32): Unit = {
    val spark = index.assignments.sparkSession
    import spark.implicits._
    graft.sources.Tables.saveTable(
      index.centroids.toSeq.map { case (cl, v) => (cl, v.toSeq) }
        .toDF("cluster", "centroid"),
      s"${name}_centroids")
    graft.sources.Tables.writeBucketed(index.assignments, s"${name}_assign", buckets, "cluster")
  }

  /** Read a persisted IVF index back. The centroid collect is model-sized
    * (≤ nCentroids rows); assignments stay a lazy bucketed table. */
  def readIvfIndex(spark: org.apache.spark.sql.SparkSession, name: String): IvfIndex = {
    val centroids = spark.table(s"${name}_centroids")
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    IvfIndex(centroids, spark.table(s"${name}_assign"))
  }

  /** Two-stage IVF ANN over an int8-QUANTIZED corpus: the standard
    * memory/recall trade for a 100 TB probe layer.
    *
    * Stage 1 runs [[ivfTopK]]'s centroid/probe/rank machinery over the
    * dequantized codes ([[Vectors.quantizeInt8]] — one byte per dimension,
    * so the resident candidate layer is 4× smaller than floats) and keeps
    * a `shortlist`-deep candidate list per query. Stage 2 re-attaches the
    * ORIGINAL float vectors for just the shortlist rows — an equi-join
    * moving |queries| × shortlist rows, never the corpus — and re-ranks by
    * exact cosine, so the final top-k ordering carries no quantization
    * error beyond stage-1 candidate selection (the recall cost of THAT is
    * spec-measured, not guessed).
    *
    * In production the quantized corpus is what is STORED (write
    * `quantizeInt8` once at ingest); this method quantizes inline so its
    * contract is self-contained. */
  def ivfTopKQuantized(queries: DataFrame, corpus: DataFrame,
                       idCol: String, vecCol: String, k: Int,
                       nCentroids: Int = 16, probes: Int = 4,
                       iterations: Int = 1, shortlist: Int = 0): DataFrame = {
    val deep = if (shortlist > 0) shortlist else 3 * k
    // materialize the dequantized corpus ONCE: the IVF machinery reads its
    // corpus in several passes (centroid seeding, each Lloyd round,
    // indexing, the candidate join), and the quantize→dequantize transform
    // chain is interpreted HOF work that would otherwise re-run per pass
    // (measured 11.1s → ~1.5s at sf0.1). In production the CODES are what
    // is stored — the scan dequantizes once on read, which is exactly the
    // one evaluation this checkpoint keeps.
    val qCorpus = corpus.select(col(idCol),
        Vectors.int8RoundTrip(col(vecCol)).as(vecCol))
      .localCheckpoint(eager = true)
    val stage1 = ivfTopK(queries, qCorpus, idCol, vecCol, deep,
      nCentroids, probes, iterations)
    val floats = corpus.select(col(idCol).as("neighbor_id"),
      Vectors.l2normalize(col(vecCol)).as("_fnv"))
    val qn = queries.select(col(idCol).as("query_id"),
      Vectors.l2normalize(col(vecCol)).as("_qnv"))
    val rankW = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    stage1.select(col("query_id"), col("neighbor_id"))
      .join(floats, Seq("neighbor_id"))
      .join(qn, Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        Vectors.fastDot(col("_qnv"), col("_fnv")).as("cosine"))
      .withColumn("rank", row_number().over(rankW))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cosine"))
  }

  /** Embedding near-duplicate pairs: LSH-block on a shared bucket, verify
    * exact cosine ≥ threshold. Deterministic blocking rule; at scale this is
    * an equi-join on short bucket strings. */
  def embeddingNearDup(corpus: DataFrame, idCol: String, vecCol: String,
                       threshold: Double, planes: Int = 6, dim: Int = -1): DataFrame = {
    val d = if (dim > 0) dim else Vectors.dims(corpus, vecCol)
    require(d > 0, s"cannot infer embedding dimensionality of '$vecCol' (no non-empty vectors); pass dim explicitly")
    val b = corpus.select(col(idCol).as("id"), col(vecCol).as("v"),
      Vectors.norm(col(vecCol)).as("n"),
      Vectors.lshBucket(col(vecCol), planes, d).as("bucket"))
    val l = b.select(col("bucket"), col("id").as("id_a"), col("v").as("v_a"), col("n").as("n_a"))
    val r = b.select(col("bucket"), col("id").as("id_b"), col("v").as("v_b"), col("n").as("n_b"))
    l.join(r, Seq("bucket"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        when(col("n_a") * col("n_b") === 0.0, lit(0.0))
          .otherwise(Vectors.fastDot(col("v_a"), col("v_b")) / (col("n_a") * col("n_b"))).as("cosine"))
      .where(col("cosine") >= threshold)
      .distinct()
  }

  /** The embedding-dedup ACTION on top of [[embeddingNearDup]]'s pair
    * universe — the SemDeDup policy (Abbas et al. 2023) expressed as a
    * deterministic single-pass rule: a vector is DROPPED iff it has ANY
    * near-duplicate partner (cosine ≥ threshold, same LSH block) with a
    * smaller id; the smallest id of every near-dup neighborhood survives.
    * Deliberately per-pair, not per-cluster: no transitive closure means
    * no iteration, and the policy is monotone (adding corpus rows never
    * un-drops a victim) — the cluster-canonical alternative that keeps
    * the best-quality member per connected component is
    * [[graft.operators.Dedup.canonicalizeNearDups]] (q61).
    *
    * Cost on top of pair generation: one partial-agg'd distinct over the
    * victim ids and one left-anti equi-join on the id — both
    * hash-partitioned, nothing new at 100 TB. Returns the surviving
    * corpus rows unchanged. */
  def embeddingDedup(corpus: DataFrame, idCol: String, vecCol: String,
                     threshold: Double, planes: Int = 6, dim: Int = -1): DataFrame = {
    val victims = embeddingNearDup(corpus, idCol, vecCol, threshold, planes, dim)
      .select(col("id_b").as(idCol)).distinct()
    corpus.join(victims, Seq(idCol), "left_anti")
  }

  /** Johnson–Lindenstrauss random projection to `outDim` dimensions — the
    * dimensionality-reduction step in front of any of the ANN paths (a
    * 64→16 cut shrinks every downstream dot product, shuffle row, and
    * resident index 4×; JL guarantees pairwise geometry survives within
    * (1±ε) for outDim = O(ln n / ε²) — Johnson & Lindenstrauss 1984;
    * database formulation Achlioptas, PODS 2001).
    *
    * The projection matrix is the SAME deterministic plan-time hyperplane
    * family the LSH path uses ([[Vectors.hyperplane]], plane ids
    * `planeSeed + j`): components uniform on (−0.5, 0.5), variance 1/12,
    * so rows are scaled by √(12/outDim) to preserve norms in expectation.
    * Plan shape: `outDim` codegen'd [[Vectors.fastDot]] calls against
    * constant arrays — a pure narrow projection, zero shuffle, and both
    * engines can materialize the identical matrix (the oracle inlines it
    * as SQL literals, the q33 pattern), so downstream similarity scores
    * stay bit-comparable. */
  def randomProject(df: DataFrame, vecCol: String, outDim: Int,
                    planeSeed: Int = 7000, dim: Int = -1): DataFrame = {
    require(outDim >= 1, s"outDim must be >= 1, got $outDim")
    val d = if (dim > 0) dim else Vectors.dims(df, vecCol)
    require(d > 0, s"cannot infer embedding dimensionality of '$vecCol'; pass dim explicitly")
    val scale = math.sqrt(12.0 / outDim)
    df.withColumn(vecCol, array((0 until outDim).map { j =>
      Vectors.fastDot(col(vecCol),
        array(Vectors.hyperplane(planeSeed + j, d).map(lit(_)): _*)) * lit(scale)
    }: _*))
  }

  /** Per-LSH-bucket REPRESENTATIVE selection — the member closest to its
    * bucket's centroid: the coarse routing layer a bucketed ANN index
    * exposes (route a query to buckets by representative similarity, the
    * cluster-labeling / SemDeDup-style "keep the central one" primitive).
    *
    * ## Exactness (why this one IS hash-checkable where q36's IVF is not)
    * Float centroids of distributed sums are order-dependent, which is
    * exactly why the IVF queries ship rows-only. Here every quantity is
    * an exact integer: members are int8-quantized codes (the q65
    * deterministic per-row quantizer), the centroid is the per-dimension
    * BIGINT sum S_d over the bucket, and the distance argmin compares
    * `n²·‖x − S/n‖² = Σ_d (n·x_d − S_d)²` — the n²-scaled distance, pure
    * BIGINT, no division anywhere. Ties break on the member id, so the
    * representative is a pure function of the bucket contents.
    *
    * ## Scale shape (100 TB)
    * Two partial-aggregable exchanges on the bucket key (per-dim sums as
    * `dim` map-side-combined columns — no explode, the data never rides a
    * (row × dim) blow-up; then the struct-min argmin), with the
    * #buckets-row sum table broadcast between them. Overflow bound:
    * `n²·(2·127)²·dim < 2⁶³` ⇒ safe below ~1.5e6 members per bucket at
    * dim 64 — add hyperplanes (buckets halve per plane) before any real
    * corpus approaches that.
    *
    * Output: `(bucket, rep_id, dist2, n)` — `dist2` the n²-scaled
    * squared distance of the winner. */
  def bucketRepresentatives(df: DataFrame, idCol: String, vecCol: String,
                            planes: Int, dim: Int, seed: Int = 0): DataFrame = {
    require(planes >= 1 && planes <= 24, s"planes must be in [1, 24], got $planes")
    require(dim >= 1, s"dim must be >= 1, got $dim")
    val base = df.select(col(idCol),
      Vectors.lshBucket(col(vecCol), planes, dim, seed).as("bucket"),
      transform(Vectors.quantizeInt8(col(vecCol)).getField("q"),
        _.cast("long")).as("_codes"))
    val sumCols = (0 until dim).map(i =>
      sum(element_at(col("_codes"), i + 1)).as(s"_s$i"))
    val sums = base.groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), sumCols: _*)
      .select(col("bucket"), col("n"),
        array((0 until dim).map(i => col(s"_s$i")): _*).as("_S"))
    base.join(broadcast(sums), Seq("bucket"))
      .withColumn("_d2", aggregate(
        zip_with(col("_codes"), col("_S"),
          (x, s) => (col("n") * x - s) * (col("n") * x - s)),
        lit(0L), (acc, v) => acc + v))
      .groupBy(col("bucket"))
      .agg(min(struct(col("_d2").as("d2"), col(idCol).as("rep"))).as("_m"),
        first(col("n")).as("n"))
      .select(col("bucket"), col("_m.rep").as("rep_id"),
        col("_m.d2").as("dist2"), col("n"))
  }

  /** EXACT k-means (Lloyd) over integer-quantized embeddings — the
    * deterministic trainer the float path ([[buildIvfIndex]]) cannot
    * gate: float centroid means are aggregation-order-dependent (why
    * q36/q67 stay rows-only), but quantizing vectors ONCE to micro
    * units (`⌊x·scale + 0.5⌋`, the [[graft.functions.Vectors
    * .quantizeInt8]] rounding) makes every round pure integer
    * arithmetic — squared L2 distances are exact BIGINTs, the argmin
    * tie-breaks to the smallest cluster id via lexicographic struct
    * min, and the centroid update is an exact floor-division mean
    * (pmod-subtract) — so the whole trajectory, not just one round,
    * hash-matches an oracle replaying the same `rounds` CTE chain (the
    * BPE generated-oracle scheme).
    *
    * ## Scale shape (100 TB)
    * Per round: cluster ASSIGNMENT is a narrow per-row projection
    * against plan-literal centroids (k·dim longs of plan metadata — the
    * [[buildIvfIndex]] doctrine: model in the plan, no shuffle, no
    * join) while k·dim ≤ [[planLiteralBudget]], and against ONE
    * broadcast centroid-array row above it (same integers, same
    * tie-break — the plan stays compile-bounded at k=4096·dim=768);
    * the UPDATE is ONE partial-aggregable
    * `groupBy(cluster, dim)` over the posexploded vectors (n·dim rows
    * in, k·dim out — map-side combine does the heavy lifting); the only
    * driver traffic is the k·dim centroid model per round. Seeds are
    * the k smallest ids (distributed TakeOrdered). Empty clusters keep
    * their previous centroid (both engines mirror the carry). Returns
    * k·dim rows `(cluster, dim, centroid_q, n_assigned)` — `dim`
    * 0-based, `n_assigned` the FINAL assignment counts (0 for empty
    * clusters). */
  def kmeansExact(corpus: DataFrame, idCol: String, vecCol: String,
                  k: Int, rounds: Int, quantScale: Long = 1000000L): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val (pts, cents) =
      trainKmeansQuantized(corpus, idCol, vecCol, k, rounds, quantScale)
    val sizes = withNearest(pts, cents, col("_q"), "_c")
      .groupBy(col("_c").as("cluster"))
      .agg(count(lit(1)).as("n_assigned"))
    cents.toSeq
      .flatMap { case (c, v) =>
        v.zipWithIndex.map { case (x, d) => (c.toLong, d.toLong, x) } }
      .toDF("cluster", "dim", "centroid_q")
      .join(broadcast(sizes), Seq("cluster"), "left")
      .na.fill(0L, Seq("n_assigned"))
      .orderBy(col("cluster"), col("dim"))
  }

  /** Plan-size budget for the model-in-the-plan centroid encoding: the
    * literal path builds k distance branches of dim literals each, so
    * the expression tree carries k·dim literal nodes — ideal (whole-
    * stage codegen, zero joins) at the gate's k=8·dim=16, but at
    * k=4096·dim=768 the ~3M-node tree blows Catalyst plan-compile time
    * and janino's 64KB method budget long before data is the problem.
    * Above this budget every site switches to [[centsTable]]: the same
    * integer arithmetic over ONE broadcast row holding the sorted
    * centroid array (model in DATA, not in the plan) — interpreted HOFs
    * per row, still zero shuffles. 65,536 covers k=64·dim=1024 or
    * k=512·dim=128 comfortably inside codegen limits.
    * Test-only override (parity spec forces the fallback at tiny k·dim
    * via [[withPlanLiteralBudget]] — scoped, always restored). */
  @volatile private[graft] var planLiteralBudget: Long = 65536L

  /** Scoped test override for [[planLiteralBudget]] — sets the budget,
    * runs `f`, restores in a finally (crash-safe). The var is @volatile
    * but overrides assume the single-threaded ScalaTest default; do not
    * run budget-override specs under parallel execution. */
  private[graft] def withPlanLiteralBudget[T](b: Long)(f: => T): T = {
    val saved = planLiteralBudget
    planLiteralBudget = b
    try f finally planLiteralBudget = saved
  }

  /** Exact squared-L2 distance structs `(dist, c)` against plan-literal
    * centroids, sorted by cluster id; `array_min` of these breaks
    * distance ties to the SMALLEST cluster id. */
  private def distStructsLiteral(cents: Array[(Int, Array[Long])],
                                 q: Column): Column =
    array(cents.sortBy(_._1).toSeq.map { case (c, v) =>
      struct(
        aggregate(zip_with(q, array(v.map(lit(_)).toSeq: _*),
          (a, b) => (a - b) * (a - b)), lit(0L), (acc, x) => acc + x)
          .as("dist"),
        lit(c.toLong).as("c"))
    }: _*)

  /** One-row broadcast frame holding the centroid model as a sorted
    * `array<struct<c, v>>` — the above-budget encoding. */
  private def centsTable(df: DataFrame,
                         cents: Array[(Int, Array[Long])]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val one = Seq(cents.sortBy(_._1).toSeq
      .map { case (c, v) => (c.toLong, v.toSeq) })
      .toDF("_cents")
    df.crossJoin(broadcast(one)) // model row: may pass the size threshold by design
  }

  /** [[distStructsLiteral]] computed from the attached `_cents` column
    * instead of plan literals — identical integers, identical struct
    * order, so ties break identically. */
  private def distStructsData(q: Column): Column =
    transform(col("_cents"), s => struct(
      aggregate(zip_with(q, s.getField("_2"),
        (a, b) => (a - b) * (a - b)), lit(0L), (acc, x) => acc + x)
        .as("dist"),
      s.getField("_1").as("c")))

  private def overBudget(cents: Array[(Int, Array[Long])]): Boolean =
    cents.length.toLong * cents.headOption.fold(0)(_._2.length) >
      planLiteralBudget

  /** Attach the argmin cluster id as `out`, picking the encoding by
    * [[planLiteralBudget]]. */
  private def withNearest(df: DataFrame, cents: Array[(Int, Array[Long])],
                          q: Column, out: String): DataFrame =
    if (!overBudget(cents))
      df.withColumn(out, array_min(distStructsLiteral(cents, q)).getField("c"))
    else
      centsTable(df, cents)
        .withColumn(out, array_min(distStructsData(q)).getField("c"))
        .drop("_cents")

  /** Attach the distance-sorted struct array as `out` (quality top-2,
    * IVF probe list), picking the encoding by [[planLiteralBudget]]. */
  private def withSortedDists(df: DataFrame, cents: Array[(Int, Array[Long])],
                              q: Column, out: String): DataFrame =
    if (!overBudget(cents))
      df.withColumn(out, array_sort(distStructsLiteral(cents, q)))
    else
      centsTable(df, cents)
        .withColumn(out, array_sort(distStructsData(q)))
        .drop("_cents")

  /** Micro-quantized points + the trained centroid model ([[kmeansExact]]
    * semantics); shared by the table emitter and [[ivfExactTopK]]. */
  private def trainKmeansQuantized(corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, rounds: Int, quantScale: Long)
      : (DataFrame, Array[(Int, Array[Long])]) = {
    require(quantScale >= 1L, s"quantScale must be >= 1, got $quantScale")
    // quantize ONCE; every round re-reads this frame — cut the lineage
    val pts = quantized(corpus, idCol, vecCol, quantScale).localCheckpoint()
    (pts, trainLloyd(pts, col("_q"), k, rounds))
  }

  /** The Lloyd loop over an already-quantized `(_id, q)` frame —
    * [[kmeansExact]] semantics (k smallest-id seeds, argmin ties to the
    * smaller cluster, floor-division means, empty-cluster carry); shared
    * by the full-vector trainers and the per-subspace PQ codebooks. */
  /** Run the `m` INDEPENDENT per-subspace codebook trainings
    * concurrently from a small driver thread pool (guide §2.6 "overlap
    * independent jobs"): each training is a chain of tiny model-sized
    * collect jobs, so run sequentially the cluster idles between them —
    * measured r13 (sf0.1, local[32]): the PQ lifecycles spent more wall
    * in inter-job gaps than in the jobs (q236: 48 jobs, 2.9 s of job
    * time inside 5.5 s wall). 4 in flight is plenty (the guide's 2-3
    * rule: enough to fill the tail, not enough to fight for executors);
    * results are deterministic per subspace regardless of completion
    * order. */
  private def trainBooksConcurrent(m: Int)(f: Int => Array[(Int, Array[Long])])
      : IndexedSeq[Array[(Int, Array[Long])]] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.min(m, 4))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Await.result(Future.sequence((0 until m).toVector.map(j => Future(f(j)))),
      Duration.Inf)
    finally pool.shutdown()
  }

  private def trainLloyd(pts: DataFrame, q: Column, k: Int, rounds: Int)
      : Array[(Int, Array[Long])] = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    var cents: Array[(Int, Array[Long])] = pts.select(col("_id"), q.as("_tq"))
      .orderBy(col("_id")).limit(k)
      .collect().zipWithIndex
      .map { case (r, i) => (i + 1, r.getSeq[Long](1).toArray) }
    for (_ <- 1 to rounds) {
      val upd = withNearest(pts.select(col("_id"), q.as("_tq")), cents,
          col("_tq"), "_c")
        .select(col("_c"), posexplode(col("_tq")).as(Seq("_d", "_x")))
        .groupBy(col("_c"), col("_d"))
        .agg(sum(col("_x")).as("_s"), count(lit(1)).as("_n"))
        .select(col("_c"), col("_d"),
          expr("(_s - pmod(_s, _n)) DIV _n").as("_v"))
        .collect() // k·dim model rows
      val byC = upd.groupBy(_.getLong(0).toInt)
      cents = cents.map { case (c, old) =>
        byC.get(c).fold((c, old)) { rows =>
          val arr = old.clone()
          rows.foreach(r => arr(r.getInt(1)) = r.getLong(2))
          (c, arr)
        }
      }
    }
    cents
  }

  /** K-MEANS QUALITY — the "is k right / did training converge" readout
    * over [[kmeansExact]]'s integer trajectory: per cluster the exact
    * INERTIA (Σ squared L2 to the own centroid — the elbow-curve
    * number) and the SIMPLIFIED SILHOUETTE (Hruschka et al.: distance
    * to own centroid vs nearest OTHER centroid — the O(n·k) form of the
    * O(n²) classic, the only silhouette that exists at corpus scale).
    *
    * ## Determinism / exactness
    * Squared distances are exact BIGINTs; inertia sums ride
    * DECIMAL(38). Each row's silhouette `(b−a)/max(a,b)` takes two
    * exactly-rounded IEEE sqrts of exact integers and one division —
    * quantized to micro at the site (rows WITH a zero max, i.e. sitting
    * on two centroids at once, pin to 0), summed exactly per cluster;
    * the mean is the single trailing division. The own/other split
    * reuses the argmin's (dist, cluster) struct order, so ties break
    * identically to assignment.
    *
    * ## Scale shape (100 TB)
    * One narrow projection against the k·dim plan-literal centroids
    * (both distances fall out of ONE sorted struct array), one
    * partial-aggregable groupBy(cluster). Returns one row per NON-EMPTY
    * cluster `(cluster, n_assigned, inertia, s_sum_micro,
    * silhouette_mean)`; requires k ≥ 2 (no "other" centroid exists
    * otherwise). */
  def kmeansQuality(corpus: DataFrame, idCol: String, vecCol: String,
                    k: Int, rounds: Int,
                    quantScale: Long = 1000000L): DataFrame = {
    require(k >= 2, s"silhouette needs k >= 2, got $k")
    val (pts, cents) =
      trainKmeansQuantized(corpus, idCol, vecCol, k, rounds, quantScale)
    val a = sqrt(col("_s").getItem(0).getField("dist").cast("double"))
    val b = sqrt(col("_s").getItem(1).getField("dist").cast("double"))
    withSortedDists(pts, cents, col("_q"), "_s")
      .select(col("_s").getItem(0).getField("c").as("cluster"),
        col("_s").getItem(0).getField("dist").as("_d1"),
        when(greatest(a, b) > 0.0,
          round((b - a) / greatest(a, b) * lit(1e6)).cast("long"))
          .otherwise(lit(0L)).as("_sm"))
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_assigned"),
        sum(col("_d1").cast("decimal(38,0)")).as("_inertia"),
        sum(col("_sm")).as("s_sum_micro"))
      .select(col("cluster"), col("n_assigned"),
        col("_inertia").cast("double").as("inertia"),
        col("s_sum_micro"),
        (col("s_sum_micro").cast("double") / lit(1e6) /
          col("n_assigned").cast("double")).as("silhouette_mean"))
      .orderBy(col("cluster"))
  }

  /** SEMDEDUP — semantic deduplication by clustered embedding
    * similarity (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    * at web-scale through semantic deduplication"): k-means the corpus,
    * compare embeddings PAIRWISE only WITHIN each cluster, and for
    * every pair above the cosine threshold drop the member CLOSER to
    * the cluster centroid (the paper keeps the lowest-centroid-
    * similarity example — the least redundant one). The clustering is
    * what makes semantic dedup exist at corpus scale: candidate pairs
    * are n²/k per cluster, never the all-pairs n².
    *
    * ## Determinism / exactness
    * Training is [[kmeansExact]]'s integer Lloyd trajectory; the own-
    * centroid distance is an exact BIGINT; pair cosines are ONE IEEE
    * chain over exact integer dot/norms of the quantized vectors
    * (`dot/(√na·√nb)` — the q21/q33 chain), so the threshold cut and
    * the victim rule (smaller distance loses; distance ties drop the
    * LARGER id) are exactly reproducible and the survivor set
    * hash-gates.
    *
    * ## Scale shape (100 TB)
    * Training per [[kmeansExact]]. Assignment + own distance fall out
    * of ONE sorted-struct projection (model in the plan under
    * [[planLiteralBudget]]). The pair join is an equi-join ON THE
    * CLUSTER ID of the assigned frame against itself (localCheckpointed
    * once — both sides read the same materialization), with `id_a <
    * id_b` pruning half the frame; per-cluster fan-out is bounded by
    * choosing k ∝ n/⟨cluster size⟩ (the paper's regime). The victim set
    * collapses by DISTINCT id; survivors are ONE anti-join. Returns
    * survivors `(idCol, cluster, dist2)`, id-ascending. */
  def semDedup(corpus: DataFrame, idCol: String, vecCol: String,
               k: Int, rounds: Int, threshold: Double,
               quantScale: Long = 1000000L): DataFrame = {
    require(k >= 1 && rounds >= 1, s"bad k=$k rounds=$rounds")
    val (pts, cents) =
      trainKmeansQuantized(corpus, idCol, vecCol, k, rounds, quantScale)
    val assigned = withSortedDists(pts, cents, col("_q"), "_s")
      .select(col("_id"), col("_q"),
        col("_s").getItem(0).getField("c").as("_c"),
        col("_s").getItem(0).getField("dist").as("_d2"),
        aggregate(zip_with(col("_q"), col("_q"), (a, b) => a * b), lit(0L),
          (acc, x) => acc + x).as("_n2"))
      .localCheckpoint() // fans into both sides of the within-cluster join
    semDedupTail(assigned, idCol, threshold)
  }

  /** The pair decision shared by EVERY semantic-dedup tail
    * ([[semDedupTail]] and [[semDedupBlocked]]) — one definition so the
    * blocked path's spec'd subset law (identical victim decisions on
    * shared pairs) is structural, not a copy that can drift. Expects a
    * pair frame carrying `_qa/_qb` (quantized vectors), `_na/_nb`
    * (integer squared norms), `_da/_db` (own-centroid distances),
    * `_ida/_idb` (ids, a < b). */
  private val pairDot: Column =
    aggregate(zip_with(col("_qa"), col("_qb"), (a, b) => a * b), lit(0L),
      (acc, x) => acc + x)
  private def pairQualifies(threshold: Double): Column =
    col("_na") > 0L && col("_nb") > 0L &&
      col("_dot").cast("double") /
        (sqrt(col("_na").cast("double")) * sqrt(col("_nb").cast("double"))) >=
        lit(threshold)
  /** SemDeDup keep-the-farthest policy: the member CLOSER to its own
    * centroid drops; ties drop the larger id. */
  private val pairVictim: Column =
    when(col("_da") < col("_db"), col("_ida"))
      .when(col("_db") < col("_da"), col("_idb"))
      .otherwise(greatest(col("_ida"), col("_idb"))).as("_victim")

  /** The within-cluster pair/victim/anti-join tail shared by [[semDedup]]
    * and [[semDedupCoarseFine]] — expects an already-localCheckpointed
    * `(_id, _q, _c, _d2, _n2)` assignment frame. */
  private def semDedupTail(assigned: DataFrame, idCol: String,
                           threshold: Double): DataFrame = {
    val l = assigned.select(col("_c"), col("_id").as("_ida"),
      col("_q").as("_qa"), col("_d2").as("_da"), col("_n2").as("_na"))
    val r = assigned.select(col("_c"), col("_id").as("_idb"),
      col("_q").as("_qb"), col("_d2").as("_db"), col("_n2").as("_nb"))
    val victims = l.join(r, Seq("_c"))
      .where(col("_ida") < col("_idb"))
      .withColumn("_dot", pairDot)
      .where(pairQualifies(threshold))
      .select(pairVictim)
      .distinct()
    assigned
      .join(victims, assigned("_id") === victims("_victim"), "left_anti")
      .select(col("_id").as(idCol), col("_c").as("cluster"),
        col("_d2").as("dist2"))
      .orderBy(col(idCol))
  }

  /** [[semDedup]] in the paper's SCALE regime made first-class: k is
    * derived from a TARGET CLUSTER SIZE (k = ⌈n / target⌉), so the
    * within-cluster candidate pairs stay ≈ n·target/2 — LINEAR in the
    * corpus, where a fixed k (the q249 gate's oracle-tractable config)
    * grows them n²/k (the measured 11× at the 10× smoke). The count
    * probe is one exact count (a model-sized driver value — the
    * trainLloyd contract). Honest cost note: with k ∝ n the Lloyd
    * ASSIGNMENT term becomes n·k = n²/target per round — that term is
    * killed by [[semDedupCoarseFine]] (coarse→fine routing, n·2√k per
    * round), the scale path; at extreme scale LSH pre-blocking (the
    * q106 shape) composes on top. This flat form stays as the
    * oracle-tractable twin (its trajectory is q249's generated-CTE
    * scheme). */
  def semDedupAutoK(corpus: DataFrame, idCol: String, vecCol: String,
                    targetClusterSize: Int, rounds: Int, threshold: Double,
                    quantScale: Long = 1000000L): DataFrame = {
    require(targetClusterSize >= 2,
      s"targetClusterSize must be >= 2, got $targetClusterSize")
    val n = corpus.count()
    val k = math.max(1L,
      (n + targetClusterSize - 1) / targetClusterSize).toInt
    semDedup(corpus, idCol, vecCol, k = k, rounds = rounds,
      threshold = threshold, quantScale = quantScale)
  }

  // =====================================================================
  // Coarse→fine hierarchical assignment — killing the n·k Lloyd term
  // that [[semDedupAutoK]]'s k ∝ n regime leaves super-linear.
  // =====================================================================

  /** Group the k FINE centroids into `kc` coarse super-clusters with a
    * driver-side integer Lloyd over the centroid vectors themselves —
    * model-sized work (k·kc·dim per round) with EXACTLY the engine
    * trainer's deterministic rules: seeds = the kc smallest fine ids'
    * vectors, argmin ties to the smaller coarse id, floor-division
    * means (≡ the `(_s - pmod(_s,_n)) DIV _n` SQL), empty-group carry.
    * Returns non-empty groups `(coarseId, coarseVec, members)`,
    * members sorted by fine id. */
  private[graft] def coarseGroupCentroids(cents: Array[(Int, Array[Long])],
      kc: Int, rounds: Int): Array[(Int, Array[Long], Array[(Int, Array[Long])])] = {
    require(kc >= 1 && rounds >= 1, s"bad kc=$kc rounds=$rounds")
    val sorted = cents.sortBy(_._1)
    val dim = sorted.head._2.length
    var coarse: Array[(Int, Array[Long])] =
      sorted.take(kc).zipWithIndex.map { case ((_, v), i) => (i + 1, v.clone()) }
    def assign(): Array[Int] = sorted.map { case (_, v) =>
      coarse.map { case (g, w) =>
        var d = 0L; var i = 0
        while (i < dim) { val t = v(i) - w(i); d += t * t; i += 1 }
        (d, g)
      }.min._2 // (dist, g) tuple order: ties to the smaller coarse id
    }
    for (_ <- 1 to rounds) {
      val a = assign()
      coarse = coarse.map { case (g, old) =>
        val members = sorted.indices.filter(i => a(i) == g)
        if (members.isEmpty) (g, old) // empty-group carry
        else {
          val arr = new Array[Long](dim)
          var d = 0
          while (d < dim) {
            var s = 0L
            members.foreach(i => s += sorted(i)._2(d))
            arr(d) = Math.floorDiv(s, members.size.toLong)
            d += 1
          }
          (g, arr)
        }
      }
    }
    val fin = assign()
    coarse.map { case (g, w) =>
      (g, w, sorted.indices.collect { case i if fin(i) == g => sorted(i) }.toArray)
    }.filter(_._3.nonEmpty)
  }

  /** COARSE→FINE assignment: argmin over the `kc` coarse centroids
    * first (ties to the smaller coarse id), then argmin over ONLY that
    * group's fine members (ties to the smaller fine id) — per-row work
    * dim·(kc + |group|) ≈ 2√k·dim instead of flat k·dim. The model
    * rides ONE broadcast row (`array<struct<g, vec, members>>` — the
    * [[centsTable]] model-in-DATA encoding), so there is still no
    * shuffle and no join. Attaches the chosen fine cluster as `outC`
    * and its exact squared L2 as `outD`. Approximate BY CONSTRUCTION:
    * a point whose true nearest fine centroid lives outside its nearest
    * coarse group refines to the best IN-GROUP centroid — but every
    * emitted value is a deterministic integer function of the model, so
    * results stay exactly reproducible. */
  private[graft] def withNearestCoarseFine(df: DataFrame,
      groups: Array[(Int, Array[Long], Array[(Int, Array[Long])])],
      q: Column, outC: String, outD: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val hier: Seq[(Long, Seq[Long], Seq[(Long, Seq[Long])])] =
      groups.sortBy(_._1).toSeq.map { case (g, w, ms) =>
        (g.toLong, w.toSeq,
          ms.sortBy(_._1).toSeq.map { case (c, v) => (c.toLong, v.toSeq) })
      }
    val one = Seq(Tuple1(hier)).toDF("_h")
    def d2(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0L),
        (acc, x) => acc + x)
    // Generate barriers around _g and _f (the Enrich tokenize-once
    // lesson): CollapseProject would otherwise INLINE the coarse argmin
    // into the group-filter lambda — re-evaluating the kc·dim distance
    // scan once per filter element (kc²·dim per row) — and _f's struct
    // into each of its two field reads; explode(array(·)) pins each to
    // one evaluation (measured 8.7× on the q268 gate shape at sf1:
    // 74.1 → 8.5 s solo, the 10× ratio falling 7.0× → 2.7×)
    df.crossJoin(broadcast(one)) // model row: may pass the size threshold by design
      .withColumn("_g", explode(array(array_min(transform(col("_h"), s =>
          struct(d2(q, s.getField("_2")).as("dist"), s.getField("_1").as("g"))))
        .getField("g"))))
      .withColumn("_f", explode(array(array_min(transform(
          element_at(filter(col("_h"), s => s.getField("_1") === col("_g")), 1)
            .getField("_3"),
          m => struct(d2(q, m.getField("_2")).as("dist"),
            m.getField("_1").as("c")))))))
      .withColumn(outC, col("_f").getField("c"))
      .withColumn(outD, col("_f").getField("dist"))
      .drop("_h", "_g", "_f")
  }

  /** [[trainLloyd]] with every round's ASSIGNMENT routed coarse→fine:
    * the current k centroids are re-grouped into kc super-clusters on
    * the driver each round (model-sized), and points pay
    * dim·(kc + k/kc) per row instead of dim·k. Seeds, update means,
    * and empty-cluster carry are bit-identical to the flat trainer, so
    * on inputs where the coarse routing never misroutes (well-separated
    * structure, or kc covering every confusable pair) the whole
    * trajectory — and everything downstream — is bitwise the flat
    * trajectory (spec-pinned). */
  private def trainLloydCoarseFine(pts: DataFrame, q: Column, k: Int,
      rounds: Int, kc: Int, coarseRounds: Int): Array[(Int, Array[Long])] = {
    require(k >= 1 && rounds >= 1, s"bad k=$k rounds=$rounds")
    var cents: Array[(Int, Array[Long])] = pts.select(col("_id"), q.as("_tq"))
      .orderBy(col("_id")).limit(k)
      .collect().zipWithIndex
      .map { case (r, i) => (i + 1, r.getSeq[Long](1).toArray) }
    for (_ <- 1 to rounds) {
      val groups = coarseGroupCentroids(cents, kc, coarseRounds)
      val upd = withNearestCoarseFine(pts.select(col("_id"), q.as("_tq")),
          groups, col("_tq"), "_c", "_dd")
        .select(col("_c"), posexplode(col("_tq")).as(Seq("_d", "_x")))
        .groupBy(col("_c"), col("_d"))
        .agg(sum(col("_x")).as("_s"), count(lit(1)).as("_n"))
        .select(col("_c"), col("_d"),
          expr("(_s - pmod(_s, _n)) DIV _n").as("_v"))
        .collect() // k·dim model rows
      val byC = upd.groupBy(_.getLong(0).toInt)
      cents = cents.map { case (c, old) =>
        byC.get(c).fold((c, old)) { rows =>
          val arr = old.clone()
          rows.foreach(r => arr(r.getInt(1)) = r.getLong(2))
          (c, arr)
        }
      }
    }
    cents
  }

  /** [[semDedupAutoK]]'s k ∝ n regime with the Lloyd assignment term
    * made sub-quadratic — the coarse→fine hierarchical path the flat
    * autoK scaladoc names: k = ⌈n/target⌉ fine clusters as before, but
    * every assignment (each training round AND the final one) routes
    * through kc = ⌈√k⌉ coarse super-clusters, so per-round work is
    * n·dim·2√k instead of n·dim·k ( = n²·dim/target flat). With k ∝ n
    * that turns the one super-linear term in the semantic-dedup path
    * into n^1.5/√target — and the within-cluster pair join stays
    * ≈ n·target/2 as in the flat regime.
    *
    * ## Determinism / exactness
    * Same integer quantization, same exact BIGINT distances, the same
    * deterministic tie-breaks at BOTH levels, and a driver-side coarse
    * Lloyd with the engine trainer's exact rules — the full trajectory
    * is a deterministic function of the input multiset and reruns
    * bitwise-equal (spec'd). Relative to FLAT autoK the clustering is
    * approximate by construction (a misrouted point refines within the
    * wrong group); on separated structure the two are bitwise EQUAL
    * (spec'd on a planted fixture), and semantic dedup only needs A
    * deterministic clustering to bound its pair comparisons — the
    * paper's own k is a heuristic. No DuckDB oracle: the driver-side
    * coarse Lloyd over intermediate centroids sits outside the
    * generated-CTE scheme that hash-gates q249/q218, so the gate query
    * (q268) records the rows-only check, with parity carried by the
    * fixture/determinism specs instead. A pipeline wanting flat-level
    * victim recall at this speed composes LSH pre-blocking on top —
    * [[semDedupBlocked]] (q272), shipped round 13.
    *
    * ## Scale shape (100 TB)
    * Per round: ONE narrow projection against a one-row broadcast model
    * (kc·dim + group·dim per row), ONE partial-aggregable
    * groupBy(cluster, dim) update, k·dim driver rows. Final assignment
    * same shape; pair join and victim/anti-join tail identical to
    * [[semDedup]] (cluster-keyed equi-join, never all-pairs). */
  def semDedupCoarseFine(corpus: DataFrame, idCol: String, vecCol: String,
                         targetClusterSize: Int, rounds: Int,
                         threshold: Double, quantScale: Long = 1000000L,
                         coarseRounds: Int = 2): DataFrame = {
    require(targetClusterSize >= 2,
      s"targetClusterSize must be >= 2, got $targetClusterSize")
    val n = corpus.count()
    // empty corpus: no seeds to train on — mirror the flat path's empty
    // survivor frame instead of letting coarseGroupCentroids dereference
    // an empty centroid array (same long-typed columns as the real tail)
    if (n == 0L)
      return corpus.select(col(idCol).cast("long").as(idCol),
        lit(0L).as("cluster"), lit(0L).as("dist2")).limit(0)
    val k = math.max(1L,
      (n + targetClusterSize - 1) / targetClusterSize).toInt
    val kc = math.max(1, math.ceil(math.sqrt(k.toDouble)).toInt)
    val pts = quantized(corpus, idCol, vecCol, quantScale).localCheckpoint()
    val cents = trainLloydCoarseFine(pts, col("_q"), k, rounds, kc, coarseRounds)
    val groups = coarseGroupCentroids(cents, kc, coarseRounds)
    val assigned = withNearestCoarseFine(pts, groups, col("_q"), "_c", "_d2")
      .select(col("_id"), col("_q"), col("_c"), col("_d2"),
        aggregate(zip_with(col("_q"), col("_q"), (a, b) => a * b), lit(0L),
          (acc, x) => acc + x).as("_n2"))
      .localCheckpoint() // fans into both sides of the within-cluster join
    semDedupTail(assigned, idCol, threshold)
  }

  /** [[semDedupCoarseFine]] composed with LSH PRE-BLOCKING (q106's
    * machinery) — the RECALL.md escape made first-class. The coarse→fine
    * route keeps ~10-22% of the flat regime's victims uncompared (a
    * misrouted point refines in the wrong fine cluster and never meets
    * its near-dup partner); here the candidate PAIR set is the union of
    * two deterministic blockings: pairs sharing a FINE CLUSTER (the
    * hierarchical route) and pairs sharing a random-hyperplane LSH
    * BUCKET (plan-time hyperplanes, the q106 block) — so a pair the
    * routing separates still meets in its bucket. The victim rule is
    * the same on both sources (the SemDeDup keep-the-farthest policy:
    * per qualifying pair the member CLOSER to its own assigned centroid
    * drops, tie → larger id), so adding the bucket pairs is MONOTONE —
    * it can only find more victims, never un-drop one, and recall vs
    * flat autoK strictly dominates the unblocked hierarchical path
    * (measured in RECALL.md; `planes` is the recall/cost knob — fewer
    * planes, bigger buckets, more pairs).
    *
    * ## Determinism
    * Everything is a deterministic function of the input multiset:
    * integer quantization, exact BIGINT distances, deterministic
    * tie-breaks, plan-time hyperplane buckets. Reruns are bitwise
    * equal. No DuckDB oracle for the same reason as
    * [[semDedupCoarseFine]] (the driver-side coarse Lloyd over
    * intermediate centroids sits outside the generated-CTE scheme) —
    * the gate records rows-only; parity rides the determinism/monotone
    * specs.
    *
    * ## Scale shape (100 TB)
    * Assignment is [[withNearestCoarseFine]]'s n·dim·2√k; the bucket
    * column is a narrow codegen'd projection (planes dot products, no
    * shuffle). Pair generation is TWO bounded equi-joins — cluster
    * pairs ≈ n·target/2, bucket pairs Σ|bucket|²/2 with 2^planes
    * buckets — unioned and DISTINCT'd on the id pair before any vector
    * work, so each candidate pair pays its dot product once. Victim
    * distinct + one anti-join, as in [[semDedup]]. Never all-pairs.
    * At FIXED planes the bucket-pair term is n²/2^planes (measured:
    * planes 6 costs 288 s at 100k vectors where planes 8 restores the
    * linear regime at the same ≥0.95 victim recall — RECALL.md round
    * 13), so `planes ≤ 0` selects the AUTO rule
    * planes = ⌈log₂(n/512)⌉ clamped to [1, 16]: expected bucket size
    * stays ≈ 256-512 (the measured sweet spot — recall 0.93-0.96
    * rising with scale) and the bucket pairs stay ≈ 256·n at ANY
    * corpus size — the scale default; a fixed planes remains the
    * recall/cost override (fewer planes, bigger buckets, more recall;
    * skewed buckets salt like q53). Auto planes is a deterministic
    * function of the corpus count, so reruns stay bitwise equal. */
  def semDedupBlocked(corpus: DataFrame, idCol: String, vecCol: String,
                      targetClusterSize: Int, rounds: Int, threshold: Double,
                      quantScale: Long = 1000000L, coarseRounds: Int = 2,
                      planes: Int = -1, dim: Int = -1): DataFrame = {
    require(targetClusterSize >= 2,
      s"targetClusterSize must be >= 2, got $targetClusterSize")
    val n = corpus.count()
    if (n == 0L) // the coarse-fine empty-corpus contract
      return corpus.select(col(idCol).cast("long").as(idCol),
        lit(0L).as("cluster"), lit(0L).as("dist2")).limit(0)
    val d = if (dim > 0) dim else Vectors.dims(corpus, vecCol)
    require(d > 0, s"cannot infer embedding dimensionality of '$vecCol'; pass dim explicitly")
    val k = math.max(1L,
      (n + targetClusterSize - 1) / targetClusterSize).toInt
    val kc = math.max(1, math.ceil(math.sqrt(k.toDouble)).toInt)
    val p = if (planes > 0) planes
      else math.max(1, math.min(16,
        math.ceil(math.log(n.toDouble / 512.0) / math.log(2.0)).toInt))
    val buckets = corpus.select(col(idCol).cast("long").as("_id"),
      Vectors.lshBucket(col(vecCol), p, d).as("_bk"))
    val pts = quantized(corpus, idCol, vecCol, quantScale).localCheckpoint()
    val cents = trainLloydCoarseFine(pts, col("_q"), k, rounds, kc, coarseRounds)
    val groups = coarseGroupCentroids(cents, kc, coarseRounds)
    val assigned = withNearestCoarseFine(pts, groups, col("_q"), "_c", "_d2")
      .join(buckets, Seq("_id"))
      .select(col("_id"), col("_q"), col("_c"), col("_d2"), col("_bk"),
        aggregate(zip_with(col("_q"), col("_q"), (a, b) => a * b), lit(0L),
          (acc, x) => acc + x).as("_n2"))
      .localCheckpoint() // fans into both blockings and the victim anti-join
    def pairsOn(key: String): DataFrame =
      assigned.select(col(key), col("_id").as("_ida"))
        .join(assigned.select(col(key), col("_id").as("_idb")), Seq(key))
        .where(col("_ida") < col("_idb"))
        .select(col("_ida"), col("_idb"))
    val cand = pairsOn("_c").unionByName(pairsOn("_bk")).distinct()
    val a = assigned.select(col("_id").as("_ida"), col("_q").as("_qa"),
      col("_d2").as("_da"), col("_n2").as("_na"))
    val b = assigned.select(col("_id").as("_idb"), col("_q").as("_qb"),
      col("_d2").as("_db"), col("_n2").as("_nb"))
    val victims = cand.join(a, Seq("_ida")).join(b, Seq("_idb"))
      .withColumn("_dot", pairDot)
      .where(pairQualifies(threshold))
      .select(pairVictim)
      .distinct()
    assigned
      .join(victims, assigned("_id") === victims("_victim"), "left_anti")
      .select(col("_id").as(idCol), col("_c").as("cluster"),
        col("_d2").as("dist2"))
      .orderBy(col(idCol))
  }

  /** IVF ANN with an EXACT gate, end to end — [[buildIvfIndex]]'s shape
    * (train centroids → bucket the corpus → probe a few buckets per
    * query → exact re-rank) rebuilt on [[kmeansExact]]'s integer
    * trajectory, so the ENTIRE index lifecycle is deterministic and
    * hash-matches: integer centroids, integer squared-L2 probe ranking
    * (ties to the smaller cluster), integer dot-product re-rank (ties to
    * the smaller neighbor id). Approximate BY CONSTRUCTION (a true
    * neighbor outside the probed buckets is missed — recall is the
    * q36/RECALL.md contract), yet every emitted row is exactly
    * reproducible — the property the float IVF path (q36/q67) cannot
    * offer.
    *
    * ## Scale shape (100 TB)
    * Training per [[kmeansExact]] (model-in-the-plan assignment,
    * partial-aggregable updates). The probe list is a narrow per-query
    * projection against the same plan-literal centroids (sorted struct
    * slice — k·probes plan metadata, no join). Candidate fetch is ONE
    * equi-join on the cluster id (corpus side would be bucketed by
    * cluster in a persisted index); the re-rank heap is a per-query
    * window over probed-bucket candidates (n·probes/k expected), never
    * the corpus. Returns `(query_id, rank, neighbor_id, dot_q)`. */
  def ivfExactTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
                   vecCol: String, k: Int, nCentroids: Int, rounds: Int,
                   probes: Int, quantScale: Long = 1000000L): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(probes >= 1 && probes <= nCentroids,
      s"probes must be in [1, nCentroids], got $probes")
    val (pts, cents) =
      trainKmeansQuantized(corpus, idCol, vecCol, nCentroids, rounds, quantScale)
    val indexed = withNearest(pts, cents, col("_q"), "_c")
      .select(col("_c"), col("_id").as("_nid"), col("_q").as("_nq"))
    val qpts = queries.select(col(idCol).cast("long").as("_qid"),
      expr(s"transform($vecCol, x -> CAST(floor(CAST(x AS DOUBLE) * $quantScale.0 + 0.5) AS BIGINT))")
        .as("_qq"))
    val probed = withSortedDists(qpts, cents, col("_qq"), "_sorted")
      .withColumn("_probe", slice(col("_sorted"), 1, probes))
      .select(col("_qid"), col("_qq"),
        explode(expr("transform(_probe, s -> s.c)")).as("_c"))
    val w = Window.partitionBy(col("_qid"))
      .orderBy(col("_dot").desc, col("_nid").asc)
    probed
      .join(indexed, Seq("_c"))
      .withColumn("_dot", aggregate(zip_with(col("_qq"), col("_nq"),
        (a, b) => a * b), lit(0L), (acc, x) => acc + x))
      .withColumn("_rank", row_number().over(w))
      .where(col("_rank") <= k)
      .select(col("_qid").as("query_id"), col("_rank").as("rank"),
        col("_nid").as("neighbor_id"), col("_dot").as("dot_q"))
  }

  // =====================================================================
  // Persisted exact-IVF index lifecycle — the production shape of
  // [[ivfExactTopK]]: the index is two TABLES on disk, not plan state.
  // Build once (train + assign), append new batches against the frozen
  // persisted centroids (a retrain is a rebuild — the standard IVF
  // contract), probe from the persisted tables only, with the probed
  // buckets partition-pruned at the postings scan.
  // =====================================================================

  /** Micro-quantized `(_id, _q)` points ([[kmeansExact]]'s rounding). */
  private def quantized(df: DataFrame, idCol: String, vecCol: String,
                        quantScale: Long): DataFrame =
    df.select(col(idCol).cast("long").as("_id"),
      expr(s"transform($vecCol, x -> CAST(floor(CAST(x AS DOUBLE) * $quantScale.0 + 0.5) AS BIGINT))")
        .as("_q"))

  /** Decode a persisted centroid table `(cluster, dim, centroid_q)` back
    * into the in-memory model — k·dim rows of driver traffic, the same
    * budget as one training round. */
  private def readCentroidModel(centroids: DataFrame): Array[(Int, Array[Long])] =
    centroids.select(col("cluster").cast("long"), col("dim").cast("long"),
        col("centroid_q").cast("long"))
      .collect()
      .groupBy(_.getLong(0).toInt).toArray.sortBy(_._1)
      .map { case (c, rows) =>
        val arr = new Array[Long](rows.length)
        rows.foreach(r => arr(r.getLong(1).toInt) = r.getLong(2))
        (c, arr)
      }

  /** BUILD: train [[kmeansExact]] centroids on `corpus` and assign every
    * corpus row. Returns `(centroids, postings)` — centroids `(cluster,
    * dim, centroid_q)` (k·dim rows, a plain table write), postings
    * `(cluster, id, vec_q)` meant for a PARTITIONED-BY-cluster write
    * ([[graft.sources.Tables.writePartitioned]]) so a probe reads only
    * its probed directories. At 100 TB the postings write is the one
    * corpus-sized shuffle the lifecycle ever pays; every later batch and
    * probe is batch-/query-sized. */
  def ivfIndexBuild(corpus: DataFrame, idCol: String, vecCol: String,
                    nCentroids: Int, rounds: Int,
                    quantScale: Long = 1000000L): (DataFrame, DataFrame) = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val (pts, cents) =
      trainKmeansQuantized(corpus, idCol, vecCol, nCentroids, rounds, quantScale)
    val centDf = cents.toSeq
      .flatMap { case (c, v) =>
        v.zipWithIndex.map { case (x, d) => (c.toLong, d.toLong, x) } }
      .toDF("cluster", "dim", "centroid_q")
    val postings = withNearest(pts, cents, col("_q"), "_c")
      .select(col("_c").as("cluster"), col("_id").as("id"), col("_q").as("vec_q"))
    (centDf, postings)
  }

  /** APPEND: assign a NEW batch against the PERSISTED centroid table
    * (frozen model — the IVF contract; drift is handled by rebuilding).
    * Returns posting rows to append under the same partitioned layout.
    * Batch-sized work only: the model is k·dim driver rows, the
    * assignment one narrow projection. */
  def ivfIndexAppend(batch: DataFrame, centroids: DataFrame, idCol: String,
                     vecCol: String, quantScale: Long = 1000000L): DataFrame = {
    val cents = readCentroidModel(centroids)
    withNearest(quantized(batch, idCol, vecCol, quantScale), cents,
        col("_q"), "_c")
      .select(col("_c").as("cluster"), col("_id").as("id"), col("_q").as("vec_q"))
  }

  /** PROBE: serve top-k entirely from the persisted tables. The probe
    * list per query comes from the centroid model (k·dim driver rows);
    * the DISTINCT probed cluster ids (≤ nCentroids values) become a
    * STATIC `isin` filter on the postings scan, so the partitioned
    * layout prunes to exactly the probed directories (ScaleSpec asserts
    * the PartitionFilters). Candidate fetch is one equi-join on the
    * cluster id; the re-rank heap is a per-query window over
    * probed-bucket candidates, never the corpus.
    * Returns `(query_id, rank, neighbor_id, dot_q)` — [[ivfExactTopK]]
    * semantics (integer dots, ties to the smaller neighbor id). */
  def ivfProbeTopK(queries: DataFrame, centroids: DataFrame,
                   postings: DataFrame, idCol: String, vecCol: String,
                   k: Int, probes: Int,
                   quantScale: Long = 1000000L): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val cents = readCentroidModel(centroids)
    require(probes >= 1 && probes <= cents.length,
      s"probes must be in [1, nCentroids], got $probes")
    val qpts = quantized(queries, idCol, vecCol, quantScale)
    val probed = withSortedDists(qpts, cents, col("_q"), "_sorted")
      .withColumn("_probe", slice(col("_sorted"), 1, probes))
      .select(col("_id").as("_qid"), col("_q").as("_qq"),
        explode(expr("transform(_probe, s -> s.c)")).as("cluster"))
      .localCheckpoint() // fans into the probed-id collect and the fetch
    val probedIds = probed.select(col("cluster")).distinct()
      .collect().map(_.getLong(0)) // <= nCentroids values: model-sized
    // |Q|·probes probe rows, each carrying a dim-long query vector —
    // broadcast the probe side iff its long count fits Broadcast.rowBudget
    // (the pruned postings scan then never shuffles); shuffle join above.
    val probeLongs = probed.count() * cents.headOption.fold(1)(_._2.length)
    val w = Window.partitionBy(col("_qid"))
      .orderBy(col("_dot").desc, col("id").asc)
    postings.where(col("cluster").isin(probedIds.toSeq: _*))
      .join(Broadcast.ifFits(probed, probeLongs), Seq("cluster"))
      .withColumn("_dot", aggregate(zip_with(col("_qq"), col("vec_q"),
        (a, b) => a * b), lit(0L), (acc, x) => acc + x))
      .withColumn("_rank", row_number().over(w))
      .where(col("_rank") <= k)
      .select(col("_qid").as("query_id"), col("_rank").as("rank"),
        col("id").as("neighbor_id"), col("_dot").as("dot_q"))
  }

  /** PRODUCT-QUANTIZATION top-k via asymmetric distance (Jégou et al.
    * 2011, the 100 TB ANN workhorse) with an EXACT gate: the vector
    * splits into `m` subspaces of dim/m dims, each subspace trains its
    * own [[kmeansExact]]-semantics codebook (ksub codewords) on the
    * integer-quantized subvectors, every corpus vector compresses to m
    * small codes, and a query scores a corpus vector as the SUM of m
    * table lookups `Σⱼ ‖q⁽ʲ⁾ − codeword(codeⱼ)‖²` — approximate BY
    * CONSTRUCTION (quantization error), yet every integer is exactly
    * reproducible, so the whole train→encode→ADC-scan→top-k lifecycle
    * hash-matches a generated per-subspace CTE-chain oracle (the q218
    * scheme, m chains side by side).
    *
    * ## Scale shape (100 TB)
    * Training: m Lloyd loops over sliced subvectors (model traffic
    * m·ksub·dsub longs per round). Encoding: ONE narrow projection
    * adding m argmin codes — at scale this is the compressed index a
    * pipeline persists (n·m small ints instead of n·dim floats, the
    * 32× memory win that makes billion-vector serving possible).
    * Query: the distance TABLE is |Q|·m·ksub rows (query-batch-sized,
    * broadcast iff it fits [[Broadcast.rowBudget]], shuffle-joined on the
    * same keys above it); the scan explodes codes to (id, j, code) — n·m narrow
    * rows — equi-joins the table and partial-aggregates the m-term sum
    * per (query, id); the re-rank heap is a per-query window. Corpus
    * vectors themselves never join — only their codes move. Returns
    * `(query_id, rank, neighbor_id, adc_q)`, distance ASCENDING, ties
    * to the smaller neighbor id. */
  def pqTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
             vecCol: String, k: Int, m: Int, ksub: Int, rounds: Int,
             quantScale: Long = 1000000L): DataFrame =
    pqAdcTopK(quantized(corpus, idCol, vecCol, quantScale).localCheckpoint(),
      quantized(queries, idCol, vecCol, quantScale), k, m, ksub, rounds)

  /** [[pqTopK]]'s post-quantization core over `(_id, _q)` frames (`pts`
    * caller-checkpointed — it fans into m trainings + the encoding);
    * shared with [[pqRotatedTopK]], whose frames arrive rotated. */
  private def pqAdcTopK(pts: DataFrame, qpts: DataFrame,
                        k: Int, m: Int, ksub: Int, rounds: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(m >= 1, s"m must be >= 1, got $m")
    val dim = pts.select(size(col("_q")).as("_d")).limit(1)
      .collect().headOption.map(_.getInt(0)).getOrElse(0)
    require(dim > 0 && dim % m == 0, s"dim $dim must be a positive multiple of m=$m")
    val dsub = dim / m
    def sub(q: Column, j: Int): Column = slice(q, j * dsub + 1, dsub)
    val books = trainBooksConcurrent(m)(j => trainLloyd(pts, sub(col("_q"), j), ksub, rounds))
    // encode: m argmin codes per corpus row, one narrow projection
    val enc = (0 until m).foldLeft(pts) { (df, j) =>
      withNearest(df, books(j), sub(col("_q"), j), s"_c$j")
    }
    val codes = enc.select(col("_id").as("_nid"),
      posexplode(array((0 until m).map(j => col(s"_c$j")): _*)).as(Seq("_j", "_code")))
    // per-query distance table: |Q|·m·ksub rows — broadcast iff it fits
    // Broadcast.rowBudget; codebook encoding picked by planLiteralBudget
    val nQ = qpts.count() // one query-batch-sized job, no materialization
    val dtab = adcDistTable(qpts.select(col("_id").as("_qid"), col("_q")),
        books, col("_q"), dsub)
      .select(col("_qid"), col("_j"), col("_code"), col("_d"))
    val w = Window.partitionBy(col("_qid"))
      .orderBy(col("_adc").asc, col("_nid").asc)
    codes
      .join(Broadcast.ifFits(dtab, nQ * m * ksub), Seq("_j", "_code"))
      .groupBy(col("_qid"), col("_nid"))
      .agg(sum(col("_d")).as("_adc"))
      .withColumn("_rank", row_number().over(w))
      .where(col("_rank") <= k)
      .select(col("_qid").as("query_id"), col("_rank").as("rank"),
        col("_nid").as("neighbor_id"), col("_adc").as("adc_q"))
  }

  /** Sylvester-order Hadamard rotation rows composed with a seeded ±1
    * sign diagonal: entry (i,j) = (−1)^popcount(i AND j) · D_j. H·D is
    * ORTHOGONAL up to the uniform factor d ((HD)ᵀ(HD) = d·I), entries
    * stay ±1, so rotating integer vectors stays exact-integer and every
    * squared L2 distance scales by exactly d — rank-preserving. Shared
    * by [[pqRotatedTopK]] and the oracle generator (same seed → same
    * matrix on both engines). */
  private[graft] def hadamardSigns(dim: Int, seed: Long): Array[Array[Long]] = {
    require(dim > 0 && (dim & (dim - 1)) == 0, s"dim $dim must be a power of 2")
    val rnd = new scala.util.Random(seed)
    val d = Array.fill(dim)(if (rnd.nextBoolean()) 1L else -1L)
    Array.tabulate(dim, dim)((i, j) =>
      (if (java.lang.Integer.bitCount(i & j) % 2 == 0) 1L else -1L) * d(j))
  }

  /** Rotate the `_q` vectors by the ±1 matrix `hd` — dim² plan literals
    * below [[planLiteralBudget]] (codegen), ONE broadcast
    * array-of-arrays row above it; identical integers either way. */
  private def rotated(df: DataFrame, hd: Array[Array[Long]]): DataFrame = {
    val dim = hd.length
    if (dim.toLong * dim <= planLiteralBudget)
      df.withColumn("_q", array(hd.map(row =>
        aggregate(zip_with(col("_q"), array(row.map(lit(_)).toSeq: _*),
          (a, b) => a * b), lit(0L), (acc, x) => acc + x)).toSeq: _*))
    else {
      val spark = df.sparkSession
      import spark.implicits._
      val one = Seq(hd.map(_.toSeq).toSeq).toDF("_hd")
      df.crossJoin(broadcast(one)) // model row: may pass the size threshold by design
        .withColumn("_q", transform(sequence(lit(1), lit(dim)), i =>
          aggregate(zip_with(col("_q"), element_at(col("_hd"), i),
            (a, b) => a * b), lit(0L), (acc, x) => acc + x)))
        .drop("_hd")
    }
  }

  /** HADAMARD-ROTATED PQ — the OPQ question ("rotate before you
    * quantize so the subspaces share the energy", Ge et al. CVPR 2013)
    * answered with the one rotation family that stays EXACT-INTEGER:
    * the randomized Hadamard transform y = H·D·x (FALCONN / FAISS's
    * structured random rotation). H is Sylvester-order (entries ±1,
    * HᵀH = d·I), D a seeded ±1 diagonal; y is integer whenever x is,
    * every squared distance scales by exactly d (rank-preserving), and
    * the PQ train→encode→ADC lifecycle runs on y with [[pqTopK]]'s
    * machinery verbatim — so the whole rotated pipeline hash-matches a
    * generated oracle whose rotation CTE spells out the same ±1 rows.
    * A learned OPQ rotation (floats, SVD iterations) cannot be gated
    * this way; Hadamard·D is the standard structured stand-in at scale
    * (one dense integer matmul per vector, dim² literal ops, the same
    * narrow-projection shape as assignment).
    *
    * ## Scale shape (100 TB)
    * The rotation is ONE narrow projection per frame (dim² plan-literal
    * multiplies below [[planLiteralBudget]], broadcast-matrix HOFs
    * above); everything downstream is [[pqTopK]] — same shuffles, same
    * budget-guarded ADC join. Requires dim a power of 2 (pad at ingest
    * otherwise) and dim % m == 0. */
  def pqRotatedTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
                    vecCol: String, k: Int, m: Int, ksub: Int, rounds: Int,
                    seed: Long = 42L, quantScale: Long = 1000000L): DataFrame = {
    val pts0 = quantized(corpus, idCol, vecCol, quantScale)
    val dim = pts0.select(size(col("_q")).as("_d")).limit(1)
      .collect().headOption.map(_.getInt(0)).getOrElse(0)
    require(dim > 0 && dim % m == 0, s"dim $dim must be a positive multiple of m=$m")
    val hd = hadamardSigns(dim, seed)
    pqAdcTopK(rotated(pts0, hd).localCheckpoint(),
      rotated(quantized(queries, idCol, vecCol, quantScale), hd),
      k, m, ksub, rounds)
  }

  /** IVF-PQ with RESIDUAL encoding — [[ivfExactTopK]]'s coarse routing
    * composed with [[pqTopK]]'s compression, the way a production
    * billion-vector index actually ships (FAISS IndexIVFPQ): a coarse
    * [[kmeansExact]] quantizer routes vectors to `nCoarse` buckets, the
    * PQ codebooks train on the RESIDUALS `x − centroid(x)` (residuals
    * concentrate near 0, so the same ksub codewords spend their
    * precision where the data is — the accuracy win over flat PQ), and
    * a query probes its `probes` nearest coarse buckets, building one
    * ADC table per probed bucket from ITS residual `q − centroidᵦ`.
    * Approximate by construction twice over (probe misses + quantization
    * error), every integer exactly reproducible — the whole
    * train→route→residual-encode→probe→ADC lifecycle hash-matches a
    * generated oracle (coarse chain + m residual-subspace chains).
    *
    * ## Scale shape (100 TB)
    * Coarse training/assignment per [[kmeansExact]]; residuals are one
    * narrow projection (centroid lookup is an `element_at` into
    * nCoarse·dim plan literals, budget-guarded). Encoding: m argmin
    * codes per row — the persisted index is (coarse bucket, m codes) per
    * vector. Query: distance tables are |Q|·probes·m·ksub rows
    * (broadcast iff under [[Broadcast.rowBudget]], shuffle-joined on the
    * same keys above it); the candidate join keys on (bucket, j, code), so only
    * probed-bucket codes move and the fan-out is bounded by the probe
    * list, never the corpus; the m-term ADC sum partial-aggregates.
    * Returns `(query_id, rank, neighbor_id, adc_q)` ascending, ties to
    * the smaller neighbor id. */
  /** Cluster → centroid lookup as one array-of-arrays literal
    * (cluster ids 1..n index it). */
  private def centArrLit(cents: Array[(Int, Array[Long])]): Column =
    array(cents.sortBy(_._1).map { case (_, v) =>
      array(v.map(lit(_)).toSeq: _*) }.toSeq: _*)

  /** Attach the residual `q − centroid(c)` as `out`, with the
    * cluster→centroid lookup encoded by [[planLiteralBudget]]: an
    * `element_at` into nCoarse·dim plan literals below it (codegen, zero
    * joins), the SAME lookup against ONE broadcast array-of-arrays row
    * above it (model in DATA — the [[centsTable]] doctrine; identical
    * integers either way). Cluster ids 1..n index the sorted array. */
  private def withResidualAt(df: DataFrame, cents: Array[(Int, Array[Long])],
                             q: Column, c: Column, out: String): DataFrame =
    if (!overBudget(cents))
      df.withColumn(out,
        zip_with(q, element_at(centArrLit(cents), c.cast("int")), (a, b) => a - b))
    else {
      val spark = df.sparkSession
      import spark.implicits._
      val one = Seq(cents.sortBy(_._1).map(_._2.toSeq).toSeq).toDF("_carr")
      df.crossJoin(broadcast(one)) // model row: may pass the size threshold by design
        .withColumn(out,
          zip_with(q, element_at(col("_carr"), c.cast("int")), (a, b) => a - b))
        .drop("_carr")
    }

  /** Per-query ADC distance rows: adds `_j` (int), `_code` (long), `_d`
    * (long — the exact squared subspace distance between `qr`'s j-th
    * subvector and codeword `_code`), one row per (src row, j, code).
    * Below [[planLiteralBudget]] (m·ksub·dsub literal nodes) the
    * codebooks live in the plan and one generator explodes the struct
    * array (whole-stage codegen); above it the codebooks become ONE
    * broadcast m·ksub-row table and the same arithmetic runs against its
    * array column — identical integers, plan size bounded by the model
    * table instead of literals. Output row count is identical either
    * way (the table IS src × m·ksub). */
  private def adcDistTable(src: DataFrame,
                           books: IndexedSeq[Array[(Int, Array[Long])]],
                           qr: Column, dsub: Int): DataFrame = {
    val m = books.length
    val ksub = books.head.length
    if (m.toLong * ksub * dsub <= planLiteralBudget) {
      val entries = for (j <- 0 until m; (c, v) <- books(j)) yield
        struct(lit(j).as("j"), lit(c.toLong).as("code"),
          aggregate(zip_with(slice(qr, j * dsub + 1, dsub),
            array(v.map(lit(_)).toSeq: _*),
            (a, b) => (a - b) * (a - b)), lit(0L), (acc, x) => acc + x).as("d"))
      src.withColumn("_e", explode(array(entries: _*)))
        .withColumn("_j", col("_e.j")).withColumn("_code", col("_e.code"))
        .withColumn("_d", col("_e.d")).drop("_e")
    } else {
      val spark = src.sparkSession
      import spark.implicits._
      val bookDf = books.zipWithIndex.flatMap { case (b, j) =>
        b.map { case (c, v) => (j, c.toLong, v.toSeq) } }
        .toDF("_j", "_code", "_bv")
      src.crossJoin(broadcast(bookDf)) // m·ksub model rows, past the threshold by design
        .withColumn("_d",
          aggregate(zip_with(slice(qr, col("_j") * dsub + 1, lit(dsub)),
            col("_bv"),
            (a, b) => (a - b) * (a - b)), lit(0L), (acc, x) => acc + x))
        .drop("_bv")
    }
  }

  /** Decode a persisted codebook table `(j, code, dim, v)` back into the
    * per-subspace models — m·ksub·dsub driver rows. */
  private def readCodebookModel(codebooks: DataFrame)
      : IndexedSeq[Array[(Int, Array[Long])]] = {
    val rows = codebooks.select(col("j").cast("int"), col("code").cast("int"),
      col("dim").cast("int"), col("v").cast("long")).collect()
    val m = rows.map(_.getInt(0)).max + 1
    (0 until m).map { j =>
      rows.filter(_.getInt(0) == j).groupBy(_.getInt(1)).toArray.sortBy(_._1)
        .map { case (c, rs) =>
          val arr = new Array[Long](rs.length)
          rs.foreach(r => arr(r.getInt(2)) = r.getLong(3))
          (c, arr)
        }
    }
  }

  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
                vecCol: String, k: Int, nCoarse: Int, probes: Int,
                m: Int, ksub: Int, rounds: Int,
                quantScale: Long = 1000000L): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(probes >= 1 && probes <= nCoarse,
      s"probes must be in [1, nCoarse], got $probes")
    val pts = quantized(corpus, idCol, vecCol, quantScale).localCheckpoint()
    val dim = pts.select(size(col("_q")).as("_d")).limit(1)
      .collect().headOption.map(_.getInt(0)).getOrElse(0)
    require(dim > 0 && dim % m == 0, s"dim $dim must be a positive multiple of m=$m")
    val dsub = dim / m
    val coarse = trainLloyd(pts, col("_q"), nCoarse, rounds)
    val assigned = withResidualAt(withNearest(pts, coarse, col("_q"), "_c"),
        coarse, col("_q"), col("_c"), "_r")
      .localCheckpoint() // feeds m codebook trainings AND the encoding
    def sub(q: Column, j: Int): Column = slice(q, j * dsub + 1, dsub)
    val books = trainBooksConcurrent(m)(j =>
      trainLloyd(assigned, sub(col("_r"), j), ksub, rounds))
    val enc = (0 until m).foldLeft(assigned) { (df, j) =>
      withNearest(df, books(j), sub(col("_r"), j), s"_p$j")
    }
    val codes = enc.select(col("_id").as("_nid"), col("_c"),
      posexplode(array((0 until m).map(j => col(s"_p$j")): _*)).as(Seq("_j", "_code")))
    // probe list + per-probed-bucket query residuals
    val qpts = quantized(queries, idCol, vecCol, quantScale)
    val nQ = qpts.count() // one query-batch-sized job, no materialization
    val probed = withResidualAt(
        withSortedDists(qpts, coarse, col("_q"), "_sorted")
          .select(col("_id").as("_qid"), col("_q"),
            explode(expr(s"transform(slice(_sorted, 1, $probes), s -> s.c)")).as("_c")),
        coarse, col("_q"), col("_c"), "_qr")
    val dtab = adcDistTable(probed.select(col("_qid"), col("_c"), col("_qr")),
        books, col("_qr"), dsub)
      .select(col("_qid"), col("_c"), col("_j"), col("_code"), col("_d"))
    val w = Window.partitionBy(col("_qid"))
      .orderBy(col("_adc").asc, col("_nid").asc)
    codes // dtab bound: |Q|·probes·m·ksub rows exactly
      .join(Broadcast.ifFits(dtab, nQ * probes * m * ksub), Seq("_c", "_j", "_code"))
      .groupBy(col("_qid"), col("_nid"))
      .agg(sum(col("_d")).as("_adc"))
      .withColumn("_rank", row_number().over(w))
      .where(col("_rank") <= k)
      .select(col("_qid").as("query_id"), col("_rank").as("rank"),
        col("_nid").as("neighbor_id"), col("_adc").as("adc_q"))
  }

  // =====================================================================
  // Persisted ROTATED-PQ index lifecycle — [[pqRotatedTopK]]'s rotation
  // composed with the on-disk story: a codebooks table (model-sized) and
  // a codes table (id, m small codes — the 32× memory win persisted;
  // flat PQ, so no bucket partitioning: the ADC scan reads codes only,
  // never vectors). Build once; append batches against the frozen
  // codebooks (same seed ⇒ same rotation ⇒ same argmins); probe from
  // the tables. The deterministic seed IS part of the index contract —
  // persist it alongside the codebooks in a real deployment.
  // =====================================================================

  /** BUILD: rotate, train m codebooks, compress every corpus row.
    * Returns `(codebooks, codes)` — codebooks `(j, code, dim, v)`
    * (model-sized), codes `(id, codes)`. */
  def pqRotatedIndexBuild(corpus: DataFrame, idCol: String, vecCol: String,
                          m: Int, ksub: Int, rounds: Int, seed: Long = 42L,
                          quantScale: Long = 1000000L)
      : (DataFrame, DataFrame) = {
    val spark = corpus.sparkSession
    import spark.implicits._
    require(m >= 1, s"m must be >= 1, got $m")
    val pts0 = quantized(corpus, idCol, vecCol, quantScale)
    val dim = pts0.select(size(col("_q")).as("_d")).limit(1)
      .collect().headOption.map(_.getInt(0)).getOrElse(0)
    require(dim > 0 && dim % m == 0, s"dim $dim must be a positive multiple of m=$m")
    val pts = rotated(pts0, hadamardSigns(dim, seed)).localCheckpoint()
    val dsub = dim / m
    def sub(q: Column, j: Int): Column = slice(q, j * dsub + 1, dsub)
    val books = trainBooksConcurrent(m)(j => trainLloyd(pts, sub(col("_q"), j), ksub, rounds))
    val bookDf = books.zipWithIndex.flatMap { case (b, j) =>
      b.toSeq.flatMap { case (c, v) =>
        v.zipWithIndex.map { case (x, d) => (j.toLong, c.toLong, d.toLong, x) } } }
      .toDF("j", "code", "dim", "v")
    val enc = (0 until m).foldLeft(pts) { (df, j) =>
      withNearest(df, books(j), sub(col("_q"), j), s"_p$j")
    }
    val codesDf = enc.select(col("_id").as("id"),
      array((0 until m).map(j => col(s"_p$j")): _*).as("codes"))
    (bookDf, codesDf)
  }

  /** APPEND: compress a NEW batch against the PERSISTED codebooks
    * (frozen model + the same seeded rotation). Batch-sized work only. */
  def pqRotatedIndexAppend(batch: DataFrame, codebooks: DataFrame,
                           idCol: String, vecCol: String, seed: Long = 42L,
                           quantScale: Long = 1000000L): DataFrame = {
    val books = readCodebookModel(codebooks)
    val m = books.length
    val dsub = books.head.head._2.length
    val pts = rotated(quantized(batch, idCol, vecCol, quantScale),
      hadamardSigns(m * dsub, seed))
    val enc = (0 until m).foldLeft(pts) { (df, j) =>
      withNearest(df, books(j), slice(col("_q"), j * dsub + 1, dsub), s"_p$j")
    }
    enc.select(col("_id").as("id"),
      array((0 until m).map(j => col(s"_p$j")): _*).as("codes"))
  }

  /** PROBE: serve ADC top-k entirely from the two persisted tables —
    * the distance table comes from the persisted codebooks
    * (model-sized), only codes move, the broadcast is
    * [[Broadcast.rowBudget]]-guarded. [[pqTopK]] tie semantics. */
  def pqRotatedProbeTopK(queries: DataFrame, codebooks: DataFrame,
                         codes: DataFrame, idCol: String, vecCol: String,
                         k: Int, seed: Long = 42L,
                         quantScale: Long = 1000000L): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val books = readCodebookModel(codebooks)
    val m = books.length
    val ksub = books.head.length
    val dsub = books.head.head._2.length
    val qpts = rotated(quantized(queries, idCol, vecCol, quantScale),
      hadamardSigns(m * dsub, seed))
    val nQ = qpts.count() // one query-batch-sized job
    val dtab = adcDistTable(qpts.select(col("_id").as("_qid"), col("_q")),
        books, col("_q"), dsub)
      .select(col("_qid"), col("_j"), col("_code"), col("_d"))
    val exploded = codes.select(col("id").as("_nid"),
      posexplode(col("codes")).as(Seq("_j", "_code")))
    val w = Window.partitionBy(col("_qid"))
      .orderBy(col("_adc").asc, col("_nid").asc)
    exploded
      .join(Broadcast.ifFits(dtab, nQ * m * ksub), Seq("_j", "_code"))
      .groupBy(col("_qid"), col("_nid"))
      .agg(sum(col("_d")).as("_adc"))
      .withColumn("_rank", row_number().over(w))
      .where(col("_rank") <= k)
      .select(col("_qid").as("query_id"), col("_rank").as("rank"),
        col("_nid").as("neighbor_id"), col("_adc").as("adc_q"))
  }

  // =====================================================================
  // Persisted IVF-PQ index lifecycle — [[ivfIndexBuild]]'s persistence
  // story applied to [[ivfPqTopK]]: THREE tables on disk (coarse
  // centroids, residual codebooks, compressed codes partitioned by
  // coarse bucket). Build once; append batches against the frozen
  // persisted models; probe from the tables with the probed buckets
  // partition-pruned. The codes table is the 32× memory win on disk:
  // (bucket, id, m small codes) per vector, never the vectors.
  // =====================================================================

  /** BUILD: coarse centroids + residual codebooks + compressed codes.
    * Returns `(centroids, codebooks, codes)` — centroids `(cluster, dim,
    * centroid_q)`, codebooks `(j, code, dim, v)` (both model-sized plain
    * table writes), codes `(cluster, id, codes)` for a PARTITIONED-BY-
    * cluster write. */
  def ivfPqIndexBuild(corpus: DataFrame, idCol: String, vecCol: String,
                      nCoarse: Int, m: Int, ksub: Int, rounds: Int,
                      quantScale: Long = 1000000L)
      : (DataFrame, DataFrame, DataFrame) = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val pts = quantized(corpus, idCol, vecCol, quantScale).localCheckpoint()
    val dim = pts.select(size(col("_q")).as("_d")).limit(1)
      .collect().headOption.map(_.getInt(0)).getOrElse(0)
    require(dim > 0 && dim % m == 0, s"dim $dim must be a positive multiple of m=$m")
    val dsub = dim / m
    val coarse = trainLloyd(pts, col("_q"), nCoarse, rounds)
    val assigned = withResidualAt(withNearest(pts, coarse, col("_q"), "_c"),
        coarse, col("_q"), col("_c"), "_r")
      .localCheckpoint()
    def sub(q: Column, j: Int): Column = slice(q, j * dsub + 1, dsub)
    val books = trainBooksConcurrent(m)(j =>
      trainLloyd(assigned, sub(col("_r"), j), ksub, rounds))
    val centDf = coarse.toSeq.flatMap { case (c, v) =>
      v.zipWithIndex.map { case (x, d) => (c.toLong, d.toLong, x) } }
      .toDF("cluster", "dim", "centroid_q")
    val bookDf = books.zipWithIndex.flatMap { case (b, j) =>
      b.toSeq.flatMap { case (c, v) =>
        v.zipWithIndex.map { case (x, d) => (j.toLong, c.toLong, d.toLong, x) } } }
      .toDF("j", "code", "dim", "v")
    val enc = (0 until m).foldLeft(assigned) { (df, j) =>
      withNearest(df, books(j), sub(col("_r"), j), s"_p$j")
    }
    val codesDf = enc.select(col("_c").as("cluster"), col("_id").as("id"),
      array((0 until m).map(j => col(s"_p$j")): _*).as("codes"))
    (centDf, bookDf, codesDf)
  }

  /** APPEND: compress a NEW batch against the PERSISTED coarse centroid
    * and codebook tables (frozen models — drift means rebuild). Returns
    * code rows to append under the partitioned layout; batch-sized work
    * only. */
  def ivfPqIndexAppend(batch: DataFrame, centroids: DataFrame,
                       codebooks: DataFrame, idCol: String, vecCol: String,
                       quantScale: Long = 1000000L): DataFrame = {
    val coarse = readCentroidModel(centroids)
    val books = readCodebookModel(codebooks)
    val m = books.length
    val dsub = books.head.head._2.length
    val assigned = withResidualAt(
        withNearest(quantized(batch, idCol, vecCol, quantScale), coarse,
          col("_q"), "_c"),
        coarse, col("_q"), col("_c"), "_r")
    val enc = (0 until m).foldLeft(assigned) { (df, j) =>
      withNearest(df, books(j), slice(col("_r"), j * dsub + 1, dsub), s"_p$j")
    }
    enc.select(col("_c").as("cluster"), col("_id").as("id"),
      array((0 until m).map(j => col(s"_p$j")): _*).as("codes"))
  }

  /** PROBE: serve ADC top-k entirely from the three persisted tables.
    * Probe list + residual distance tables come from the persisted
    * models (driver-model-sized); the DISTINCT probed cluster ids become
    * a STATIC `isin` on the codes scan, so the partitioned layout prunes
    * to the probed `cluster=N/` directories ([[ivfProbeTopK]]'s
    * contract); only codes move, never vectors. */
  def ivfPqProbeTopK(queries: DataFrame, centroids: DataFrame,
                     codebooks: DataFrame, codes: DataFrame, idCol: String,
                     vecCol: String, k: Int, probes: Int,
                     quantScale: Long = 1000000L): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val coarse = readCentroidModel(centroids)
    require(probes >= 1 && probes <= coarse.length,
      s"probes must be in [1, nCoarse], got $probes")
    val books = readCodebookModel(codebooks)
    val m = books.length
    val ksub = books.head.length
    val dsub = books.head.head._2.length
    val qpts = quantized(queries, idCol, vecCol, quantScale)
    val probed = withResidualAt(
        withSortedDists(qpts, coarse, col("_q"), "_sorted")
          .select(col("_id").as("_qid"), col("_q"),
            explode(expr(s"transform(slice(_sorted, 1, $probes), s -> s.c)"))
              .as("cluster")),
        coarse, col("_q"), col("cluster"), "_qr")
      .localCheckpoint() // fans into the probed-id collect and the dtab
    val probedIds = probed.select(col("cluster")).distinct()
      .collect().map(_.getLong(0)) // <= nCoarse values: model-sized
    val nProbed = probed.count() // ≤ |Q|·probes: query-batch-sized
    val dtab = adcDistTable(
        probed.select(col("_qid"), col("cluster"), col("_qr")),
        books, col("_qr"), dsub)
      .select(col("_qid"), col("cluster"), col("_j"), col("_code"), col("_d"))
    val exploded = codes
      .where(col("cluster").isin(probedIds.toSeq: _*))
      .select(col("cluster").cast("long").as("cluster"), col("id").as("_nid"),
        posexplode(col("codes")).as(Seq("_j", "_code")))
    val w = Window.partitionBy(col("_qid"))
      .orderBy(col("_adc").asc, col("_nid").asc)
    exploded
      .join(Broadcast.ifFits(dtab.withColumn("_j", col("_j").cast("int")),
          nProbed * m * ksub),
        Seq("cluster", "_j", "_code"))
      .groupBy(col("_qid"), col("_nid"))
      .agg(sum(col("_d")).as("_adc"))
      .withColumn("_rank", row_number().over(w))
      .where(col("_rank") <= k)
      .select(col("_qid").as("query_id"), col("_rank").as("rank"),
        col("_nid").as("neighbor_id"), col("_adc").as("adc_q"))
  }
}
