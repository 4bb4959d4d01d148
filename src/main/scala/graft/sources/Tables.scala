package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Parquet table loaders for the TPC-H-ish test corpus (TESTDATA.md).
  *
  * The reference's only source is `fromLiterals` (reference:
  * src/main/scala/zio/analytics/DataStream.scala:87-88); file sources are one
  * of the capability categories our engine must supply (SURVEY.md §2.4).
  * Plain `spark.read.parquet` is deliberately the whole implementation:
  * Catalyst then owns predicate pushdown, column pruning and partition
  * pruning on the scan, which is exactly what we want at 100 TB — never
  * materialize-then-filter. */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def lineitem(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "region")
  /** The explicit fallback read schema for `events.parquet` (`ts` as a raw
    * BIGINT). Shared with tooling that reads/writes the table outside
    * [[events]] — the two must stay identical or a renamed column would
    * silently read as null (parquet matches by name). */
  val eventsRawSchemaDdl: String =
    "event_id BIGINT, ts BIGINT, user_id BIGINT, event_type STRING, value DOUBLE, props STRING"

  /** `events.ts` arrives in whatever unit the producer chose — the driver
    * testdata has shipped BOTH nanosecond parquet (which Spark 4's reader
    * rejects outright) and microsecond NTZ — so the unit is DETECTED from
    * the file's own declared schema (one driver-side footer read at plan
    * time, no data pass; the probed frame is the one returned):
    *  - µs NTZ: the session is pinned UTC, so the NTZ → instant cast is
    *    the identity mapping DuckDB applies to the same column;
    *  - µs/ms instant (e.g. a Spark re-write of the table): pass-through;
    *  - NANOS (inference throws) or a raw BIGINT column (a [[ScaleUp]]
    *    artifact from a nanos source): read raw via an EXPLICIT `BIGINT`
    *    schema — scoped entirely to this read, where the legacy
    *    `nanosAsLong` session flag would silently change how every later
    *    NANOS column in the session decodes — and convert ns → µs
    *    losslessly (the data is µs-precision underneath).
    * Pinning one unit instead would silently shift every timestamp 1000×
    * when the producer changes — exactly what a 100 TB ingest layer must
    * never do quietly. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/events.parquet"
    scala.util.Try { val df = spark.read.parquet(path); (df, df.schema("ts").dataType) } match {
      case scala.util.Success((df, org.apache.spark.sql.types.TimestampNTZType)) =>
        df.withColumn("ts", col("ts").cast("timestamp"))
      case scala.util.Success((df, org.apache.spark.sql.types.TimestampType)) => df
      case _ =>
        spark.read
          .schema(eventsRawSchemaDdl)
          .parquet(path)
          .withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "embeddings")

  /** CSV source (header + schema inference by default; pass an explicit DDL
    * schema at scale — inference reads the data twice). */
  def csv(spark: SparkSession, path: String, schemaDdl: Option[String] = None): DataFrame = {
    val r = spark.read.option("header", "true")
    schemaDdl.fold(r.option("inferSchema", "true"))(s => r.schema(s)).csv(path)
  }

  /** JSON-lines source (same schema advice as [[csv]]). */
  def json(spark: SparkSession, path: String, schemaDdl: Option[String] = None): DataFrame = {
    val r = spark.read
    schemaDdl.fold(r)(s => r.schema(s)).json(path)
  }

  /** ORC source — columnar like parquet: vectorized read, predicate
    * pushdown and column pruning all apply unchanged. */
  def orc(spark: SparkSession, path: String): DataFrame = spark.read.orc(path)

  /** Scale-adaptive read-parallelism guard for CPU-heavy per-row stages
    * (tokenizers, regex scorers, codecs): a parquet ROW GROUP is the
    * reader's atomic split, so a corpus that arrives as few row groups
    * (one small file, one fat gzip, a compacted export) runs its entire
    * scan-stage compute on that many cores no matter how large the
    * cluster — the guide §2.5 "input skew" case (measured r13: q265's
    * enrichment scored the whole corpus in ONE 2-2.8 s task). When the
    * scan yields fewer partitions than the session's parallelism, insert
    * one round-robin repartition of the (narrow, pre-enrichment) rows;
    * when the input already carries ≥ cores partitions — any real-scale
    * table — this is a NO-OP, so nothing is shuffled at 100 TB. Results
    * are partitioning-independent throughout the engine (the hash-parity
    * design), so only the schedule changes. */
  def spreadRead(df: DataFrame): DataFrame = {
    // streaming twins reuse the batch operators (chunkStream); a
    // streaming frame has no RDD/stats to probe and micro-batches are
    // already bounded — pass through untouched
    if (df.isStreaming) return df
    val p = df.sparkSession.sparkContext.defaultParallelism
    // model-sized tables (dims, tiny fixtures) stay unspread — 32 tasks
    // over 25 rows is pure scheduling overhead and they broadcast anyway.
    // 16 KiB gate: the width heuristic behind sizeInBytes prices every
    // string at 20 bytes, so a projected (id, text) corpus frame reads
    // far smaller than its real payload (measured r13: q127's chunker
    // input fell under a 256 KiB gate and stayed serial; q129's pair
    // probe side under 64 KiB) — the gate only needs to exclude the
    // 25-row dims, and callers opt in per CPU-dense site anyway
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (bytes <= (16L << 10)) return df
    // A plan already carrying an exchange is session-partitioned by its
    // own shuffle — and probing it with `.rdd` under AQE EXECUTES the
    // upstream stages eagerly, then the real action runs them again (the
    // r13 double-execution hazard). Spread only scan-rooted narrow
    // frames, where `.rdd` builds the RDD without launching a job.
    val hasExchange = df.queryExecution.sparkPlan
      .find(_.isInstanceOf[org.apache.spark.sql.execution.exchange.Exchange])
      .isDefined
    if (!hasExchange && df.rdd.getNumPartitions < p) df.repartition(p)
    else df
  }

  /** Partition-pruned layout write: one directory per distinct `keys`
    * value; scans filtering on them read only matching directories
    * (ScaleSpec asserts the pruning). Keep partition-key cardinality modest
    * (thousands, not millions) or the layout degenerates to tiny files. */
  def writePartitioned(df: DataFrame, path: String, keys: String*): Unit = {
    require(keys.nonEmpty, "writePartitioned needs at least one partition key")
    compactByKeys(df, keys).write.mode("overwrite").partitionBy(keys: _*).parquet(path)
  }

  /** Cluster rows by the partition keys before a partitioned write (guide
    * §6 "coalesce on write"): without it every upstream task writes its own
    * file per key value it holds — a compute stage spread across C cores
    * writing K key values lands C×K files (measured r13: q261's enrichment
    * write went 2.99→10.54 s driver-side, and ran 5× FASTER at 8 cores
    * because the file count scaled with the core count). The REBALANCE
    * hint is the AQE form: one exchange clustered on the keys, small
    * output partitions coalesced to the advisory size AND oversized key
    * groups split — so a hot key never serializes into one giant task the
    * way a plain repartition(keys) would. Without AQE the hint is dropped
    * (logged) and the write behaves as before. */
  private def compactByKeys(df: DataFrame, keys: Seq[String]): DataFrame =
    df.hint("rebalance", keys.map(col): _*)

  /** Incremental append under an existing [[writePartitioned]] layout —
    * new rows land in (or create) their key directories, existing data
    * untouched; the incremental half of an index lifecycle (q66's dedup
    * index, the IVF postings table). */
  def appendPartitioned(df: DataFrame, path: String, keys: String*): Unit = {
    require(keys.nonEmpty, "appendPartitioned needs at least one partition key")
    compactByKeys(df, keys).write.mode("append").partitionBy(keys: _*).parquet(path)
  }

  /** Range-clustered SORTED export — total-order materialization without
    * the nondeterminism of Spark's sampled range partitioner (whose
    * boundaries re-sample per execution): `rangeCol` is a deterministic
    * VALUE bucket MONOTONE in `orderCols` (the
    * [[graft.operators.Ranking.globalRankBy]] contract — a fixed prefix
    * or `floor(value/width)` of the leading sort key), each range lands
    * in its own `range=N/` directory with rows in `orderCols` order
    * inside, so reading directories in range order replays one global
    * sort. This is the layout a downstream merge-join / ordered-scan
    * consumer wants, and range min/max make partition pruning exact.
    *
    * (r13 measurement note: applying [[spreadRead]] to EVERY table read
    * was tried and reverted — it won big on CPU-dense per-row stages
    * but taxed the small-compute relational tail with an extra exchange
    * and 32-task stages, and inflated small-file counts on the
    * write-lifecycle queries; full-suite total went UP. It stays a
    * per-operator tool for regex/codec/chunker-bound stages.)
    *
    * One shuffle total: repartition on the range puts each range in one
    * task, `sortWithinPartitions` orders it, the partitioned write
    * splits directories without re-shuffling. Size ranges via the
    * bucket expression so one range fits one task (same guidance as
    * globalRankBy's buckets). */
  def writeSortedRange(df: DataFrame, path: String, rangeCol: Column,
                       orderCols: Column*): Unit = {
    require(orderCols.nonEmpty, "writeSortedRange needs at least one order column")
    require(!df.columns.contains("range"),
      "writeSortedRange reserves the column name range")
    df.withColumn("range", rangeCol)
      .repartition(col("range"))
      .sortWithinPartitions(col("range") +: orderCols: _*)
      .write.mode("overwrite").partitionBy("range").parquet(path)
  }

  /** Write a frame as a bucketed + sorted parquet table. Pipelines that
    * repeatedly join/aggregate on the same keys (dedup signatures, posting
    * lists, entity-keyed features) pay the shuffle ONCE at write; every
    * later equi-join or aggregation on `keys` between co-bucketed tables
    * plans with no exchange (ScaleSpec asserts the shuffle-free join).
    * Bucket count sets read parallelism — size it so a bucket fits an
    * executor's memory at the target scale. */
  /** Overwrite must also cover the ORPHANED case: a previous session's
    * managed-table directory with no entry in this session's (in-memory)
    * catalog — CREATE would fail with LOCATION_ALREADY_EXISTS. */
  private def dropOrphanedLocation(spark: SparkSession, table: String): Unit =
    if (!spark.catalog.tableExists(table)) {
      // resolve the managed location through the catalog (current database
      // and db-qualified names included) — a hand-built <warehouse>/<name>
      // path silently misses <warehouse>/<db>.db/<name> and the guard
      // becomes a no-op exactly where it is needed
      val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
      val loc = new org.apache.hadoop.fs.Path(
        spark.sessionState.catalog.defaultTablePath(ident))
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) {
        // Only reclaim a directory that carries a Spark parquet-table
        // footprint (_SUCCESS marker or part-* data files). Anything else
        // at the managed location was not written by this framework —
        // leave it for the CREATE to fail on loudly (LOCATION_ALREADY_
        // EXISTS) instead of destroying a stranger's data. Either way,
        // log path + decision so an unexpected wipe is diagnosable.
        val entries = fs.listStatus(loc).map(_.getPath.getName)
        val sparkTableFootprint = entries.isEmpty ||
          entries.contains("_SUCCESS") || entries.exists(_.startsWith("part-"))
        if (sparkTableFootprint) {
          System.err.println(
            s"[graft.Tables] deleting orphaned managed-table location $loc " +
              s"(table '$table' absent from this session's catalog; " +
              s"${entries.length} entries with Spark table footprint)")
          fs.delete(loc, true)
        } else {
          System.err.println(
            s"[graft.Tables] NOT deleting $loc for table '$table': contents " +
              s"do not look like a Spark parquet table (${entries.take(5).mkString(", ")}" +
              s"${if (entries.length > 5) ", …" else ""}); the overwrite will fail " +
              "with LOCATION_ALREADY_EXISTS — move the directory or drop it manually")
        }
      }
    }

  /** Plain managed-parquet overwrite with the orphaned-location guard. */
  def saveTable(df: DataFrame, table: String): Unit = {
    dropOrphanedLocation(df.sparkSession, table)
    df.write.mode("overwrite").format("parquet").saveAsTable(table)
  }

  def writeBucketed(df: DataFrame, table: String, buckets: Int, keys: String*): Unit = {
    require(keys.nonEmpty, "writeBucketed needs at least one bucket key")
    dropOrphanedLocation(df.sparkSession, table)
    // Cluster on the bucket keys into exactly `buckets` partitions before
    // the write: Spark's bucketed writer emits one file per (task, bucket
    // id present in the task) — an unclustered input spread over C tasks
    // writes up to C×buckets files (measured r13: q66 0.40× driver-side
    // after the shingle spread fed this writer). repartition(buckets,
    // keys) is the SAME HashPartitioning(murmur3 pmod buckets) the bucket
    // id uses, so each task holds exactly one bucket → `buckets` files,
    // which is also the layout the shuffle-free co-bucketed join reads.
    df.repartition(buckets, keys.map(col): _*)
      .write.mode("overwrite")
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .format("parquet").saveAsTable(table)
  }

  /** Register all tables as temp views so `spark.sql` works against the same
    * names the DuckDB oracle uses. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach { n =>
      val df = if (n == "events") events(spark, dir) else apply(spark, dir, n)
      df.createOrReplaceTempView(n)
    }
}
