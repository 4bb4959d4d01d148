package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic corpus scale-up for scale-smoke runs: replicate the sf0.1
  * tables `factor`× with key-consistent shifts, so plan shapes that are
  * secretly superlinear (pair volume, propagation rounds, bucket skew) show
  * up BEFORE a real cluster run. Usage:
  *
  *   runMain graft.tools.ScaleUp <srcDir> <dstDir> [factor]
  *
  * Replication rules (chosen so query OUTPUT grows linearly — a naive
  * verbatim copy would square every near-dup pair set):
  *  - dims (region/nation/customer/supplier/part): copied as-is; fact keys
  *    keep referencing them (fan-in grows, the realistic direction).
  *  - orders/lineitem: o_orderkey/l_orderkey shifted per copy by a stride
  *    above the max key, so the join structure repeats per copy.
  *  - events: event_id shifted; ts shifted per copy by the source time span
  *    (same event density over a `factor`× longer timeline — window counts
  *    scale, window sizes don't).
  *  - documents: doc_id shifted; every word in copy c > 0 gets a "~c" tag —
  *    intra-copy near-dup structure is preserved exactly, cross-copy
  *    shingle overlap is zero (near-dup pairs scale ×factor, not ×factor²).
  *  - embeddings: vec_id shifted; copy c's vectors are cyclically rotated
  *    by 6c dimensions — norm-preserving, and a rotated diffuse vector is
  *    near-orthogonal to its source, so near-dup pairs don't explode.
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val dst = if (args.length > 1) args(1) else "/tmp/sf1"
    val factor = if (args.length > 2) args(2).toInt else 10
    val spark = graft.Session.local(32)

    def read(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")
    def write(df: DataFrame, t: String): Unit =
      df.write.mode("overwrite").parquet(s"$dst/$t.parquet")
    def copies(df: DataFrame, f: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until factor).map(c => f(df, c)).reduce(_ unionAll _)
    def strideOf(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).collect()(0).getLong(0) + 1L

    Seq("region", "nation", "customer", "supplier", "part").foreach(t => write(read(t), t))

    val orders = read("orders")
    val orderStride = strideOf(orders, "o_orderkey")
    write(copies(orders, (df, c) =>
      df.withColumn("o_orderkey", col("o_orderkey") + lit(c * orderStride))), "orders")
    write(copies(read("lineitem"), (df, c) =>
      df.withColumn("l_orderkey", col("l_orderkey") + lit(c * orderStride))), "lineitem")

    // events.ts arrives in a producer-chosen unit (nanos parquet, µs NTZ,
    // …) — go through Tables.events, which detects the unit and normalizes
    // to a µs-instant TimestampType, then shift per copy in µs space. The
    // rewrite lands as an ordinary Spark timestamp column, which the same
    // detection reads back as a pass-through.
    val events = graft.sources.Tables.events(spark, src)
    val eventStride = strideOf(events, "event_id")
    val Array(tsMin, tsMax) = events
      .agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts"))))
      .collect()(0).toSeq.map(_.asInstanceOf[Long]).toArray
    val span = tsMax - tsMin + 3600L * 1000000L // + one hour of micros
    write(copies(events, (df, c) => df
      .withColumn("event_id", col("event_id") + lit(c * eventStride))
      .withColumn("ts", timestamp_micros(unix_micros(col("ts")) + lit(c * span)))),
      "events")

    val docs = read("documents")
    val docStride = strideOf(docs, "doc_id")
    write(copies(docs, (df, c) => df
      .withColumn("doc_id", col("doc_id") + lit(c * docStride))
      .withColumn("text",
        if (c == 0) col("text")
        else array_join(transform(split(col("text"), " "), w => concat(w, lit(s"~$c"))), " "))),
      "documents")

    val emb = read("embeddings")
    val vecStride = strideOf(emb, "vec_id")
    val dim = graft.functions.Vectors.dims(emb, "embedding") // probe, don't hardcode
    require(dim > 0, "embeddings table has no non-empty vectors")
    write(copies(emb, (df, c) => df
      .withColumn("vec_id", col("vec_id") + lit(c * vecStride))
      .withColumn("embedding", {
        val shift = (c * 6) % dim
        if (shift == 0) col("embedding")
        else concat(slice(col("embedding"), shift + 1, dim - shift), slice(col("embedding"), 1, shift))
      })), "embeddings")

    println(s"SCALEUP done: $src -> $dst x$factor")
    spark.stop()
  }
}
