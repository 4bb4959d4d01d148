package graft

import org.apache.spark.sql.SparkSession

/** The engine's one session builder, used by every main and by the specs.
  * `local[cores]` with as many shuffle partitions, AQE on, UTC session
  * time, no UI, and [[GraftExtensions]] installed at build, so the native
  * SQL functions and the as-of planner strategy exist from the first query
  * without any per-call registration. */
object Session {
  def local(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    // ERROR: freeing local checkpoints between Bench runs emits a WARN per
    // RDD that would otherwise flood the log
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
