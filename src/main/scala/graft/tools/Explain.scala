package graft.tools

import graft.SparkEntry


/** Dev tool: dump formatted physical plans for plan-quality review.
  * Usage: sbt "runMain graft.tools.Explain <sfDir> [query...]" */
object Explain {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.tail.toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = graft.Session.local(8)
    names.foreach { n =>
      println(s"\n================ $n ================")
      try SparkEntry.queries(n)(spark, dir).explain("formatted")
      catch { case e: Throwable => println(s"explain failed: $e") }
    }
    spark.stop()
  }
}
