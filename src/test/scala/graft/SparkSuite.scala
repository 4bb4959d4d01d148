package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one per test JVM). */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSuite.session
  lazy val sf0001 = "/root/testdata/sf0.001"
}

object SparkSuite {
  lazy val session: SparkSession = Session.local(8)
}
