package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one per test JVM). A suite that
  * used it drops the shared catalog's tables when it ends: the catalog is
  * in memory, so a table left there outlives the JVM only as an orphaned
  * `spark-warehouse/` directory, which the next run's overwrite guard
  * (`Tables.dropOrphanedLocation`) has to delete. */
trait SparkSuite extends AnyFunSuite with BeforeAndAfterAll {
  @volatile private var sessionUsed = false
  lazy val spark: SparkSession = { sessionUsed = true; SparkSuite.session }
  lazy val sf0001 = "/root/testdata/sf0.001"

  override def afterAll(): Unit =
    try if (sessionUsed) SparkSuite.dropTables(spark)
    finally super.afterAll()
}

object SparkSuite {
  lazy val session: SparkSession = Session.local(8)

  /** Drop every table of the current database (temp views stay). The
    * in-memory catalog holds only tables this JVM wrote, so nothing else
    * is touched; dropping a managed table deletes its directory. */
  def dropTables(spark: SparkSession): Unit =
    spark.catalog.listTables().collect().filterNot(_.isTemporary).foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS `${t.name}`")
    }
}
