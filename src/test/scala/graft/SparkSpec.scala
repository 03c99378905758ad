package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs — one JVM-wide session (getOrCreate)
  * so suites don't pay repeated startup, built from the shipped config
  * (GraftSession) at 4 cores.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = GraftSession.builder(4)
    // per-JVM dir: concurrent sbt test runs must not share a warehouse
    // (saveAsTable in one run would clobber or lock the other's tables)
    .config("spark.sql.warehouse.dir",
      s"${System.getProperty("java.io.tmpdir")}/graft-warehouse-${ProcessHandle.current().pid()}")
    .getOrCreate()

  override protected def afterAll(): Unit = {
    // keep the session for sibling suites; stopped by the JVM exit
    super.afterAll()
  }
}
