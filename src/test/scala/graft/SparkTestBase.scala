package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session per suite (guide: lazy val, not per-test). */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = {
    // a per-JVM warehouse, so concurrent test runs never share one; a
    // system property, because SparkConf reads spark.* properties at build
    sys.props.getOrElseUpdate("spark.sql.warehouse.dir",
      s"/tmp/graft_test_warehouse_${ProcessHandle.current().pid()}")
    GraftSession(getClass.getSimpleName, 4)
  }

  val Sf0001 = "/root/testdata/sf0.001"
  val Sf001 = "/root/testdata/sf0.01"

  override def afterAll(): Unit = {
    // keep the session for the next suite in the same JVM (forked once)
    super.afterAll()
  }
}
