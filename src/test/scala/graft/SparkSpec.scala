package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (LocalSession: UTC,
  * SPARK_GRAFT_CPUS cores and shuffle partitions). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  override def afterAll(): Unit = { /* shared session, do not stop */ }
}

object SparkSpec {
  lazy val session: SparkSession = LocalSession()
}
