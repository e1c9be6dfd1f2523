package graft

import org.apache.spark.PersistLedger
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (LocalSession: UTC,
  * SPARK_GRAFT_CPUS cores and shuffle partitions). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  override def afterAll(): Unit = { /* shared session, do not stop */ }

  /** Cache hygiene: does `run` leave at most `expected` of the RDDs it
    * persisted unreleased ([[org.apache.spark.PersistLedger]], which a
    * garbage collection cannot mask)? Other suites share this
    * SparkContext and may persist concurrently, so it retries: a genuine
    * leak is left on EVERY attempt; a concurrent suite's transient cache
    * is not. Each attempt drains what it left (e.g. an expected final
    * checkpoint).
    */
  def leaksAtMost(expected: Int)(run: => Unit): Boolean =
    (1 to 5).exists { _ =>
      val left = PersistLedger.unreleased(spark.sparkContext)(run)
      val persisted = spark.sparkContext.getPersistentRDDs
      left.foreach(id => persisted.get(id).foreach(_.unpersist(true)))
      left.size <= expected
    }
}

object SparkSpec {
  lazy val session: SparkSession = LocalSession()
}
