package graft.streaming

import java.net.InetSocketAddress
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.HttpServer
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col

import graft.SparkSpec
import graft.cdc.{CdcPipeline, CdcQueries}
import graft.sources.ConnectClient

/** ST4 end-to-end: DDL events through the streaming branch — blocked/
  * whitelist/instance events produce no connector calls; applied DDL
  * pauses, records the qualifier-stripped statement, resumes (with retry).
  */
class DdlStreamSpec extends SparkSpec {

  import spark.implicits._

  private def ddlEvent(db: String, table: String, ddl: String): String = {
    val d = ddl.replace("\"", "\\\"").replace("`", "`")
    s"""{"payload":{"source":{"version":"1","connector":"mysql","name":"s","ts_ms":0,
       |"snapshot":"false","db":"$db","table":"$table","server_id":1,
       |"file":"b1","pos":1,"row":0},"databaseName":"$db","ddl":"$d"}}"""
      .stripMargin.replaceAll("\n", "")
  }

  test("applied DDL pauses, records stripped statement, resumes; filtered DDL does not touch the connector") {
    val pauses = new AtomicInteger(0)
    val resumes = new AtomicInteger(0)
    val server = HttpServer.create(new InetSocketAddress(0), 0)
    server.createContext("/connectors/c/pause", ex => {
      pauses.incrementAndGet(); ex.sendResponseHeaders(202, -1); ex.close()
    })
    server.createContext("/connectors/c/resume", ex => {
      // first resume attempt fails => retry loop must recover
      val n = resumes.incrementAndGet()
      ex.sendResponseHeaders(if (n == 1) 409 else 202, -1); ex.close()
    })
    server.start()
    try {
      val client = new ConnectClient(s"http://localhost:${server.getAddress.getPort}", "c")
      val applied = Files.createTempDirectory("ddl").toString + "/applied"
      val ckpt = Files.createTempDirectory("ckpt").toString
      implicit val sqlCtx = spark.sqlContext
      val mem = MemoryStream[String]
      val q = CdcStreaming.startDdlStream(spark, mem.toDF().toDF("value"), client,
        tables = Seq("acct"), reclaim = false, replaceAll = false,
        appliedPath = applied, checkpoint = ckpt, resumeBackoffMillis = 10L)

      mem.addData(
        ddlEvent("shop", "acct", "ALTER TABLE `shop`.acct ADD COLUMN x INT"),
        ddlEvent("shop", "acct", "DROP TABLE acct"),        // blocked
        ddlEvent("shop", "other", "ALTER TABLE other ADD y INT"), // not whitelisted
        ddlEvent("", "", "ALTER TABLE acct ADD z INT"))     // instance event
      q.processAllAvailable()
      q.stop()

      assert(pauses.get() == 1)
      assert(resumes.get() == 2) // one failed attempt + one success
      val rows = spark.read.parquet(applied).collect()
      assert(rows.length == 1)
      assert(rows.head.getString(1) == "ALTER TABLE acct ADD COLUMN x INT")
    } finally server.stop(0)
  }

  test("the c03 fixture streamed with c03's configuration applies exactly c03's 'apply' rows") {
    val server = HttpServer.create(new InetSocketAddress(0), 0)
    Seq("pause", "resume").foreach(op => server.createContext(s"/connectors/c/$op", ex => {
      ex.sendResponseHeaders(202, -1); ex.close()
    }))
    server.start()
    try {
      val client = new ConnectClient(s"http://localhost:${server.getAddress.getPort}", "c")
      val applied = Files.createTempDirectory("ddl").toString + "/applied"
      implicit val sqlCtx = spark.sqlContext
      val mem = MemoryStream[String]
      val q = CdcStreaming.startDdlStream(spark, mem.toDF().toDF("value"), client,
        tables = Seq("acct", "txn"), reclaim = false, replaceAll = false,
        appliedPath = applied, checkpoint = Files.createTempDirectory("ckpt").toString,
        resumeBackoffMillis = 10L)
      mem.addData(Files.readAllLines(Paths.get(CdcPipeline.ddlPath)).asScala.toSeq.filter(_.nonEmpty): _*)
      q.processAllAvailable()
      q.stop()

      val expected = CdcQueries.ddlDecisions(spark, "")
        .filter(col("decision") === "apply")
        .select(col("db"), CdcPipeline.stripDbQualifier(col("ddl"), col("db")))
        .as[(String, String)].collect().toSeq.sorted
      assert(expected == Seq(("shop", "ALTER TABLE acct ADD COLUMN note VARCHAR(64)"),
        ("shop", "ALTER TABLE txn MODIFY amount BIGINT")))
      assert(spark.read.parquet(applied).as[(String, String)].collect().toSeq.sorted == expected)
    } finally server.stop(0)
  }
}
