package graft.sources

import java.net.InetSocketAddress
import java.util.concurrent.atomic.AtomicInteger

import com.sun.net.httpserver.HttpServer
import org.apache.spark.sql.functions._

import graft.{GraftConfig, SparkSpec}

class SourcesSpec extends SparkSpec {
  import spark.implicits._

  test("S1 topic list: {server}.{db}.{table} per table; schema topic in scheme mode (main.go:50-58)") {
    assert(CdcSources.topics("dbserver2", "batch", Seq("batch_seq", "acct"), activeScheme = false) ==
      Seq("dbserver2.batch.batch_seq", "dbserver2.batch.acct"))
    assert(CdcSources.topics("dbserver2", "batch", Seq("batch_seq"), activeScheme = true) ==
      Seq("dbserver2"))
  }

  test("S1 offset reset mapping (config/config.go:25)") {
    assert(CdcSources.startingOffsets("earliest") == "earliest")
    assert(CdcSources.startingOffsets("latest") == "latest")
    assert(CdcSources.startingOffsets("anything") == "latest")
  }

  test("S1 missing kafka connector fails loudly with the artifact to add") {
    // this image ships no spark-sql-kafka jar, which is exactly the
    // misconfiguration a fresh cluster hits — pin the actionable error
    val e = intercept[IllegalStateException] {
      CdcSources.loadKafka(spark, "localhost:9092", "dbserver2", "batch", Seq("acct"))
    }
    assert(e.getMessage.contains("spark-sql-kafka-0-10"))
    assert(e.getMessage.contains("--packages"))
    assert(e.getCause != null)
  }

  test("S2 republish projection: value round-trips, loop header increments (main.go:174-203)") {
    val failed = Seq(("t.shop.acct", "payload-bytes", 1)).toDF("topic", "value", "loop")
    val out = CdcSources.republishProjection(failed).collect().head
    assert(out.getString(0) == "t.shop.acct")
    assert(new String(out.getAs[Array[Byte]](1)) == "payload-bytes")
    val hdr = out.getSeq[org.apache.spark.sql.Row](2).head
    assert(hdr.getString(0) == "loop")
    assert(new String(hdr.getAs[Array[Byte]](1)) == "2")
  }

  test("S5 Connect REST: pause expects 202; resume retries until 202 (main.go:418-433)") {
    val resumeCalls = new AtomicInteger(0)
    val server = HttpServer.create(new InetSocketAddress(0), 0)
    server.createContext("/connectors/conn1/pause", ex => {
      ex.sendResponseHeaders(202, -1); ex.close()
    })
    server.createContext("/connectors/conn1/resume", ex => {
      val n = resumeCalls.incrementAndGet()
      ex.sendResponseHeaders(if (n < 3) 409 else 202, -1); ex.close()
    })
    server.start()
    try {
      val c = new ConnectClient(s"http://localhost:${server.getAddress.getPort}", "conn1")
      assert(c.pause())
      assert(c.resumeWithRetry(backoffMillis = 10L, maxAttempts = 10))
      assert(resumeCalls.get() == 3)
    } finally server.stop(0)
  }

  test("config defaults mirror the reference (config/config.go)") {
    val c = GraftConfig.fromEnv(Map.empty)
    assert(c.republish && c.republishLimit == 3)       // :20-21
    assert(c.autoOffset == "latest")                   // :25
    assert(!c.reclaim && !c.activeScheme)              // :15, :26
    assert(c.replaceAllScheme)                         // :27 default TRUE
    assert(!c.withTimezone && c.timezoneShiftHours == 7) // :28-29
    assert(c.dbPort == 3306 && c.dbSourceName == "master_etl")
    assert(c.apiAddress == "http://localhost:8083")
    val c2 = GraftConfig.fromEnv(Map("TABLE" -> "a, b ,c", "RECLAIM" -> "true"))
    assert(c2.tables == Seq("a", "b", "c") && c2.reclaim)
  }
}
