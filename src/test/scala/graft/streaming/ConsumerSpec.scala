package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.{GraftConfig, SparkSpec}

/** The config-driven daemon assembly: topic resolution, branch selection,
  * and the REPUBLISH gate.
  */
class ConsumerSpec extends SparkSpec {
  import spark.implicits._

  private def cfg(extra: (String, String)*): GraftConfig =
    GraftConfig.fromEnv(Map(
      "SERVER" -> "srv", "DBNAME" -> "shop", "TABLE" -> "acct,txn") ++ extra)

  test("topic resolution follows main.go:50-58") {
    assert(Consumer.topics(cfg()) == Seq("srv.shop.acct", "srv.shop.txn"))
    assert(Consumer.topics(cfg("ACTIVE_SCHEME" -> "true")) == Seq("srv"))
  }

  test("REPUBLISH=false error-logs failures but never retries or DLQs") {
    implicit val sqlCtx = spark.sqlContext
    val base = Files.createTempDirectory("consumer").toString
    val paths = CdcStreaming.SinkPaths(
      s"$base/state", s"$base/errors", s"$base/retry", s"$base/dlq")
    val mem = MemoryStream[(String, Int)]
    val q = Consumer.start(spark, cfg("REPUBLISH" -> "false"),
      mem.toDF().toDF("value", "loop"), paths,
      checkpoint = Files.createTempDirectory("ckpt").toString)
    mem.addData(("not json at all", 0))
    q.processAllAvailable()
    q.stop()
    assert(spark.read.parquet(paths.errors).count() == 1)
    assert(!Files.exists(java.nio.file.Paths.get(paths.retry)))
    assert(!Files.exists(java.nio.file.Paths.get(paths.dlq)))
  }

  test("default config republishes: the retry sink receives loop+1") {
    implicit val sqlCtx = spark.sqlContext
    val base = Files.createTempDirectory("consumer2").toString
    val paths = CdcStreaming.SinkPaths(
      s"$base/state", s"$base/errors", s"$base/retry", s"$base/dlq")
    val mem = MemoryStream[(String, Int)]
    val q = Consumer.start(spark, cfg(), mem.toDF().toDF("value", "loop"), paths,
      checkpoint = Files.createTempDirectory("ckpt").toString)
    mem.addData(("still not json", 0))
    q.processAllAvailable()
    q.stop()
    val retry = spark.read.parquet(paths.retry).as[(String, Int)].collect()
    assert(retry.toSeq == Seq(("still not json", 1)))
  }

  test("env knobs fail loudly, naming the variable and the bad value") {
    def err(kv: (String, String)): String =
      intercept[IllegalArgumentException](cfg(kv)).getMessage
    assert(err("REPUBLISH_LIMIT" -> "0") == """REPUBLISH_LIMIT="0" is not a limit of at least 1""")
    assert(err("REPUBLISH_LIMIT" -> "three").startsWith("REPUBLISH_LIMIT=\"three\""))
    assert(err("DBPORT" -> "0") == """DBPORT="0" is not a port (1-65535)""")
    assert(err("DBPORT" -> "65536").startsWith("DBPORT=\"65536\""))
    assert(err("DBPORT" -> "x").startsWith("DBPORT=\"x\""))
    assert(err("REPUBLISH" -> "yes") == """REPUBLISH="yes" is not a boolean (true/false)""")
    assert(err("ACTIVE_SCHEME" -> "1").startsWith("ACTIVE_SCHEME=\"1\""))
    assert(err("TIMEZONE" -> "7h") == """TIMEZONE="7h" is not an integer""")
    val edge = cfg("REPUBLISH_LIMIT" -> "1", "DBPORT" -> "65535", "REPUBLISH" -> "FALSE")
    assert(edge.republishLimit == 1 && edge.dbPort == 65535 && !edge.republish)
    assert(cfg().republishLimit == 3 && cfg().dbPort == 3306 && cfg().republish)
  }
}
