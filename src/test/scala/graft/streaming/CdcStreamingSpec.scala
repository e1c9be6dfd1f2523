package graft.streaming

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException

import graft.SparkSpec
import graft.cdc.CdcPipeline

/** Deterministic streaming tests (MemoryStream + processAllAvailable):
  * ST1 idempotent upsert, F8 duplicate absorption, ST3 binlog ordering
  * across micro-batches, ST2 bounded retry → DLQ.
  */
class CdcStreamingSpec extends SparkSpec {

  import spark.implicits._

  private def ev(id: Long, name: String, amount: Long, file: String, pos: Long,
      row: Int = 0, op: String = "I"): String = {
    val before =
      if (op == "I") "null"
      else s"""{"id":$id,"name":"old","amount":0}"""
    val after =
      if (op == "D") "null"
      else s"""{"id":$id,"name":"$name","amount":$amount}"""
    s"""{"payload":{"before":$before,"after":$after,
       |"source":{"version":"1","connector":"mysql","name":"s","ts_ms":0,
       |"snapshot":"false","db":"shop","table":"acct","server_id":1,
       |"file":"$file","pos":$pos,"row":$row},"op":"c","ts_ms":0}}""".stripMargin
      .replaceAll("\n", "")
  }

  private def tmpPaths(): CdcStreaming.SinkPaths = {
    val base = Files.createTempDirectory("cdcstream").toString
    CdcStreaming.SinkPaths(s"$base/state", s"$base/errors", s"$base/retry", s"$base/dlq")
  }

  /** The lines logged on `graft.streaming.batch` while `body` runs. */
  private def batchLines(body: => Unit): Seq[String] = {
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val capture = new AbstractAppender("batch-lines", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = lines.add(e.getMessage.getFormattedMessage)
    }
    val logger = LogManager.getLogger("graft.streaming.batch").asInstanceOf[Logger]
    val level = logger.getLevel
    capture.start()
    logger.addAppender(capture)
    logger.setLevel(Level.INFO)
    try body
    finally { logger.removeAppender(capture); logger.setLevel(level); capture.stop() }
    lines.asScala.toSeq
  }

  private def rows(path: String): Long =
    if (Files.exists(Paths.get(path))) spark.read.parquet(path).count() else 0L

  test("upsert stream: latest state across micro-batches, duplicates absorbed, deletes win") {
    val paths = tmpPaths()
    val ckpt = Files.createTempDirectory("ckpt").toString
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Int)]
    val source = mem.toDF().toDF("value", "loop")
    val q = CdcStreaming.start(spark, source, paths, republishLimit = 3, checkpoint = ckpt)

    // batch 1: two inserts
    mem.addData((ev(1, "alice", 100, "b1", 10), 0), (ev(2, "bob", 200, "b1", 20), 0))
    q.processAllAvailable()
    // batch 2: update id1, delete id2, duplicate redelivery of the id1 insert
    mem.addData(
      (ev(1, "alice2", 150, "b1", 30, op = "U"), 0),
      (ev(2, "bob", 200, "b1", 40, op = "D"), 0),
      (ev(1, "alice", 100, "b1", 10), 0), // exact duplicate of batch-1 insert
      ("", 0))                            // tombstone, dropped (F2)
    q.processAllAvailable()
    // batch 3: LATE arrival of an OLDER update for id2 — must not resurrect
    mem.addData((ev(2, "bob_old", 199, "b1", 35, op = "U"), 0))
    q.processAllAvailable()
    q.stop()

    val state = CdcStreaming.currentState(spark, paths.state)
      .select("id", "name", "amount").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(state == Map(1L -> ("alice2", 150L)))
  }

  test("replaying the same events is a no-op (effective exactly-once)") {
    val paths = tmpPaths()
    val ckpt1 = Files.createTempDirectory("ckpt").toString
    implicit val sqlCtx = spark.sqlContext
    val events = Seq((ev(1, "a", 1, "b1", 10), 0), (ev(1, "a2", 2, "b1", 20, op = "U"), 0))

    val mem1 = MemoryStream[(String, Int)]
    val q1 = CdcStreaming.start(spark, mem1.toDF().toDF("value", "loop"), paths,
      republishLimit = 3, checkpoint = ckpt1)
    mem1.addData(events: _*)
    q1.processAllAvailable(); q1.stop()
    val first = CdcStreaming.currentState(spark, paths.state).collect().toSeq.sortBy(_.getLong(2))

    // full redelivery into the same state sink (fresh checkpoint = worst case)
    val ckpt2 = Files.createTempDirectory("ckpt").toString
    val mem2 = MemoryStream[(String, Int)]
    val q2 = CdcStreaming.start(spark, mem2.toDF().toDF("value", "loop"), paths,
      republishLimit = 3, checkpoint = ckpt2)
    mem2.addData(events: _*)
    q2.processAllAvailable(); q2.stop()
    val second = CdcStreaming.currentState(spark, paths.state).collect().toSeq.sortBy(_.getLong(2))
    assert(first == second)
  }

  test("bounded retry: poison record escalates loop count and lands in DLQ at limit 3") {
    val paths = tmpPaths()
    implicit val sqlCtx = spark.sqlContext
    val poison = """{"not":"an envelope"}"""
    // beside the poison record, one invalid record per other reason
    val malformed = "not json at all"
    val noTable = ev(7, "t", 1, "b1", 50).replace("\"table\":\"acct\",", "")
    val noImage = ev(8, "x", 1, "b1", 60).replace(
      "\"after\":{\"id\":8,\"name\":\"x\",\"amount\":1}", "\"after\":null")
    val noId = ev(9, "y", 1, "b1", 70).replace("\"id\":9,", "")
    val reasons = Map(poison -> "unparseable envelope", malformed -> "unparseable envelope",
      noTable -> "no source table", noImage -> "no row image", noId -> "missing id")

    var delivery: Seq[(String, Int)] = reasons.keys.toSeq.map((_, 0))
    for (round <- 1 to 3) {
      val ckpt = Files.createTempDirectory("ckpt").toString
      val mem = MemoryStream[(String, Int)]
      val q = CdcStreaming.start(spark, mem.toDF().toDF("value", "loop"), paths,
        republishLimit = 3, checkpoint = ckpt)
      mem.addData(delivery: _*)
      q.processAllAvailable(); q.stop()
      // redeliver from the retry sink, as the reference republishes to Kafka
      delivery =
        if (Files.exists(java.nio.file.Paths.get(paths.retry)))
          spark.read.parquet(paths.retry).as[(String, Int)].collect().toSeq
            .filter(_._2 == round) // only the newest redelivery generation
        else Seq.empty
    }

    val dlq = spark.read.parquet(paths.dlq).as[(String, Int)].collect()
    assert(dlq.toSeq.sorted == reasons.keys.toSeq.sorted.map((_, 3)))
    val errs = spark.read.parquet(paths.errors)
    // one error-log row per record per delivery (S4), carrying its reason
    assert(errs.count() == 3 * reasons.size)
    val logged = errs.select("data", "error").as[(String, String)].collect()
      .groupBy(identity).map { case (k, v) => k -> v.length }
    assert(logged == reasons.map(_ -> 3))
  }

  test("streaming JDBC sink: micro-batched DML against Derby, dup absorbed, delete wins") {
    val url = "jdbc:derby:memory:graftstream;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      try conn.createStatement().execute("DROP TABLE acct")
      catch { case _: java.sql.SQLException => () }
      conn.createStatement().execute(
        "CREATE TABLE acct (id BIGINT PRIMARY KEY, name VARCHAR(64), amount BIGINT)")
    } finally conn.close()

    val paths = tmpPaths()
    val ckpt = Files.createTempDirectory("ckpt").toString
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Int)]
    val q = CdcStreaming.startJdbc(spark, mem.toDF().toDF("value", "loop"),
      url, "acct", paths, republishLimit = 3, checkpoint = ckpt)

    mem.addData((ev(1, "alice", 100, "b1", 10), 0), (ev(2, "bob", 200, "b1", 20), 0))
    q.processAllAvailable()
    mem.addData(
      (ev(1, "alice2", 150, "b1", 30, op = "U"), 0),
      (ev(2, "bob", 200, "b1", 40, op = "D"), 0),
      (ev(1, "alice", 100, "b1", 10), 0)) // duplicate insert redelivery (F8)
    q.processAllAvailable()
    q.stop()

    val c2 = java.sql.DriverManager.getConnection(url)
    try {
      val rs = c2.createStatement().executeQuery("SELECT id, name, amount FROM acct ORDER BY id")
      val rows = scala.collection.mutable.ListBuffer[(Long, String, Long)]()
      while (rs.next()) rows += ((rs.getLong(1), rs.getString(2), rs.getLong(3)))
      assert(rows.toList == List((1L, "alice2", 150L)))
    } finally c2.close()
  }

  test("streaming SCD2 sink: history versions across micro-batches, replay is a no-op") {
    val url = "jdbc:derby:memory:graftscd2;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      try conn.createStatement().execute("DROP TABLE hist")
      catch { case _: java.sql.SQLException => () }
      conn.createStatement().execute(
        "CREATE TABLE hist (id BIGINT, ver INT, name VARCHAR(64), amount BIGINT, " +
          "op CHAR(1), src_seq VARCHAR(64), is_current BOOLEAN, PRIMARY KEY (id, src_seq))")
    } finally conn.close()

    def dump(): List[(Long, Int, String, String, Boolean)] = {
      val c = java.sql.DriverManager.getConnection(url)
      try {
        val rs = c.createStatement().executeQuery(
          "SELECT id, ver, name, op, is_current FROM hist ORDER BY id, ver")
        val rows = scala.collection.mutable.ListBuffer[(Long, Int, String, String, Boolean)]()
        while (rs.next())
          rows += ((rs.getLong(1), rs.getInt(2), rs.getString(3),
            rs.getString(4).trim, rs.getBoolean(5)))
        rows.toList
      } finally c.close()
    }

    val paths = tmpPaths()
    val ckpt = Files.createTempDirectory("ckpt").toString
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Int)]
    val q = CdcStreaming.startJdbcScd2(spark, mem.toDF().toDF("value", "loop"),
      url, cdcTable = "acct", histTable = "hist", paths,
      republishLimit = 3, checkpoint = ckpt)

    mem.addData((ev(1, "alice", 100, "b1", 10), 0), (ev(2, "bob", 200, "b1", 20), 0))
    q.processAllAvailable()
    mem.addData(
      (ev(1, "alice2", 150, "b1", 30, op = "U"), 0),
      (ev(2, "bob", 200, "b1", 40, op = "D"), 0),
      (ev(1, "alice", 100, "b1", 10), 0)) // redelivered insert: (id, src_seq) gate
    q.processAllAvailable()
    q.stop()

    val expected = List(
      (1L, 1, "alice", "I", false),  // closed by the update
      (1L, 2, "alice2", "U", true),  // the open version
      (2L, 1, "bob", "I", false),    // closed by the delete
      (2L, 2, null.asInstanceOf[String], "D", false)) // delete tombstone, nothing open
    assert(dump() == expected)

    // replay BOTH batches wholesale: every (id, src_seq) already present
    val mem2 = MemoryStream[(String, Int)]
    val q2 = CdcStreaming.startJdbcScd2(spark, mem2.toDF().toDF("value", "loop"),
      url, cdcTable = "acct", histTable = "hist", paths, republishLimit = 3,
      checkpoint = Files.createTempDirectory("ckpt2").toString)
    mem2.addData(
      (ev(1, "alice", 100, "b1", 10), 0), (ev(2, "bob", 200, "b1", 20), 0),
      (ev(1, "alice2", 150, "b1", 30, op = "U"), 0),
      (ev(2, "bob", 200, "b1", 40, op = "D"), 0))
    q2.processAllAvailable()
    q2.stop()
    assert(dump() == expected, "full replay must leave the history unchanged")
  }

  test("one JSON line per micro-batch: counts equal the hand-counted batch") {
    val paths = tmpPaths()
    implicit val sqlCtx = spark.sqlContext
    // the five-failure fixture of the bounded-retry case, one record at
    // loop 2 so it reaches the DLQ, beside 2 tombstones and 2 I, 1 U, 1 D
    val noTable = ev(7, "t", 1, "b1", 50).replace("\"table\":\"acct\",", "")
    val noImage = ev(8, "x", 1, "b1", 60).replace(
      "\"after\":{\"id\":8,\"name\":\"x\",\"amount\":1}", "\"after\":null")
    val noId = ev(9, "y", 1, "b1", 70).replace("\"id\":9,", "")
    val batch = Seq(
      (ev(1, "alice", 100, "b1", 10), 0), (ev(2, "bob", 200, "b1", 20), 0),
      (ev(1, "alice2", 150, "b1", 30, op = "U"), 0), (ev(2, "bob", 200, "b1", 40, op = "D"), 0),
      ("", 0), ("", 0),
      ("""{"not":"an envelope"}""", 0), ("not json at all", 0), (noTable, 0), (noImage, 0),
      (noId, 2))
    val lines = batchLines {
      val mem = MemoryStream[(String, Int)]
      val q = CdcStreaming.start(spark, mem.toDF().toDF("value", "loop"), paths,
        republishLimit = 3, checkpoint = Files.createTempDirectory("ckpt").toString)
      mem.addData(batch: _*)
      q.processAllAvailable(); q.stop()
    }
    assert(lines.size == 1, lines)
    val j = new ObjectMapper().readTree(lines.head)
    val counts = Seq("valid", "tombstones", "inserts", "updates", "deletes", "sink_rows",
      "retry", "dlq").map(k => k -> j.get(k).asLong).toMap
    assert(counts == Map("valid" -> 4, "tombstones" -> 2, "inserts" -> 2, "updates" -> 1,
      "deletes" -> 1, "sink_rows" -> 4, "retry" -> 4, "dlq" -> 1))
    val invalid = j.get("invalid").properties().asScala
      .map(e => e.getKey -> e.getValue.asLong).toMap
    assert(invalid == Map("unparseable envelope" -> 2L, "no source table" -> 1L,
      "no row image" -> 1L, "missing id" -> 1L))
    assert(Seq("batch_id", "materialize_ms", "sink_ms", "route_ms")
      .forall(k => j.get(k).asLong >= 0))
    // the sinks hold what the line reports
    assert((rows(paths.errors), rows(paths.retry), rows(paths.dlq)) == ((5L, 4L, 1L)))
    val state = CdcStreaming.currentState(spark, paths.state)
      .select("id", "name").as[(Long, String)]
    assert(state.collect().toSeq == Seq((1L, "alice2")))
  }

  test("a failing sink fails the batch after its failure writes have landed; restart recovers") {
    val paths = tmpPaths()
    val ckpt = Files.createTempDirectory("ckpt").toString
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Int)]
    val q = CdcStreaming.startBatches(mem.toDF().toDF("value", "loop"), paths,
      republishLimit = 3, republish = true, ckpt)(_ => throw new IllegalStateException("sink down"))
    mem.addData((ev(1, "alice", 100, "b1", 10), 0), ("not json at all", 0),
      ("""{"not":"an envelope"}""", 2))
    val e = intercept[StreamingQueryException](q.processAllAvailable())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(c => c.isInstanceOf[IllegalStateException] && c.getMessage == "sink down"), e)
    ListenerBusDrain(spark.sparkContext)
    assert(spark.sparkContext.statusTracker.getActiveJobIds.isEmpty)
    assert((rows(paths.errors), rows(paths.retry), rows(paths.dlq)) == ((2L, 1L, 1L)))
    for (p <- Seq(paths.errors, paths.retry, paths.dlq))
      assert(!Files.exists(Paths.get(p, "_temporary")), p)

    // the failed batch was never committed: a restart with a working sink redoes it
    val q2 = CdcStreaming.start(spark, mem.toDF().toDF("value", "loop"), paths,
      republishLimit = 3, checkpoint = ckpt)
    q2.processAllAvailable(); q2.stop()
    val state = CdcStreaming.currentState(spark, paths.state)
      .select("id", "name", "amount").as[(Long, String, Long)]
    assert(state.collect().toSeq == Seq((1L, "alice", 100L)))
  }

  test("the c01 fixture streamed in three micro-batches leaves exactly c01's latest state") {
    val paths = tmpPaths()
    implicit val sqlCtx = spark.sqlContext
    val events = Files.readAllLines(Paths.get(CdcPipeline.eventsPath)).asScala.toSeq.filter(_.nonEmpty)
    val mem = MemoryStream[(String, Int)]
    val q = CdcStreaming.start(spark, mem.toDF().toDF("value", "loop"), paths,
      republishLimit = 3, checkpoint = Files.createTempDirectory("ckpt").toString)
    val batches = events.grouped(6).toSeq
    assert(batches.size == 3)
    batches.foreach { b => mem.addData(b.map((_, 0)): _*); q.processAllAvailable() }
    q.stop()
    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      df.select("db", "tbl", "id", "name", "amount")
        .as[(String, String, Long, Option[String], Option[Long])].collect().toSeq.sorted
    val expected = rowsOf(CdcPipeline.latestState(spark))
    assert(expected.size == 8)
    assert(rowsOf(CdcStreaming.currentState(spark, paths.state)) == expected)
    assert(rows(paths.errors) == 0L)
  }

  test("a record with neither image: op X in the batch faces, \"no row image\" in the consumer") {
    val noImage = ev(8, "x", 1, "b1", 60).replace(
      "\"after\":{\"id\":8,\"name\":\"x\",\"amount\":1}", "\"after\":null")
    val events = Seq(ev(1, "alice", 100, "b1", 10), noImage)
    val path = Files.createTempDirectory("noimage").resolve("events.jsonl")
    Files.writeString(path, events.mkString("", "\n", "\n"))
    val changes = CdcPipeline.changes(spark, path.toString)
      .select("id", "op").as[(Option[Long], String)].collect().toSeq.sorted
    assert(changes == Seq((None, "X"), (Some(1L), "I")))
    val ops = CdcPipeline.opCounts(spark, path.toString).as[(String, String, Long)].collect().toSeq
    assert(ops == Seq(("acct", "I", 1L), ("acct", "X", 1L)))

    val paths = tmpPaths()
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Int)]
    val q = CdcStreaming.start(spark, mem.toDF().toDF("value", "loop"), paths,
      republishLimit = 3, checkpoint = Files.createTempDirectory("ckpt").toString)
    mem.addData(events.map((_, 0)): _*)
    q.processAllAvailable(); q.stop()
    val errs = spark.read.parquet(paths.errors).select("data", "error").as[(String, String)].collect()
    assert(errs.toSeq == Seq((noImage, "no row image")))
    val state = CdcStreaming.currentState(spark, paths.state).select("id").as[Long].collect()
    assert(state.toSeq == Seq(1L))
  }
}
