package graft.streaming

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._
import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.cdc.CdcPipeline

/** The merge-on-read state log of [[CdcStreaming.upsertBatch]]: a crash
  * in either commit window loses nothing, the base + deltas read equals
  * the binlog-latest state of every batch so far, a commit writes only
  * its batch's rows, and each commit reports its manifest.
  */
class StateLogSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._
  import StateLogSpec.ev

  private def valid(events: Seq[String]): DataFrame =
    CdcStreaming.parseBatch(events.map((_, 0)).toDF("value", "loop"))._1

  private def commit(state: String, events: String*): CdcStreaming.StateCommit =
    CdcStreaming.upsertBatch(spark, valid(events), state)

  private def stateRows(state: String): Seq[Row] =
    CdcStreaming.currentState(spark, state).collect().toSeq.sortBy(_.getAs[Long]("id"))

  private def entries(root: Path): Set[String] = {
    val s = Files.list(root)
    try s.iterator().asScala.map(_.getFileName.toString).toSet finally s.close()
  }

  private def manifest(root: Path): Seq[String] =
    Files.readAllLines(root.resolve("_CURRENT")).asScala.toSeq

  private def newState(): (String, Path) = {
    val state = Files.createTempDirectory("statelog").toString + "/state"
    (state, Paths.get(state))
  }

  test("a crash after the delta write, before the manifest rename, loses nothing") {
    val (state, root) = newState()
    commit(state, ev(1, "alice", 100, 10))
    commit(state, ev(2, "bob", 200, 20))
    val before = stateRows(state)
    // the delta directory is written, the manifest rename never happens
    Seq("poison").toDF("x").write.parquet(root.resolve("v00000003").toString)
    Files.writeString(root.resolve("_CURRENT.tmp"), "v00000001\nv00000002\nv00000003\n")
    assert(stateRows(state) == before, "readers see the old manifest")

    commit(state, ev(3, "carol", 300, 30))
    assert(manifest(root) == Seq("v00000001", "v00000002", "v00000004"))
    assert(entries(root) == Set("v00000001", "v00000002", "v00000004", "_CURRENT"))
    assert(stateRows(state).map(_.getAs[String]("name")) == Seq("alice", "bob", "carol"))
  }

  test("a crash after compaction wrote its base, before the manifest rename, loses nothing") {
    val (state, root) = newState()
    (1 to CdcStreaming.MaxDeltas).foreach(i => commit(state, ev(i, s"n$i", i, 10L * i)))
    val committed = manifest(root)
    assert(committed.size == CdcStreaming.MaxDeltas)
    // the next commit's delta is published, its compaction writes the new
    // base, and the manifest naming that base alone is never renamed
    val delta = f"v${CdcStreaming.MaxDeltas + 1}%08d"
    val base = f"v${CdcStreaming.MaxDeltas + 2}%08d"
    commitWithoutCompaction(state, delta, ev(99, "zed", 99, 990))
    Seq("poison").toDF("x").write.parquet(root.resolve(base).toString)
    Files.writeString(root.resolve("_CURRENT.tmp"), base + "\n")
    assert(manifest(root) == committed :+ delta)
    assert(stateRows(state).map(_.getAs[Long]("id")) ==
      ((1L to CdcStreaming.MaxDeltas.toLong) :+ 99L), "readers see the manifest with the deltas")

    // the next commit skips the orphan's number, garbage-collects it, and
    // compacts
    val c = commit(state, ev(100, "yan", 100, 1000))
    val compacted = f"v${CdcStreaming.MaxDeltas + 4}%08d"
    assert(c.compactedRows.contains(CdcStreaming.MaxDeltas + 2L))
    assert(manifest(root) == Seq(compacted))
    assert(entries(root) == Set(compacted, "_CURRENT"))
    assert(stateRows(state).map(_.getAs[Long]("id")) ==
      ((1L to CdcStreaming.MaxDeltas.toLong) ++ Seq(99L, 100L)))
  }

  /** Publish one delta at `version` the way a commit does, short of
    * compacting: the state of the crash window above.
    */
  private def commitWithoutCompaction(state: String, version: String, event: String): Unit = {
    val root = Paths.get(state)
    val incoming = valid(Seq(event)).select(Seq(col("db"), col("tbl"), col("id")) ++
      CdcPipeline.image(col("after")) ++ Seq(col("op"), col("file"), col("pos"), col("row")): _*)
    CdcPipeline.latest(incoming).write.parquet(root.resolve(version).toString)
    Files.writeString(root.resolve("_CURRENT.tmp"),
      (manifest(root) :+ version).mkString("", "\n", "\n"))
    Files.move(root.resolve("_CURRENT.tmp"), root.resolve("_CURRENT"),
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
  }

  test("a batch committed twice (replay after a crash before the streaming commit) changes nothing") {
    val (state, _) = newState()
    commit(state, ev(1, "alice", 100, 10), ev(2, "bob", 200, 20))
    val batch = Seq(ev(1, "alice2", 150, 30, op = "U"), ev(2, "bob", 200, 40, op = "D"),
      ev(3, "carol", 300, 50))
    commit(state, batch: _*)
    val once = stateRows(state)
    commit(state, batch: _*)
    assert(stateRows(state) == once)
    assert(once.map(r => (r.getAs[Long]("id"), r.getAs[String]("name"))) ==
      Seq((1L, "alice2"), (3L, "carol")))
  }

  test("base + deltas read = the binlog-latest state of every batch so far, across compactions") {
    val (state, _) = newState()
    val rnd = new Random(20261020L)
    val Keys = 30
    var fresh = 0L                                   // fresh events take even positions
    val usedOdd = scala.collection.mutable.Set.empty[Long] // late ones take unused odd ones
    val live = scala.collection.mutable.Map.empty[Long, Boolean].withDefaultValue(false)
    val deletedAt = scala.collection.mutable.Map.empty[Long, Long] // the key's newest delete
    val sent = scala.collection.mutable.ArrayBuffer.empty[String]
    val cases = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    def event(): String = {
      val r = rnd.nextDouble()
      if (r < 0.15 && sent.nonEmpty) {
        cases("redelivered") += 1
        sent(rnd.nextInt(sent.size))
      } else if (r < 0.35 && fresh > 4) {
        // an update older than events already sent; for a key deleted
        // after it, it must not resurrect the key
        val pos = Iterator.continually(2L * rnd.nextLong(fresh / 2) + 1).find(!usedOdd(_)).get
        usedOdd += pos
        val id = rnd.nextInt(Keys).toLong
        cases(if (!live(id) && deletedAt.get(id).exists(_ > pos)) "late update to a deleted key"
          else "late update") += 1
        ev(id, s"late$pos", pos, pos, op = "U")
      } else {
        fresh += 2
        val id = rnd.nextInt(Keys).toLong
        val op = if (!live(id)) "I" else if (rnd.nextDouble() < 0.3) "D" else "U"
        if (op == "I" && deletedAt.contains(id)) cases("reinsert after delete") += 1
        if (op == "D") deletedAt(id) = fresh
        live(id) = op != "D"
        ev(id, s"v$fresh", fresh, fresh, op)
      }
    }
    val columns = Seq(col("db"), col("tbl"), col("id")) ++ CdcPipeline.image(col("after")) ++
      Seq(col("op"), col("file"), col("pos"), col("row"))
    val batches = 2 * CdcStreaming.MaxDeltas + 2
    val compactions = (1 to batches).count { b =>
      val batch = Seq.fill(1 + rnd.nextInt(6))(event())
      sent ++= batch
      val c = commit(state, batch: _*)
      val expected = CdcPipeline.latest(valid(sent.toSeq).select(columns: _*))
        .filter(col("op") =!= "D").collect().toSeq.sortBy(_.getAs[Long]("id"))
      assert(stateRows(state) == expected, s"after batch $b")
      c.compactedRows.isDefined
    }
    assert(compactions >= 2)
    assert(Seq("redelivered", "late update", "late update to a deleted key", "reinsert after delete")
      .forall(cases(_) > 0), cases)
  }

  test("a commit writes only its batch's rows; the base is untouched and the read shuffles only touched keys") {
    val (state, root) = newState()
    val seedKeys = 10000L
    val seed = spark.range(seedKeys).as[Long].map(id => ev(id, s"s$id", id, 10 + id)).toDF("value")
      .withColumn("loop", lit(0))
    CdcStreaming.upsertBatch(spark, CdcStreaming.parseBatch(seed)._1, state)
    def files(v: String): Map[String, (Long, Long)] = {
      val s = Files.list(root.resolve(v))
      try s.iterator().asScala.map(f =>
        f.getFileName.toString -> (Files.size(f), Files.getLastModifiedTime(f).toMillis)).toMap
      finally s.close()
    }
    val baseFiles = files("v00000001")
    val batch = (0L until 50L).map(i => ev(i * 199, s"u$i", i, 100000 + i, op = "U"))
    val c = commit(state, batch: _*)
    assert(manifest(root) == Seq("v00000001", "v00000002"))
    assert(c.deltaRows == 50L && c.compactedRows.isEmpty)
    assert(spark.read.parquet(root.resolve("v00000002").toString).count() <= 50L)
    assert(files("v00000001") == baseFiles, "the commit rewrote the base")

    val live = CdcStreaming.currentState(spark, state)
    assert(live.collect().length == seedKeys)
    val shuffled = collect(live.queryExecution.executedPlan) {
      case s: ShuffleExchangeExec => s.metrics("shuffleRecordsWritten").value
    }.sum
    assert(shuffled <= 2 * batch.size, s"the read shuffled $shuffled rows")
  }

  test("each state commit reports its manifest, delta rows, compaction and time") {
    val (state, _) = newState()
    val paths = CdcStreaming.SinkPaths(state, s"$state-errors", s"$state-retry", s"$state-dlq")
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val capture = new AbstractAppender("commit-lines", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = lines.add(e.getMessage.getFormattedMessage)
    }
    val logger = LogManager.getLogger("graft.streaming.batch").asInstanceOf[Logger]
    val level = logger.getLevel
    capture.start()
    logger.addAppender(capture)
    logger.setLevel(Level.INFO)
    val batches = CdcStreaming.MaxDeltas + 2
    try {
      implicit val sqlCtx = spark.sqlContext
      val mem = MemoryStream[(String, Int)]
      val q = CdcStreaming.start(spark, mem.toDF().toDF("value", "loop"), paths,
        republishLimit = 3, checkpoint = Files.createTempDirectory("ckpt").toString)
      (1 to batches).foreach { i =>
        // one new key and one redelivery of the previous batch's event
        mem.addData(Seq((ev(i, s"n$i", i, 10L * i), 0)) ++
          (if (i > 1) Seq((ev(i - 1, s"n${i - 1}", i - 1, 10L * (i - 1)), 0)) else Nil): _*)
        q.processAllAvailable()
      }
      q.stop()
    } finally { logger.removeAppender(capture); logger.setLevel(level); capture.stop() }
    val mapper = new ObjectMapper()
    val commits = lines.asScala.toSeq.map(l => mapper.readTree(l).get("commit"))
    assert(commits.size == batches)
    def fields(i: Int) = {
      val c = commits(i - 1)
      (c.get("base").asText, c.get("deltas").asInt, c.get("delta_rows").asLong,
        c.get("compacted").asBoolean, c.get("compacted_rows").asLong)
    }
    val k = CdcStreaming.MaxDeltas
    val expected = (1 to batches).map { i =>
      if (i <= k) ("v00000001", i - 1, if (i == 1) 1L else 2L, false, 0L)
      else if (i == k + 1) (f"v${k + 2}%08d", 0, 2L, true, k + 1L)
      else (f"v${k + 2}%08d", 1, 2L, false, 0L)
    }
    assert((1 to batches).map(fields) == expected)
    assert(commits.forall(_.get("commit_ms").asLong >= 0))
  }
}

object StateLogSpec {
  /** One change of key `id` at binlog position `pos` of file b1. */
  def ev(id: Long, name: String, amount: Long, pos: Long, op: String = "I"): String = {
    val before = if (op == "I") "null" else s"""{"id":$id,"name":"old","amount":0}"""
    val after = if (op == "D") "null" else s"""{"id":$id,"name":"$name","amount":$amount}"""
    s"""{"payload":{"before":$before,"after":$after,""" +
      s""""source":{"version":"1","connector":"mysql","name":"s","ts_ms":0,""" +
      s""""snapshot":"false","db":"shop","table":"acct","server_id":1,""" +
      s""""file":"b1","pos":$pos,"row":0},"op":"c","ts_ms":0}}"""
  }
}
