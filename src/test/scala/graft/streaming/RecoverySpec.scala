package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** ST1 recovery semantics: a stream restarted from its checkpoint
  * continues (no reprocessing, no loss), and the stateful streaming
  * dropDuplicates operator absorbs cross-batch duplicates.
  */
class RecoverySpec extends SparkSpec {
  import spark.implicits._

  test("restart from the same checkpoint continues without re-emitting") {
    implicit val sqlCtx = spark.sqlContext
    val ckpt = Files.createTempDirectory("ckpt").toString
    val out = Files.createTempDirectory("out").toString

    val mem1 = MemoryStream[Long]
    val q1 = mem1.toDF().toDF("v").writeStream
      .option("checkpointLocation", ckpt)
      .format("parquet").option("path", out).start()
    mem1.addData(1L, 2L, 3L)
    q1.processAllAvailable()
    q1.stop()

    // data added while the query is DOWN, then restart from the SAME
    // checkpoint: the committed offsets resume, nothing re-emits
    mem1.addData(10L, 11L)
    val q2 = mem1.toDF().toDF("v").writeStream
      .option("checkpointLocation", ckpt)
      .format("parquet").option("path", out).start()
    q2.processAllAvailable()
    q2.stop()

    val vals = spark.read.parquet(out).as[Long].collect().sorted.toSeq
    assert(vals == Seq(1L, 2L, 3L, 10L, 11L))
  }

  test("state commit survives a crash between data write and manifest publish") {
    import java.nio.file.Paths
    val statePath = Files.createTempDirectory("state").toString + "/state"
    def ev(id: Long, name: String, amount: Long, pos: Long): String =
      (s"""{"payload":{"before":null,"after":{"id":$id,"name":"$name","amount":$amount},""" +
        s""""source":{"version":"1","connector":"mysql","name":"s","ts_ms":0,""" +
        s""""snapshot":"false","db":"shop","table":"acct","server_id":1,""" +
        s""""file":"b1","pos":$pos,"row":0},"op":"c","ts_ms":0}}""")
    def apply(values: String*): Unit = {
      val (valid, _) = CdcStreaming.parseBatch(
        values.map((_, 0)).toDF("value", "loop"))
      CdcStreaming.upsertBatch(spark, valid, statePath)
    }
    def names(): Set[String] =
      CdcStreaming.currentState(spark, statePath)
        .collect().map(_.getAs[String]("name")).toSet

    apply(ev(1, "alice", 100, 10))
    assert(names() == Set("alice"))

    // simulate a commit killed AFTER writing its version dir but BEFORE the
    // atomic manifest rename: an orphan v-dir plus a stale manifest tmp
    val root = Paths.get(statePath)
    Seq("poison").toDF("x").write.parquet(root.resolve("v00000002").toString)
    Files.writeString(root.resolve("_CURRENT.tmp"), "v00000002")

    // the orphan is invisible to readers — the manifest still names v1
    assert(names() == Set("alice"))

    // the next commit must skip past the orphan (never re-use its number),
    // merge from the COMMITTED version, and garbage-collect everything else
    apply(ev(2, "bob", 200, 20))
    assert(names() == Set("alice", "bob"))
    val left = Files.list(root).iterator()
    val entries = Iterator.continually(left).takeWhile(_.hasNext).map(_.next().getFileName.toString).toSet
    assert(entries == Set("v00000001", "v00000003", "_CURRENT"), s"dir: $entries")
  }

  test("streaming dropDuplicates holds state across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val ckpt = Files.createTempDirectory("ckpt").toString
    val seen = scala.collection.mutable.ListBuffer[Seq[Long]]()
    val mem = MemoryStream[Long]
    val q = mem.toDF().toDF("event_id")
      .dropDuplicates("event_id")
      .writeStream
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        seen.synchronized {
          seen += batch.select(col("event_id")).collect().map(_.getLong(0)).toSeq.sorted
        }
        ()
      }
      .start()
    mem.addData(1L, 2L, 2L, 3L)   // intra-batch dup
    q.processAllAvailable()
    mem.addData(2L, 3L, 4L)       // cross-batch dups + one new
    q.processAllAvailable()
    q.stop()
    val emitted = seen.flatten
    assert(emitted.sorted == Seq(1L, 2L, 3L, 4L))
    assert(seen.last.forall(v => v == 4L), s"cross-batch dups re-emitted: $seen")
  }
}
