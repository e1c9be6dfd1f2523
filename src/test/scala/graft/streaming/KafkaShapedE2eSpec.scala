package graft.streaming

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{GraftConfig, SparkSpec}
import graft.sources.{CdcSources, KafkaShapedInputPartition, KafkaShapedPartitionReader, KafkaShapedSource}

/** The S1 gap-closer: the complete consumer assembly (S1 source → F1/F2
  * tombstone filter → P1 envelope parse → upsert / error / retry / DLQ)
  * driven end-to-end through the Kafka-shaped DataSource V2 test source —
  * a genuine streaming source boundary with kafka's schema and offset
  * semantics, no broker required. Covers checkpoint restart (resume, not
  * replay) and maxOffsetsPerTrigger admission (ST6).
  */
class KafkaShapedE2eSpec extends SparkSpec {

  private val envelopes: Seq[String] =
    Files.readAllLines(Paths.get("/root/repo/fixtures/cdc_events.jsonl"))
      .asScala.toSeq.filter(_.nonEmpty)

  private def cfg: GraftConfig = GraftConfig.fromEnv(Map(
    "SERVER" -> "dbserver1", "DBNAME" -> "shop", "TABLE" -> "acct,txn"))

  private def sinkPaths(base: String) = CdcStreaming.SinkPaths(
    s"$base/state", s"$base/errors", s"$base/retry", s"$base/dlq")

  private def stateRows(statePath: String): Seq[(String, String, Long, String, Long)] =
    CdcStreaming.currentState(spark, statePath)
      .select("db", "tbl", "id", "name", "amount")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getString(3), r.getLong(4)))
      .toSeq.sortBy(x => (x._1, x._2, x._3))

  test("source schema is the kafka includeHeaders schema, verbatim") {
    val fixture = Files.createTempDirectory("kshape").toString + "/records.log"
    KafkaShapedSource.writeFixture(fixture, Seq((0, """{"x":1}""")))
    val df = CdcSources.kafkaShapedStream(spark, fixture, "dbserver1.shop.acct")
    assert(df.schema == KafkaShapedSource.SCHEMA)
    assert(df.schema.fieldNames.toSeq ==
      Seq("key", "value", "topic", "partition", "offset",
        "timestamp", "timestampType", "headers"))
  }

  test("offset json round-trips and per-partition counts are dense") {
    import KafkaShapedSource._
    val o = KOffset(Map(0 -> 8L, 1 -> 7L))
    assert(parseOffset(o.json()) == o)
    assert(parseOffset("{}") == KOffset(Map.empty))
    assert(partitionCounts(15L, 2) == Map(0 -> 8L, 1 -> 7L))
    assert(partitionCounts(0L, 2) == Map(0 -> 0L, 1 -> 0L))
  }

  test("full consumer round-trip: envelopes + tombstone + poison through S1→F2→P1→sinks") {
    val base = Files.createTempDirectory("ke2e").toString
    val fixture = s"$base/records.log"
    // real Debezium envelope fixtures, a kafka tombstone (empty value,
    // F2 main.go:124-126), a fresh poison record (loop 0 → retry with
    // loop+1), and a thrice-seen poison (loop header 2 → DLQ at limit 3)
    KafkaShapedSource.writeFixture(fixture,
      envelopes.map((0, _)) ++ Seq((0, ""), (0, "not json at all"), (2, "poison pill")))
    val paths = sinkPaths(base)
    val src = CdcSources.fromKafkaFrame(
      CdcSources.kafkaShapedStream(spark, fixture, "dbserver1.shop.acct"))
    val q = Consumer.start(spark, cfg, src, paths, checkpoint = s"$base/ckpt")
    q.processAllAvailable()
    q.stop()
    // the streamed state must equal the one-shot batch application of the
    // same envelopes (stream ≡ batch through the same parse/upsert path)
    val batchBase = Files.createTempDirectory("kbatch").toString
    import spark.implicits._
    val (valid, _) = CdcStreaming.parseBatch(
      envelopes.map((_, 0)).toDF("value", "loop"))
    CdcStreaming.upsertBatch(spark, valid, s"$batchBase/state")
    assert(stateRows(paths.state) == stateRows(s"$batchBase/state"))
    // routing: both poisons error-logged; fresh one retried at loop 1;
    // saturated one dead-lettered at loop 3; tombstone NOWHERE
    val errs = spark.read.parquet(paths.errors)
      .select("data", "loop").collect().map(r => (r.getString(0), r.getInt(1))).toSeq.sorted
    assert(errs == Seq(("not json at all", 0), ("poison pill", 2)))
    val retry = spark.read.parquet(paths.retry)
      .select("value", "loop").collect().map(r => (r.getString(0), r.getInt(1))).toSeq
    assert(retry == Seq(("not json at all", 1)))
    val dlq = spark.read.parquet(paths.dlq)
      .select("value", "loop").collect().map(r => (r.getString(0), r.getInt(1))).toSeq
    assert(dlq == Seq(("poison pill", 3)))
  }

  test("checkpoint restart resumes from the committed offset — no replay, new data applied once") {
    val base = Files.createTempDirectory("krestart").toString
    val fixture = s"$base/records.log"
    val phase1 = envelopes.take(6)
    // one poison in phase 1: the errors sink is APPEND-mode, so any
    // replay after restart would double its row count — the replay canary
    KafkaShapedSource.writeFixture(fixture, phase1.map((0, _)) :+ ((0, "poison")))
    val paths = sinkPaths(base)
    def start() = Consumer.start(spark, cfg,
      CdcSources.fromKafkaFrame(
        CdcSources.kafkaShapedStream(spark, fixture, "dbserver1.shop.acct")),
      paths, checkpoint = s"$base/ckpt")
    val q1 = start()
    q1.processAllAvailable()
    q1.stop()
    assert(spark.read.parquet(paths.errors).count() == 1)
    // stop → append the remaining envelopes → restart on the SAME checkpoint
    KafkaShapedSource.appendFixture(fixture, envelopes.drop(6).map((0, _)))
    val q2 = start()
    q2.processAllAvailable()
    // offsets resumed past phase 1 and now cover all 16 lines (8 per partition)
    val end = q2.lastProgress.sources.head.endOffset
    assert(end == """{"0":8,"1":8}""", s"unexpected end offset: $end")
    q2.stop()
    assert(spark.read.parquet(paths.errors).count() == 1,
      "append-mode errors sink grew across restart — phase-1 records were replayed")
    // and the final state equals the batch application of ALL envelopes
    val batchBase = Files.createTempDirectory("kbatch2").toString
    import spark.implicits._
    val (valid, _) = CdcStreaming.parseBatch(
      envelopes.map((_, 0)).toDF("value", "loop"))
    CdcStreaming.upsertBatch(spark, valid, s"$batchBase/state")
    assert(stateRows(paths.state) == stateRows(s"$batchBase/state"))
  }

  test("maxOffsetsPerTrigger bounds every micro-batch (ST6 admission control)") {
    val base = Files.createTempDirectory("kadmit").toString
    val fixture = s"$base/records.log"
    KafkaShapedSource.writeFixture(fixture, envelopes.take(10).map((0, _)))
    val counted = new java.util.concurrent.atomic.AtomicLong()
    val batches = new java.util.concurrent.CopyOnWriteArrayList[Long]()
    val q = CdcSources.fromKafkaFrame(
        CdcSources.kafkaShapedStream(spark, fixture, "dbserver1.shop.acct",
          maxOffsetsPerTrigger = Some(3L)))
      .writeStream
      .option("checkpointLocation", s"$base/ckpt")
      .foreachBatch { (b: DataFrame, _: Long) =>
        val n = b.count()
        if (n > 0) { batches.add(n); counted.addAndGet(n) }
        ()
      }
      .start()
    q.processAllAvailable()
    q.stop()
    assert(counted.get() == 10L, s"all records must arrive exactly once, got ${counted.get()}")
    val sizes = batches.asScala.toSeq
    assert(sizes.forall(_ <= 3L), s"a batch exceeded the trigger cap: $sizes")
    assert(sizes.size >= 4, s"10 records at cap 3 need >= 4 batches, got $sizes")
  }

  test("loop headers ride the kafka frame; tombstones decode to null values") {
    val base = Files.createTempDirectory("khdr").toString
    val fixture = s"$base/records.log"
    KafkaShapedSource.writeFixture(fixture,
      Seq((0, "plain"), (2, "retried"), (0, "")))
    val got = new java.util.concurrent.CopyOnWriteArrayList[(String, Int)]()
    val q = CdcSources.fromKafkaFrame(
        CdcSources.kafkaShapedStream(spark, fixture, "t", numPartitions = 1))
      .writeStream
      .option("checkpointLocation", s"$base/ckpt")
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.collect().foreach(r =>
          got.add((if (r.isNullAt(0)) null else r.getString(0), r.getInt(1))))
        ()
      }
      .start()
    q.processAllAvailable()
    q.stop()
    assert(got.asScala.toSeq == Seq(("plain", 0), ("retried", 2), (null, 0)),
      "value decode / loop-header extraction / tombstone-null contract broke")
  }

  test("a reader parses only its own range: a mid-file range returns exactly its records") {
    import java.nio.charset.StandardCharsets.UTF_8
    import KafkaShapedSource._
    val fixture = Files.createTempDirectory("krange").toString + "/records.log"
    // records 0..9, an empty line after record 4 (skipped, not numbered)
    // and record 7 malformed (no tab)
    val recs = (0 until 10).map(i => if (i == 7) "garbage" else s"${i % 3}\trec$i")
    Files.writeString(Paths.get(fixture),
      (recs.take(5) ++ Seq("") ++ recs.drop(5)).mkString("", "\n", "\n"))
    def read(partition: Int, start: Long, end: Long): Seq[(Long, String, Long, Int)] = {
      val r = new KafkaShapedPartitionReader(
        KafkaShapedInputPartition(fixture, "t", partition, 2, start, end))
      try Iterator.continually(r.next()).takeWhile(identity).map { _ =>
        val row = r.get()
        (row.getLong(4), new String(row.getBinary(1), UTF_8), row.getLong(5),
          row.getArray(7).numElements())
      }.toList
      finally r.close()
    }
    // partition 1, offsets [1, 3) = records 3 and 5: the malformed record 7
    // lies past the range and is never parsed
    assert(read(1, 1, 3) == Seq((1L, "rec3", 3000000L, 0), (2L, "rec5", 5000000L, 1)))
    assert(read(0, 0, 2) == Seq((0L, "rec0", 0L, 0), (1L, "rec2", 2000000L, 1)))
    // a returned record is still checked
    assert(intercept[IllegalArgumentException](read(1, 3, 4)).getMessage
      .contains("malformed fixture line"))
    // partition 0 offset 5 is record 10, one past the last
    assert(intercept[IllegalArgumentException](read(0, 4, 6)).getMessage
      .contains("maps past the fixture"))
    assert(countRecords(fixture) == 10L)
  }
}
