package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Streaming NEAR-dup suppression: a near-duplicate (changed token, so a
  * different content hash — exact dedup would admit it) arriving in a
  * LATER micro-batch is suppressed; unrelated docs pass; state expires on
  * the event-time horizon and a post-horizon near-copy is re-admitted.
  */
class StreamingNearDedupSpec extends SparkSpec {
  import spark.implicits._

  private val A  = "the quick brown fox jumps over the lazy dog at dawn today"
  private val A2 = "the quick brown fox jumps over the lazy dog at dawn tonight" // near-dup of A
  private val B  = "spark structured streaming shards keyed state across executors by bucket"
  private val B2 = "spark structured streaming shards keyed state across executors by partition" // near-dup of B
  private val C  = "completely unrelated corpus text mentioning neither foxes nor state stores"

  private def run(batches: Seq[Seq[(Long, String, Long)]]): Seq[Seq[Long]] = {
    implicit val sqlCtx = spark.sqlContext
    val ckpt = Files.createTempDirectory("ckpt").toString
    val emitted = scala.collection.mutable.ListBuffer[Seq[Long]]()
    val mem = MemoryStream[(Long, String, Long)]
    val src = mem.toDF().toDF("doc_id", "text", "sec")
      .withColumn("ts", timestamp_seconds(col("sec")))
    val q = StreamingNearDedup.verdicts(src, "ts", horizonMs = 10000L).toDF()
      .writeStream
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .foreachBatch { (b: DataFrame, _: Long) =>
        emitted.synchronized {
          emitted += StreamingNearDedup.admitted(b)
            .collect().map(_.getLong(0)).toSeq.sorted
        }
        ()
      }
      .start()
    batches.foreach { rows => mem.addData(rows: _*); q.processAllAvailable() }
    q.stop()
    emitted.toSeq.filter(_.nonEmpty)
  }

  test("cross-batch near-dup suppressed; unrelated and in-batch ordering handled; horizon re-admits") {
    val out = run(Seq(
      // b1: original admitted; watermark -> 90s
      Seq((1L, A, 100L)),
      // b2: 2 is a near-dup of 1 (changed token -> different md5) ->
      // suppressed; 3 is unrelated -> admitted; 6 is a near-dup of 3
      // WITHIN the batch (processed after 3 by (ts, id) order) -> suppressed
      Seq((2L, A2, 200L), (3L, B, 200L), (6L, B2, 200L)),
      // b3: unrelated, pushes the watermark to 390s so every stored
      // signature (expiries 110s, 210s) ages out
      Seq((5L, C, 400L)),
      // b4: near-copy of 1 after state expiry -> re-admitted
      Seq((4L, A, 500L))))
    assert(out == Seq(Seq(1L), Seq(3L), Seq(5L), Seq(4L)), s"got $out")
  }

  test("streaming persisted-index probe agrees with the batch d16 probe verdict") {
    implicit val sqlCtx = spark.sqlContext
    // "yesterday": the sf0.001 base corpus (doc_id % 5 != 0) indexed once
    val d = "/root/testdata/sf0.001"
    val dir = Files.createTempDirectory("smhidx").toString
    val docs = spark.read.parquet(s"$d/documents.parquet")
    graft.operators.Dedup.writeMinhashIndex(
      docs.filter(expr("doc_id % 5 != 0")), dir)
    // "today": a small delta streamed in one batch
    val delta = docs.filter(expr("doc_id % 5 = 0 AND doc_id < 150"))
      .select("doc_id", "text").collect().map(r => (r.getLong(0), r.getString(1)))
    // batch expectation from the registered probe over the same delta
    val batchDup = graft.operators.Dedup.probeMinhashIndex(spark, dir,
        docs.filter(expr("doc_id % 5 = 0 AND doc_id < 150")))
      .filter(col("is_dup") === 1).collect().map(_.getLong(0)).toSet
    assert(batchDup.nonEmpty, "fixture lost its planted cross-batch dups")
    val ckpt = Files.createTempDirectory("smhidx-ckpt").toString
    val adm = scala.collection.mutable.ListBuffer[Long]()
    val mem = MemoryStream[(Long, String)]
    val src = mem.toDF().toDF("doc_id", "text")
    val q = StreamingNearDedup.indexMatches(src, dir)
      .writeStream
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .foreachBatch { (b: DataFrame, _: Long) =>
        adm.synchronized {
          adm ++= StreamingNearDedup.indexAdmitted(b).collect().map(_.getLong(0))
        }
        ()
      }
      .start()
    mem.addData(delta.toSeq: _*)
    q.processAllAvailable()
    q.stop()
    val suppressed = delta.map(_._1).toSet -- adm.toSet
    assert(suppressed == batchDup,
      s"streaming suppressed $suppressed, batch says $batchDup")
  }

  test("index refresh is an offsets-only restart: new index used, no offsets re-processed") {
    // indexMatches documents that a path-based parquet index pins its
    // file listing at query start, so a refresh needs a RESTART — which
    // is free because the checkpoint holds only source offsets. Prove
    // both halves: after stop -> append day-2 -> restart from the SAME
    // checkpoint, (a) a copy of day-2 content flips from admitted to
    // suppressed (the new files are live), and (b) no batch-1 offset is
    // re-processed (batch-1 doc_ids never reappear in foreachBatch).
    implicit val sqlCtx = spark.sqlContext
    val d = "/root/testdata/sf0.001"
    val dir = Files.createTempDirectory("refresh-idx").toString
    val ckpt = Files.createTempDirectory("refresh-ckpt").toString
    val docs = spark.read.parquet(s"$d/documents.parquet")
    val day1 = docs.filter(expr("doc_id % 5 != 0"))
    val day2 = docs.filter(expr("doc_id % 5 = 0")).select("doc_id", "text")
    graft.operators.Dedup.writeMinhashIndex(day1, dir)
    // X: a day-2 doc with NO candidate in the day-1 index (absent from
    // the probe verdict frame entirely), so a copy of X is admitted
    // before the refresh and suppressed only after
    val day2Probe = graft.operators.Dedup.probeMinhashIndex(spark, dir, day2)
    val withCand = day2Probe.select("doc_id").collect().map(_.getLong(0)).toSet
    graft.operators.Graph.release(day2Probe)
    val x = day2.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .filter(t => !withCand.contains(t._1)).minBy(_._1)
    // control: a byte-copy of a day-1 doc proves the index is live at all
    val ctl = day1.select("doc_id", "text").orderBy("doc_id").limit(1)
      .collect().map(r => (r.getLong(0), r.getString(1))).head
    val seen = scala.collection.mutable.ListBuffer[Set[Long]]()
    val adm = scala.collection.mutable.ListBuffer[Long]()
    val mem = MemoryStream[(Long, String)]
    def start() = StreamingNearDedup.indexMatches(
        mem.toDF().toDF("doc_id", "text"), dir)
      .writeStream
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .foreachBatch { (b: DataFrame, _: Long) =>
        val batch = b.localCheckpoint(true)
        seen.synchronized {
          seen += batch.select("doc_id").distinct().collect().map(_.getLong(0)).toSet
          adm ++= StreamingNearDedup.indexAdmitted(batch).collect().map(_.getLong(0))
        }
        graft.operators.Graph.release(batch)
        ()
      }
      .start()
    val q1 = start()
    mem.addData((900001L, x._2), (900011L, ctl._2))
    q1.processAllAvailable()
    q1.stop()
    assert(adm.toSet == Set(900001L), s"pre-refresh verdicts wrong: $adm")
    // refresh: absorb day-2 into the index while the query is down
    graft.operators.Dedup.appendToMinhashIndex(day2, dir)
    val q2 = start()
    q2.processAllAvailable() // restart replays NOTHING...
    val batch1Ids = Set(900001L, 900011L)
    assert(seen.drop(1).forall(s => s.intersect(batch1Ids).isEmpty),
      s"restart re-processed batch-1 offsets: $seen")
    mem.addData((900002L, x._2)) // ...and the SAME content is now suppressed
    q2.processAllAvailable()
    q2.stop()
    assert(!adm.contains(900002L),
      s"refreshed index not used after restart: $adm")
    assert(seen.count(_.contains(900001L)) == 1,
      s"batch-1 offsets re-processed: $seen")
  }

  test("streaming exact-then-near agrees with the batch composed verdict; exact kills skip the near tier") {
    implicit val sqlCtx = spark.sqlContext
    val d = "/root/testdata/sf0.001"
    val exactDir = Files.createTempDirectory("setn-ex").toString
    val mhDir = Files.createTempDirectory("setn-mh").toString
    val ckpt = Files.createTempDirectory("setn-ckpt").toString
    val docs = spark.read.parquet(s"$d/documents.parquet")
    val base = docs.filter(expr("doc_id % 5 != 0"))
    graft.operators.Dedup.writeExactIndex(base, exactDir)
    graft.operators.Dedup.writeMinhashIndex(base, mhDir)
    // the d18 delta shape: the %5 slice plus planted byte-copies of base
    // docs, so the exact tier provably kills rows
    val deltaDf = docs.filter(expr("doc_id % 5 = 0")).select("doc_id", "text")
      .unionAll(base
        .filter(expr(s"doc_id % ${graft.operators.Dedup.EXACT_PLANT_STRIDE} = 1"))
        .select((col("doc_id") + graft.operators.Dedup.EXACT_PLANT_OFFSET)
          .as("doc_id"), col("text")))
    val batch = graft.operators.Dedup.probeExactThenNear(
      spark, exactDir, mhDir, deltaDf)
    val batchRows = batch.collect()
    graft.operators.Graph.release(batch)
    val batchDup = batchRows.filter(_.getAs[Int]("is_dup") == 1)
      .map(_.getAs[Long]("doc_id")).toSet
    val exactIds = batchRows.filter(_.getAs[String]("tier") == "exact")
      .map(_.getAs[Long]("doc_id")).toSet
    assert(exactIds.nonEmpty, "fixture lost its planted exact copies")
    val delta = deltaDf.collect().map(r => (r.getLong(0), r.getString(1)))
    val adm = scala.collection.mutable.ListBuffer[Long]()
    val tiers = scala.collection.mutable.ListBuffer[(Long, String)]()
    val mem = MemoryStream[(Long, String)]
    val q = StreamingNearDedup.exactThenNearMatches(
        mem.toDF().toDF("doc_id", "text"), exactDir, mhDir)
      .writeStream
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .foreachBatch { (b: DataFrame, _: Long) =>
        adm.synchronized {
          val rows = b.collect()
          tiers ++= rows.map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("tier")))
          adm ++= StreamingNearDedup.indexAdmitted(b).collect().map(_.getLong(0))
        }
        ()
      }
      .start()
    mem.addData(delta.toSeq: _*)
    q.processAllAvailable()
    q.stop()
    val suppressed = delta.map(_._1).toSet -- adm.toSet
    assert(suppressed == batchDup,
      s"streaming suppressed $suppressed, batch says $batchDup")
    // the composition pin: an exact-matched doc generates NO near-tier row
    // (it never reaches the signature build or a band lookup)
    val nearIds = tiers.filter(_._2 == "near").map(_._1).toSet
    assert(exactIds.intersect(nearIds).isEmpty,
      s"exact-killed docs leaked into the near tier: ${exactIds.intersect(nearIds)}")
  }

  test("composed probe refresh: an exact-index append flips a copy to exact-suppressed after restart") {
    // the composed probe's refresh story must hold for the EXACT tier
    // too: its Bloom filter is read ONCE at query build (a driver-side
    // literal), so only a restart can widen it. After stop ->
    // appendToExactIndex(new docs) -> restart from the SAME checkpoint,
    // a byte-copy of an appended doc flips from admitted to
    // exact-suppressed, and no batch-1 offset re-processes.
    implicit val sqlCtx = spark.sqlContext
    val d = "/root/testdata/sf0.001"
    val exactDir = Files.createTempDirectory("setnr-ex").toString
    val mhDir = Files.createTempDirectory("setnr-mh").toString
    val ckpt = Files.createTempDirectory("setnr-ckpt").toString
    val docs = spark.read.parquet(s"$d/documents.parquet")
    val day1 = docs.filter(expr("doc_id % 5 != 0"))
    val day2 = docs.filter(expr("doc_id % 5 = 0")).select("doc_id", "text")
    graft.operators.Dedup.writeExactIndex(day1, exactDir)
    graft.operators.Dedup.writeMinhashIndex(day1, mhDir)
    // a day-2 doc with no near-candidate in the day-1 band index, so its
    // byte-copy is fully admitted pre-refresh and exact-suppressed after
    val day2Probe = graft.operators.Dedup.probeMinhashIndex(spark, mhDir, day2)
    val withCand = day2Probe.select("doc_id").collect().map(_.getLong(0)).toSet
    graft.operators.Graph.release(day2Probe)
    val x = day2.collect().map(r => (r.getLong(0), r.getString(1)))
      .filter(t => !withCand.contains(t._1)).minBy(_._1)
    val seen = scala.collection.mutable.ListBuffer[Set[Long]]()
    val adm = scala.collection.mutable.ListBuffer[Long]()
    val tiers = scala.collection.mutable.ListBuffer[(Long, String)]()
    val mem = MemoryStream[(Long, String)]
    def start() = StreamingNearDedup.exactThenNearMatches(
        mem.toDF().toDF("doc_id", "text"), exactDir, mhDir)
      .writeStream
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .foreachBatch { (b: DataFrame, _: Long) =>
        val batch = b.localCheckpoint(true)
        seen.synchronized {
          seen += batch.select("doc_id").distinct().collect().map(_.getLong(0)).toSet
          tiers ++= batch.filter(col("matched")).collect()
            .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("tier")))
          adm ++= StreamingNearDedup.indexAdmitted(batch).collect().map(_.getLong(0))
        }
        graft.operators.Graph.release(batch)
        ()
      }
      .start()
    val q1 = start()
    mem.addData((910001L, x._2))
    q1.processAllAvailable()
    q1.stop()
    assert(adm.toSet == Set(910001L), s"pre-refresh verdicts wrong: $adm")
    // refresh both tiers while the query is down (the daily absorb)
    graft.operators.Dedup.appendToExactIndex(day2, exactDir)
    graft.operators.Dedup.appendToMinhashIndex(day2, mhDir)
    val q2 = start()
    q2.processAllAvailable()
    assert(seen.drop(1).forall(s => !s.contains(910001L)),
      s"restart re-processed batch-1 offsets: $seen")
    mem.addData((910002L, x._2))
    q2.processAllAvailable()
    q2.stop()
    assert(!adm.contains(910002L),
      s"refreshed exact index not used after restart: $adm")
    assert(tiers.contains((910002L, "exact")),
      s"copy suppressed by the wrong tier (bloom not refreshed?): $tiers")
  }

  test("signature and band keys reproduce the batch d04 family") {
    // the per-row HOF signature must equal the batch explode+aggregate
    // signature, or streaming and batch dedup would disagree
    val docs = Seq((1L, A), (2L, B)).toDF("doc_id", "text")
    val perRow = docs.select(col("doc_id"),
        StreamingNearDedup.signature(col("text")).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val batch = graft.operators.Dedup.minhashSignatures(docs)
      .collect().map { r =>
        r.getLong(0) -> (0 until graft.operators.Dedup.SIG_N).map(i => r.getLong(i + 1))
      }.toMap
    assert(perRow == batch)
  }
}
