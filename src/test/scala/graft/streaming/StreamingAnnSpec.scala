package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.Similarity

/** Streaming ANN serving against the persisted IVF-PQ index: micro-batch
  * rankings must reproduce the batch probe row-for-row, statelessly
  * (queries arriving in different batches can't see each other).
  */
class StreamingAnnSpec extends SparkSpec {
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"

  test("streaming IVF-PQ probe reproduces the batch persisted-index ranking across batches") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("sann-idx").toString
    val v = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), Similarity.quantize(col("embedding")).as("qv"))
    val queries = v.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("qv"))
    Similarity.writeIvfPqIndex(v.filter(col("vec_id") >= 5), dir)
    val expect = Similarity.probeIvfPqIndex(spark, dir, queries)
    val expectRows = expect.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSeq
    graft.operators.Graph.release(expect)
    assert(expectRows.nonEmpty, "batch probe returned nothing — fixture broken")

    val qRows = queries.collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
    val got = scala.collection.mutable.ListBuffer[(Long, Int, Long, Long)]()
    val mem = MemoryStream[(Long, Array[Long])]
    val q = StreamingAnn.indexScores(mem.toDF().toDF("query_id", "qv"), dir)
      .writeStream
      .option("checkpointLocation", Files.createTempDirectory("sann-ckpt").toString)
      .outputMode("append")
      .foreachBatch { (b: DataFrame, _: Long) =>
        got.synchronized {
          got ++= StreamingAnn.ranked(b).collect()
            .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
        }
        ()
      }
      .start()
    // two micro-batches: per-query results may not depend on batch mates
    val (b1, b2) = qRows.partition(_._1 < 3)
    mem.addData(b1.toSeq: _*)
    q.processAllAvailable()
    mem.addData(b2.toSeq: _*)
    q.processAllAvailable()
    q.stop()
    assert(got.sortBy(t => (t._1, t._2)).toSeq == expectRows.sortBy(t => (t._1, t._2)),
      s"streaming ranking diverged:\n got ${got.take(8)}\n exp ${expectRows.take(8)}")
  }

  test("production k (256 cells / 256 codes): the literal-model streaming plan stays codegen'd and micro-batch ≡ batch") {
    // The fixture index runs N_CELLS=16 / PQ_K=16; a production vector
    // store runs 256+/256 (the batch probes carry that pin in
    // TextAndDedupSpec). The STREAMING face is the one untested shape at
    // that k: indexScores rides the whole model into the plan as literals
    // — 256 centroid structs each wrapping a codegen qdot over a 64-long
    // literal array, plus PQ_M 256-entry LUT arrays — and generated Java
    // of that size is exactly where the JVM's 64KB method limit makes
    // Spark silently abandon whole-stage codegen (or, worse, where
    // expression compilation falls back to interpreted eval). This pins,
    // at k=256 on sf0.1:
    //   1. NO silent interpretation: codegen.fallback=false +
    //      factoryMode=CODEGEN_ONLY turn any fallback into a test failure;
    //   2. NO huge-method abandonment: every WholeStageCodegen span of the
    //      actual micro-batch plan recompiles under the 65535-byte limit
    //      Spark checks at runtime (maxMethodCodeSize is the exact number
    //      WholeStageCodegenExec.doExecute compares);
    //   3. the ranking still reproduces the batch probe row-for-row,
    //      queries split across micro-batches.
    import org.apache.spark.sql.execution.WholeStageCodegenExec
    import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    implicit val sqlCtx = spark.sqlContext
    val K = 256
    val dir = Files.createTempDirectory("sann-prod-idx").toString
    val v = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
      .select(col("vec_id"), Similarity.quantize(col("embedding")).as("qv"))
    val queries = v.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("qv"))
    // stride 2: the %31 default is fixture-thin at 2000 vectors; every 2nd
    // id reaches the 256 seed candidates (the batch production pin's move)
    Similarity.writeIvfPqIndex(v.filter(col("vec_id") >= 5), dir,
      nCells = K, k = K, centroidStride = 2L, centroidResidue = 0L)
    val expect = Similarity.probeIvfPqIndex(spark, dir, queries)
    val expectRows = expect.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSeq
    graft.operators.Graph.release(expect)
    assert(expectRows.nonEmpty)

    val prevFallback = spark.conf.getOption("spark.sql.codegen.fallback")
    val prevFactory = spark.conf.getOption("spark.sql.codegen.factoryMode")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      val qRows = queries.collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
      val got = scala.collection.mutable.ListBuffer[(Long, Int, Long, Long)]()
      val methodSizes = scala.collection.mutable.ListBuffer[Int]()
      val mem = MemoryStream[(Long, Array[Long])]
      val q = StreamingAnn.indexScores(mem.toDF().toDF("query_id", "qv"), dir)
        .writeStream
        .option("checkpointLocation", Files.createTempDirectory("sann-prod-ckpt").toString)
        .outputMode("append")
        .foreachBatch { (b: DataFrame, _: Long) =>
          got.synchronized {
            got ++= StreamingAnn.ranked(b).collect()
              .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
            // recompile THIS batch's whole-stage spans and record the
            // stat the runtime's huge-method branch gates on
            methodSizes ++= b.queryExecution.executedPlan.collect {
              case w: WholeStageCodegenExec =>
                CodeGenerator.compile(w.doCodeGen()._2)._2.maxMethodCodeSize
            }
          }
          ()
        }
        .start()
      val (b1, b2) = qRows.partition(_._1 < 3)
      mem.addData(b1.toSeq: _*)
      q.processAllAvailable()
      mem.addData(b2.toSeq: _*)
      q.processAllAvailable()
      q.stop()
      assert(got.sortBy(t => (t._1, t._2)).toSeq ==
        expectRows.sortBy(t => (t._1, t._2)),
        s"production-k streaming ranking diverged:\n got ${got.take(8)}\n exp ${expectRows.take(8)}")
      assert(methodSizes.nonEmpty,
        "micro-batch plan had no WholeStageCodegen span — the literal-model " +
          "projection fell out of codegen entirely")
      // 65535 is the spark.sql.codegen.hugeMethodLimit default — above it
      // WholeStageCodegenExec.doExecute abandons the compiled class and
      // re-executes children interpreted, with only a log line to show
      // for it. (Methods over ~8000 bytes additionally lose JIT — worth
      // knowing, so the failure message carries the sizes.)
      assert(methodSizes.max <= 65535,
        s"generated method exceeds the huge-method fallback limit at k=$K: " +
          s"sizes=${methodSizes.sorted.reverse.take(5)}")
    } finally {
      prevFallback.fold(spark.conf.unset("spark.sql.codegen.fallback"))(
        spark.conf.set("spark.sql.codegen.fallback", _))
      prevFactory.fold(spark.conf.unset("spark.sql.codegen.factoryMode"))(
        spark.conf.set("spark.sql.codegen.factoryMode", _))
    }
  }

  test("index append is picked up by an offsets-only restart (the ANN refresh story)") {
    // same discipline as the dedup index probes: path-pinned parquet +
    // zero state means a refresh is stop -> appendToIvfPqIndex -> restart
    // from the SAME checkpoint; re-running a query after the restart must
    // rank against the appended vectors, with no offsets re-processed.
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("sann-ref-idx").toString
    val ckpt = Files.createTempDirectory("sann-ref-ckpt").toString
    val v = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), Similarity.quantize(col("embedding")).as("qv"))
    val queries = v.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("qv"))
    val corpus = v.filter(col("vec_id") >= 5)
    val (day2, day1) = (corpus.filter(col("vec_id") % 7 === 0),
      corpus.filter(col("vec_id") % 7 =!= 0))
    Similarity.writeIvfPqIndex(day1, dir)
    val qRows = queries.collect().map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
    val batches = scala.collection.mutable.ListBuffer[Seq[(Long, Int, Long, Long)]]()
    val mem = MemoryStream[(Long, Array[Long])]
    def start() = StreamingAnn.indexScores(mem.toDF().toDF("query_id", "qv"), dir)
      .writeStream
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .foreachBatch { (b: DataFrame, _: Long) =>
        batches.synchronized {
          batches += StreamingAnn.ranked(b).collect()
            .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSeq
        }
        ()
      }
      .start()
    val q1 = start()
    mem.addData(qRows.toSeq: _*)
    q1.processAllAvailable()
    q1.stop()
    val preRefresh = batches.flatten.toSet
    batches.clear()
    Similarity.appendToIvfPqIndex(day2, dir)
    val q2 = start()
    q2.processAllAvailable() // restart replays nothing
    assert(batches.flatten.isEmpty, s"restart re-processed offsets: $batches")
    mem.addData(qRows.toSeq: _*) // same queries again, post-refresh
    q2.processAllAvailable()
    q2.stop()
    val postRefresh = batches.flatten.toSet
    // post-refresh ranking must equal the batch probe over the FULL index
    val expect = Similarity.probeIvfPqIndex(spark, dir, queries)
    val expectRows = expect.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    graft.operators.Graph.release(expect)
    assert(postRefresh == expectRows)
    // and it genuinely changed: the appended vectors entered some top-10
    assert(postRefresh != preRefresh,
      "append changed nothing — day-2 split never reaches a top-10")
  }
}
