package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows, SupportsAdmissionControl}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** A Kafka-SHAPED DataSource V2 streaming source over a deterministic
  * local fixture file — the S1 semantic gap-closer for an environment
  * with no Kafka broker and no `spark-sql-kafka-0-10` jar (see
  * KAFKA_RESOLUTION.md): it exposes the EXACT schema the real Kafka
  * source exposes (key/value binary, topic, partition, offset,
  * timestamp, timestampType, headers — the `includeHeaders=true` shape)
  * with real per-partition offset semantics, so the full consumer
  * assembly (S1 → F1/F2 tombstone/route → P1 envelope parse → upsert /
  * error / retry / DLQ) runs end-to-end through a genuine streaming
  * source boundary, checkpoint restarts included, and swapping in the
  * real connector is a one-line `.format("kafka")` change.
  *
  * Record layout: the fixture is a text file, one record per line,
  * `loop<TAB>value` (written by [[KafkaShapedSource.writeFixture]]).
  * `loop > 0` materializes as a kafka-style `loop` header (the
  * reference's republish retry counter, main.go:174-203); an empty
  * value is a TOMBSTONE (value = null, exactly kafka's deletion
  * marker). Line i lands on partition `i % numPartitions` at
  * per-partition offset `i / numPartitions` — dense, monotone,
  * replayable: any committed [start, end) offset range re-reads to the
  * byte-identical rows, which is precisely the kafka contract that
  * makes checkpoint recovery exactly-once-capable.
  *
  * Admission control: honors `maxOffsetsPerTrigger` (same option name
  * as the kafka source, ST6) through [[SupportsAdmissionControl]],
  * admitting the N globally-next records in line order across
  * partitions.
  *
  * Scale note: this is a TEST source — each planned partition streams
  * the fixture file from its start on one executor, parsing only its own
  * range. The production path stays `CdcSources.kafkaStream` (jar
  * required); everything downstream of the source boundary is shared,
  * which is the point.
  */
object KafkaShapedSource {

  /** The kafka source's includeHeaders=true schema, verbatim. */
  val SCHEMA: StructType = StructType(Seq(
    StructField("key", BinaryType),
    StructField("value", BinaryType),
    StructField("topic", StringType),
    StructField("partition", IntegerType),
    StructField("offset", LongType),
    StructField("timestamp", TimestampType),
    StructField("timestampType", IntegerType),
    StructField("headers", ArrayType(StructType(Seq(
      StructField("key", StringType),
      StructField("value", BinaryType)))))))

  /** Fully-qualified format name for `.readStream.format(...)`. */
  val FORMAT: String = classOf[KafkaShapedProvider].getName

  /** Write a fixture atomically (tmp + ATOMIC_MOVE): records are
    * (loop, value); empty value = tombstone. Lines may contain no
    * newlines or tabs (the envelope fixtures are single-line JSON).
    */
  def writeFixture(path: String, records: Seq[(Int, String)]): Unit = {
    val p = Paths.get(path)
    if (p.getParent != null) Files.createDirectories(p.getParent)
    publish(p, Nil, records)
  }

  /** Append records atomically (read + rewrite + ATOMIC_MOVE — a reader
    * racing the append sees the old or the new file, never a torn one;
    * appended lines extend offsets, they never renumber committed ones).
    */
  def appendFixture(path: String, records: Seq[(Int, String)]): Unit = {
    val p = Paths.get(path)
    val existing =
      if (Files.exists(p)) Files.readAllLines(p, StandardCharsets.UTF_8).asScala.toSeq.filter(_.nonEmpty)
      else Nil
    publish(p, existing, records)
  }

  /** Replace `p` with the `head` lines and then `records`, atomically. */
  private def publish(p: Path, head: Seq[String], records: Seq[(Int, String)]): Unit = {
    records.foreach { case (_, v) =>
      require(!v.contains('\n') && !v.contains('\t'), s"fixture value has newline/tab: $v")
    }
    val tmp = Paths.get(p.toString + ".tmp")
    Files.writeString(tmp, (head ++ records.map { case (l, v) => s"$l\t$v" }).mkString("", "\n", "\n"))
    Files.move(tmp, p, StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
  }

  /** One record line, `loop<TAB>value`, as (loop, value). */
  private[graft] def parseLine(line: String): (Int, String) = {
    val i = line.indexOf('\t')
    require(i >= 0, s"malformed fixture line (no tab): $line")
    (line.substring(0, i).toInt, line.substring(i + 1))
  }

  /** The number of records in the fixture (its non-empty lines), unparsed. */
  private[graft] def countRecords(path: String): Long = {
    val p = Paths.get(path)
    if (!Files.exists(p)) 0L
    else {
      val lines = Files.lines(p, StandardCharsets.UTF_8)
      try lines.filter(!_.isEmpty).count() finally lines.close()
    }
  }

  /** Per-partition record count for a file of `total` lines. */
  private[graft] def partitionCounts(total: Long, numPartitions: Int): Map[Int, Long] =
    (0 until numPartitions).map { p =>
      p -> (if (total > p) (total - p + numPartitions - 1) / numPartitions else 0L)
    }.toMap

  // ---------------------------------------------------------- offsets
  /** JSON-ish offset: `{"0":3,"1":2}` — per-partition NEXT offset. */
  final case class KOffset(next: Map[Int, Long]) extends Offset {
    override def json(): String =
      next.toSeq.sortBy(_._1)
        .map { case (p, o) => s""""$p":$o""" }.mkString("{", ",", "}")
  }

  private[graft] def parseOffset(json: String): KOffset = {
    val body = json.trim.stripPrefix("{").stripSuffix("}").trim
    if (body.isEmpty) KOffset(Map.empty)
    else KOffset(body.split(",").map { kv =>
      val Array(k, v) = kv.split(":").map(_.trim)
      k.stripPrefix("\"").stripSuffix("\"").toInt -> v.toLong
    }.toMap)
  }
}

/** `.format(KafkaShapedSource.FORMAT)` entry point. Options:
  * `path` (fixture file), `topic`, `numPartitions` (default 2),
  * `maxOffsetsPerTrigger` (optional, kafka's option name).
  */
class KafkaShapedProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    KafkaShapedSource.SCHEMA
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new KafkaShapedTable(new CaseInsensitiveStringMap(properties))
}

class KafkaShapedTable(options: CaseInsensitiveStringMap) extends Table with SupportsRead {
  override def name(): String = s"kafka_shaped(${options.get("path")})"
  override def schema(): StructType = KafkaShapedSource.SCHEMA
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.MICRO_BATCH_READ).asJava
  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = KafkaShapedSource.SCHEMA
        override def toBatch: Batch =
          throw new UnsupportedOperationException("streaming only")
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new KafkaShapedMicroBatchStream(
            Option(opts.get("path")).getOrElse(
              throw new IllegalArgumentException("kafka_shaped needs a path option")),
            Option(opts.get("topic")).getOrElse("topic0"),
            opts.getInt("numPartitions", 2),
            Option(opts.get("maxOffsetsPerTrigger")).map(_.toLong))
      }
    }
}

class KafkaShapedMicroBatchStream(path: String, topic: String,
    numPartitions: Int, maxPerTrigger: Option[Long])
  extends MicroBatchStream with SupportsAdmissionControl {
  import KafkaShapedSource._

  require(numPartitions >= 1, s"numPartitions must be >= 1, got $numPartitions")

  override def initialOffset(): Offset =
    KOffset((0 until numPartitions).map(_ -> 0L).toMap)

  override def deserializeOffset(json: String): Offset = parseOffset(json)

  override def getDefaultReadLimit: ReadLimit =
    maxPerTrigger.map(ReadLimit.maxRows).getOrElse(ReadLimit.allAvailable())

  /** Unbounded latest: everything currently in the fixture. */
  override def latestOffset(): Offset =
    KOffset(partitionCounts(countRecords(path), numPartitions))

  /** Admission-controlled latest (ST6 batching/backpressure): admit the
    * `maxRows` globally-NEXT lines in line order — line i sits at
    * partition i % N offset i / N, so the next global index for
    * partition p is p + N * nextOffset(p); repeatedly taking the min
    * reproduces exactly the prefix a single-threaded consumer would
    * poll. maxRows is per-trigger and small; the loop is O(maxRows·N).
    */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val avail = latestOffset().asInstanceOf[KOffset].next
    limit match {
      case mr: ReadMaxRows =>
        val cur = scala.collection.mutable.Map.from(
          start.asInstanceOf[KOffset].next.withDefaultValue(0L))
        (0 until numPartitions).foreach(p => if (!cur.contains(p)) cur(p) = 0L)
        var budget = mr.maxRows()
        var progressed = true
        while (budget > 0 && progressed) {
          // the partition holding the globally-next unconsumed line
          val candidates = (0 until numPartitions)
            .filter(p => cur(p) < avail.getOrElse(p, 0L))
            .map(p => p -> (p + numPartitions * cur(p)))
          if (candidates.isEmpty) progressed = false
          else {
            val (p, _) = candidates.minBy(_._2)
            cur(p) += 1L
            budget -= 1L
          }
        }
        KOffset(cur.toMap)
      case _ => KOffset(avail)
    }
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[KOffset].next.withDefaultValue(0L)
    val e = end.asInstanceOf[KOffset].next.withDefaultValue(0L)
    (0 until numPartitions).flatMap { p =>
      if (e(p) > s(p)) Some(KafkaShapedInputPartition(path, topic, p, numPartitions, s(p), e(p)))
      else None
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new KafkaShapedReaderFactory

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

final case class KafkaShapedInputPartition(path: String, topic: String,
    partition: Int, numPartitions: Int, startOffset: Long, endOffset: Long)
  extends InputPartition

class KafkaShapedReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new KafkaShapedPartitionReader(partition.asInstanceOf[KafkaShapedInputPartition])
}

/** Replays one partition's [startOffset, endOffset) range: offset o is
  * record `partition + numPartitions * o` (records are the fixture's
  * non-empty lines), timestamp is a deterministic function of the record
  * index (epoch + i seconds), timestampType 0 (kafka CREATE_TIME).
  * Deterministic by construction — the committed range re-reads
  * identically after any crash. The reader streams the file, parses only
  * the records of its range, and stops after the last one.
  */
class KafkaShapedPartitionReader(p: KafkaShapedInputPartition)
  extends PartitionReader[InternalRow] {
  import KafkaShapedSource._

  private val in = Files.newBufferedReader(Paths.get(p.path), StandardCharsets.UTF_8)
  private val records = Iterator.continually(in.readLine()).takeWhile(_ != null).filter(_.nonEmpty)
  private var seen = 0L // records taken from `records` so far
  private var off = p.startOffset - 1
  private var record: (Int, String) = _

  override def next(): Boolean = {
    off += 1
    off < p.endOffset && {
      val i = p.partition + p.numPartitions * off
      while (seen < i && records.hasNext) { records.next(); seen += 1 }
      require(seen == i && records.hasNext,
        s"offset $off of partition ${p.partition} maps past the fixture " +
          s"($i >= $seen) — a committed range must stay replayable")
      record = parseLine(records.next())
      seen += 1
      true
    }
  }

  override def get(): InternalRow = {
    val i = p.partition + p.numPartitions * off
    val (loop, value) = record
    val headers: ArrayData =
      if (loop > 0) new GenericArrayData(Array[Any](
        new GenericInternalRow(Array[Any](
          UTF8String.fromString("loop"),
          String.valueOf(loop).getBytes(StandardCharsets.UTF_8)))))
      else new GenericArrayData(Array.empty[Any])
    new GenericInternalRow(Array[Any](
      null, // key: the fixtures are unkeyed (kafka allows null keys)
      if (value.isEmpty) null else value.getBytes(StandardCharsets.UTF_8),
      UTF8String.fromString(p.topic),
      p.partition,
      off,
      i * 1000000L, // micros: epoch + record-index seconds, deterministic
      0,            // kafka TimestampType.CREATE_TIME
      headers))
  }

  override def close(): Unit = in.close()
}
