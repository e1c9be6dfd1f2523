package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Source/sink connectors (SURVEY §2.1), mirroring the reference's consumer
  * construction (main.go:30-61) and republish path (main.go:174-203).
  *
  * The Kafka connector jar is not present in this environment, so
  * `kafkaStream` constructs the exact reader (format/options) without
  * calling `.load()` in tests; the pure pieces — topic list, offset-reset
  * mapping, republish projection — are unit-tested directly. The JDBC
  * statements are rendered by `streaming.JdbcSink`.
  */
object CdcSources {

  /** Topic list: one `{server}.{db}.{table}` per replicated table, or the
    * single `{server}` schema-change topic when scheme mode is active
    * (main.go:50-58).
    */
  def topics(server: String, db: String, tables: Seq[String], activeScheme: Boolean): Seq[String] =
    if (activeScheme) Seq(server)
    else tables.map(t => s"$server.$db.$t")

  /** `auto.offset.reset` → Structured-Streaming `startingOffsets`
    * (config/config.go:25: earliest for backfill, latest default).
    */
  def startingOffsets(autoOffset: String): String =
    autoOffset.toLowerCase match {
      case "earliest" => "earliest"
      case _ => "latest"
    }

  /** S1: the Kafka CDC source reader, fully configured. Call `.load()` on a
    * cluster with the kafka connector on the classpath.
    */
  def kafkaStream(spark: SparkSession, brokers: String, server: String, db: String,
      tables: Seq[String], activeScheme: Boolean = false,
      autoOffset: String = "latest", maxOffsetsPerTrigger: Option[Long] = None) = {
    val reader = spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", brokers)
      .option("subscribe", topics(server, db, tables, activeScheme).mkString(","))
      .option("startingOffsets", startingOffsets(autoOffset))
      .option("failOnDataLoss", "false")
    maxOffsetsPerTrigger.fold(reader)(n => reader.option("maxOffsetsPerTrigger", n.toString))
  }

  /** S1: materialize the configured Kafka reader. The Structured-Streaming
    * Kafka source lives in a separate artifact (spark-sql-kafka-0-10) that
    * is NOT bundled with Spark; without it, `.load()` fails with an opaque
    * DATA_SOURCE_NOT_FOUND — converted here into an actionable error naming
    * the artifact and the submit flag. This is as far as a broker-less,
    * jar-less environment can prove the path: reader construction and
    * config parity are unit-tested, and THIS failure mode is pinned by
    * SourcesSpec so a misconfigured cluster fails loudly, not cryptically.
    */
  def loadKafka(spark: SparkSession, brokers: String, server: String, db: String,
      tables: Seq[String], activeScheme: Boolean = false,
      autoOffset: String = "latest", maxOffsetsPerTrigger: Option[Long] = None): DataFrame =
    try kafkaStream(spark, brokers, server, db, tables, activeScheme,
      autoOffset, maxOffsetsPerTrigger).load()
    catch {
      case e: Throwable if isMissingKafkaConnector(e) =>
        throw new IllegalStateException(
          "kafka connector missing: the Structured Streaming Kafka source " +
            "(org.apache.spark:spark-sql-kafka-0-10_2.13) is not on the " +
            s"classpath; submit with --packages org.apache.spark:spark-sql-kafka-0-10_2.13:${spark.version} " +
            "or bundle the jar", e)
    }

  private def isMissingKafkaConnector(e: Throwable): Boolean = {
    val chain = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(10).toSeq
    chain.exists { c =>
      val m = Option(c.getMessage).getOrElse("").toLowerCase
      c.isInstanceOf[ClassNotFoundException] && m.contains("kafka") ||
        m.contains("data_source_not_found") ||
        (m.contains("data source") && m.contains("kafka"))
    }
  }

  /** S1 (jarless e2e): the Kafka-shaped DataSource V2 test source over a
    * deterministic local fixture — identical schema and offset semantics
    * to the real connector, so the whole consumer assembly runs
    * end-to-end without a broker (KafkaShapedSource scaladoc has the
    * contract). Production swaps this for [[kafkaStream]]`.load()`.
    */
  def kafkaShapedStream(spark: SparkSession, path: String, topic: String,
      numPartitions: Int = 2, maxOffsetsPerTrigger: Option[Long] = None): DataFrame = {
    val reader = spark.readStream.format(KafkaShapedSource.FORMAT)
      .option("path", path)
      .option("topic", topic)
      .option("numPartitions", numPartitions.toString)
    maxOffsetsPerTrigger.fold(reader)(n => reader.option("maxOffsetsPerTrigger", n.toString))
      .load()
  }

  /** Kafka frame (real connector or [[kafkaShapedStream]] — same schema)
    * → the consumer's (value string, loop int) contract: value bytes
    * decoded as UTF-8, loop read from the `loop` header the republish
    * path sets (main.go:174-203), 0 when absent. Null values (kafka
    * tombstones) decode to null and are dropped by the F2 filter
    * downstream.
    */
  def fromKafkaFrame(df: DataFrame): DataFrame =
    df.select(
      col("value").cast("string").as("value"),
      coalesce(
        // try_element_at: a record with no loop header has an empty
        // filtered array, which must read as loop 0, not an ANSI error
        expr("try_element_at(filter(headers, h -> h.key = 'loop'), 1)")
          .getField("value").cast("string").cast("int"),
        lit(0)).as("loop"))

  /** S2: project failed records into the Kafka republish shape — original
    * value back to its source topic with a `loop` retry-count header
    * (main.go:174-203). Input needs (topic, value, loop); output matches
    * the kafka sink contract: topic, value, headers array<struct<key,value>>.
    */
  def republishProjection(failed: DataFrame): DataFrame =
    failed.select(
      col("topic"),
      col("value").cast("binary").as("value"),
      array(struct(
        lit("loop").as("key"),
        (col("loop") + 1).cast("string").cast("binary").as("value"))).as("headers"))
}
