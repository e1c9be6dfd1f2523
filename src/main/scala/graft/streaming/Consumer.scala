package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.GraftConfig
import graft.sources.{CdcSources, ConnectClient}

/** The reference's whole daemon (main.go:24-61 setup + :63-169 loop) as a
  * config-driven assembly: resolve topics from (server, db, tables),
  * choose the DML or schema-change branch by ACTIVE_SCHEME, honor the
  * REPUBLISH gate, and start the configured writeStream.
  *
  * `source` is injected (tests pass a MemoryStream frame; production
  * passes `CdcSources.kafkaStream(...).load()` selecting value+loop) so
  * the assembly is testable without a broker.
  */
object Consumer {

  /** Topic list the consumer would subscribe to (main.go:50-58). */
  def topics(cfg: GraftConfig): Seq[String] =
    CdcSources.topics(cfg.server, cfg.db, cfg.tables, cfg.activeScheme)

  /** Assemble and start the configured pipeline on `source`. */
  def start(spark: SparkSession, cfg: GraftConfig, source: DataFrame,
      paths: CdcStreaming.SinkPaths, checkpoint: String,
      client: ConnectClient = null, appliedPath: String = null): StreamingQuery =
    if (cfg.activeScheme) {
      require(client != null && appliedPath != null,
        "schema mode needs a Connect client and an applied-DDL sink")
      CdcStreaming.startDdlStream(spark, source, client, cfg.tables,
        cfg.reclaim, cfg.replaceAllScheme, appliedPath, checkpoint)
    } else {
      CdcStreaming.startBatches(source, paths, cfg.republishLimit,
        cfg.republish, checkpoint)(rows => Some(CdcStreaming.upsertBatch(spark, rows, paths.state)))
    }
}
