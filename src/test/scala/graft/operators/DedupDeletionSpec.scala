package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Right-to-be-forgotten lifecycle for the persisted dedup indexes:
  * tombstone-immediate exclusion (a forgotten doc stops suppressing
  * future documents as its duplicates), deletion-proportional vacuum,
  * bloom staleness contract, idempotence.
  */
class DedupDeletionSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def docs = spark.read.parquet(s"$sfDir/documents.parquet")
  private def base = docs.filter(expr(s"doc_id % ${Dedup.INC_SPLIT} != 0"))
  private def delta = docs.filter(expr(s"doc_id % ${Dedup.INC_SPLIT} = 0"))

  private def probeRows(dir: String) = {
    val v = Dedup.probeMinhashIndex(spark, dir, delta)
    val rows = v.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    Graph.release(v)
    rows
  }

  test("minhash: tombstoned docs stop matching; probe == index-minus-deleted recompute; vacuum O(affected)") {
    val dir = java.nio.file.Files.createTempDirectory("mh-del").toString
    Dedup.writeMinhashIndex(base, dir)
    val before = probeRows(dir)
    assert(before.nonEmpty, "the split must produce candidates to make deletion observable")
    val victims = before.map(_._3).distinct // every matched keeper
    import spark.implicits._
    Dedup.deleteFromMinhashIndex(spark, dir, victims.toDF("doc_id"))
    val after = probeRows(dir)
    assert(after.forall(r => !victims.contains(r._3)),
      "a forgotten doc must stop appearing as anyone's match")
    // equivalence: probing the tombstoned index == probing an index that
    // never held the victims
    val survivorsBase = base.filter(!col("doc_id").isInCollection(victims))
    val expect = Dedup.probeSignatures(
        Dedup.minhashSignatures(delta),
        Dedup.bandedKeys(Dedup.minhashSignatures(survivorsBase)),
        Dedup.minhashSignatures(survivorsBase))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    assert(after == expect)
    // vacuum: physical removal, unaffected sig buckets byte-identical
    val affectedS = victims.map(v => (v % Dedup.INDEX_BUCKETS).toInt).toSet
    def sigListing() = new java.io.File(s"$dir/sigs").listFiles()
      .filter(f => f.getName.startsWith("sbkt="))
      .filterNot(f => affectedS.contains(f.getName.stripPrefix("sbkt=").toInt))
      .flatMap(f => f.listFiles().map(x => (x.getPath, x.length, x.lastModified)))
      .toSeq.sortBy(_._1)
    val beforeListing = sigListing()
    Dedup.vacuumMinhashIndex(spark, dir)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "tombstones")))
    assert(probeRows(dir) == after, "physical removal must not change verdicts")
    assert(sigListing() == beforeListing,
      "unaffected sig buckets must be byte-identical — O(affected) rewrite")
    val residual = spark.read.parquet(s"$dir/sigs")
      .filter(col("doc_id").isInCollection(victims)).count() +
      spark.read.parquet(s"$dir/bands")
        .filter(col("doc_id").isInCollection(victims)).count()
    assert(residual == 0L, "tombstoned fingerprints physically gone")
    Dedup.vacuumMinhashIndex(spark, dir) // idempotent no-op
    assert(probeRows(dir) == after)
  }

  test("d23: the persisted tombstone path equals the registered deletion-aware probe") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("mh-d23").toString
    Dedup.writeMinhashIndex(base, dir)
    val victims = base.filter(expr(
        s"doc_id % ${Dedup.DEDUP_DEL_MOD} = ${Dedup.DEDUP_DEL_RES}"))
      .select("doc_id")
    Dedup.deleteFromMinhashIndex(spark, dir, victims)
    val got = probeRows(dir)
    val registered = Dedup.incrementalNearDupDeleted(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    assert(got == registered,
      "tombstone-aware persisted probe must equal the d23 frame ranking")
  }

  test("exact: a forgotten keeper stops matching; re-ingested content is NEW; vacuum + compact forgets the bloom") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("ex-del").toString
    val keeper = base.select("doc_id", "text").orderBy("doc_id").limit(1)
      .collect().head
    val (kid, ktext) = (keeper.getLong(0), keeper.getString(1))
    Dedup.writeExactIndex(base.select("doc_id", "text"), dir)
    val copy = Seq((999999L, ktext)).toDF("doc_id", "text")
    def probeCopy(): Seq[(Long, Long)] = {
      val v = Dedup.probeExactIndex(spark, dir, copy)
      val rows = v.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      Graph.release(v)
      rows
    }
    assert(probeCopy() == Seq((999999L, kid)), "the planted copy matches its keeper")
    Dedup.deleteFromExactIndex(spark, dir, Seq(kid).toDF("doc_id"))
    assert(probeCopy() == Seq.empty,
      "after deletion the identical content probes as NEW (GDPR re-upload semantics)")
    // the re-ingest cycle: append the copy as new content under a new keeper
    Dedup.appendToExactIndex(copy, dir)
    val copy2 = Seq((999998L, ktext)).toDF("doc_id", "text")
    val v2 = Dedup.probeExactIndex(spark, dir, copy2)
    assert(v2.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((999998L, 999999L)), "future copies match the NEW keeper")
    Graph.release(v2)
    // vacuum: physical removal; bloom untouched (stale positive harmless)
    val bloomBefore = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "bloom.bin")).toSeq
    Dedup.vacuumExactIndex(spark, dir)
    assert(spark.read.parquet(s"$dir/hashes")
      .filter(col("match_id") === kid).count() == 0L)
    assert(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "bloom.bin")).toSeq == bloomBefore,
      "vacuum leaves the bloom alone — the join decides membership exactly")
    // compaction rebuilds the bloom from survivors: fully forgotten
    Dedup.compactExactIndex(spark, dir)
    val v3 = Dedup.probeExactIndex(spark, dir, copy2)
    assert(v3.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((999998L, 999999L)), "post-compact probe unchanged")
    Graph.release(v3)
  }
}
