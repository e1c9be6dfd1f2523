package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The persisted ANN index's deletion (right-to-be-forgotten) lifecycle:
  * tombstone-immediate exclusion, equivalence with the registered s15
  * ranking, deletion-proportional vacuum, crash/idempotence story.
  */
class AnnDeletionSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def vq = spark.read.parquet(s"$sfDir/embeddings.parquet")
    .select(col("vec_id"), Similarity.quantize(col("embedding")).as("qv"))
  private def queries = vq.filter(col("vec_id") < 5)
    .select(col("vec_id").as("query_id"), col("qv"))
  private def corpus = vq.filter(col("vec_id") >= 5)
  private def delSlice = corpus
    .filter(expr(s"vec_id % ${Similarity.ANN_DEL_MOD} = ${Similarity.ANN_DEL_RES}"))
    .select("vec_id")

  private def probe(dir: String): Seq[(Long, Int, Long)] = {
    val got = Similarity.probeIvfPqIndex(spark, dir, queries)
    val rows = got.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    Graph.release(got)
    rows
  }

  test("tombstones exclude immediately; probe == registered s15; top-k backfills") {
    val dir = java.nio.file.Files.createTempDirectory("ivfpq-del").toString
    Similarity.writeIvfPqIndex(corpus, dir)
    val before = probe(dir)
    Similarity.deleteFromIvfPqIndex(spark, dir, delSlice)
    val after = probe(dir)
    val registered = Similarity.ivfPqDeleteTopK(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(after == registered,
      "tombstone-aware persisted probe must equal the frame-level s15 ranking")
    assert(after.forall(_._3 % Similarity.ANN_DEL_MOD != Similarity.ANN_DEL_RES))
    assert(after.size == before.size,
      "top-k keeps full depth — survivors backfill the freed ranks")
  }

  test("deleting every query's champion forces a new rank-1 everywhere") {
    val dir = java.nio.file.Files.createTempDirectory("ivfpq-del2").toString
    Similarity.writeIvfPqIndex(corpus, dir)
    val before = probe(dir)
    val champions = before.filter(_._2 == 1).map(_._3).distinct
    import spark.implicits._
    Similarity.deleteFromIvfPqIndex(spark, dir, champions.toDF("vec_id"))
    val after = probe(dir)
    assert(after.forall(r => !champions.contains(r._3)), "champions must vanish")
    val newTop = after.filter(_._2 == 1).map(x => x._1 -> x._3).toMap
    before.filter(_._2 == 1).foreach { case (q, _, old) =>
      assert(newTop(q) != old, s"query $q still serves its deleted champion")
    }
    // the refined (exact re-rank) flavor excludes them too
    val refined = Similarity.probeIvfPqIndexRefined(spark, dir, queries)
    val rrows = refined.collect().map(_.getLong(2)).toSeq
    Graph.release(refined)
    assert(rrows.nonEmpty && rrows.forall(id => !champions.contains(id)))
  }

  test("vacuum: deletion-proportional rewrite, unaffected cells untouched, idempotent, cleared last") {
    val dir = java.nio.file.Files.createTempDirectory("ivfpq-vac").toString
    Similarity.writeIvfPqIndex(corpus, dir)
    Similarity.deleteFromIvfPqIndex(spark, dir, delSlice)
    val expected = probe(dir) // tombstone-time answer is the contract
    val delIds = delSlice.collect().map(_.getLong(0)).toSet
    val affected = spark.read.parquet(s"$dir/codes")
      .filter(col("vec_id").isInCollection(delIds))
      .select("cell").distinct().collect().map(_.getInt(0)).toSet
    def listing(tbl: String) = {
      val root = new java.io.File(s"$dir/$tbl")
      root.listFiles().filter(_.getName.startsWith("cell="))
        .filterNot(f => affected.contains(f.getName.stripPrefix("cell=").toInt))
        .flatMap(f => f.listFiles().map(x => (x.getPath, x.length, x.lastModified)))
        .toSeq.sortBy(_._1)
    }
    val beforeCodes = listing("codes")
    val beforeVecs = listing("vectors")
    Similarity.vacuumIvfPqIndex(spark, dir)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "tombstones")),
      "vacuum clears the tombstone table (last)")
    assert(probe(dir) == expected, "physical removal must not change results")
    assert(listing("codes") == beforeCodes && listing("vectors") == beforeVecs,
      "unaffected cell partitions must be byte-identical — O(affected) rewrite")
    val residual = spark.read.parquet(s"$dir/codes")
      .filter(col("vec_id").isInCollection(delIds)).count()
    assert(residual == 0L, "tombstoned rows physically gone")
    Similarity.vacuumIvfPqIndex(spark, dir) // no tombstones: must no-op
    assert(probe(dir) == expected)
  }

  test("vacuum crash between rewrites: a re-run still scrubs both tables") {
    // the ADVICE r12 scenario: with codes-last ordering, the only
    // reachable mid-crash state is "vectors scrubbed, codes dirty,
    // tombstones present" — simulate exactly that, then re-run vacuum
    // as crash recovery; the affected set (derived from the still-dirty
    // codes table) must be nonempty so BOTH tables end clean and only
    // then are tombstones cleared
    val dir = java.nio.file.Files.createTempDirectory("ivfpq-crash").toString
    Similarity.writeIvfPqIndex(corpus, dir)
    Similarity.deleteFromIvfPqIndex(spark, dir, delSlice)
    val expected = probe(dir)
    val delIds = delSlice.collect().map(_.getLong(0)).toSet
    // half-vacuum by hand: rewrite vectors the way vacuum does, stop
    // before codes (the crash point)
    val tomb = spark.read.parquet(s"$dir/tombstones").select("vec_id").distinct()
    val affected = spark.read.parquet(s"$dir/codes")
      .join(broadcast(tomb), "vec_id").select("cell").distinct()
      .collect().map(_.getInt(0))
    val survivors = spark.read.parquet(s"$dir/vectors")
      .filter(col("cell").isin(affected.map(Integer.valueOf): _*))
      .join(broadcast(tomb), Seq("vec_id"), "left_anti")
      .localCheckpoint(true)
    survivors.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("cell").parquet(s"$dir/vectors")
    Graph.release(survivors)
    assert(spark.read.parquet(s"$dir/codes")
      .filter(col("vec_id").isInCollection(delIds)).count() > 0,
      "precondition: the crash left codes dirty")
    // recovery: plain re-run
    Similarity.vacuumIvfPqIndex(spark, dir)
    for (tbl <- Seq("codes", "vectors")) {
      val residual = spark.read.parquet(s"$dir/$tbl")
        .filter(col("vec_id").isInCollection(delIds)).count()
      assert(residual == 0L, s"recovery re-run left $residual tombstoned rows in $tbl")
    }
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "tombstones")))
    assert(probe(dir) == expected)
  }

  test("a wholly-emptied cell's partition dir is dropped") {
    val dir = java.nio.file.Files.createTempDirectory("ivfpq-empty").toString
    Similarity.writeIvfPqIndex(corpus, dir)
    val byCell = spark.read.parquet(s"$dir/codes")
      .select("cell", "vec_id").distinct().collect()
      .groupBy(_.getInt(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val (victim, members) = byCell.minBy(_._2.size)
    import spark.implicits._
    Similarity.deleteFromIvfPqIndex(spark, dir, members.toSeq.toDF("vec_id"))
    val expected = probe(dir)
    Similarity.vacuumIvfPqIndex(spark, dir)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, "codes", s"cell=$victim")) &&
      !java.nio.file.Files.exists(
        java.nio.file.Paths.get(dir, "vectors", s"cell=$victim")),
      s"cell $victim lost every member — dynamic overwrite cannot drop it, vacuum must")
    assert(probe(dir) == expected)
  }
}
