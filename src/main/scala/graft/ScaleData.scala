package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scaling-sweep corpus builder: writes an N× replica of an existing SF
  * directory so the bench can measure SCALING EXPONENTS (sf0.1 → sf1.0
  * per-key ratios), not just absolute times at one size.
  *
  * Replication model — N independent shards, NOT N raw copies. A raw
  * copy would be a degenerate corpus: every document would gain N−1
  * exact duplicates, so pair-emitting operators (LSH postings, phash
  * bands, semantic dedup cells) would see pair DENSITY grow ~N× per key
  * and the sweep would measure the degeneracy, not the engine. Instead
  * each shard i applies a BIJECTION that keeps within-shard structure
  * identical and makes shards pairwise disjoint:
  *
  *  - documents: ids shift by i·stride; text goes through a per-shard
  *    affine alphabet bijection (σ_i(j) = a·j+b mod 26, case-preserving,
  *    non-letters fixed — 312 distinct shards; see [[affine]]).
  *    A bijection on letters preserves token boundaries, token/char
  *    counts, and within-shard Jaccard/edit structure EXACTLY (so each
  *    shard carries the same dup/near-dup density as the original),
  *    while rotated shingles/fingerprints almost never collide across
  *    shards. Shard 0 is the identity — the scaled corpus contains the
  *    original verbatim. `lang`/`source` stay fixed: sources don't
  *    multiply when a corpus grows, so group-by-source cardinality
  *    holding constant at N× rows is the realistic shape.
  *  - embeddings: ids shift; vectors rotate by i positions — norm- and
  *    distribution-preserving, within-shard geometry identical,
  *    cross-shard near-collisions gone.
  *  - lineitem/orders: orderkeys shift by i·stride (consistently, so
  *    within-shard joins still match); custkeys stay — a customer with
  *    10× the orders is exactly what 10× the history looks like.
  *  - events: ids and user_ids shift by i·stride; ts/type/value copy —
  *    N× traffic from N disjoint user populations inside the SAME time
  *    window (clocks and type vocabularies don't grow with volume).
  *  - everything else copies unchanged (dimension tables don't scale).
  *
  * This models "N independent crawls at the same source mix": rows,
  * pairs, and components all grow ~linearly in N, which is the regime
  * the 100 TB plan-shape arguments claim — precisely what the sweep is
  * supposed to test. Usage:
  *
  *   runMain graft.ScaleData /root/testdata/sf0.1 /tmp/sf1 10
  */
object ScaleData {

  private val LOWER = "abcdefghijklmnopqrstuvwxyz"
  private val UPPER = LOWER.toUpperCase

  // Per-shard alphabet bijection σ_i(j) = a·j + b (mod 26) with a coprime
  // to 26 — an AFFINE map, not a bare rotation: rotations alone give only
  // 26 distinct shards, so a factor ≥ 27 would silently replay shard 0's
  // text under new ids and re-create exactly the degenerate
  // cross-shard-exact-dup corpus this builder exists to avoid (caught
  // live: the first 30× build produced 23,116 d03 pairs where the linear
  // model predicts 2,460 — shards 26–29 colliding with 0–3). 12 units ×
  // 26 shifts = 312 distinct bijections; shard 0 (a=1, b=0) is the
  // identity.
  private val UNITS = Array(1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25)

  private def affine(i: Int): String = {
    val a = UNITS((i / 26) % UNITS.length)
    val b = i % 26
    require(i < UNITS.length * 26, s"shard $i exceeds the ${UNITS.length * 26} distinct bijections")
    (0 until 26).map(j => LOWER((a * j + b) % 26)).mkString
  }

  def main(args: Array[String]): Unit = {
    val Array(src, dst, factorStr) = args.take(3)
    val factor = factorStr.toInt
    require(factor >= 1, s"factor must be >= 1, got $factor")
    val spark = LocalSession()
    spark.sparkContext.setLogLevel("WARN")

    val DOC_STRIDE = 1000000L      // well clear of sf0.1 doc_id range,
    val VEC_STRIDE = 1000000L      // well under m04's 1e12 plant offset
    val ORD_STRIDE = 100000000L    // clear of TPC-H orderkey range at any local SF
    val EVT_STRIDE = 100000000L    // clear of the sf0.1 event_id range
    val USER_STRIDE = 1000000L     // clear of the ~1k-user sf0.1 id space

    def shards(base: DataFrame)(f: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until factor).map(i => f(base, i)).reduce(_ unionByName _)

    def write(df: DataFrame, name: String): Unit = {
      df.write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"[scale] $name: ${spark.read.parquet(s"$dst/$name.parquet").count()} rows")
    }

    val docs = spark.read.parquet(s"$src/documents.parquet")
    write(shards(docs) { (d, i) =>
      d.select(
        (col("doc_id") + lit(i * DOC_STRIDE)).as("doc_id"),
        translate(col("text"), LOWER + UPPER,
          affine(i) + affine(i).toUpperCase).as("text"),
        col("lang"), col("source"), col("n_chars"))
    }, "documents")

    val embs = spark.read.parquet(s"$src/embeddings.parquet")
    val dim = embs.selectExpr("size(embedding)").head().getInt(0)
    require(factor <= 2 * dim,
      s"embedding bijection family has 2·dim = ${2 * dim} distinct members " +
        s"(rotation × sign), factor $factor would replay shard 0's vectors")
    write(shards(embs) { (e, i) =>
      // shard transform = rotate by (i mod dim), negate every dim-th
      // wrap — both norm- and within-shard-geometry-preserving; a raw
      // rotation alone caps out at dim shards (and a shift ≥ dim is a
      // NEGATIVE slice length — caught live on the first 100× build).
      // All index arithmetic rides size(embedding) in SQL, so the tool
      // never assumes the dim it just validated against.
      val rotated =
        if (i == 0) col("embedding")
        else expr(
          s"transform(concat(" +
            s"slice(embedding, ($i % size(embedding)) + 1, " +
            s"      size(embedding) - ($i % size(embedding))), " +
            s"slice(embedding, 1, $i % size(embedding))), " +
            s"x -> x * (CASE WHEN ($i div size(embedding)) % 2 = 0 " +
            s"THEN CAST(1 AS FLOAT) ELSE CAST(-1 AS FLOAT) END))")
      e.select((col("vec_id") + lit(i * VEC_STRIDE)).as("vec_id"),
        rotated.as("embedding"), col("label"))
    }, "embeddings")

    val li = spark.read.parquet(s"$src/lineitem.parquet")
    write(shards(li) { (l, i) =>
      l.withColumn("l_orderkey", col("l_orderkey") + lit(i * ORD_STRIDE))
    }, "lineitem")

    val ord = spark.read.parquet(s"$src/orders.parquet")
    write(shards(ord) { (o, i) =>
      o.withColumn("o_orderkey", col("o_orderkey") + lit(i * ORD_STRIDE))
    }, "orders")

    // events: N× TRAFFIC in the same time window — ids/users shift per
    // shard (disjoint user populations ⇒ funnels, cohorts, sessions and
    // distinct-user counts grow linearly; no cross-shard session merges),
    // while ts / event_type / value copy unchanged (the clock, the type
    // vocabulary and the value distribution don't grow with traffic, so
    // per-day volumes, histograms and quantile positions scale honestly).
    val ev = spark.read.parquet(s"$src/events.parquet")
    write(shards(ev) { (e, i) =>
      e.select(
        (col("event_id") + lit(i * EVT_STRIDE)).as("event_id"),
        col("ts"),
        (col("user_id") + lit(i * USER_STRIDE)).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }, "events")

    Seq("region", "nation", "customer", "supplier", "part")
      .foreach(n => write(spark.read.parquet(s"$src/$n.parquet"), n))

    spark.stop()
  }
}
