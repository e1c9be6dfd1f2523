package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnShim
import org.apache.spark.sql.types.BinaryType

/** Physical-layout patterns for 100 TB operation, demonstrated and
  * plan-asserted in ScalePatternsSpec:
  *
  *   - bucketed co-located joins: both fact tables bucketed by the join key
  *     at write time ⇒ the join compiles WITHOUT a shuffle exchange on
  *     either side (SortMergeJoin over pre-bucketed scans);
  *   - salted joins: a hot key is spread over SALT partitions by appending
  *     a salt to the build side and exploding the probe side — the standard
  *     remedy when one key would otherwise pin a whole executor (AQE's
  *     skew-join split handles moderate skew; salting handles the
  *     pathological single-key case).
  */
object ScalePatterns {

  /** Write both sides bucketed by the join key into the session warehouse.
    * At 100 TB this is the table-format's clustering spec; locally it's
    * saveAsTable with Spark buckets.
    */
  def writeBucketed(s: SparkSession, df: DataFrame, table: String,
      bucketCol: String, buckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, bucketCol)
      .sortBy(bucketCol)
      .option("path", s"${s.conf.get("spark.sql.warehouse.dir")}/$table")
      .saveAsTable(table)

  /** Join two pre-bucketed tables on their bucket key — shuffle-free when
    * bucket counts match.
    */
  def bucketedJoin(s: SparkSession, left: String, right: String,
      key: String): DataFrame =
    s.table(left).join(s.table(right), key)

  /** Salted equi-join: probe-side key k becomes (k, salt) for one random
    * salt; build side replicates each row across all salts. Correct for
    * inner/left joins on the probe side; build side must be the smaller
    * relation (it grows by the salt factor).
    */
  def saltedJoin(probe: DataFrame, build: DataFrame, key: String,
      salts: Int): DataFrame = {
    // deterministic pseudo-salt (no Math.random: reproducible plans)
    val salted = probe.withColumn("_salt",
      pmod(xxhash64(col(key), monotonically_increasing_id()), lit(salts)))
    val replicated = build.withColumn("_salt",
      explode(sequence(lit(0), lit(salts - 1)).cast("array<bigint>")))
    salted.join(replicated, Seq(key, "_salt")).drop("_salt")
  }

  /** Bloom-pruned join: build a Bloom filter over the (selective) build
    * side's keys, broadcast it, and drop probe rows that cannot match
    * BEFORE they reach the join's exchange. On a 100 TB probe against a
    * selective build side this cuts the shuffled volume to roughly the
    * join selectivity (+ fpp); Catalyst's own runtime bloom
    * (spark.sql.optimizer.runtime.bloomFilter.enabled) does the same
    * injection automatically when stats justify it — this is the explicit
    * form for when the planner can't see the selectivity (e.g. the build
    * side is the output of an opaque computation). False positives are
    * harmless: the join itself still decides membership exactly.
    */
  def bloomPrunedJoin(probe: DataFrame, build: DataFrame, key: String,
      expectedBuildKeys: Long = 1000000L, fpp: Double = 0.01): DataFrame = {
    // Catalyst's own bloom expressions, not a Scala UDF: the probe stays
    // inside whole-stage codegen (BloomFilterMightContain#doGenCode) with
    // no per-row boxing. Keys are xxhash64'd on BOTH sides — the same
    // normalization InjectRuntimeFilter applies — so any key type works
    // and the filter stores longs only. The build runs as a distributed
    // aggregate (per-partition sketches OR-merged), landing ONE serialized
    // filter on the driver; it ships to probe tasks as a literal, exactly
    // like the planner's injected subquery result.
    val hashed = ColumnShim.expression(xxhash64(col(key)))
    // BloomFilterAggregate enforces the session's runtime-bloom caps
    // (maxNumItems default 4M, maxNumBits default 64M); a 100 TB build
    // side passed in naively would throw AnalysisException. Clamp instead:
    // an over-cap build side degrades to a higher-fpp filter (fewer probe
    // rows pruned) — the join itself still decides membership exactly.
    def cap(key: String, default: Long): Long =
      build.sparkSession.conf.getOption(key).map(_.toLong).getOrElse(default)
    val items = math.min(expectedBuildKeys,
      cap("spark.sql.optimizer.runtime.bloomFilter.maxNumItems", 4000000L))
    val numBits = math.min(
      org.apache.spark.util.sketch.BloomFilter.optimalNumOfBits(items, fpp),
      cap("spark.sql.optimizer.runtime.bloomFilter.maxNumBits", 67108864L))
    val bfBytes = build.select(ColumnShim.column(
        new BloomFilterAggregate(hashed, Literal(items),
          Literal(numBits)).toAggregateExpression()).as("bf"))
      .head().getAs[Array[Byte]](0)
    val pruned = probe.filter(ColumnShim.column(
      BloomFilterMightContain(Literal(bfBytes, BinaryType), hashed)))
    pruned.join(build, key)
  }

  /** Write a table range-partitioned AND sorted by a filter column, so a
    * range predicate's pushed parquet filters skip whole row groups by
    * their min/max stats — the one-dimension form of z-order layout, and
    * at 100 TB the difference between scanning the whole table and
    * scanning the files that can match. Row-group skipping happens inside
    * the parquet reader (every file is still LISTED — this is stats
    * pruning, not partition pruning), so the observable is BYTES READ,
    * which ScalePatternsSpec asserts drops by the selectivity.
    */
  def writeSorted(df: DataFrame, path: String, sortCol: String,
      nFiles: Int = 8): Unit =
    df.repartitionByRange(nFiles, col(sortCol))
      .sortWithinPartitions(sortCol)
      .write.mode("overwrite").parquet(path)

  /** NTZ-safe [[writeSorted]] for event-time layout keys. Spark 4.1 builds
    * no parquet FilterPredicate for a TIMESTAMP_NTZ predicate: the filter
    * SHOWS as pushed in the scan but skips no row groups (canary-pinned in
    * ScalePatternsSpec), so an event-time layout keyed on an NTZ column —
    * which events.ts now is — reads EVERY row group of a 100 TB table no
    * matter how well it was sorted. Until Spark converts NTZ, the
    * executable pattern is: convert the key to session-local TIMESTAMP
    * (µs) at write. Under the UTC session [[graft.Tables.load]] asserts,
    * the conversion is value-stable (same µs instants, same row order,
    * same aggregate results — spec-pinned oracle-identical), and readers
    * filter the SAME column name with plain timestamp literals and get
    * row-group skipping. The write also pins TIMESTAMP_MICROS physical
    * type: INT96, Spark's compatibility default, carries no usable
    * min/max stats (the other half of the canary).
    */
  def writeSortedEventTime(df: DataFrame, path: String, tsCol: String,
      nFiles: Int = 8): Unit = {
    val spark = df.sparkSession
    // the NTZ->LTZ cast reinterprets wall-clock fields in the session
    // zone; only UTC makes that a value-identity on µs epochs
    require(spark.conf.get("spark.sql.session.timeZone") == "UTC",
      "writeSortedEventTime requires spark.sql.session.timeZone=UTC")
    val converted = df.schema(tsCol).dataType match {
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn(tsCol, col(tsCol).cast("timestamp"))
      case _ => df
    }
    val prev = spark.conf.getOption("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try writeSorted(converted, path, tsCol, nFiles)
    finally prev match {
      case Some(v) => spark.conf.set("spark.sql.parquet.outputTimestampType", v)
      case None => spark.conf.unset("spark.sql.parquet.outputTimestampType")
    }
  }

  /** Z-ORDER (bit-interleaved) two-dimension clustered layout — what
    * [[writeSorted]] cannot do: a 1-D sort serves range predicates on its
    * ONE key; any other column's values scatter across every file and its
    * filters read the whole table. Interleaving the bits of both keys'
    * quantized ranks into one `z` value and range-partitioning + sorting
    * on it gives every file a bounded min/max box in BOTH dimensions, so
    * row-group stats prune on either column — the standard lakehouse
    * multi-dimension clustering (Delta/Iceberg OPTIMIZE ZORDER BY), here
    * as plain Spark arithmetic: per-column affine bucketing to
    * [0, 2^bits) + a fixed 2·bits-term shift/mask interleave, all
    * codegen'd built-ins (no UDF at any width).
    *
    * The z column is layout-only: dropped before the write, it never
    * reaches the table schema — readers filter their natural columns and
    * the parquet reader skips via each file's per-column stats.
    *
    * Scale shape: one bounds aggregate (4 scalars to the driver) + one
    * range exchange — identical cost profile to [[writeSorted]]. At 100 TB
    * the bounds come from table stats instead, and `nFiles` scales with
    * the data so each file stays a tight z-box; pruning power is
    * ~quadrant-hierarchical: restricting either dimension to 1/2^d of its
    * range reads ~1/2^d of the files (ScalePatternsSpec pins both
    * dimensions pruning on the same layout, and the 1-D layout failing the
    * second dimension).
    */
  def writeZOrdered(df: DataFrame, path: String, colA: String, colB: String,
      nFiles: Int = 16, bits: Int = 16): Unit = {
    require(bits > 0 && bits <= 30, "bits must be in (0, 30]")
    val b = df.agg(
      min(col(colA)).cast("double"), max(col(colA)).cast("double"),
      min(col(colB)).cast("double"), max(col(colB)).cast("double")).head()
    require(!b.anyNull, s"writeZOrdered: empty input or all-null key column")
    val hi = (1L << bits) - 1
    def bucket(c: String, lo: Double, up: Double): Column = {
      val span = math.max(up - lo, java.lang.Double.MIN_NORMAL)
      // nulls sort first (bucket 0), like a NULLS FIRST sort key
      least(greatest(
        floor((coalesce(col(c).cast("double"), lit(lo)) - lit(lo)) /
          lit(span) * lit(hi.toDouble)).cast("long"),
        lit(0L)), lit(hi))
    }
    val xa = bucket(colA, b.getDouble(0), b.getDouble(1))
    val xb = bucket(colB, b.getDouble(2), b.getDouble(3))
    df.withColumn("_z", interleaveBits(xa, xb, bits))
      .repartitionByRange(nFiles, col("_z"))
      .sortWithinPartitions("_z")
      .drop("_z")
      .write.mode("overwrite").parquet(path)
  }

  /** Morton (z-curve) interleave of two bucketed long columns: bit i of
    * `a` lands at z bit 2i, bit i of `b` at 2i+1. Fixed 2·bits shift/mask
    * terms — codegen'd built-ins at any width (property-pinned against a
    * plain-Scala reference in ScalePatternsSpec).
    */
  private[graft] def interleaveBits(a: Column, b: Column, bits: Int): Column =
    (0 until bits).map { i =>
      shiftleft(shiftright(a, i).bitwiseAND(lit(1L)), 2 * i).bitwiseOR(
        shiftleft(shiftright(b, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_.bitwiseOR(_))

  /** Event-time layout as DAILY PARTITIONS — the listing-level complement
    * to [[writeSortedEventTime]]'s row-group skipping, and the one layout
    * the TIMESTAMP_NTZ pushdown gap cannot touch: partition pruning
    * happens on the directory values during file LISTING, before any
    * parquet footer is read, so it works identically for NTZ, LTZ, or any
    * key type. This is the standard lakehouse event-table layout (one
    * `day=YYYY-MM-DD` directory per day); at 100 TB it also bounds
    * compaction and retention to day granularity.
    *
    * The partition column is DERIVED (a date string of the event time), so
    * a reader filtering only `ts` scans every partition — the pruning
    * predicate must mention `day`. [[eventRange]] is that rewrite: it adds
    * the redundant day-range conjunct a lakehouse query engine derives
    * automatically, keeping the ts predicate for exact row selection.
    */
  def writeDailyPartitioned(df: DataFrame, path: String, tsCol: String): Unit =
    df.withColumn("day", date_format(col(tsCol), "yyyy-MM-dd"))
      .write.mode("overwrite").partitionBy("day").parquet(path)

  /** Exact event-time range over a [[writeDailyPartitioned]] table: the ts
    * predicate selects rows; the derived day predicate (inclusive on both
    * ends — a day partially covered still holds matching rows) prunes
    * partitions at listing time. Bounds are 'yyyy-MM-dd HH:mm:ss[.S]'
    * literals interpreted in the session zone, matching the written
    * day strings under the asserted UTC pin.
    */
  def eventRange(table: DataFrame, tsCol: String,
      from: String, to: String): DataFrame =
    table.filter(col(tsCol).between(from, to) &&
      col("day").between(from.take(10), to.take(10)))

  /** Star join against a [[writeDailyPartitioned]] fact table with DYNAMIC
    * partition pruning — the runtime complement to [[eventRange]]'s static
    * rewrite. eventRange works when the day bounds are literals in the
    * query; it cannot express "the days in THIS campaign" when the day set
    * lives in a dimension table. Joining the fact's `day` partition column
    * to a FILTERED broadcast dim lets Catalyst's PartitionPruning rule
    * plant a DynamicPruningExpression in the fact scan's PartitionFilters:
    * the dim's surviving day values prune the fact's file LISTING at
    * runtime, before any parquet footer is read — at 100 TB the difference
    * between scanning the campaign's days and scanning years of history.
    *
    * Conditions for the rule to fire, pinned in ScalePatternsSpec:
    * the join key IS the partition column; the dim side carries a
    * selective predicate that is not the join key (otherwise pruning
    * cannot narrow anything); and the dim broadcasts — under the default
    * `dynamicPartitionPruning.reuseBroadcastOnly=true` the pruning
    * subquery REUSES the join's own broadcast, so the day-set computation
    * costs nothing beyond the join itself. The explicit broadcast hint
    * keeps that guarantee when size estimates would otherwise demote the
    * dim to a shuffle join (and with it, silently drop the pruning).
    */
  def dynPrunedDays(fact: DataFrame, dim: DataFrame,
      dayCol: String = "day"): DataFrame =
    fact.join(broadcast(dim), dayCol)

  /** Hash-scattered layout with PARQUET BLOOM FILTERS on a point-lookup
    * key — the third row-group-skipping lever after min/max stats
    * ([[writeSorted]]: serves RANGE predicates on the sort key) and
    * z-order ([[writeZOrdered]]: ranges on two keys). Neither helps a
    * point lookup on a key the layout was NOT sorted by: every file's
    * min/max spans ~the full key range, so stats prune nothing. A bloom
    * filter per row group answers "might this row group contain k?" for
    * EQUALITY predicates regardless of layout order.
    *
    * Dictionary pages can answer the same question exactly — but only
    * while the column stays dictionary-encoded. At 100 TB a
    * high-cardinality key overflows parquet's dictionary page and the
    * writer silently falls back to plain encoding, taking
    * dictionary-level skipping with it; bloom filters are sized for
    * exactly that regime. The write models it by disabling dictionary
    * encoding for the key column (`ndvPerFile` sizes each filter; ~1%
    * false-positive row groups are harmless — they are read and their
    * rows fail the pushed predicate).
    *
    * Read side needs no code: parquet-mr's row-group filter consults
    * bloom filters for pushed equality predicates by default
    * (`parquet.filter.bloom.enabled`); ScalePatternsSpec pins the scan
    * reading ~1/nFiles of the rows vs a no-bloom control reading all.
    */
  def writeBloomFiltered(df: DataFrame, path: String, keyCol: String,
      ndvPerFile: Long, nFiles: Int = 8): Unit =
    df.repartition(nFiles, col(keyCol))
      .write.mode("overwrite")
      .option(s"parquet.bloom.filter.enabled#$keyCol", "true")
      .option(s"parquet.bloom.filter.expected.ndv#$keyCol", ndvPerFile.toString)
      .option(s"parquet.enable.dictionary#$keyCol", "false")
      .parquet(path)

  /** Restate (backfill) ONE event-day of a [[writeDailyPartitioned]] table
    * with corrected rows — the lifecycle op every pipeline needs when an
    * upstream correction lands after the day closed.
    *
    * Crash-ordered swap: the replacement is written to an
    * underscore-prefixed sibling (invisible to Spark's listing), then
    * swapped in with two atomic renames — a concurrent reader never sees
    * a mix of old and new rows or a half-written file. (Between the two
    * renames there IS a brief window where the day directory is absent —
    * a reader in that instant sees an empty day; a table-format manifest
    * would close it, plain directories cannot.)
    * Every crash point is recoverable: the `_old_` sibling survives until
    * the swap completes. Day granularity is what makes restatement
    * 100 TB-viable: the rewrite is proportional to ONE day, not the
    * table.
    *
    * Guards: the table carries no streaming file sink's
    * `_spark_metadata` manifest (readers of such a table list files from
    * the manifest and would not see the swapped ones), every replacement
    * row falls inside the restated day (a row landing in another
    * partition would silently vanish), and the replacement schema
    * matches the partition files' schema (which excludes the derived
    * `day` column).
    */
  def restateDay(s: SparkSession, path: String, day: String,
      replacement: DataFrame, tsCol: String): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    require(day.matches("""\d{4}-\d{2}-\d{2}"""),
      s"restateDay: day must be yyyy-MM-dd, got [$day]")
    require(!Files.exists(Paths.get(path, "_spark_metadata")),
      s"restateDay: $path still carries a _spark_metadata manifest — " +
        "manifest readers would not see the swapped files; stop the stream " +
        "that wrote it and delete the manifest first")
    // null-safe: a NULL event time is a stray too (writeDailyPartitioned
    // would route it to the default partition, not this day)
    val strays = replacement
      .filter(!(date_format(col(tsCol), "yyyy-MM-dd") <=> day)).count()
    require(strays == 0,
      s"restateDay: $strays replacement rows fall outside day=$day " +
        "(or carry a NULL event time)")
    val live = Paths.get(s"$path/day=$day")
    val tmp = Paths.get(s"$path/_restate_$day")
    val old = Paths.get(s"$path/_old_$day")
    if (Files.exists(old)) {
      require(Files.exists(live),
        s"restateDay: $old exists but $live is missing — a prior swap " +
          s"crashed mid-rename; restore by renaming $old back to $live")
      Dedup.deleteTreeIfExists(old)
    }
    Dedup.deleteTreeIfExists(tmp)
    require(Files.exists(live), s"restateDay: no partition at $live")
    val partitionSchema = s.read.parquet(live.toString).schema
    require(replacement.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      partitionSchema.fields.map(f => (f.name, f.dataType)).toSeq,
      s"restateDay: replacement schema ${replacement.schema.simpleString} != " +
        s"partition schema ${partitionSchema.simpleString}")
    replacement.write.parquet(tmp.toString)
    Files.move(live, old, StandardCopyOption.ATOMIC_MOVE)
    Files.move(tmp, live, StandardCopyOption.ATOMIC_MOVE)
    Dedup.deleteTreeIfExists(old)
  }

  /** q58: the salted skew join as a registered, oracled query. events has
    * five distinct event_type values at any SF — the pathological shape
    * where a plain hash join funnels ~1/5 of the fact table through one
    * task. [[saltedJoin]] spreads each hot key over SALTS sub-partitions;
    * the result is the exact inner-join multiset (the salt is a join-key
    * refinement, not a filter), so the DuckDB oracle is the PLAIN join.
    * Flag arithmetic is exact decimal×int (value·cnt > Σvalue, i.e.
    * "above the type mean" without dividing) — a double mean would make
    * boundary rows engine-order-dependent and hash-unstable.
    */
  val SALTS = 8

  def saltedSkewJoin(s: SparkSession, d: String): DataFrame = {
    import graft.Tables
    import org.apache.spark.sql.types.DecimalType
    val e = graft.Tables.events(s, d).select(col("event_type"), col("value"))
    val dim = Tables.events(s, d).groupBy("event_type")
      .agg(count(lit(1)).as("cnt"),
        sum(col("value").cast(DecimalType(18, 2))).as("total"))
    saltedJoin(e, dim, "event_type", SALTS)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(when(col("value").cast(DecimalType(18, 2)) * col("cnt") > col("total"),
          1L).otherwise(0L)).as("n_above"))
      .orderBy("event_type")
  }

  val saltedSkewJoinSql: String =
    """WITH dim AS (
      |  SELECT event_type, count(*) AS cnt,
      |         sum(CAST(value AS DECIMAL(18,2))) AS total
      |  FROM events GROUP BY 1)
      |SELECT e.event_type, count(*) AS n,
      |  CAST(sum(CASE WHEN CAST(e.value AS DECIMAL(18,2)) * d.cnt > d.total
      |           THEN 1 ELSE 0 END) AS BIGINT) AS n_above
      |FROM events e JOIN dim d ON e.event_type = d.event_type
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------ incremental aggregation (q65)
  /** q65: INCREMENTAL VIEW MAINTENANCE — merge the newest day's delta into
    * the standing per-type aggregate instead of reaggregating history. At
    * 100 TB the standing state (count, decimal sum, min/max event id per
    * type — every piece a commutative monoid) is already materialized;
    * each day costs one delta-proportional partial aggregate plus a
    * state-sized merge, never a history scan. The registered face splits
    * the table at its last event day, aggregates the two sides separately,
    * and merges — so the DuckDB oracle (one direct aggregate over
    * everything) is the exact algebraic-equivalence check: merge(state(H),
    * state(Δ)) ≡ state(H ∪ Δ).
    *
    * The cut day comes from an exact 1-row bound broadcast back onto the
    * scan (the sequencePacking discipline), not a driver collect; rows
    * with a NULL event time fall into neither day and still merge
    * correctly because the merge reaggregates ALL partial rows regardless
    * of their delta tag.
    */
  def incrementalAgg(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val e = graft.Tables.events(s, d).select(col("event_id"),
      col("event_type"), to_date(TimeWindows.eventTime).as("day"), col("value"))
    val bound = e.agg(max(col("day")).as("cutday"))
    val partial = e.crossJoin(broadcast(bound))
      .groupBy(col("event_type"), (col("day") <=> col("cutday")).as("is_delta"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).as("sv"),
        min(col("event_id")).as("fe"), max(col("event_id")).as("le"))
    partial.groupBy(col("event_type"))
      .agg(sum(col("n")).as("n_events"),
        sum(col("sv")).cast(DecimalType(38, 2)).cast("string").as("sum_value"),
        min(col("fe")).as("first_event"), max(col("le")).as("last_event"))
      .orderBy("event_type")
  }

  /** q65 oracle: the direct single-pass aggregate the merged state must
    * equal exactly.
    */
  val incrementalAggSql: String =
    """SELECT event_type, count(*) AS n_events,
      |  CAST(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS VARCHAR) AS sum_value,
      |  min(event_id) AS first_event, max(event_id) AS last_event
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------- snapshot diff (q67)
  /** q67: SNAPSHOT RECONCILIATION — diff two versions of a keyed table
    * into added / removed / changed / unchanged, the audit behind every
    * "did the backfill change only what it should have?" and the sync
    * check between a replicated table and its source. The operative scale
    * decision: each side is projected to (key, md5-of-payload) BEFORE the
    * join, so the full-outer exchange carries a key and a fixed 32-char
    * digest — never row payloads — and `unchanged` (the dominant class at
    * 100 TB) costs one hash equality per key. With both snapshots bucketed
    * by key the diff is exchange-free entirely.
    *
    * Snapshot B is a deterministic mutation of orders (drops keys ≡ 0 mod
    * 97, reprices keys ≡ 0 mod 101, adds a negative-keyspace row per key ≡
    * 0 mod 103), so the oracle reconstructs the identical pair of
    * snapshots and the expected class of every key is derivable by hand.
    */
  def snapshotDiff(s: SparkSession, d: String): DataFrame = {
    val a = graft.Tables.orders(s, d).select(
      col("o_orderkey").as("key"), col("o_orderpriority").as("pri"),
      col("o_orderstatus").as("status"),
      floor(col("o_totalprice") * 100.0).cast("long").as("cents"))
    val surviv = a.filter(col("key") % 97 =!= 0)
    val b = surviv
      .withColumn("cents", when(col("key") % 101 === 0, col("cents") + 500L)
        .otherwise(col("cents")))
      .unionByName(surviv.filter(col("key") % 103 === 0)
        .withColumn("key", -col("key")))
    // 60-bit md5-prefix payload digest (the cross-engine Dedup.baseHash
    // family): the diff exchange carries (key, 8-byte hash), not a 32-char
    // digest string — 2.5× less shuffle at any scale
    def digest(df: DataFrame): DataFrame = df.select(col("key"), col("pri"),
      Dedup.baseHash(concat_ws("|", col("status"), col("cents"))).as("h"))
    val da = digest(a).withColumnsRenamed(Map("pri" -> "pri_a", "h" -> "h_a"))
    val db = digest(b).withColumnsRenamed(Map("pri" -> "pri_b", "h" -> "h_b"))
    da.join(db, Seq("key"), "full_outer")
      .select(coalesce(col("pri_a"), col("pri_b")).as("pri"),
        when(col("h_a").isNull, "added")
          .when(col("h_b").isNull, "removed")
          .when(col("h_a") === col("h_b"), "unchanged")
          .otherwise("changed").as("change_type"))
      .groupBy(col("change_type"), col("pri"))
      .agg(count(lit(1)).as("n"))
      .orderBy("change_type", "pri")
  }

  val snapshotDiffSql: String =
    """WITH a AS (SELECT o_orderkey AS key, o_orderpriority AS pri,
      |    o_orderstatus AS status,
      |    CAST(floor(o_totalprice * 100.0) AS BIGINT) AS cents FROM orders),
      |surviv AS (SELECT * FROM a WHERE key % 97 <> 0),
      |b AS (SELECT key, pri, status,
      |        CASE WHEN key % 101 = 0 THEN cents + 500 ELSE cents END AS cents
      |      FROM surviv
      |      UNION ALL
      |      SELECT -key, pri, status, cents FROM surviv WHERE key % 103 = 0),
      |da AS (SELECT key, pri AS pri_a,
      |         CAST(concat('0x', substr(md5(concat_ws('|', status, cents)), 1, 15)) AS BIGINT) AS h_a FROM a),
      |db AS (SELECT key, pri AS pri_b,
      |         CAST(concat('0x', substr(md5(concat_ws('|', status, cents)), 1, 15)) AS BIGINT) AS h_b FROM b),
      |j AS (SELECT coalesce(pri_a, pri_b) AS pri,
      |        CASE WHEN h_a IS NULL THEN 'added'
      |             WHEN h_b IS NULL THEN 'removed'
      |             WHEN h_a = h_b THEN 'unchanged'
      |             ELSE 'changed' END AS change_type
      |      FROM da FULL OUTER JOIN db USING (key))
      |SELECT change_type, pri, count(*) AS n FROM j
      |GROUP BY change_type, pri ORDER BY change_type, pri""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q67_snapshot_diff" -> (snapshotDiff _),
    "q65_incremental_agg" -> (incrementalAgg _),
    "q58_salted_skew_join" -> (saltedSkewJoin _))

  val oracles: Map[String, String] = Map(
    "q67_snapshot_diff" -> snapshotDiffSql,
    "q65_incremental_agg" -> incrementalAggSql,
    "q58_salted_skew_join" -> saltedSkewJoinSql)
}
