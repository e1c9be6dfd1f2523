package perfbench

import java.time.LocalDate
import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded, deterministic Debezium event generator for the consumer
  * workloads. Every row image is a full 9-column orders-shaped row; the
  * consumer's sinks are checked on (id, name, amount), and the columns
  * they do not carry are counted, not hidden.
  *
  * Two parts:
  *  - `seedImage(seed, id)`: the pre-existing row of key `id`, a pure
  *    function so it can be evaluated on executors to seed 10^5..10^6 keys;
  *  - `replay(...)`: the timed OLTP stream, generated on the driver with
  *    its ground truth (final image per touched key, planted failure
  *    counts, distinct keys per batch).
  */
object EventGen {

  val Db = "shop"
  val Table = "orders"
  val Server = "dbserver1"
  val Topic = s"$Server.$Db.$Table"

  /** Keys of every after image, in the order they are rendered. */
  val ImageColumns: Seq[String] = Seq("id", "name", "amount", "o_custkey",
    "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority", "o_comment")

  private val Statuses = Array("O", "F", "P")
  private val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val Words = Array("furiously", "regular", "accounts", "deposits", "carefully",
    "final", "ironic", "packages", "quickly", "requests", "pending", "express",
    "blithely", "special", "theodolites", "instructions", "bold", "slyly")

  final case class Image(id: Long, custkey: Long, amount: Long, status: String,
      date: String, priority: String, comment: String) {
    def name: String = { val k = custkey.toString; "Customer#" + "0" * (9 - k.length) + k }
    def json: String =
      s"""{"id": $id, "name": "$name", "amount": $amount, "o_custkey": $custkey, """ +
        s""""o_orderstatus": "$status", "o_totalprice": "${amount / 100}.${amount % 100 / 10}${amount % 10}", """ +
        s""""o_orderdate": "$date", "o_orderpriority": "$priority", "o_comment": "$comment"}"""
  }

  private def mix(x: Long): Long = { // splitmix64 finalizer
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def image(h0: Long, id: Long): Image = {
    var h = h0
    def next(n: Int): Int = { h = mix(h); java.lang.Math.floorMod(h, n.toLong).toInt }
    val comment = (0 until 3 + next(4)).map(_ => Words(next(Words.length))).mkString(" ")
    Image(id, custkey = next(150000).toLong, amount = 90000L + next(50000000),
      status = Statuses(next(3)), date = LocalDate.ofEpochDay(8035L + next(2400)).toString,
      priority = Priorities(next(5)), comment = comment)
  }

  /** The image key `id` holds before the replay starts. */
  def seedImage(seed: Long, id: Long): Image = image(mix(seed ^ mix(id)), id)

  private def source(file: String, pos: Long): String =
    s""""source": {"version": "1.9.7.Final", "connector": "mysql", "name": "$Server", """ +
      s""""ts_ms": ${1700000000000L + pos}, "snapshot": "false", "db": "$Db", "table": "$Table", """ +
      s""""server_id": 1, "gtid": null, "file": "$file", "pos": $pos, "row": 0, "thread": 7, "query": null}"""

  def envelope(before: Image, after: Image, file: String, pos: Long): String = {
    val op = if (before == null) "c" else if (after == null) "d" else "u"
    def img(i: Image) = if (i == null) "null" else i.json
    s"""{"payload": {"before": ${img(before)}, "after": ${img(after)}, """ +
      s"""${source(file, pos)}, "op": "$op", "ts_ms": ${1700000000500L + pos}}}"""
  }

  /** Snapshot-style insert of a pre-existing key (binlog file 1). */
  def seedEnvelope(seed: Long, id: Long): String =
    envelope(null, seedImage(seed, id), "mysql-bin.000001", 4L + id)

  // ------------------------------------------------------------ replay
  /** Failure classes planted in the dirty stream. */
  object Kind {
    val Valid: Byte = 0
    val Unparseable: Byte = 1
    val Tombstone: Byte = 2
    val BothNull: Byte = 3
    val MissingId: Byte = 4
  }

  /** The change mix. No trace of a real table stands behind these
    * numbers; they are assumptions that give the qualitative shape of an
    * OLTP orders table: new orders are inserted, recent orders are
    * updated as they move through their states, old ones rarely, and few
    * are deleted.
    *  - 30% inserts of new ids, 3% deletes, the rest updates;
    *  - 80% of updates hit one of the last `RecentWindow` written keys,
    *    skewed to the newest (cubic); the rest are uniform over all keys;
    *  - planted failures come in four equal shares, and failed records
    *    carry the retry-loop headers in `FailedLoops`.
    */
  private val InsertFraction = 0.30
  private val DeleteFraction = 0.03
  private val RecentFraction = 0.80
  private val RecentWindow = 4096
  private val FailedLoops = Array(0, 0, 1, 2)

  final case class Params(seedKeys: Long, events: Int, dirtyFraction: Double)

  /** A generated stream plus its ground truth. `finalImages` holds the
    * last image of every key the stream touched (None = deleted).
    */
  final case class Replay(lines: Array[(Int, String)], kinds: Array[Byte],
      ids: Array[Long], finalImages: Map[Long, Option[Image]]) {
    def count(k: Byte): Int = kinds.count(_ == k)
    def valid: Int = count(Kind.Valid)
    def tombstones: Int = count(Kind.Tombstone)
    def invalid: Int = kinds.length - valid - tombstones
    private def invalidLoops = lines.indices.filter(i =>
      kinds(i) != Kind.Valid && kinds(i) != Kind.Tombstone).map(i => lines(i)._1)
    /** Invalid records the router sends to retry / DLQ at limit 3. */
    def retry: Int = invalidLoops.count(_ + 1 < 3)
    def dlq: Int = invalidLoops.count(_ + 1 >= 3)
    /** Distinct keys changed by lines [from, until). */
    def distinctKeys(from: Int, until: Int): Int =
      (from until math.min(until, ids.length)).iterator.map(ids(_)).filter(_ >= 0).toSet.size
  }

  /** The OLTP replay: inserts of new ids, recency-skewed updates (most hit
    * recently written keys, the rest uniform over all keys), a few
    * deletes, and, with probability `dirtyFraction`, a planted failure
    * instead of a change event. Keys repeat inside a batch, so binlog order
    * decides the surviving image. Lines are in binlog order.
    */
  def replay(seed: Long, p: Params): Replay = {
    val rnd = new SplittableRandom(mix(seed * 31L + 7L))
    val current = mutable.HashMap.empty[Long, Option[Image]]
    val recent = new Array[Long](RecentWindow)
    var recentN = 0L
    var nextId = p.seedKeys
    def cur(id: Long): Option[Image] =
      current.getOrElse(id, if (id < p.seedKeys) Some(seedImage(seed, id)) else None)
    def remember(id: Long): Unit = { recent((recentN % RecentWindow).toInt) = id; recentN += 1 }
    def pickLive(): Long = {
      var tries = 0
      var id = -1L
      while (id < 0 && tries < 16) {
        tries += 1
        val cand =
          if (recentN > 0 && rnd.nextDouble() < RecentFraction) {
            val n = math.min(recentN, RecentWindow.toLong)
            val back = (n * math.pow(rnd.nextDouble(), 3)).toLong // skew to newest
            recent(((recentN - 1 - back) % RecentWindow).toInt)
          } else (rnd.nextDouble() * nextId).toLong
        if (cur(cand).isDefined) id = cand
      }
      id
    }
    def mutate(i: Image): Image = {
      val h = rnd.nextLong()
      val fresh = image(h, i.id)
      i.copy(amount = fresh.amount, status = fresh.status,
        custkey = if ((h & 7) == 0) fresh.custkey else i.custkey, comment = fresh.comment)
    }
    val lines = new Array[(Int, String)](p.events)
    val kinds = new Array[Byte](p.events)
    val ids = Array.fill(p.events)(-1L)
    val file = "mysql-bin.000002"
    var i = 0
    while (i < p.events) {
      val pos = 4L + i * 3L
      if (rnd.nextDouble() < p.dirtyFraction) {
        val kind = (1 + rnd.nextInt(4)).toByte
        // records that already went round the retry loop carry its header
        val loop = if (kind == Kind.Tombstone) 0 else FailedLoops(rnd.nextInt(FailedLoops.length))
        val some = seedImage(seed ^ pos, 1L + rnd.nextInt(1000))
        val value = kind match {
          case Kind.Unparseable => envelope(null, some, file, pos).take(40 + rnd.nextInt(60))
          case Kind.Tombstone => ""
          case Kind.BothNull => envelope(null, null, file, pos)
          case _ => envelope(null, some, file, pos).replaceFirst("\"id\": \\d+, ", "")
        }
        lines(i) = (loop, value)
        kinds(i) = kind
      } else {
        val u = rnd.nextDouble()
        val target = if (u < InsertFraction) -1L else pickLive()
        if (target < 0) {
          val id = nextId
          nextId += 1
          val img = image(rnd.nextLong(), id)
          current(id) = Some(img)
          remember(id)
          lines(i) = (0, envelope(null, img, file, pos))
          ids(i) = id
        } else {
          val before = cur(target).get
          if (u < InsertFraction + DeleteFraction) {
            current(target) = None
            lines(i) = (0, envelope(before, null, file, pos))
          } else {
            val after = mutate(before)
            current(target) = Some(after)
            remember(target)
            lines(i) = (0, envelope(before, after, file, pos))
          }
          ids(i) = target
        }
        kinds(i) = Kind.Valid
      }
      i += 1
    }
    Replay(lines, kinds, ids, current.toMap)
  }
}
