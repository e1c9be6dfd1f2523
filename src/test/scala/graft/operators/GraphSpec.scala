package graft.operators

import scala.collection.mutable

import graft.{SparkSpec, Tables}

/** Graph analytics vs independent driver-side reimplementations on the
  * sf0.001 tables — the same arithmetic (64-bit fixed point, integer
  * division) executed by a sequential reference, compared exactly.
  */
class GraphSpec extends SparkSpec {

  private val d = "/root/testdata/sf0.001"

  /** The customer↔supplier undirected edge list, built locally. */
  private lazy val localEdges: Seq[(String, String)] = {
    val custOf = Tables.orders(spark, d).select("o_orderkey", "o_custkey")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val eset = Tables.lineitem(spark, d).select("l_orderkey", "l_suppkey")
      .collect()
      .flatMap(r => custOf.get(r.getLong(0)).map(c => (s"c:$c", s"s:${r.getLong(1)}")))
      .toSet
    eset.toSeq.flatMap { case (a, b) => Seq((a, b), (b, a)) }
  }

  test("g01 pagerank matches a sequential fixed-point reference exactly") {
    val edges = localEdges
    val deg = edges.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    var rank: Map[String, Long] = deg.keys.map(_ -> 1000000000L).toMap
    for (_ <- 1 to 4) {
      val contrib = mutable.Map[String, Long]().withDefaultValue(0L)
      for ((s, t) <- edges) contrib(t) += rank(s) / deg(s)
      rank = contrib.map { case (n, c) => n -> (150000000L + 85L * c / 100L) }.toMap
    }
    val got = Graph.pagerank(spark, d).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == rank)
    // and the output really is the full node set, no dangling-mass loss
    assert(got.keySet == deg.keySet)
  }

  test("g01 ranks order hubs above leaves") {
    val edges = localEdges
    val deg = edges.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    val rows = Graph.pagerank(spark, d).collect()
    val top = rows.head.getString(0)
    val bottom = rows.last.getString(0)
    // the sf0.001 graph has 10 suppliers serving ~1000 customers: the top
    // node must be a supplier-side hub, the bottom a low-degree customer
    assert(deg(top) > deg(bottom))
  }

  test("g03 label propagation matches a sequential synchronous reference") {
    // packed-long edges, mirroring tradeEdges
    val custOf = Tables.orders(spark, d).select("o_orderkey", "o_custkey")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val eset = Tables.lineitem(spark, d).select("l_orderkey", "l_suppkey")
      .collect()
      .flatMap(r => custOf.get(r.getLong(0)).map(c => (2 * c, 2 * r.getLong(1) + 1)))
      .toSet
    val edges = eset.toSeq.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val bySrc = edges.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val seeds = Tables.supplier(spark, d).select("s_suppkey", "s_nationkey")
      .collect().filter(_.getInt(1) < 5)
      .map(r => (2 * r.getLong(0) + 1) -> r.getInt(1).toLong).toMap

    var labels: Map[Long, Long] = seeds
    for (_ <- 1 to 3) {
      val voted = bySrc.keys.flatMap { dst =>
        // neighbors of dst = nodes whose edge points INTO dst; the graph
        // is symmetric so bySrc(dst) is exactly that set
        val counts = bySrc(dst).flatMap(labels.get)
          .groupBy(identity).map { case (l, ls) => l -> ls.size.toLong }
        if (counts.isEmpty) None
        else Some(dst -> counts.minBy { case (l, c) => (-c, l) }._1)
      }.toMap
      labels = voted ++ seeds
    }
    val expect = labels.toSeq.groupBy(_._2).map { case (l, g) =>
      (l, g.count(_._1 % 2 == 0).toLong, g.count(_._1 % 2 == 1).toLong)
    }.toSeq.sortBy(_._1)

    val got = Graph.labelPropagation(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expect)
    assert(got.map(_._1).forall(l => l >= 0 && l < 5))
  }

  test("g02 triangle census matches brute-force enumeration") {
    // local support-thresholded supplier co-order graph
    val so = Tables.lineitem(spark, d).select("l_orderkey", "l_suppkey")
      .collect().map(r => (r.getLong(0), r.getLong(1))).distinct
    val byOrder = so.groupBy(_._1).values
    val support = mutable.Map[(Long, Long), Long]().withDefaultValue(0L)
    for (grp <- byOrder; a <- grp; b <- grp if a._2 < b._2)
      support((a._2, b._2)) += 1L
    // corpus-relative support, mirroring Graph.SUPPORT_PPM (floor 4; at
    // sf0.001's ~1.5k orders the relative term is 0 so the floor binds)
    val nOrders = Tables.orders(spark, d).count()
    val minSupport = math.max(4L, nOrders * 27L / 1000000L)
    val pairs = support.filter(_._2 >= minSupport).keys.toSet
    val nodes = pairs.flatMap(p => Seq(p._1, p._2)).toSeq.sorted
    val triCount = mutable.Map[Long, Long]().withDefaultValue(0L)
    for {
      i <- nodes.indices; j <- (i + 1) until nodes.size; k <- (j + 1) until nodes.size
      (u, v, w) = (nodes(i), nodes(j), nodes(k))
      if pairs((u, v)) && pairs((v, w)) && pairs((u, w))
    } { triCount(u) += 1; triCount(v) += 1; triCount(w) += 1 }
    val expect = triCount.toSeq.sortBy { case (n, c) => (-c, n) }.take(100)
    val got = Graph.triangleCensus(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == expect)
    assert(got.nonEmpty, "sf0.001 co-order graph should contain triangles")
  }

  test("g04 BFS: seed at hop 0, bipartite parity per hop, sequential reference agrees") {
    import scala.collection.mutable
    import org.apache.spark.sql.functions.col
    val prof = Graph.bfsReach(spark, d).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(prof(0) == 1L, "exactly the seed at hop 0")
    // sequential BFS over the same packed-long edge list
    val edges = Tables.orders(spark, d).select("o_orderkey", "o_custkey")
      .join(Tables.lineitem(spark, d), col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey") * 2).as("s"), (col("l_suppkey") * 2 + 1).as("t"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = mutable.Map[Long, mutable.Set[Long]]()
    for ((a, b) <- edges) {
      adj.getOrElseUpdate(a, mutable.Set()) += b
      adj.getOrElseUpdate(b, mutable.Set()) += a
    }
    val dist = mutable.Map(0L -> 0)
    var frontier = Set(0L); var hop = 0
    while (frontier.nonEmpty && hop < 6) {
      hop += 1
      frontier = frontier.flatMap(adj.getOrElse(_, Set.empty))
        .filterNot(dist.contains)
      frontier.foreach(n => dist(n) = hop)
    }
    val expect = dist.values.groupBy(identity).view
      .mapValues(_.size.toLong).toMap
    val unreached = adj.keySet.size - dist.size
    prof.foreach { case (h, n) =>
      if (h >= 0) assert(expect(h) == n, s"hop $h: $n vs ${expect(h)}")
      else assert(n == unreached)
    }
    // bipartite parity: odd hops are suppliers, even hops customers — the
    // sequential reference carries the node ids to check it
    dist.foreach { case (node, h) =>
      assert(node % 2 == (h % 2), s"node $node at hop $h breaks bipartite parity")
    }
  }

  // --------------------------------------------------- g05 degree mixing
  test("g05 bounds and internal consistency on the trade graph") {
    val r = Graph.degreeMixing(spark, d).collect().head
    val (m, sdc, sds) = (r.getLong(0), r.getLong(1), r.getLong(2))
    val (sdc2, sds2, sdcds) = (r.getLong(3), r.getLong(4), r.getLong(5))
    val a = r.getDouble(6)
    assert(m > 0 && sdc > 0 && sds > 0)
    // Cauchy–Schwarz on the exact sums
    assert(sdcds.toDouble * sdcds <= sdc2.toDouble * sds2 * (1 + 1e-12))
    assert(a >= -1.0 - 1e-9 && a <= 1.0 + 1e-9, s"assortativity out of range: $a")
  }

  test("g05 planted blocks: two disjoint complete bipartite blocks are perfectly assortative") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // K2,2 on customers {0,1} x suppliers {0,1}; K5,5 on {10..14} x {10..14}
    val once =
      ((for (c <- 0L to 1L; s <- 0L to 1L) yield (c * 2, s * 2 + 1)) ++
        (for (c <- 10L to 14L; s <- 10L to 14L) yield (c * 2, s * 2 + 1)))
        .toDF("src", "dst")
    val r = Graph.degreeMixingOf(once).collect().head
    assert(r.getLong(0) == once.count())
    // every edge joins equal-degree endpoints (2–2 or 5–5): r == 1
    assert(math.abs(r.getDouble(6) - 1.0) < 1e-12, s"expected r=1, got $r")
  }

  test("g06 planted co-purchases: shared rare parts rank; a hub part is capped out") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // c1,c2 share parts 1,2; c1,c3 share part 3; part 9 is a hub with 300
    // buyers (> WEDGE_CAP) whose ~45k wedge pairs must never materialize
    val e = (Seq((1L, 1L), (2L, 1L), (1L, 2L), (2L, 2L), (1L, 3L), (3L, 3L)) ++
      (100L to 399L).map(c => (c, 9L))).toDF("c", "p")
    val out = Graph.linkPredictionOf(e, 256L, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq(
      (1L, 2L, 2L, 1000000000L), // two shared parts, deg 2 each: 2 * (1e9 div 2)
      (1L, 3L, 1L, 500000000L)))
  }

  test("g06 on the trade data: ranked output, positive scores, no self-pairs") {
    val out = Graph.linkPrediction(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.nonEmpty && out.length <= Graph.LINK_TOPK)
    out.foreach { case (a, b, common, ra) =>
      assert(a < b); assert(common >= 1L); assert(ra >= common) // w >= 1e9 div cap
    }
    assert(out.map(x => (-x._3, -x._4, x._1, x._2)).toSeq ==
      out.map(x => (-x._3, -x._4, x._1, x._2)).sortBy(identity).toSeq)
  }

  test("lpaOn seed contract: every caller's seed frame carries each node exactly once (sf0.01)") {
    // lpaOn's seed fold keeps ONE label per node, so a caller passing a
    // node twice would silently lose a label: pin the contract on every
    // caller's real seed frame — g03's supplier seeds, and seedNodes at
    // g09's fixed and g12's sqrt-N cell counts
    import org.apache.spark.sql.functions.col
    val d01 = d.replace("sf0.001", "sf0.01")
    val corpus = Tables.embeddings(spark, d01)
      .select(col("vec_id"), Similarity.quantize(col("embedding")).as("qv"))
    val n = corpus.count()
    val frames = Seq(
      "g03 supplier seeds" -> Graph.lpaSeeds(spark, d01),
      "g09 seedNodes" -> Similarity.seedNodes(corpus, Similarity.N_CELLS),
      "g12 seedNodes" -> Similarity.seedNodes(corpus, Similarity.sqrtCells(n)))
    frames.foreach { case (who, seeds) =>
      val nodes = seeds.select("node").collect().map(_.getLong(0))
      assert(nodes.nonEmpty, s"$who is empty")
      assert(nodes.distinct.length == nodes.length,
        s"$who repeats a node: ${nodes.diff(nodes.distinct).take(5).mkString(",")}")
    }
  }
}
