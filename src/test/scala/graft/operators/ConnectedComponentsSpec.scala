package graft.operators

import graft.SparkSpec

/** Both connected-component strategies (driver union-find for bounded
  * graphs, distributed label propagation) must agree.
  */
class ConnectedComponentsSpec extends SparkSpec {
  import spark.implicits._

  test("union-find and label propagation agree on a multi-component graph") {
    // components: {1,2,3,4} (chain), {10,11}, {20,21,22} (triangle+tail)
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L))
      .toDF("id_a", "id_b")
    val lp = Dedup.connectedComponents(edges).as[(Long, Long)].collect().toMap
    val uf = Dedup.connectedComponentsAuto(edges).as[(Long, Long)].collect().toMap
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L)
    assert(lp == expected)
    assert(uf == expected)
  }

  test("small-graph path leaves no cached RDDs behind (cache is unpersisted)") {
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    assert(leaksAtMost(0) { Dedup.connectedComponentsAuto(edges).collect() })
  }

  test("distributed path persists only the checkpointed result") {
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    // fwd/bidir/intermediate label checkpoints must be unpersisted; only
    // the final labels' localCheckpoint may remain (lineage is truncated)
    assert(leaksAtMost(1) { Dedup.connectedComponents(edges).collect() })
  }

  test("long chain converges within the iteration cap") {
    val chain = (1L until 40L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val lp = Dedup.connectedComponents(chain, maxIter = 50)
      .as[(Long, Long)].collect()
    assert(lp.forall(_._2 == 1L) && lp.length == 40)
  }

  test("adversarial-diameter chain converges in O(log n) rounds at the DEFAULT cap") {
    // a 200-node chain has diameter 199: plain min-label propagation would
    // need 199 rounds; the alternating-star rounds must close it within
    // the default maxIter=20 (~log n)
    val chain = (1L until 200L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val lp = Dedup.connectedComponents(chain).as[(Long, Long)].collect()
    assert(lp.forall(_._2 == 1L) && lp.length == 200)
  }

  test("unconverged at maxIter fails loudly instead of returning wrong labels") {
    val chain = (1L until 200L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val ex = intercept[IllegalStateException] {
      Dedup.connectedComponents(chain, maxIter = 2)
    }
    assert(ex.getMessage.contains("did not converge"))
  }

  test("star rounds and union-find agree on seeded random graphs") {
    // Erdős–Rényi-ish graphs across densities: sparse (forest-like, many
    // components), near-threshold, and dense (one giant component)
    val rnd = new scala.util.Random(4242)
    for (edgeCount <- Seq(200, 1000, 3000)) {
      val n = 800
      val edges = Seq.fill(edgeCount)(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
        .toDF("id_a", "id_b")
      val lp = Dedup.connectedComponents(edges).as[(Long, Long)].collect().toMap
      val uf = Dedup.connectedComponentsAuto(edges).as[(Long, Long)].collect().toMap
      assert(lp == uf, s"disagreement at edgeCount=$edgeCount")
    }
  }

  test("self-loop-only nodes still receive their own label") {
    val edges = Seq((5L, 5L), (7L, 8L)).toDF("id_a", "id_b")
    val lp = Dedup.connectedComponents(edges).as[(Long, Long)].collect().toMap
    assert(lp == Map(5L -> 5L, 7L -> 7L, 8L -> 7L))
  }
}
