package graft.operators

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkSpec

/** The round driver of the checkpointed fixpoints ([[Graph.fixpoint]]
  * over [[Graph.checkpointed]]), pinned on planted graphs:
  *
  *   - every round is ONE action, its eager checkpoint: the round's
  *     scalars (g04's frontier size, g10's node and survivor counts, the
  *     connected-components fingerprint) are observed on it, so no
  *     count, isEmpty or collect probe runs between checkpoints;
  *   - no superseded round's checkpoint stays persisted: what is left is
  *     the result the returned frame reads, and nothing else.
  */
class GraphRoundDriverSpec extends SparkSpec {
  import spark.implicits._

  /** Symmetric, src-partitioned, checkpointed edges (the kernel contract). */
  private def symmetric(raw: Seq[(Long, Long)]): DataFrame = {
    val df = raw.toDF("src", "dst")
    df.unionByName(df.select(col("dst").as("src"), col("src").as("dst")))
      .repartition(col("src"))
      .localCheckpoint(true)
  }

  /** The path 0-1-2-3-4: from seed 0, hops 1..4 each discover one node
    * and hop 5 discovers none.
    */
  private def path: DataFrame = symmetric((0L until 4L).map(i => (i, i + 1)))

  /** Round17OpsSpec's pendant chain 10-11-12-13 feeding K4 {1,2,3,4}: the
    * 2-core peels one chain node per round (4 peels, then the fixpoint),
    * the 3-core is K4 already (fixpoint at once), and the 4-core peels
    * K4 away in one round, then reaches its (empty) fixpoint.
    */
  private def chainIntoClique: DataFrame = {
    val k4 = for (a <- 1L to 4L; b <- 1L to 4L if a < b) yield (a, b)
    symmetric(k4 ++ Seq((1L, 10L), (10L, 11L), (11L, 12L), (12L, 13L)))
  }

  /** The actions (completed query executions) `run` triggers on the
    * shared session, by function name, in completion order.
    */
  private def actions(run: => Unit): Seq[String] = {
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        seen.add(f)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        seen.add(f)
    }
    ListenerBusDrain(spark.sparkContext) // earlier work's events land first
    spark.listenerManager.register(listener)
    try {
      try run
      finally ListenerBusDrain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    seen.asScala.toSeq
  }

  private val CK = "localCheckpoint"

  /** Alternating-star rounds the 40-node chain takes to its fixpoint. */
  private val CC_ROUNDS = 7

  test("g04: one action per hop — the frontier size rides the hop's checkpoint") {
    val adj = path
    var got: Seq[(Int, Long)] = Nil
    val acts = actions {
      got = Graph.bfsReachOf(adj, 0L).collect()
        .map(r => (r.getInt(0), r.getLong(1))).toSeq
    }
    assert(got == Seq((0, 1L), (1, 1L), (2, 1L), (3, 1L), (4, 1L)))
    // hops 1..4 discover a node each, hop 5 none and stops; no seed job
    assert(acts == Seq.fill(5)(CK) :+ "collect", acts.mkString(", "))
  }

  test("g10: a peel round is two actions, the fixpoint round one") {
    val edges = chainIntoClique
    var got: Seq[(Long, Long, Long, Boolean)] = Nil
    val acts = actions {
      got = Graph.kcoreCensusOf(edges).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
        .toSeq
    }
    assert(got == Seq(
      (2L, 4L, 6L, true), (3L, 4L, 6L, true), (4L, 0L, 0L, true)))
    val peel = Seq(CK, CK) // degrees with n_now/n_surv observed, then edges
    val fixed = Seq(CK) // degrees only: no node under k
    val expected = Seq("count") ++ // n0, the up-front relayout decision
      Seq.fill(4)(peel).flatten ++ fixed ++ // k = 2
      fixed ++ // k = 3
      peel ++ fixed :+ // k = 4
      "collect"
    assert(acts == expected, acts.mkString(", "))
  }

  test("connectedComponents: one action per alternating-star round") {
    val chain = (1L until 40L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    // input edges (with the first fingerprint observed) + node set, then
    // maxIter rounds, then the throw: the round count is exactly known
    for (maxIter <- Seq(1, 2, 3)) {
      val acts = actions {
        intercept[IllegalStateException] {
          Dedup.connectedComponents(chain, maxIter = maxIter)
        }
      }
      assert(acts == Seq.fill(2 + maxIter)(CK), s"maxIter=$maxIter: $acts")
    }
    var labels: Map[Long, Long] = Map.empty
    val acts = actions {
      labels = Dedup.connectedComponents(chain, maxIter = 50)
        .as[(Long, Long)].collect().toMap
    }
    assert(labels.size == 40 && labels.values.forall(_ == 1L))
    // input + nodes + CC_ROUNDS rounds (the last one the no-op that shows
    // the fixpoint) + labels, then the collect
    assert(acts == Seq.fill(3 + CC_ROUNDS)(CK) :+ "collect", acts.mkString(", "))
  }

  test("g04 leaves only its final distance frame persisted") {
    val adj = path
    assert(leaksAtMost(1) { Graph.bfsReachOf(adj, 0L).collect() })
  }

  test("g07 leaves only its adjacency and final distance frame persisted") {
    val ew = Seq((0L, 1L, 5L), (1L, 2L, 1L), (0L, 2L, 9L), (2L, 3L, 2L))
      .toDF("src", "dst", "w")
    var got: Seq[(Long, Long)] = Nil
    assert(leaksAtMost(2) {
      got = Graph.ssspFrom(ew, 0L).collect()
        .map(r => (r.getLong(0), r.getLong(2))).toSeq
    })
    assert(got == Seq((0L, 0L), (1L, 5L), (2L, 6L), (3L, 8L)))
  }

  test("g10 leaves only the cores its census reads persisted") {
    val edges = chainIntoClique
    // the 2-core (the 3-core is the same frame) and the empty 4-core
    assert(leaksAtMost(2) { Graph.kcoreCensusOf(edges).collect() })
  }
}
