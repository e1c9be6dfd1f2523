package org.apache.spark

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted, SparkListenerUnpersistRDD}

/** Test access to RDD persistence bookkeeping that the weak-valued
  * `SparkContext.getPersistentRDDs` cannot give: which RDDs a block of
  * code persisted and did not release itself. A frame the code drops
  * without releasing is a leak even after the JVM collects it (the
  * ContextCleaner unpersists it then), so a garbage collection during the
  * block cannot hide one.
  */
object PersistLedger {
  /** RDD ids the ContextCleaner unpersisted because their RDD was
    * collected: each such id also gets one unpersist event of its own.
    */
  private val collected = ConcurrentHashMap.newKeySet[Int]()
  private var attachedTo: SparkContext = null

  private def attach(sc: SparkContext): Unit = synchronized {
    if (attachedTo ne sc) {
      sc.cleaner.foreach(_.attachListener(new CleanerListener {
        def rddCleaned(rddId: Int): Unit = collected.add(rddId)
        def shuffleCleaned(shuffleId: Int): Unit = ()
        def broadcastCleaned(broadcastId: Long): Unit = ()
        def accumCleaned(accId: Long): Unit = ()
        def checkpointCleaned(rddId: Long): Unit = ()
      }))
      attachedTo = sc
    }
  }

  /** Ids of the RDDs that `run` persisted, computed and left unreleased:
    * persisted ones show in a submitted stage with a valid storage level;
    * a released one has an unpersist event besides the cleaner's.
    */
  def unreleased(sc: SparkContext)(run: => Unit): Set[Int] = {
    attach(sc)
    val first = sc.emptyRDD[Int].id // RDD ids only grow
    val persisted = ConcurrentHashMap.newKeySet[Int]()
    val unpersists = new ConcurrentHashMap[Int, Integer]()
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        e.stageInfo.rddInfos
          .filter(i => i.id > first && i.storageLevel.isValid)
          .foreach(i => persisted.add(i.id))
      override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit =
        unpersists.merge(e.rddId, 1, (a, b) => a + b)
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      try run
      finally ListenerBusDrain(sc)
    } finally sc.removeSparkListener(listener)
    persisted.asScala.filter { id =>
      val byCleaner = if (collected.contains(id)) 1 else 0
      unpersists.getOrDefault(id, 0) <= byCleaner
    }.toSet
  }
}
