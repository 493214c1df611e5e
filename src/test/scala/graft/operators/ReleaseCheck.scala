package graft.operators

import scala.collection.mutable

import org.apache.spark.{SparkContext, TestBus}
import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated, SparkListenerUnpersistRDD}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.RDDBlockId
import org.scalatest.Assertions.assert

/** Block-lifetime check shared by the operator specs: an operator may
  * leave stored only the checkpoints its result reads.
  *
  * It counts the RDD blocks the block manager reports stored, not
  * `SparkContext.getPersistentRDDs`: that map holds its RDDs weakly, so a
  * driver GC between a leak and the check would hide the leak. Sessions
  * that use the check set `spark.cleaner.referenceTracking=false`, so the
  * context cleaner cannot free a leaked checkpoint's blocks first, and
  * call [[track]] as soon as the session is built. */
object ReleaseCheck {

  /** Stored blocks per RDD id, from block updates and unpersist events
    * (an unpersist removes its blocks without a block update). */
  private final class StoredBlocks extends SparkListener {
    private val blocks = mutable.Map.empty[Int, Set[Int]]

    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
      e.blockUpdatedInfo.blockId match {
        case RDDBlockId(rdd, split) => synchronized {
          val had = blocks.getOrElse(rdd, Set.empty[Int])
          val now =
            if (e.blockUpdatedInfo.storageLevel.isValid) had + split else had - split
          if (now.isEmpty) blocks -= rdd else blocks(rdd) = now
        }
        case _ => ()
      }

    override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit =
      synchronized { blocks -= e.rddId }

    def counts: Map[Int, Int] = synchronized { blocks.view.mapValues(_.size).toMap }
  }

  private val tracked = new java.util.WeakHashMap[SparkContext, StoredBlocks]

  /** Start counting `sc`'s stored blocks; call it when the session is
    * built. Blocks stored before are not seen, and a later update of one
    * (a block evicted from memory to disk) would read as a new block. */
  def track(sc: SparkContext): Unit = tracked.synchronized {
    if (!tracked.containsKey(sc)) {
      val b = new StoredBlocks
      sc.addSparkListener(b)
      tracked.put(sc, b)
    }
  }

  /** Stored block count per RDD id of a [[track]]ed `sc`. */
  def storedBlocks(sc: SparkContext): Map[Int, Int] = {
    val blocks = tracked.synchronized(tracked.get(sc))
    assert(blocks != null, "ReleaseCheck.track was not called for this context")
    TestBus.drain(sc)
    blocks.counts
  }

  /** Persisted RDD ids the frame's plan reads (its checkpoint leaves). */
  def heldBy(df: DataFrame): Set[Int] =
    df.queryExecution.analyzed.collectLeaves().collect {
      case l: LogicalRDD => l.rdd.id
    }.toSet

  /** Run `call` and count the blocks it left stored outside the returned
    * frame's checkpoint leaves, by RDD id; then release the result. */
  def leaked(sc: SparkContext)(call: => DataFrame): Map[Int, Int] = {
    val before = storedBlocks(sc).keySet
    val out = call
    val held = heldBy(out)
    val left = storedBlocks(sc).filter { case (rdd, _) => !before(rdd) && !held(rdd) }
    Iterate.release(out)
    left
  }

  /** Run `call` and assert it stored blocks only for the returned frame's
    * checkpoint leaves; then release the result. */
  def check(sc: SparkContext, name: String)(call: => DataFrame): Unit = {
    val left = leaked(sc)(call)
    assert(left.isEmpty,
      s"$name left ${left.size} checkpoint(s) stored (${left.values.sum} block(s))")
  }
}
