package graft.operators

import org.apache.spark.SparkContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.scalatest.Assertions.assert

/** Block-lifetime check shared by the operator specs: an operator may
  * leave persisted only the checkpoints its result reads. */
object ReleaseCheck {

  /** Persisted RDD ids the frame's plan reads (its checkpoint leaves). */
  def heldBy(df: DataFrame): Set[Int] =
    df.queryExecution.analyzed.collectLeaves().collect {
      case l: LogicalRDD => l.rdd.id
    }.toSet

  /** Run `call` and assert the persistent-RDD set grew only by the
    * returned frame's checkpoint leaves; then release the result. */
  def check(sc: SparkContext, name: String)(call: => DataFrame): Unit = {
    val before = sc.getPersistentRDDs.keySet
    val out = call
    val grown = sc.getPersistentRDDs.keySet -- before
    val held = heldBy(out)
    assert(grown.subsetOf(held),
      s"$name left ${(grown -- held).size} checkpoint(s) persisted")
    Iterate.release(out)
  }
}
