package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

/** The round, checkpoint and release policy shared by the iterative
  * [[Graph]] operators. Each of their rounds is "step, maybe checkpoint,
  * maybe observe"; the operator states only the step, and this object
  * owns the lineage and block-lifetime bookkeeping:
  *
  *  - [[chain]]: lazy rounds — one job runs several chained rounds — with
  *    an eager checkpoint every `every` rounds, never after the last.
  *  - [[eager]]: every round materializes once.
  *  - [[until]]: [[eager]] with an `Observation` riding each round's
  *    checkpoint job; stops once the caller's predicate holds.
  *  - [[Run.finish]]: one final materialization, then the loop's last
  *    checkpoint is released.
  *
  * A checkpoint is freed ([[release]]) only after its successor has
  * materialized, so no live frame ever reads a released block. By default
  * the state is re-wrapped as a stats-flat leaf after each checkpoint
  * ([[org.apache.spark.sql.graft.PlanBridge.statsFlatLeaf]]); a loop
  * whose plans were tuned on the raw checkpoint passes `leaf = identity`.
  * Every loop records its executed round count in
  * [[Graph.ConvergenceGauge]]. */
private[operators] object Iterate {

  private val flat: DataFrame => DataFrame =
    org.apache.spark.sql.graft.PlanBridge.statsFlatLeaf

  /** Loop state after the last round, plus the checkpoint it still rides
    * (None when no round materialized and no block was handed in). */
  final class Run private[Iterate] (val state: DataFrame,
      val held: Option[DataFrame]) {
    /** Materialize `out(state)` once, then free the held checkpoint; the
      * caller owns the returned frame. */
    def finish(out: DataFrame => DataFrame = identity): DataFrame = {
      val res = out(state).localCheckpoint(true)
      held.foreach(release(_))
      res
    }
  }

  /** Free the checkpoint blocks `dfs` read from. `Dataset.unpersist` only
    * drops `persist()` cache entries and frees nothing on a
    * `localCheckpoint` frame, so the checkpointed RDDs under each frame's
    * leaves are unpersisted directly. Call it only once no live lazy
    * frame reads those blocks. */
  def release(dfs: DataFrame*): Unit =
    for (df <- dfs; leaf <- df.queryExecution.analyzed.collectLeaves())
      leaf match {
        case l: LogicalRDD if l.rdd.getStorageLevel != StorageLevel.NONE =>
          l.rdd.unpersist(blocking = false)
        case _ => ()
      }

  /** Checkpoint `df` eagerly with `metric` observed on the same job (no
    * second action). Returns the checkpoint and the metric, `default`
    * when it is NULL (e.g. a max over no rows). `keep` names the columns
    * to materialize when the metric reads columns the result drops. */
  def observe[T](df: DataFrame, metric: Column, default: T,
      keep: Seq[String] = Nil): (DataFrame, T) = {
    val obs = Observation()
    val seen = df.observe(obs, metric.as("m"))
    val ck = (if (keep.isEmpty || keep == df.columns.toSeq) seen
      else seen.select(keep.map(col): _*)).localCheckpoint(true)
    (ck, Option(obs.get("m")).map(_.asInstanceOf[T]).getOrElse(default))
  }

  /** `rounds` lazy applications of `step` (rounds numbered from 1). Every
    * `every` rounds, except after the last, the state materializes to
    * truncate lineage. `held` is a checkpoint the loop starts on and may
    * free once a newer one exists. */
  def chain(init: DataFrame, rounds: Int, every: Int,
      held: Option[DataFrame] = None, leaf: DataFrame => DataFrame = flat)(
      step: (DataFrame, Int) => DataFrame): Run =
    drive(init, rounds, held, leaf) { (s, i) =>
      val next = step(s, i)
      if (i % every == 0 && i < rounds) Right((next.localCheckpoint(true), false))
      else Left(next)
    }

  /** `rounds` eagerly materialized applications of `step`. */
  def eager(init: DataFrame, rounds: Int, held: Option[DataFrame] = None,
      leaf: DataFrame => DataFrame = flat)(
      step: (DataFrame, Int) => DataFrame): Run =
    drive(init, rounds, held, leaf)((s, i) =>
      Right((step(s, i).localCheckpoint(true), false)))

  /** Eager rounds that each observe `metric` on their checkpoint job and
    * stop after `rounds` or once `done(metric)`. The step may carry extra
    * columns for the metric; the state keeps `init`'s columns. */
  def until[T](init: DataFrame, rounds: Int, metric: Column, default: T,
      held: Option[DataFrame] = None, leaf: DataFrame => DataFrame = flat)(
      step: (DataFrame, Int) => DataFrame)(done: T => Boolean): Run =
    drive(init, rounds, held, leaf) { (s, i) =>
      val (ck, v) = observe(step(s, i), metric, default, init.columns.toSeq)
      Right((ck, done(v)))
    }

  /** The one loop: a round yields either a lazy next state (Left) or a
    * checkpoint and whether to stop (Right). */
  private def drive(init: DataFrame, rounds: Int, held: Option[DataFrame],
      leaf: DataFrame => DataFrame)(
      round: (DataFrame, Int) => Either[DataFrame, (DataFrame, Boolean)]): Run = {
    var state = init
    var last = held
    var i = 0
    var stop = false
    while (i < rounds && !stop) {
      i += 1
      round(state, i) match {
        case Left(next) => state = next
        case Right((ck, s)) =>
          last.foreach(release(_))
          last = Some(ck)
          state = leaf(ck)
          stop = s
      }
    }
    Graph.ConvergenceGauge.lastRounds = i
    new Run(state, last)
  }
}
