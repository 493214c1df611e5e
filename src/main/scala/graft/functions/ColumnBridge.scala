package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into Spark's `private[sql]` Column ⇄ Expression conversion
  * (`org.apache.spark.sql.classic.ExpressionUtils`): the library defines
  * native Catalyst expressions ([[graft.functions.ZValue]],
  * [[graft.functions.CosineSimilarity]]) and needs to wrap them as
  * `Column`s for the DataFrame API without requiring callers to register
  * SQL functions first. Lives in the `org.apache.spark.sql` namespace
  * solely for access; no Spark behavior is modified.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}

/** Bridge into `private[sql]` plan construction for ITERATIVE operators.
  *
  * Why it exists: `Dataset.localCheckpoint` truncates LINEAGE but
  * carries the origin plan's ESTIMATED statistics onto the new leaf
  * (`LogicalRDD.fromDataset`). An iterative operator whose round
  * references the previous round's frame twice — e.g. the
  * pointer-jumping label ⋈ label step of connected components — then
  * SQUARES `sizeInBytes` every round: size-only join estimation is a
  * plain product, so after k rounds the estimate is `base^(2^k)`, a
  * BigInteger with 2^k digits. Around k ≈ 17 the planner spends minutes
  * inside `BigInteger.multiply` (Toom–Cook on million-digit numbers)
  * — the driver hard-hangs on ANALYSIS, not on data (observed on a
  * sparse CC input needing ~17 rounds; the data itself was kilobytes).
  *
  * [[statsFlatLeaf]] rebuilds a frame as a fresh leaf over the SAME
  * InternalRow RDD (no serialization round-trip, no job) with default
  * leaf statistics, so per-round estimates stay constant-size. Used on
  * the per-round state INSIDE iterative loops; the operator's final
  * result remains a normal checkpointed frame. The conservative
  * default leaf size merely disables auto-broadcast for the wrapped
  * frame — correct-but-pessimistic, and irrelevant for node-keyed
  * shuffle joins. */
object PlanBridge {
  /** Rebuilds `df` as a fresh `LogicalRDD` leaf over its InternalRow RDD
    * via `internalCreateDataFrame`: default leaf statistics, and no
    * claimed `outputPartitioning` / `outputOrdering`. A variant that kept
    * the origin's physical partitioning and ordering (so a same-key round
    * could skip an exchange) was measured and rejected: job counts were
    * identical on q95, q76, d06, q142, q64 and q133, because the carried
    * partitioning never satisfied a downstream requirement
    * (OPTIMIZATION_r16.md, "statsFlatLeaf partitioning preservation"). */
  def statsFlatLeaf(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
    ds.sparkSession.internalCreateDataFrame(
      ds.queryExecution.toRdd, df.schema)
  }
}
