package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Label-quality operators for a labeled embedding corpus — the
  * training-data side of weak supervision: predict labels by
  * neighborhood vote, and audit existing labels by neighborhood
  * agreement (the confident-learning screen that flags probable
  * annotation errors before they reach a trainer).
  *
  * Every operator aggregates over a NEIGHBOR FRAME — any
  * `(query_id, rank, neighbor_id, …)` result from the ANN family
  * ([[Similarity.knnKernel]] exact, or ivf/sq8/pq/rp for scale) — so
  * the label pass composes with whichever index the corpus size
  * demands; the aggregations themselves are two partial-combining hash
  * aggs, label-cardinality-bounded, shuffle ∝ neighbor rows. Majority
  * is `min(struct(-votes, label))` — never a per-neighborhood window.
  */
object Labels {

  /** Majority-vote label prediction over a neighbor frame: for each
    * `query_id`, the most frequent neighbor label, ties broken by the
    * SMALLEST label (deterministic, engine-portable). `labels` is the
    * corpus `(vec_id, label)`; null labels are ignored (a neighbor
    * without a label casts no vote). Output: (vec_id, pred_label,
    * votes). */
  def classifyFromNeighbors(neighbors: DataFrame, labels: DataFrame): DataFrame = {
    val lab = labels.select(col("vec_id").as("neighbor_id"), col("label"))
      .filter(col("label").isNotNull)
    neighbors.select(col("query_id"), col("neighbor_id"))
      .join(lab, Seq("neighbor_id"))
      .groupBy(col("query_id"), col("label"))
      .agg(count(lit(1)).as("votes"))
      .groupBy(col("query_id"))
      .agg(min(struct((-col("votes")).as("nv"), col("label"))).as("w"))
      .select(col("query_id").as("vec_id"),
        col("w.label").as("pred_label"), (-col("w.nv")).as("votes"))
  }

  /** Label-agreement audit over a neighbor frame: for each `query_id`,
    * the fraction of its voting neighbors that share its OWN label —
    * low agreement on a high-consensus neighborhood is the standard
    * probable-mislabel signal. Rows whose own label is null are
    * dropped (nothing to audit). Output: (vec_id, own_label,
    * agree_frac) with agree_frac round-6 over the VOTING neighbor
    * count (label-less neighbors don't dilute). */
  def agreementFromNeighbors(neighbors: DataFrame, labels: DataFrame): DataFrame = {
    val own = labels.select(col("vec_id").as("query_id"),
        col("label").as("own_label"))
      .filter(col("own_label").isNotNull)
    val lab = labels.select(col("vec_id").as("neighbor_id"),
        col("label").as("n_label"))
      .filter(col("n_label").isNotNull)
    neighbors.select(col("query_id"), col("neighbor_id"))
      .join(lab, Seq("neighbor_id"))
      .join(own, Seq("query_id"))
      .groupBy(col("query_id"), col("own_label"))
      .agg(round(sum(when(col("n_label") === col("own_label"), 1.0)
          .otherwise(0.0)) / count(lit(1)), 6).as("agree_frac"))
      .select(col("query_id").as("vec_id"), col("own_label"), col("agree_frac"))
  }

  /** Contrastive-pair mining over a labeled embedding corpus — the
    * training-data op behind metric-learning / embedding fine-tuning:
    * for each labeled query vector, the `kNeg` most-SIMILAR corpus
    * vectors with a DIFFERENT label (hard negatives — the confusable
    * impostors a contrastive loss needs) and the `kPos` LEAST-similar
    * vectors with the SAME label (hard positives — the in-class
    * stragglers). One kernel pass over the corpus emits both kinds
    * (labeled rows only, self excluded); a single window ranks them
    * with a kind-dependent direction, so the cost is the
    * [[Similarity.knnKernel]] shape — broadcast-bounded query side,
    * corpus scanned once, rank prune before anything wide. Output:
    * `(query_id, kind, rank, neighbor_id, cs, own_label, pair_label)`
    * with kind ∈ {"neg","pos"} and cs the round-6 cosine. */
  def contrastiveMine(queries: DataFrame, corpus: DataFrame,
      kNeg: Int, kPos: Int): DataFrame = {
    require(kNeg >= 0 && kPos >= 0 && kNeg + kPos > 0,
      "need a positive kNeg or kPos")
    val sp = corpus.sparkSession
    import sp.implicits._
    val qs = queries
      .select(col("vec_id").cast("long"), col("label").cast("int"),
        col("embedding"))
      .filter(col("vec_id").isNotNull && col("label").isNotNull &&
        col("embedding").isNotNull)
      .limit(Similarity.MaxBroadcastQueries + 1)
      .as[(Long, Int, Array[Float])].collect()
    require(qs.length <= Similarity.MaxBroadcastQueries,
      s"query set exceeds MaxBroadcastQueries=${Similarity.MaxBroadcastQueries}")
    val qb = sp.sparkContext.broadcast(qs)
    val pairs = corpus
      .select(col("vec_id").cast("long"), col("label").cast("int"),
        col("embedding"))
      .filter(col("vec_id").isNotNull && col("label").isNotNull &&
        col("embedding").isNotNull)
      .as[(Long, Int, Array[Float])]
      .mapPartitions { it =>
        val q = qb.value
        it.flatMap { case (nid, nlab, v) =>
          q.iterator.filter(_._1 != nid).map { case (qid, qlab, qv) =>
            (qid, if (qlab == nlab) "pos" else "neg", nid, nlab,
              Similarity.cosineKernel(qv, v), qlab)
          }
        }
      }.toDF("query_id", "kind", "neighbor_id", "pair_label", "cs",
        "own_label")
    // negatives rank by cosine DESC (most similar impostor first),
    // positives by cosine ASC (least similar classmate first): one
    // window, kind-signed order key
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"), col("kind"))
      .orderBy(when(col("kind") === "neg", -col("cs")).otherwise(col("cs")),
        col("neighbor_id"))
    pairs.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= when(col("kind") === "neg", kNeg).otherwise(kPos))
      .select(col("query_id"), col("kind"), col("rank"), col("neighbor_id"),
        col("cs"), col("own_label"), col("pair_label"))
  }

  /** Exact-kNN majority classifier: [[classifyFromNeighbors]] over
    * [[Similarity.knnKernel]]'s top-`k` (self excluded). The query
    * side is the audit sample (bounded by the broadcast contract);
    * corpus-scale passes plug an ANN neighbor frame into
    * [[classifyFromNeighbors]] instead. */
  def knnClassify(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame =
    classifyFromNeighbors(Similarity.knnKernel(queries, corpus, k), corpus)

  /** Exact-kNN label audit: prediction AND own-label agreement per
    * query — the one-pass screen ("flag where agree_frac is low and
    * pred_label disagrees"). Output: (vec_id, own_label, agree_frac,
    * pred_label, votes). */
  def knnLabelAudit(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val neighbors = Similarity.knnKernel(queries, corpus, k)
      .localCheckpoint(true) // feeds both aggregations below
    val out = agreementFromNeighbors(neighbors, corpus)
      .join(classifyFromNeighbors(neighbors, corpus), Seq("vec_id"))
      .localCheckpoint(true) // output-sized (one row per audited vector)
    Iterate.release(neighbors)
    out
  }
}
