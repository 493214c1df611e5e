package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Distributed top-principal-component extraction by power iteration —
  * the embedding-hygiene op real pipelines run before similarity work
  * (dominant-direction removal, 1-D curriculum ordering, drift
  * monitoring): `v ← normalize(Xᶜᵀ (Xᶜ v))` over the mean-centered
  * corpus, then per-document projections onto the converged component.
  *
  * Exactness contract (the [[Classifier]] lockstep discipline): every
  * CROSS-ROW sum — the per-dimension mean, both matrix-vector products
  * of each round, and the norm — accumulates DECIMAL(28,12) addends,
  * so partition merge order can never perturb the trajectory, and the
  * component vector is rounded to 12 decimals between rounds. A DuckDB
  * replay of the unrolled iteration is bit-identical round-for-round
  * (oracle s15).
  *
  * Scale shape per round: one broadcast join of the d-row component
  * against the exploded corpus + a doc-keyed partial agg (scores), one
  * doc-keyed join back + a dim-keyed partial agg (the new component) —
  * shuffle ∝ N·d rows, d-row component broadcast, only the scalar norm
  * crossing to the driver. Rounds are sequential driver-launched jobs
  * (the [[Classifier.trainTextClassifier]] cost frame).
  */
object Pca {

  private val Dec = DecimalType(28, 12)

  /** Mean-centered exploded corpus `(vec_id, dim, xc)` with 1-based
    * dims (matches SQL `generate_subscripts`); the per-dim mean is the
    * round-12 double of an exact DECIMAL sum over `n` rows. */
  private def centered(embeddings: DataFrame): (DataFrame, Long) = {
    val ex = embeddings
      .filter(col("vec_id").isNotNull && col("embedding").isNotNull)
      .select(col("vec_id").cast("long").as("vec_id"),
        posexplode(col("embedding")))
      .select(col("vec_id"), (col("pos") + 1).as("dim"),
        col("col").cast(DoubleType).as("x"))
    val n = embeddings
      .filter(col("vec_id").isNotNull && col("embedding").isNotNull).count()
    require(n > 0, "cannot run PCA on an empty corpus")
    val mu = ex.groupBy(col("dim"))
      .agg(round(sum(col("x").cast(Dec)).cast(DoubleType) / lit(n.toDouble),
        12).as("mu"))
    val xc = ex.join(broadcast(mu), Seq("dim"))
      .select(col("vec_id"), col("dim"), (col("x") - col("mu")).as("xc"))
      .localCheckpoint(true)
    (xc, n)
  }

  /** The converged (round-12) top component as a `(dim, v)` frame after
    * `rounds` power iterations from the deterministic init `v₀ = e₁`.
    * Fails loudly if the iterate collapses (all-equal corpus rows or an
    * init orthogonal to the data — re-seed by permuting dims). */
  def pcaPowerComponent(embeddings: DataFrame, rounds: Int = 3): DataFrame = {
    require(rounds >= 1, "need at least one power-iteration round")
    val (xc, _) = centered(embeddings)
    val out = iterate(xc, rounds).state
    Iterate.release(xc)
    out
  }

  /** Per-document projections `(vec_id, pc1)` onto the converged top
    * component — round-6, ready for 1-D bucketing ([[TextAnalysis]]
    * ntiles), curriculum sort, or dominant-direction removal. */
  def pcaPowerProject(embeddings: DataFrame, rounds: Int = 3): DataFrame = {
    require(rounds >= 1, "need at least one power-iteration round")
    val (xc, _) = centered(embeddings)
    val out = iterate(xc, rounds).finish(v => xc.join(broadcast(v), Seq("dim"))
      .groupBy(col("vec_id"))
      .agg(round(sum((col("xc") * col("v")).cast(Dec)).cast(DoubleType), 6)
        .as("pc1")))
    Iterate.release(xc)
    out
  }

  private def iterate(xc: DataFrame, rounds: Int): Iterate.Run = {
    // v₀ = e₁: deterministic, engine-portable; each round's component
    // materializes eagerly (d-row, cheap) because the next round
    // references it twice
    val v0 = xc.select(col("dim")).distinct()
      .select(col("dim"),
        when(col("dim") === 1, lit(1.0)).otherwise(lit(0.0)).as("v"))
      .localCheckpoint(true)
    Iterate.eager(v0, rounds, Some(v0), identity) { (v, _) =>
      val s = xc.join(broadcast(v), Seq("dim"))
        .groupBy(col("vec_id"))
        .agg(sum((col("xc") * col("v")).cast(Dec)).cast(DoubleType).as("s"))
      // round scratch: freed once the normalized component materializes
      val w = Iterate.scratch(xc.join(s, Seq("vec_id"))
        .groupBy(col("dim"))
        .agg(sum((col("s") * col("xc")).cast(Dec)).cast(DoubleType).as("w"))
        .localCheckpoint(true))
      val n2 = w.agg(sum((col("w") * col("w")).cast(Dec)).cast(DoubleType))
        .collect().head.getDouble(0)
      require(n2 > 0.0,
        "power iterate collapsed to zero — degenerate corpus or init")
      val nrm = math.sqrt(n2)
      w.select(col("dim"), round(col("w") / lit(nrm), 12).as("v"))
    }
  }
}
