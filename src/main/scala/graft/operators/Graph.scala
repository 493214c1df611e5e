package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Iterative graph analytics over edge DataFrames. Companion to
  * [[Dedup.duplicateClusters]] (connected components): the same
  * join-per-round discipline — every iteration is one equi-join + one
  * hash aggregation shuffled on the node key, lineage truncated per
  * round — so a 100 TB edge set iterates without driver state or
  * growing plans.
  */
object Graph {

  /** Per-round loop state re-wrapped as a stats-flat leaf
    * ([[org.apache.spark.sql.graft.PlanBridge]]): `localCheckpoint`
    * carries the origin's ESTIMATED sizeInBytes onto the new leaf, and
    * any round that inner-joins the previous round's frame against
    * itself (or against the edge list) compounds that estimate
    * multiplicatively — after enough rounds the planner multiplies
    * astronomically large BigIntegers and the driver hangs on ANALYSIS
    * (observed on a 17-round connected-components input; see
    * [[Dedup.duplicateClusters]]). Constant-size leaf stats per round
    * make the estimate round-independent; the final result of every
    * loop still rides a real checkpoint. */
  private def flat(df: DataFrame): DataFrame =
    org.apache.spark.sql.graft.PlanBridge.statsFlatLeaf(df)

  /** PageRank by power iteration: `iterations` rounds of
    *
    *   rank(v) ← round((1 − d) + d · (Σ_{u→v} rank(u) / outdeg(u)
    *                                  + danglingSum / N), roundTo)
    *
    * over an edge list `(src, dst)`; nodes are whatever integral ids the
    * edges carry (the union of both endpoints). DANGLING nodes — nodes
    * with no out-edge — redistribute their rank mass uniformly over all
    * N nodes each round (the standard formulation), so rank never leaks
    * out of the system on non-symmetrized graphs.
    *
    * Determinism contract (the property the DuckDB oracle checks): the
    * per-edge contribution is a single IEEE division, the per-node sum
    * and the dangling-mass sum both go through DECIMAL(28,12) addends so
    * they are independent of partition merge order, and each round's
    * rank is rounded to `roundTo` decimals — both engines stay in
    * bit-identical lockstep for any iteration count.
    *
    * Scale shape: out-degrees are computed once and joined into the
    * edge list (one shuffle, reused every round); each round is
    * edges ⋈ ranks on src + a dst-keyed partial-aggregating sum, plus —
    * only when dangling nodes exist — a one-row dangling-mass aggregate
    * broadcast into the round (never a second full shuffle).
    * Unlike [[Dedup.duplicateClusters]] there is no per-round
    * convergence action, so rounds stay LAZY — one job executes several
    * chained rounds — and lineage is truncated only every
    * `checkpointEvery` rounds ([[Iterate.chain]]) to keep the plan and
    * storage bounded for large iteration counts.
    *
    * `convergeTol` (default None = the lazy fixed-`iterations` lockstep
    * mode above, byte-identical to every prior round) switches on
    * observation-based early stopping: each round materializes with an
    * `Observation` of max |Δrank| riding the SAME action (the
    * duplicateClusters trick — one Spark job per round, no second
    * count), and the loop stops once max |Δrank| ≤ tol or `iterations`
    * rounds have run. `Some(0.0)` stops at EXACT stationarity of the
    * rounded ranks — from that round on every further iteration
    * reproduces the same ranks, so the early-stopped result is
    * identical to any longer fixed run. A converged graph stops
    * wasting rounds; a slow one still gets the full budget. */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int = 10, damping: Double = 0.85, roundTo: Int = 9,
      checkpointEvery: Int = 4, convergeTol: Option[Double] = None,
      initRanks: Option[DataFrame] = None): DataFrame = {
    require(iterations >= 1, "need at least one iteration")
    require(damping > 0 && damping < 1, "damping must be in (0, 1)")
    require(checkpointEvery >= 1, "checkpointEvery must be positive")
    val e = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    // enrich edges with the out-degree once; reused by every round
    val withDeg = e.join(deg, Seq("src")).localCheckpoint(true)
    // node set = union of both endpoints; the left join below keeps a
    // node alive even in rounds where nothing points at it (rank (1-d))
    val nodes = e.select(col("src").as("node"))
      .unionAll(e.select(col("dst").as("node")))
      .distinct().localCheckpoint(true)
    // dangling = nodes with no out-edge; their mass redistributes
    // uniformly. Computed once (anti-join) and checkpointed like nodes.
    val dangling = nodes.join(deg, col("node") === col("src"), "left_anti")
      .localCheckpoint(true)
    val hasDangling = !dangling.isEmpty
    val nNodes = nodes.count()
    // WARM START (incremental analytics): seed from a previous run's
    // `(node, rank)` output instead of the uniform 1.0. Exactness
    // contract: warm-starting from round-i ranks and running j fixed
    // rounds replays rounds i+1..i+j of the cold run bit-for-bit (the
    // update only reads the previous round), and under convergeTol an
    // already-stationary seed stops after ONE verification round — the
    // append-cheaply story of [[updateConnectedComponents]] for rank.
    // Nodes absent from the seed (appended subgraph) start at 1.0.
    val ranks0 = initRanks match {
      case None => nodes.withColumn("r", lit(1.0))
      case Some(seed) => nodes.join(
          seed.select(col("node").cast("long").as("node"),
            col("rank").cast("double").as("_seed")),
          Seq("node"), "left_outer")
        .select(col("node"), coalesce(col("_seed"), lit(1.0)).as("r"))
    }
    val step = (ranks: DataFrame, _: Int) => {
      val contribs = withDeg.join(ranks, col("src") === col("node"))
        .groupBy(col("dst"))
        .agg(sum((col("r") / col("deg").cast("double"))
          .cast(DecimalType(28, 12))).as("csum"))
      // dangling-free graphs keep the exact round-5 plan (and lockstep
      // arithmetic): no dangling term is ever added
      val inflow =
        if (!hasDangling) coalesce(col("csum").cast("double"), lit(0.0))
        else coalesce(col("csum").cast("double"), lit(0.0)) +
          coalesce(col("_dsum").cast("double"), lit(0.0)) / lit(nNodes.toDouble)
      // convergence mode carries the previous rank through the round so
      // the Δ observation rides the materializing action itself; the
      // fixed mode keeps the bare node set (byte-identical legacy plan)
      val base = convergeTol match {
        case Some(_) => ranks.select(col("node"), col("r").as("_prev"))
        case None => nodes
      }
      val joined = base.join(contribs, col("node") === col("dst"), "left_outer")
      val withDang =
        if (!hasDangling) joined
        else joined.crossJoin(broadcast(
          ranks.join(dangling, Seq("node"))
            .agg(sum(col("r").cast(DecimalType(28, 12))).as("_dsum"))))
      val newRank = round(lit(1.0 - damping) + lit(damping) * inflow, roundTo)
      convergeTol match {
        case Some(_) => withDang.select(col("node"), newRank.as("r"), col("_prev"))
        case None => withDang.select(col("node"), newRank.as("r"))
      }
    }
    // fixed mode: lazy rounds, checkpointed every `checkpointEvery`;
    // convergence mode: one observed job per round, Δ collected on it
    val run = convergeTol match {
      case Some(tol) => Iterate.until(ranks0, iterations,
        max(abs(col("r") - col("_prev"))), 0.0)(step)(_ <= tol)
      case None => Iterate.chain(ranks0, iterations, checkpointEvery)(step)
    }
    // one final materialization so every intermediate block (withDeg,
    // nodes, the periodic checkpoints) can be freed NOW — the lazy
    // rounds in between never touched the scheduler
    val result = run.finish()
    Iterate.release(withDeg, nodes, dangling)
    // callers own the returned checkpointed frame's lifetime
    result.select(col("node"), col("r").as("rank"))
  }

  /** WEIGHTED PageRank: [[pageRank]] where each edge carries a
    * non-negative integer weight and a node's rank flows out
    * PROPORTIONALLY to edge weight —
    *
    *   rank(v) ← round((1 − d) + d · Σ_{u→v} rank(u) · w(u,v) / W(u), roundTo)
    *
    * with `W(u)` the node's total out-weight (the co-occurrence /
    * interaction-strength variant every recommender graph uses; the
    * unweighted operator is the w ≡ 1 special case). Zero-weight edges
    * drop (they carry no mass but would otherwise make W(u) = 0 nodes
    * ambiguous); nodes whose every out-edge is zero-weight become
    * dangling and redistribute uniformly, exactly like no-out-edge
    * nodes. Same determinism contract as [[pageRank]]: per-edge
    * contribution is rank·w/W — two IEEE ops off integer inputs —
    * DECIMAL(28,12) addends, per-round rounding; same scale shape
    * (out-weights computed once and joined into the edge list, one
    * equi-join + partial agg per round). */
  def weightedPageRank(edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: String, iterations: Int = 10, damping: Double = 0.85,
      roundTo: Int = 9, checkpointEvery: Int = 4): DataFrame = {
    require(iterations >= 1, "need at least one iteration")
    require(damping > 0 && damping < 1, "damping must be in (0, 1)")
    require(checkpointEvery >= 1, "checkpointEvery must be positive")
    val e0 = edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"),
        col(weightCol).cast("long").as("w"))
      .filter(col("src").isNotNull && col("dst").isNotNull && col("w").isNotNull)
    require(e0.filter(col("w") < 0).isEmpty,
      "weightedPageRank requires non-negative weights")
    val e = e0.filter(col("w") > 0)
    val wsum = e.groupBy(col("src")).agg(sum(col("w")).as("wsum"))
    val withW = e.join(wsum, Seq("src")).localCheckpoint(true)
    val nodes = e0.select(col("src").as("node"))
      .unionAll(e0.select(col("dst").as("node")))
      .distinct().localCheckpoint(true)
    val dangling = nodes.join(e.select(col("src")).distinct(),
      col("node") === col("src"), "left_anti").localCheckpoint(true)
    val hasDangling = !dangling.isEmpty
    val nNodes = nodes.count()
    val run = Iterate.chain(nodes.withColumn("r", lit(1.0)), iterations,
        checkpointEvery) { (ranks, _) =>
      val contribs = withW.join(ranks, col("src") === col("node"))
        .groupBy(col("dst"))
        .agg(sum((col("r") * col("w").cast("double") / col("wsum").cast("double"))
          .cast(DecimalType(28, 12))).as("csum"))
      val inflow =
        if (!hasDangling) coalesce(col("csum").cast("double"), lit(0.0))
        else coalesce(col("csum").cast("double"), lit(0.0)) +
          coalesce(col("_dsum").cast("double"), lit(0.0)) / lit(nNodes.toDouble)
      val joined = nodes.join(contribs, col("node") === col("dst"), "left_outer")
      val withDang =
        if (!hasDangling) joined
        else joined.crossJoin(broadcast(
          ranks.join(dangling, Seq("node"))
            .agg(sum(col("r").cast(DecimalType(28, 12))).as("_dsum"))))
      withDang.select(col("node"),
        round(lit(1.0 - damping) + lit(damping) * inflow, roundTo).as("r"))
    }
    val result = run.finish()
    Iterate.release(withW, nodes, dangling)
    result.select(col("node"), col("r").as("rank"))
  }

  /** PERSONALIZED PageRank: the random surfer restarts at the `sources`
    * set instead of everywhere, so rank measures proximity to the seeds
    * — the recommendation / related-items primitive. Mass-1
    * formulation: teleport vector `t(v) = 1/|sources|` for seed nodes
    * (0 elsewhere), rank init = t, and each round
    *
    *   rank(v) ← round((1 − d)·t(v) + d·(Σ_{u→v} rank(u)/outdeg(u)
    *                                     + danglingSum·t(v)), roundTo)
    *
    * (dangling mass restarts at the seeds too — the standard PPR
    * convention). Seeds absent from the edge set simply carry no mass;
    * determinism contract and per-round shape (one equi-join + one
    * partial agg, DECIMAL sums, lazy chained rounds) are exactly
    * [[pageRank]]'s. Kept as its own loop rather than a parameter of
    * [[pageRank]] so the uniform variant's bit-exact oracle lockstep
    * can never drift. `convergeTol` behaves exactly as in [[pageRank]]:
    * None = lazy fixed-iterations lockstep; Some(tol) = one observed
    * job per round, stop at max |Δrank| ≤ tol. */
  def personalizedPageRank(edges: DataFrame, srcCol: String, dstCol: String,
      sources: Seq[Long], iterations: Int = 10, damping: Double = 0.85,
      roundTo: Int = 9, checkpointEvery: Int = 4,
      convergeTol: Option[Double] = None): DataFrame = {
    require(sources.nonEmpty, "personalizedPageRank needs at least one source node")
    require(iterations >= 1, "need at least one iteration")
    require(damping > 0 && damping < 1, "damping must be in (0, 1)")
    require(checkpointEvery >= 1, "checkpointEvery must be positive")
    val srcSet = sources.distinct
    val e = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val withDeg = e.join(deg, Seq("src")).localCheckpoint(true)
    val nodes = e.select(col("src").as("node"))
      .unionAll(e.select(col("dst").as("node")))
      .distinct().localCheckpoint(true)
    val dangling = nodes.join(deg, col("node") === col("src"), "left_anti")
      .localCheckpoint(true)
    val hasDangling = !dangling.isEmpty
    val tele = when(col("node").isInCollection(srcSet),
      lit(1.0 / srcSet.length)).otherwise(lit(0.0))
    val step = (ranks: DataFrame, _: Int) => {
      val contribs = withDeg.join(ranks, col("src") === col("node"))
        .groupBy(col("dst"))
        .agg(sum((col("r") / col("deg").cast("double"))
          .cast(DecimalType(28, 12))).as("csum"))
      val inflow =
        if (!hasDangling) coalesce(col("csum").cast("double"), lit(0.0))
        else coalesce(col("csum").cast("double"), lit(0.0)) +
          coalesce(col("_dsum").cast("double"), lit(0.0)) * tele
      val base = convergeTol match {
        case Some(_) => ranks.select(col("node"), col("r").as("_prev"))
        case None => nodes
      }
      val joined = base.join(contribs, col("node") === col("dst"), "left_outer")
      val withDang =
        if (!hasDangling) joined
        else joined.crossJoin(broadcast(
          ranks.join(dangling, Seq("node"))
            .agg(sum(col("r").cast(DecimalType(28, 12))).as("_dsum"))))
      val newRank = round(lit(1.0 - damping) * tele + lit(damping) * inflow, roundTo)
      convergeTol match {
        case Some(_) => withDang.select(col("node"), newRank.as("r"), col("_prev"))
        case None => withDang.select(col("node"), newRank.as("r"))
      }
    }
    val ranks0 = nodes.withColumn("r", tele)
    val run = convergeTol match {
      case Some(tol) => Iterate.until(ranks0, iterations,
        max(abs(col("r") - col("_prev"))), 0.0)(step)(_ <= tol)
      case None => Iterate.chain(ranks0, iterations, checkpointEvery)(step)
    }
    val result = run.finish()
    Iterate.release(withDeg, nodes, dangling)
    result.select(col("node"), col("r").as("rank"))
  }

  /** Connected components over an undirected edge list: one row
    * `(node, component)` per node, where `component` is the smallest
    * node id reachable from it. Thin graph-API face of
    * [[Dedup.duplicateClusters]] (the pointer-jumping min-label loop —
    * O(log diameter) rounds, one Spark job per round, convergence
    * observed on the labeling aggregation itself); kept there because
    * dedup clustering is its proving ground, surfaced here because
    * users look for CC next to PageRank/triangles. */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
      maxIter: Int = 20): DataFrame =
    Dedup.duplicateClusters(
      edges.select(col(srcCol).as("id1"), col(dstCol).as("id2")), "id1", "id2", maxIter)
      .select(col("doc_id").as("node"), col("cluster_id").as("component"))

  /** INCREMENTAL connected-components maintenance — the append-only
    * update the manifest/index families already have
    * ([[graft.operators.Layout]].appendManifest,
    * [[graft.operators.Similarity]].updateIvfSq8Index), for clustering:
    * given the labeling of an already-clustered graph and a batch of NEW
    * edges, produce the labeling of the union graph WITHOUT re-reading
    * the old edge set. Correctness: connectivity only depends on the
    * partition, so the old graph is replayed as its STAR form (one
    * `node → component` edge per node — same partition, n rows instead
    * of m) and the min-label pointer-jumping loop runs over
    * star ∪ newEdges. Spec-pinned identical to a full rebuild over
    * edges₁ ∪ edges₂.
    *
    * The 100 TB point: re-clustering after an append costs
    * O(n + Δm) join input instead of O(m + Δm) — on a near-dup corpus
    * where m (candidate pairs) dwarfs n (docs), the old pair set never
    * needs to exist again. Old component ids are min node ids, and min
    * labels only shrink under union, so ids stay STABLE: a component
    * untouched by new edges keeps its id; merged components adopt the
    * smaller of their ids. */
  def updateConnectedComponents(labels: DataFrame, newEdges: DataFrame,
      srcCol: String, dstCol: String, maxIter: Int = 20): DataFrame =
    Dedup.duplicateClusters(
      labels.select(col("node").cast("long").as("id1"),
          col("component").cast("long").as("id2"))
        .unionAll(newEdges.select(col(srcCol).cast("long").as("id1"),
          col(dstCol).cast("long").as("id2"))),
      "id1", "id2", maxIter)
      .select(col("doc_id").as("node"), col("cluster_id").as("component"))

  /** Per-node triangle participation counts over an UNDIRECTED edge list
    * (self-loops and duplicate/reverse edges collapse): one row
    * `(node, triangles)` per node that closes at least one triangle —
    * the local-clustering / community-structure primitive.
    *
    * Formulation is the degree-ordered wedge join (the standard
    * hot-hub-safe shape): orient every edge from its lower-(degree, id)
    * endpoint to the higher one, enumerate wedges as pairs of out-edges
    * at a common source, and close each wedge with a semi-join back to
    * the oriented edges. Orienting by degree bounds every node's
    * out-list by O(√m), so a celebrity hub with millions of neighbors
    * generates NO wedges itself — it only terminates them; per-key
    * wedge work is bounded regardless of skew, and every step is an
    * equi-join or hash aggregation (no cartesian anywhere). All
    * comparisons are (degree, id) tuples, so output is deterministic
    * and engine-portable (the DuckDB oracle mirrors the same
    * orientation). */
  def triangleCounts(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val (lazyOut, oriented) = triangleCountsLazy(edges, srcCol, dstCol)
    val out = lazyOut.localCheckpoint(true) // output-sized (one row per triangle node)
    Iterate.release(oriented)
    out
  }

  /** [[triangleCounts]] before its final eager materialization: returns
    * (result with full lineage, the checkpointed oriented edge list the
    * caller must [[Iterate.release]]) so plan-quality specs can assert
    * the wedge join's physical shape. */
  private[graft] def triangleCountsLazy(edges: DataFrame, srcCol: String,
      dstCol: String): (DataFrame, DataFrame) = {
    val und = edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull && col("a") =!= col("b"))
      .distinct()
    val deg = und.select(col("a").as("node"))
      .unionAll(und.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("dg"))
    val withDeg = und
      .join(deg.select(col("node").as("a"), col("dg").as("da")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("dg").as("db")), Seq("b"))
    val aFirst = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    // the oriented edge list feeds THREE consumers (both wedge-join
    // sides + the closing semi-join) — materialize the dedup + degree
    // joins once instead of re-running the whole subtree per consumer
    // (Catalyst evaluates shared subtrees once per join input). The
    // frame is edge-sized; the wedge join downstream stays visible to
    // the plan-quality pin.
    val oriented = withDeg.select(
      when(aFirst, col("a")).otherwise(col("b")).as("u"),
      when(aFirst, col("b")).otherwise(col("a")).as("v"),
      when(aFirst, col("db")).otherwise(col("da")).as("dv"))
      .localCheckpoint(true)
    val wedges = oriented.as("o1").join(oriented.as("o2"),
        col("o1.u") === col("o2.u") &&
          (col("o1.dv") < col("o2.dv") ||
            (col("o1.dv") === col("o2.dv") && col("o1.v") < col("o2.v"))))
      .select(col("o1.u").as("x"), col("o1.v").as("y"), col("o2.v").as("z"))
    val tri = wedges.join(
      oriented.select(col("u").as("y"), col("v").as("z")), Seq("y", "z"), "left_semi")
    val out = tri.select(explode(array(col("x"), col("y"), col("z"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("triangles"))
    (out, oriented)
  }

  /** Synchronous label propagation (LPA, Raghavan et al. 2007) over an
    * UNDIRECTED edge list (self-loops and duplicate/reverse edges
    * collapse): every node starts labeled with its own id, and each of
    * `rounds` SYNCHRONOUS rounds relabels every node with the most
    * frequent label among its neighbors, ties broken by the SMALLEST
    * label — the linear-time community-detection primitive.
    *
    * The deterministic-schedule choice is deliberate: textbook LPA
    * updates asynchronously in random node order (and breaks ties
    * randomly), which is irreproducible and serializes naturally only
    * on one machine. The synchronous min-tie variant makes every
    * intermediate state a pure function of the previous one — integer
    * counts, lexicographic (count desc, label asc) argmax — so a FIXED
    * round count keeps a DuckDB oracle in exact lockstep (the
    * [[pageRank]] pattern) and the result is independent of
    * partitioning. Synchronous LPA can 2-cycle on bipartite structure
    * (a known property); a fixed round budget makes that a defined
    * outcome rather than a hang.
    *
    * Shape per round: one equi-join of the directed-both-ways edge list
    * against the labels on the NEIGHBOR key, then two hash
    * aggregations — `(node, label) → count` and the per-node
    * lexicographic argmax via `min(struct(-count, label))` — all
    * partial-aggregating, never a window over a node's whole
    * neighborhood, so a celebrity hub costs its edge count spread
    * across tasks, not one hot partition. Rounds chain lazily with
    * periodic lineage truncation (each round references its
    * predecessor once — the [[pageRank]] discipline, not [[kCore]]'s
    * eager per-round materialization). */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
      rounds: Int = 5, checkpointEvery: Int = 2): DataFrame = {
    require(rounds >= 1, "need at least one round")
    require(checkpointEvery >= 1, "checkpointEvery must be positive")
    val canon = edges
      .select(least(col(srcCol), col(dstCol)).cast("long").as("a"),
        greatest(col(srcCol), col(dstCol)).cast("long").as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull && col("a") =!= col("b"))
      .distinct()
    // (node, neighbor) in both directions; materialized once, every
    // round's join probes this same block
    val und = canon.unionAll(canon.select(col("b").as("a"), col("a").as("b")))
      .localCheckpoint(true)
    val labels0 = und.select(col("a").as("node")).distinct()
      .withColumn("lbl", col("node"))
    val result = Iterate.chain(labels0, rounds, checkpointEvery) { (labels, _) =>
      und.join(labels, col("b") === col("node"))
        .groupBy(col("a"), col("lbl")).agg(count(lit(1)).as("cnt"))
        .groupBy(col("a"))
        .agg(min(struct((-col("cnt")).as("nc"), col("lbl").as("l"))).as("m"))
        .select(col("a").as("node"), col("m.l").as("lbl"))
    }.finish()
    Iterate.release(und)
    result.select(col("node"), col("lbl").as("label"))
  }

  /** k-core peeling over an UNDIRECTED edge list (self-loops and
    * duplicate/reverse edges collapse): run `rounds` SYNCHRONOUS peel
    * rounds — each drops EVERY node whose current degree is below `k`
    * (and its edges), then recomputes — and emit `(node, degree)` of
    * the surviving subgraph. The k-core (the unique maximal subgraph
    * with all internal degrees ≥ k) is this loop's fixpoint, and the
    * synchronous schedule makes every intermediate state deterministic,
    * so a FIXED round count keeps the DuckDB oracle in exact lockstep
    * (the [[pageRank]] fixed-`iterations` pattern): converged or not,
    * both engines agree byte-for-byte, and once a round drops nobody
    * every later round is identity. Real graphs converge in a handful
    * of rounds; raise `rounds` when peeling deep cores of long chains.
    *
    * Shape per round: one degree aggregation (map-side partial) + two
    * semi-joins of edges against surviving nodes — all equi-joins, no
    * node ever gathers its neighborhood on one machine, so a
    * celebrity hub costs its edge count, not a hot task. Unlike
    * [[pageRank]] (a linear chain that re-references each round's frame
    * ~2×, so lazy chaining between periodic checkpoints wins), every
    * peel round references the previous round's edge frame ~5× (degree
    * agg twice, both semi-join probe sides, plus the keep subtree) —
    * lazy chaining would replay the chain 5^rounds times, so each
    * round's survivors materialize eagerly by default
    * (`checkpointEvery = 1`; measured 32 s → 2.2 s at sf0.1).
    *
    * `stopEarly = true` stops as soon as a round drops nobody: each
    * round's surviving-edge count is an `Observation` riding the SAME
    * per-round materialization (no second count job — the [[pageRank]]
    * convergence pattern), and since every node in the edge frame has
    * ≥ 1 edge, an unchanged edge count ⟺ an empty peel round ⟺ the
    * fixpoint. Output is provably identical to any longer run; keep
    * the default `false` for fixed-round oracle lockstep. */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
      rounds: Int = 8, checkpointEvery: Int = 1,
      stopEarly: Boolean = false): DataFrame = {
    val (lazyOut, held) =
      kCoreLazy(edges, srcCol, dstCol, k, rounds, checkpointEvery, stopEarly)
    // one final materialization frees every intermediate block NOW
    val out = lazyOut.localCheckpoint(true)
    held.foreach(Iterate.release(_))
    out
  }

  /** [[kCore]] before its final eager materialization: returns (result
    * with full lineage, the last mid-loop checkpoint the caller must
    * [[Iterate.release]]). Exists so plan-quality specs can assert the
    * peel rounds' physical shape — `localCheckpoint` truncates lineage to a
    * `Scan ExistingRDD`, hiding the joins (the
    * [[Dedup.minhashCandidatesLazy]] pattern). */
  private[graft] def kCoreLazy(edges: DataFrame, srcCol: String, dstCol: String,
      k: Int, rounds: Int, checkpointEvery: Int,
      stopEarly: Boolean = false): (DataFrame, Option[DataFrame]) = {
    require(k >= 1, "k must be positive")
    require(rounds >= 1, "need at least one peel round")
    require(checkpointEvery >= 1, "checkpointEvery must be positive")
    // the canonical edge set materializes ONCE: every round references
    // its edge frame several times, and each of those must hit a
    // materialized block, not replay the caller's join lineage
    val canon = edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull && col("a") =!= col("b"))
      .distinct()
    def degrees(e: DataFrame): DataFrame =
      e.select(col("a").as("node")).unionAll(e.select(col("b").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("dg"))
    val peel = (und: DataFrame, _: Int) => {
      val keep = degrees(und).filter(col("dg") >= k).select(col("node"))
      und
        .join(keep.select(col("node").as("a")), Seq("a"), "left_semi")
        .join(keep.select(col("node").as("b")), Seq("b"), "left_semi")
        .select(col("a"), col("b"))
    }
    // the peel rounds read the raw checkpoints (no stats-flat wrap)
    val run = if (stopEarly) {
      // the round-0 edge count is the comparison base; its observation
      // rides the materialization that happens regardless. Every node in
      // the edge frame has >= 1 edge, so an unchanged edge count means
      // the round dropped nobody — the fixpoint
      val (und, n0) = Iterate.observe(canon, count(lit(1)), 0L)
      var prevEdges = n0
      Iterate.until(und, if (n0 == 0L) 0 else rounds, count(lit(1)), 0L,
          Some(und), identity)(peel) { n =>
        val same = n == prevEdges
        prevEdges = n
        same
      }
    } else {
      val und = canon.localCheckpoint(true)
      Iterate.chain(und, rounds, checkpointEvery, Some(und), identity)(peel)
    }
    (degrees(run.state).select(col("node"), col("dg").as("degree")), run.held)
  }

  /** Newman MODULARITY per community (Newman & Girvan 2004): for each
    * community c over an undirected graph with m canonical edges,
    *
    *   Q_c = e_c/m − (d_c/(2m))²
    *
    * where e_c counts intra-community edges and d_c sums member
    * degrees; Σ_c Q_c is the partition's modularity. The quality gauge
    * for any node labeling — [[labelPropagation]], [[kCore]] shells,
    * external clusterings — COMPOSES with whatever produced `labels`.
    *
    * Determinism: e_c, d_c, m are exact integers; each Q_c is a fixed
    * IEEE expression over them (the square written as x·x, not pow),
    * rounded to `roundTo` — the [[pageRank]] cross-engine convention.
    *
    * Shape: one degree aggregate, two label equi-joins on the edge
    * list, two hash aggregates, and the edge total as a ONE-ROW
    * broadcast (the q72 dangling-mass pattern) — no collect, no
    * per-community gathering; a hot community costs its edge count.
    * Output: (community, n_nodes, intra_edges, degree_sum, q_contrib),
    * communities with zero intra edges included. */
  def modularity(edges: DataFrame, srcCol: String, dstCol: String,
      labels: DataFrame, nodeCol: String = "node", labelCol: String = "label",
      roundTo: Int = 9): DataFrame = {
    val canon = edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull && col("a") =!= col("b"))
      .distinct()
      .localCheckpoint(true) // feeds degrees, intra join, and the total
    val lab = labels.select(col(nodeCol).cast("long").as("node"),
      col(labelCol).cast("long").as("lbl"))
    val deg = canon.select(col("a").as("node"))
      .unionAll(canon.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("dg"))
    val intra = canon
      .join(lab.select(col("node").as("a"), col("lbl").as("la")), Seq("a"))
      .join(lab.select(col("node").as("b"), col("lbl").as("lb")), Seq("b"))
      .filter(col("la") === col("lb"))
      .groupBy(col("la").as("community")).agg(count(lit(1)).as("intra_edges"))
    val comm = lab.join(deg, Seq("node"))
      .groupBy(col("lbl").as("community"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("dg")).as("degree_sum"))
    val mRow = canon.agg(count(lit(1)).as("m"))
    val ratio = col("degree_sum").cast("double") / (lit(2.0) * col("m"))
    // materialize before freeing canon's blocks — out's lineage rides them
    val out = comm.join(intra, Seq("community"), "left_outer")
      .crossJoin(broadcast(mRow))
      .select(col("community"), col("n_nodes"),
        coalesce(col("intra_edges"), lit(0L)).as("intra_edges"),
        col("degree_sum"),
        round(coalesce(col("intra_edges"), lit(0L)).cast("double") / col("m")
          - ratio * ratio, roundTo).as("q_contrib"))
      .localCheckpoint(true)
    Iterate.release(canon)
    out
  }

  /** Community CONDUCTANCE (the separation gauge complementing
    * [[modularity]]'s cohesion): for community c over an undirected
    * graph with m canonical edges,
    *
    *   φ(c) = cut_c / min(vol_c, 2m − vol_c)
    *
    * where cut_c counts edges with exactly ONE endpoint in c and vol_c
    * sums member degrees. Low φ = well-separated; NULL when the
    * denominator is 0 (the whole graph in one community). COMPOSES with
    * any `(node, label)` frame, like [[modularity]].
    *
    * Determinism: cut, vol, m are exact integers; φ is one fixed IEEE
    * division rounded to `roundTo` (the [[modularity]] convention).
    * Shape: two label equi-joins on the symmetrized edge list, hash
    * aggregates, and the edge total as a one-row broadcast — no
    * collect; a hot community costs its edge count.
    * Output: (community, n_nodes, volume, cut_edges, conductance). */
  def conductance(edges: DataFrame, srcCol: String, dstCol: String,
      labels: DataFrame, nodeCol: String = "node", labelCol: String = "label",
      roundTo: Int = 9): DataFrame = {
    val canon = edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull && col("a") =!= col("b"))
      .distinct()
      .localCheckpoint(true) // feeds the cut join, degrees, and the total
    val und = canon.unionAll(canon.select(col("b").as("a"), col("a").as("b")))
    val lab = labels.select(col(nodeCol).cast("long").as("node"),
      col(labelCol).cast("long").as("lbl"))
    val deg = und.groupBy(col("a").as("node")).agg(count(lit(1)).as("dg"))
    // per-side counting on the symmetrized frame charges each cut edge
    // to BOTH of its communities exactly once
    val cut = und
      .join(lab.select(col("node").as("a"), col("lbl").as("la")), Seq("a"))
      .join(lab.select(col("node").as("b"), col("lbl").as("lb")), Seq("b"))
      .filter(col("la") =!= col("lb"))
      .groupBy(col("la").as("community")).agg(count(lit(1)).as("cut_edges"))
    val comm = lab.join(deg, Seq("node"))
      .groupBy(col("lbl").as("community"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("dg")).as("volume"))
    val mRow = canon.agg(count(lit(1)).as("m"))
    val den = least(col("volume"), lit(2L) * col("m") - col("volume"))
    val out = comm.join(cut, Seq("community"), "left_outer")
      .crossJoin(broadcast(mRow))
      .select(col("community"), col("n_nodes"), col("volume"),
        coalesce(col("cut_edges"), lit(0L)).as("cut_edges"),
        when(den === 0, lit(null).cast("double"))
          .otherwise(round(
            coalesce(col("cut_edges"), lit(0L)).cast("double") /
              den.cast("double"), roundTo)).as("conductance"))
      .localCheckpoint(true)
    Iterate.release(canon)
    out
  }

  /** One [[kTruss]] support round on a canonical `(a, b)` edge frame:
    * oriented triangle enumeration + per-edge count. `private[graft]`
    * so the plan-quality spec can pin the round's physical shape
    * (the kCoreLazy rationale — the loop's checkpoints hide it). */
  private[graft] def trussSupport(e: DataFrame): DataFrame = {
    val tri = e.as("x").join(e.as("y"),
        col("x.a") === col("y.a") && col("x.b") < col("y.b"))
      .join(e.as("z"),
        col("z.a") === col("x.b") && col("z.b") === col("y.b"))
      .select(col("x.a").as("ta"), col("x.b").as("tb"), col("y.b").as("tc"))
    tri.select(col("ta").as("a"), col("tb").as("b"))
      .unionAll(tri.select(col("ta").as("a"), col("tc").as("b")))
      .unionAll(tri.select(col("tb").as("a"), col("tc").as("b")))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("sup"))
  }

  /** k-truss peeling (Cohen 2008): iteratively drop every edge whose
    * SUPPORT (number of triangles it closes) is below k−2, until the
    * fixpoint where each surviving edge lies in ≥ k−2 triangles — the
    * edge-level analogue of [[kCore]]'s node peel, and the standard
    * cohesive-subgraph strengthening of it (every k-truss is inside the
    * (k−1)-core, but not vice versa). FIXED synchronous rounds for
    * DuckDB oracle lockstep, exactly the [[kCore]] contract.
    *
    * Shape per round: oriented triangle enumeration — wedge equi-join
    * at each triangle's SMALLEST vertex (every triangle a<b<c found
    * exactly once from edges (a,b),(a,c)) + one closing-edge equi-join
    * — then a count per edge and a semi-join filter. All equi-joins, no
    * per-node neighborhood gathering; the wedge fan-out is the [[q73]]
    * triangle shape already adjudicated at scale. The round references
    * its edge frame four times, so every round's survivors materialize
    * eagerly (the kCore 5×-reference rationale).
    *
    * Output: surviving canonical edges with their support ON the
    * surviving edge set (recomputed once after the loop, so a
    * non-converged fixed-round run still reports consistent numbers). */
  def kTruss(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
      rounds: Int = 4): DataFrame = {
    // k = 2 is the identity truss (threshold 0), which the support
    // aggregate cannot express — edges in no triangle have no support
    // row at all, and the semi-join would wrongly drop them
    require(k >= 3, "k must be at least 3 (the 2-truss is the input graph)")
    require(rounds >= 1, "need at least one peel round")
    val canon = edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull && col("a") =!= col("b"))
      .distinct()
    val und0 = canon.localCheckpoint(true)
    Iterate.eager(und0, rounds, Some(und0)) { (und, _) =>
      und.join(trussSupport(und).filter(col("sup") >= k - 2)
        .select(col("a"), col("b")), Seq("a", "b"), "left_semi")
    }.finish { und =>
      // LEFT join: a non-converged fixed-round run can still hold edges
      // whose support dropped to zero (no support row at all) — they are
      // part of the round state and must be reported, not silently lost
      und.join(trussSupport(und), Seq("a", "b"), "left_outer")
        .select(col("a"), col("b"),
          coalesce(col("sup"), lit(0L)).as("support"))
    }
  }

  /** HITS hubs-and-authorities (Kleinberg 1999): `iterations` rounds of
    *
    *   auth(v) ← round((Σ_{u→v} hub(u))  / max_v Σ, roundTo)
    *   hub(u)  ← round((Σ_{u→v} auth(v)) / max_u Σ, roundTo)
    *
    * over a DIRECTED edge list — the mutually-recursive centrality pair
    * PageRank's single score can't express (a page can be a great index
    * of authorities without being one). Sup-norm (divide-by-max)
    * normalization instead of the textbook L2: the max is a one-row
    * broadcast and the division one IEEE op, so — with DECIMAL(28,12)
    * addends and per-round rounding, exactly [[pageRank]]'s determinism
    * contract — both engines stay in bit-identical lockstep round for
    * round. Fixed-point scores are identical up to the (deterministic)
    * scaling either way.
    *
    * Scale shape: each half-round is one equi-join of the edge list
    * against the current score + one dst/src-keyed partial-aggregating
    * sum, eagerly materialized (`localCheckpoint`) with the normalizing
    * max riding the SAME job as an `Observation` — the max enters the
    * next expression as a driver literal, so the sums frame is never
    * referenced twice (a lazy double-reference here recomputes the
    * whole history per round, the kCore lesson). One job per
    * half-round, state one row per node. Output: (node, hub, auth) for
    * every node in the edge set. */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int = 8, roundTo: Int = 9): DataFrame = {
    require(iterations >= 1, "need at least one iteration")
    val e = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst")).localCheckpoint(true)
    val nodes = e.select(col("src").as("node"))
      .unionAll(e.select(col("dst").as("node")))
      .distinct().localCheckpoint(true)
    var hubs = nodes.withColumn("h", lit(1.0))
    var auths: DataFrame = null
    var ckpts = List.empty[DataFrame]
    def halfRound(sums: DataFrame, valCol: String, outCol: String): DataFrame = {
      // the max rides the materializing job
      val (mat, mx) =
        Iterate.observe(sums, max(col(valCol).cast("double")), 1.0)
      ckpts ::= mat
      nodes.join(mat, col("node") === col(mat.columns.head), "left_outer")
        .select(col("node"),
          round(coalesce(col(valCol).cast("double"), lit(0.0)) / lit(mx),
            roundTo).as(outCol))
    }
    for (_ <- 1 to iterations) {
      // auth step: inflow of hub mass along edge direction
      auths = halfRound(
        e.join(hubs, col("src") === col("node"))
          .groupBy(col("dst"))
          .agg(sum(col("h").cast(DecimalType(28, 12))).as("asum")),
        "asum", "a")
      // hub step: outflow toward the fresh authority scores
      hubs = halfRound(
        e.join(auths.select(col("node").as("anode"), col("a")),
            col("dst") === col("anode"))
          .groupBy(col("src"))
          .agg(sum(col("a").cast(DecimalType(28, 12))).as("hsum")),
        "hsum", "h")
      // the two frames just built are still needed next round; older
      // half-round checkpoints are dead — free them now
      val (live, dead) = ckpts.splitAt(2)
      Iterate.release(dead: _*)
      ckpts = live
    }
    val result = hubs.join(auths.select(col("node").as("n2"), col("a")),
        col("node") === col("n2"))
      .select(col("node"), col("h").as("hub"), col("a").as("auth"))
      .localCheckpoint(true)
    Iterate.release(ckpts :+ e :+ nodes: _*)
    result
  }

  /** Adamic–Adar link prediction (Adamic & Adar 2003) over an UNDIRECTED
    * edge list: score every non-adjacent node pair that shares at least
    * one neighbor by
    *
    *   score(u, v) = Σ_{w ∈ N(u) ∩ N(v)} 1 / ln(deg(w))
    *
    * and return the `topN` highest-scoring pairs — the classic
    * "people you may know" / co-occurrence-completion primitive.
    *
    * Scale shape: candidate pairs are enumerated by the WEDGE equi-join
    * on the shared neighbor `w` (adjacency self-joined on the center) —
    * never a node×node cross. A center with degree d contributes d²
    * pairs, so hubs are the scale hazard; `degCap` drops centers with
    * deg > degCap WHOLE (deterministic, mirrored by the oracle) — the
    * standard mitigation, principled here because a hub's 1/ln(deg)
    * weight is the least informative signal in the sum (a million-follower
    * account tells you nothing about two of its followers). Per-pair
    * weights go through DECIMAL(28,12) addends so the sum is independent
    * of partition merge order; existing edges leave via one anti-join;
    * the global topN is a TakeOrdered (distributed heap), never a full
    * sort. deg(w) ≥ 2 for every wedge center by construction, so
    * ln(deg) is never 0. */
  def adamicAdar(edges: DataFrame, srcCol: String, dstCol: String,
      topN: Int = 50, degCap: Int = 256): DataFrame = {
    val (scored, und, adj) = adamicAdarLazy(edges, srcCol, dstCol, topN, degCap)
    val result = scored.localCheckpoint(true)
    Iterate.release(und, adj)
    result
  }

  /** [[adamicAdar]] before its final eager materialization: returns
    * (scored top-N with full lineage, the two checkpointed frames the
    * caller must [[Iterate.release]]) so plan-quality specs can assert
    * the wedge join's physical shape. */
  private[graft] def adamicAdarLazy(edges: DataFrame, srcCol: String,
      dstCol: String, topN: Int, degCap: Int): (DataFrame, DataFrame, DataFrame) = {
    require(topN >= 1, "topN must be positive")
    require(degCap >= 2, "degCap must be at least 2")
    val und = edges
      .select(least(col(srcCol), col(dstCol)).cast("long").as("a"),
        greatest(col(srcCol), col(dstCol)).cast("long").as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull && col("a") =!= col("b"))
      .distinct()
      .localCheckpoint(true) // feeds degrees, adjacency, and the anti-join
    val deg = und.select(col("a").as("node"))
      .unionAll(und.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("dg"))
    // adjacency centered on each candidate wedge middle w; hub centers
    // (dg > degCap) are dropped whole BEFORE the self-join, so the d²
    // blowup is bounded by degCap² per center
    val adj = und.select(col("a").as("w"), col("b").as("nb"))
      .unionAll(und.select(col("b").as("w"), col("a").as("nb")))
      .join(deg.filter(col("dg") >= 2 && col("dg") <= degCap)
        .select(col("node").as("w"), col("dg")), Seq("w"))
      .localCheckpoint(true) // both sides of the wedge self-join
    val pairs = adj.as("x").join(adj.as("y"),
        col("x.w") === col("y.w") && col("x.nb") < col("y.nb"))
      .select(col("x.nb").as("u"), col("y.nb").as("v"),
        (lit(1.0) / log(col("x.dg").cast("double"))).as("wt"))
    val scored = pairs.groupBy(col("u"), col("v"))
      .agg(sum(col("wt").cast(DecimalType(28, 12))).as("ssum"))
      .join(und.select(col("a").as("u"), col("b").as("v")),
        Seq("u", "v"), "left_anti")
      .select(col("u"), col("v"),
        round(col("ssum").cast("double"), 6).as("score"))
      .orderBy(col("score").desc, col("u"), col("v"))
      .limit(topN)
    (scored, und, adj)
  }

  /** Common-neighbor JACCARD link prediction over an UNDIRECTED edge
    * list — [[adamicAdar]]'s normalized companion:
    *
    *   J(u, v) = |N(u) ∩ N(v)| / |N(u) ∪ N(v)|
    *           = common / (deg(u) + deg(v) − common)
    *
    * for every non-adjacent pair sharing ≥ 1 neighbor; `topN` best
    * pairs win. Unlike Adamic–Adar there is NO transcendental anywhere:
    * the score is one exact IEEE division of integers, so the oracle is
    * in lockstep with no rounding at all.
    *
    * Scale shape: identical to [[adamicAdar]] — wedge equi-join on the
    * shared neighbor, `degCap` drops hub CENTERS whole before the
    * self-join (common counts may then undercount pairs whose only
    * shared neighbors are hubs — the [[Dedup.jaccardPairs]] maxDf
    * trade, deliberate and mirrored by the oracle); denominators use
    * FULL degrees. TakeOrdered topN, never a global sort. */
  def nodeJaccard(edges: DataFrame, srcCol: String, dstCol: String,
      topN: Int = 50, degCap: Int = 256): DataFrame = {
    require(topN >= 1, "topN must be positive")
    require(degCap >= 2, "degCap must be at least 2")
    val und = edges
      .select(least(col(srcCol), col(dstCol)).cast("long").as("a"),
        greatest(col(srcCol), col(dstCol)).cast("long").as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull && col("a") =!= col("b"))
      .distinct()
      .localCheckpoint(true)
    val deg = und.select(col("a").as("node"))
      .unionAll(und.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("dg"))
      .localCheckpoint(true) // feeds the center cap AND both denominators
    val adj = und.select(col("a").as("w"), col("b").as("nb"))
      .unionAll(und.select(col("b").as("w"), col("a").as("nb")))
      .join(deg.filter(col("dg") >= 2 && col("dg") <= degCap)
        .select(col("node").as("w")), Seq("w"))
      .localCheckpoint(true)
    val common = adj.as("x").join(adj.as("y"),
        col("x.w") === col("y.w") && col("x.nb") < col("y.nb"))
      .groupBy(col("x.nb").as("u"), col("y.nb").as("v"))
      .agg(count(lit(1)).as("common"))
    val scored = common
      .join(deg.select(col("node").as("u"), col("dg").as("du")), Seq("u"))
      .join(deg.select(col("node").as("v"), col("dg").as("dv")), Seq("v"))
      .join(und.select(col("a").as("u"), col("b").as("v")),
        Seq("u", "v"), "left_anti")
      .select(col("u"), col("v"),
        (col("common") / (col("du") + col("dv") - col("common"))).as("jac"))
      .orderBy(col("jac").desc, col("u"), col("v"))
      .limit(topN)
    val result = scored.localCheckpoint(true)
    Iterate.release(und, deg, adj)
    result
  }

  /** Single-source shortest paths by synchronous Bellman–Ford over a
    * DIRECTED edge list with non-negative integer weights: `rounds`
    * relaxation rounds of
    *
    *   dist(v) ← min(dist(v), min_{u→v} dist(u) + w(u, v))
    *
    * starting from dist(source) = 0. Output is one row `(node, dist)`
    * per node REACHED within `rounds` hops (absent = unreached — the
    * relational ∞). All arithmetic is exact Long addition and MIN — no
    * floating point anywhere — so a fixed round count is in perfect
    * lockstep with any other engine running the same rounds (the
    * [[pageRank]] oracle discipline, here without even needing
    * rounding).
    *
    * Scale shape: each round is one equi-join of the edge list against
    * the current frontier-inclusive distance table (shuffled on the edge
    * src) + one dst-keyed partial-aggregating MIN — the min combines
    * map-side, so a hot destination receives one row per map partition,
    * not one per in-edge. Rounds stay lazy between `checkpointEvery`
    * lineage truncations. State is one row per reached node; the edge
    * list is read (not re-derived) every round. Negative weights are
    * rejected: with them, `rounds` < V−1 returns non-final distances
    * silently. */
  def ssspBellmanFord(edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: String, source: Long, rounds: Int,
      checkpointEvery: Int = 4): DataFrame = {
    val spark0 = edges.sparkSession
    import spark0.implicits._
    multiSourceSssp(edges, srcCol, dstCol, weightCol,
      Seq(source).toDF("source"), rounds, checkpointEvery)
      .select(col("node"), col("dist"))
  }

  /** Earliest-arrival reachability over a TEMPORAL edge list
    * `(src, dst, t)` — an edge is traversable only at its own timestamp,
    * and a path must respect time (each hop departs no earlier than the
    * previous arrival):
    *
    *   arr(v) ← min(arr(v), min_{(u,v,t) : t ≥ arr(u)} t)
    *
    * from `arr(source) = startTime`. THE propagation primitive static
    * shortest paths cannot express: in a shipment/citation/infection
    * graph, an edge that fired BEFORE the node was reached carries
    * nothing (the "missed connection" semantics — B→C at noon does not
    * help cargo arriving at B in the evening). Output: `(node, arrival)`
    * per node reached within `rounds` hops; exact Long timestamps, MIN
    * relaxation — the [[ssspBellmanFord]] lockstep contract, so the
    * oracle unrolls the rounds as CTEs with the time guard in the join
    * condition.
    *
    * Scale shape: identical to Bellman–Ford — per round one equi-join of
    * the edge list against the arrival table (the `t ≥ arr(u)` guard
    * rides the join) + one dst-keyed map-side-combining MIN. Arrival
    * times only decrease, so rounds are monotone and a fixed count is
    * deterministic. */
  def temporalEarliestArrival(edges: DataFrame, srcCol: String, dstCol: String,
      timeCol: String, source: Long, startTime: Long, rounds: Int,
      checkpointEvery: Int = 4): DataFrame = {
    require(rounds >= 1, "need at least one relaxation round")
    require(checkpointEvery >= 1, "checkpointEvery must be positive")
    val spark = edges.sparkSession
    import spark.implicits._
    val e = edges.select(col(srcCol).cast("long").as("esrc"),
        col(dstCol).cast("long").as("edst"),
        col(timeCol).cast("long").as("et"))
      .filter(col("esrc").isNotNull && col("edst").isNotNull && col("et").isNotNull)
      .localCheckpoint(true)
    val arr0 = Seq((source, startTime)).toDF("node", "a")
    val result = Iterate.chain(arr0, rounds, checkpointEvery) { (arr, _) =>
      val relaxed = e.join(arr,
          col("esrc") === col("node") && col("et") >= col("a"))
        .select(col("edst").as("node"), col("et").as("a"))
      arr.unionAll(relaxed)
        .groupBy(col("node")).agg(min(col("a")).as("a"))
    }.finish(_.select(col("node"), col("a").as("arrival")))
    Iterate.release(e)
    result
  }

  /** MULTI-source Bellman–Ford: [[ssspBellmanFord]] from every node in
    * `sources` (a one-column frame) AT ONCE, keyed on `(source, node)`
    * composite state — the landmark-distance primitive (graph
    * embeddings, sampled closeness centrality, k-landmark routing
    * sketches all start from "distances from k chosen nodes").
    *
    * Scale shape: identical to the single-source loop — one equi-join +
    * one map-side-combining MIN per round — except state/shuffle keys
    * are `(source, node)`; k landmarks cost one traversal with k× state,
    * NOT k traversals, because every relaxation round is one job over
    * the union of all frontiers. Output: `(source, node, dist)` per
    * reached pair. Exact Long arithmetic; same lockstep contract. */
  def multiSourceSssp(edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: String, sources: DataFrame, rounds: Int,
      checkpointEvery: Int = 4): DataFrame = {
    require(rounds >= 1, "need at least one relaxation round")
    require(checkpointEvery >= 1, "checkpointEvery must be positive")
    val pre = edges.select(col(srcCol).cast("long").as("esrc"),
        col(dstCol).cast("long").as("edst"),
        col(weightCol).cast("long").as("w"))
      .filter(col("esrc").isNotNull && col("edst").isNotNull && col("w").isNotNull)
    // validate BEFORE checkpointing: a thrown require must not leave
    // orphaned checkpoint blocks on the failure path
    require(pre.filter(col("w") < 0).isEmpty,
      "multi-source SSSP requires non-negative weights")
    val e = pre.localCheckpoint(true)
    val dist0 = sources.select(col(sources.columns.head).cast("long").as("source"))
      .filter(col("source").isNotNull).distinct()
      .select(col("source"), col("source").as("node"), lit(0L).as("d"))
    val result = Iterate.chain(dist0, rounds, checkpointEvery) { (dist, _) =>
      val relaxed = e.join(dist, col("esrc") === col("node"))
        .select(col("source"), col("edst").as("node"), (col("d") + col("w")).as("d"))
      dist.unionAll(relaxed)
        .groupBy(col("source"), col("node")).agg(min(col("d")).as("d"))
    }.finish(_.select(col("source"), col("node"), col("d").as("dist")))
    Iterate.release(e)
    result
  }

  /** One [[louvainMove]] round's per-node argmax on a directed-both-ways
    * edge frame `und (a, b)`, a degree frame `deg (node, dg)`, a label
    * frame `lab (node, lbl)` and the undirected edge total `m`: returns
    * `(node, newlbl)` for EVERY labeled node (staying is always a
    * candidate). `private[graft]` so the plan-quality spec can pin the
    * round's physical shape — the loop's checkpoints hide it (the
    * [[trussSupport]] rationale). */
  private[graft] def louvainBest(und: DataFrame, deg: DataFrame,
      lab: DataFrame, m: Long): DataFrame =
    louvainBestW(und.withColumn("w", lit(1L)), deg, lab, m)

  /** Weighted [[louvainBest]]: `und (a, b, w)` carries integer edge
    * weights (both directions, NO self-loops — their weight enters only
    * through `deg`, where it counts twice; a self-loop moves with its
    * node, so it adds the same constant to every candidate's gain and
    * cancels out of the argmax). `deg` must cover EVERY labeled node —
    * an isolated super-node (self-loop only) still rides the `stay`
    * candidate. The integer score is `2m·k_{u,c} − deg(u)·tot'_c` with
    * weighted k/deg/tot — the exact unit-graph formula with sums for
    * counts. */
  private[graft] def louvainBestW(und: DataFrame, deg: DataFrame,
      lab: DataFrame, m: Long): DataFrame = {
    def dec(c: Column): Column = c.cast(DecimalType(18, 0))
    val twoM = dec(lit(2L * m))
    val tot = lab.join(deg, Seq("node"))
      .groupBy(col("lbl")).agg(sum(col("dg")).as("tot"))
    val kuc = und
      .join(lab.select(col("node").as("b"), col("lbl").as("c")), Seq("b"))
      .groupBy(col("a"), col("c")).agg(sum(col("w")).as("k"))
    // staying is always a candidate — even when u has zero edges into
    // its own community (no kuc row); u leaves its own degree out of
    // its community's total
    val stay = lab.join(deg, Seq("node")).join(tot, Seq("lbl"))
      .join(kuc, kuc("a") === col("node") && kuc("c") === col("lbl"),
        "left_outer")
      .select(col("node"), col("lbl").as("comm"),
        (twoM * dec(coalesce(col("k"), lit(0L))) -
          dec(col("dg")) * dec(col("tot") - col("dg"))).as("score"))
    val mv = kuc.as("k")
      .join(lab.as("l"),
        col("k.a") === col("l.node") && col("k.c") =!= col("l.lbl"))
      .join(deg.as("d"), col("k.a") === col("d.node"))
      .join(tot.as("t"), col("k.c") === col("t.lbl"))
      .select(col("k.a").as("node"), col("k.c").as("comm"),
        (twoM * dec(col("k.k")) -
          dec(col("d.dg")) * dec(col("t.tot"))).as("score"))
    stay.unionAll(mv)
      .groupBy(col("node"))
      .agg(min(struct((-col("score")).as("ns"), col("comm").as("cm"))).as("b"))
      .select(col("node"), col("b.cm").as("newlbl"))
  }

  /** Louvain-style local-move community detection (Blondel et al. 2008,
    * phase 1) over an UNDIRECTED unit-weight edge list: `rounds`
    * SYNCHRONOUS rounds in which each active node adopts the neighbor
    * community maximizing the modularity gain, or stays put.
    *
    * Determinism contract (the [[labelPropagation]] fixed-round
    * pattern): all modularity-gain comparisons are EXACT — the gain of
    * moving u into community c (vs. u isolated) is
    * `k_{u,c}/m − deg(u)·tot_c/(2m²)`, and multiplying through by the
    * positive constant 2m² gives the integer score
    * `2m·k_{u,c} − deg(u)·tot'_c` (tot' excludes u itself when c is
    * u's current community), computed in DECIMAL so a trillion-edge
    * graph cannot wrap — ties break toward the smaller community id
    * via the same `min(struct(-score, comm))` shape as LPA's argmax.
    * Synchronous simultaneous moves can oscillate (two connected nodes
    * swapping communities forever), so each round only nodes of one id
    * parity (`node % 2 == round % 2`) move — a deterministic
    * half-schedule that a DuckDB oracle replays in exact lockstep,
    * unlike the randomized sequential sweep of the original algorithm.
    *
    * Shape per round: one neighbor-label equi-join + a (node, comm)
    * partial-counting aggregation (k_{u,c}), one per-community degree
    * sum (tot), and one per-node argmax — never a window over a
    * neighborhood, so hubs cost their edge count spread across tasks.
    * The labels frame feeds four consumers per round, so each round
    * materializes eagerly with flattened stats (the [[kCore]]
    * discipline). Output: `(node, label)` for every node with an edge.
    */
  def louvainMove(edges: DataFrame, srcCol: String, dstCol: String,
      rounds: Int = 4): DataFrame = {
    val canon = louvainCanon(edges, srcCol, dstCol)
    val res = louvainMoveOnCanon(canon, rounds)
    Iterate.release(canon)
    res
  }

  /** Canonicalize an edge list for the Louvain family: undirected
    * (min, max) pairs, nulls and self-loops dropped, deduplicated,
    * eagerly checkpointed. Shared by [[louvainMove]] and
    * [[louvainTwoPass]] so the two-pass path pays the corpus-wide
    * distinct ONCE (it used to run it twice — once inside the phase-1
    * call and once for coarsening). Caller releases it. */
  private[graft] def louvainCanon(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = edges
    .select(least(col(srcCol), col(dstCol)).cast("long").as("a"),
      greatest(col(srcCol), col(dstCol)).cast("long").as("b"))
    .filter(col("a").isNotNull && col("b").isNotNull && col("a") =!= col("b"))
    .distinct()
    .localCheckpoint(true)

  /** [[louvainMove]] over an already-[[louvainCanon]]icalized edge
    * frame (checkpointed `(a, b)`, a < b, distinct). */
  private[graft] def louvainMoveOnCanon(canon: DataFrame,
      rounds: Int): DataFrame = {
    require(rounds >= 1, "need at least one round")
    // the edge total is one scalar in every score — a driver literal,
    // not a cross-join; reuses the job that materialized canon
    val m = canon.count()
    val und = canon.unionAll(canon.select(col("b").as("a"), col("a").as("b")))
      .localCheckpoint(true) // canon stays persisted — the CALLER owns it
    val deg = und.groupBy(col("a").as("node")).agg(count(lit(1)).as("dg"))
      .localCheckpoint(true)
    val result = parityMoves(deg, rounds)(louvainBest(und, deg, _, m))
      .finish(_.select(col("node"), col("lbl").as("label")))
    Iterate.release(und, deg)
    result
  }

  /** The Louvain local-move rounds over a degree frame `deg (node, dg)`:
    * every node starts in its own community, and round i moves only the
    * nodes with `node % 2 == i % 2` to their `best` label
    * (`(node, newlbl)` from the current `(node, lbl)` frame). */
  private def parityMoves(deg: DataFrame, rounds: Int)(
      best: DataFrame => DataFrame): Iterate.Run =
    Iterate.eager(deg.select(col("node"), col("node").as("lbl")), rounds) {
      (lab, i) =>
        lab.join(best(lab), Seq("node"))
          .select(col("node"),
            when(pmod(col("node"), lit(2)) === lit(i % 2), col("newlbl"))
              .otherwise(col("lbl")).as("lbl"))
    }

  /** Full two-pass Louvain (Blondel et al. 2008 phases 1+2):
    * [[louvainMove]] local moves on the unit graph, then COARSEN — each
    * community becomes a super-node, parallel inter-community edges sum
    * into integer weights, intra-community edges become self-loops
    * (entering degrees twice, the modularity convention) — and
    * `rounds2` weighted parity-scheduled local moves run on the coarse
    * graph ([[louvainBestW]]; the total weight m is UNCHANGED by
    * coarsening, so scores stay in the same exact integer scale and
    * the DuckDB oracle replays both passes in lockstep). Final labels
    * project back: label(node) = coarseLabel(phase1Label(node)).
    *
    * Shape: the coarse graph is communities², orders of magnitude
    * smaller than the input, so pass 2 costs a fraction of pass 1; the
    * projection is one equi-join against the n-row phase-1 labeling.
    * The canonicalized edge list is computed ONCE and shared between
    * phase 1 and coarsening. Callers that already ran [[louvainMove]]
    * at `rounds1` on the same graph can pass its `(node, label)` output
    * as `phase1` to skip recomputing it — the result is identical by
    * construction (both paths are the same deterministic rounds).
    * Output `(node, label)` for every node with an edge. */
  def louvainTwoPass(edges: DataFrame, srcCol: String, dstCol: String,
      rounds1: Int = 4, rounds2: Int = 4,
      phase1: Option[DataFrame] = None): DataFrame = {
    require(rounds2 >= 1, "need at least one coarse round")
    val canon = louvainCanon(edges, srcCol, dstCol)
    val l1 = phase1.getOrElse(louvainMoveOnCanon(canon, rounds1))
    val ce = canon
      .join(l1.select(col("node").as("a"), col("label").as("ca")), Seq("a"))
      .join(l1.select(col("node").as("b"), col("label").as("cb")), Seq("b"))
      .select(least(col("ca"), col("cb")).as("a"),
        greatest(col("ca"), col("cb")).as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("w"))
      .localCheckpoint(true)
    val mRow = ce.agg(sum(col("w"))).head()
    if (mRow.isNullAt(0)) { // no edges at all
      Iterate.release(ce, canon); return l1
    }
    val m = mRow.getLong(0)
    val inter = ce.filter(col("a") =!= col("b"))
    val und2 = inter
      .unionAll(inter.select(col("b").as("a"), col("a").as("b"), col("w")))
      .localCheckpoint(true)
    val selfw = ce.filter(col("a") === col("b"))
      .select(col("a").as("node"), col("w").as("sw"))
    val nodes2 = l1.select(col("label").as("node")).distinct()
    val interDeg = und2.groupBy(col("a").as("node"))
      .agg(sum(col("w")).as("idg"))
    val deg2 = nodes2
      .join(interDeg, Seq("node"), "left_outer")
      .join(selfw, Seq("node"), "left_outer")
      .select(col("node"),
        (coalesce(col("idg"), lit(0L)) +
          lit(2L) * coalesce(col("sw"), lit(0L))).as("dg"))
      .localCheckpoint(true)
    val result = parityMoves(deg2, rounds2)(louvainBestW(und2, deg2, _, m))
      .finish(labels => l1
        .join(labels.select(col("node").as("label"), col("lbl")), Seq("label"))
        .select(col("node"), col("lbl").as("label")))
    Iterate.release(und2, deg2, ce, canon)
    if (phase1.isEmpty) Iterate.release(l1) // a supplied phase-1 is the caller's
    result
  }

  /** Deterministic random walks over a DIRECTED edge list (symmetrize
    * upstream for undirected semantics) — the corpus-generation step of
    * DeepWalk/node2vec (Perozzi 2014, Grover 2016): `walksPerNode`
    * walks of `length` steps start at every node with an out-edge.
    *
    * The "random" choice is a seeded integer mix replayable by any SQL
    * engine: at node v, step t, walker (start, wk), the next neighbor
    * is rank `mix(v, t, start, wk) mod outdeg(v)` over the node's
    * neighbors ranked by id. Every multiplicand is pre-reduced modulo
    * 2^20-ish primes so no term exceeds ~2^41 — the arithmetic can
    * never overflow a 64-bit integer, which keeps engines that ERROR
    * on overflow (DuckDB) and engines that wrap (the JVM) in exact
    * lockstep. A walk that reaches a node with no out-edge halts;
    * its emitted prefix keeps its rows.
    *
    * Shape: the ranked adjacency builds once (per-node sort — the same
    * cost class as a groupBy on the node key; a celebrity hub's
    * neighbor ranking is one window partition, so pre-cap hub degrees
    * upstream if the graph has 10^8-degree nodes), then each step is
    * ONE equi-join of the walker frontier against it on
    * (node, chosen-rank) — never a gather of a whole neighborhood.
    * Frontier state is one row per live walker, eagerly materialized
    * per step with flattened stats (the [[kCore]] discipline; the
    * per-step output slices ride the SAME materialized block, so the
    * final union replays nothing). Output:
    * `(start, walk, step, node)`, steps 0..length. */
  def randomWalks(edges: DataFrame, srcCol: String, dstCol: String,
      walksPerNode: Int = 1, length: Int = 4, seed: Long = 42L): DataFrame = {
    require(walksPerNode >= 1, "need at least one walk per node")
    require(length >= 1, "need at least one step")
    require(seed >= 0, "seed must be non-negative")
    val dir = edges
      .select(col(srcCol).cast("long").as("a"), col(dstCol).cast("long").as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull)
      .distinct()
    val adj = dir
      .withColumn("rnk",
        row_number().over(Window.partitionBy(col("a")).orderBy(col("b"))) - 1)
      .withColumn("dg", count(lit(1)).over(Window.partitionBy(col("a"))))
      .select(col("a").as("node"), col("b").as("nbr"),
        col("rnk").cast("long").as("rnk"), col("dg"))
      .localCheckpoint(true)
    def mix(cur: Column, step: Int, start: Column, wk: Column): Column =
      pmod(lit(1000003L) * pmod(cur, lit(1048573L)) +
        lit(10007L) * lit(step.toLong) +
        lit(100003L) * pmod(pmod(start, lit(1048573L)) * lit(31L) + wk,
          lit(1048573L)) +
        lit(seed % 2147483647L), lit(2147483647L))
    var state = adj.select(col("node")).distinct()
      .withColumn("wk",
        explode(sequence(lit(0L), lit(walksPerNode - 1L))))
      .select(col("node").as("start"), col("wk"), col("node").as("cur"))
      .localCheckpoint(true)
    val slices = scala.collection.mutable.ArrayBuffer(
      state.select(col("start"), col("wk"), lit(0L).as("step"),
        col("cur").as("node")))
    val ckpts = scala.collection.mutable.ArrayBuffer(state)
    for (t <- 1 to length) {
      val chosen = pmod(mix(col("cur"), t, col("start"), col("wk")), col("dg"))
      val next = flat(state)
        .join(adj, col("cur") === col("node") && col("rnk") === chosen)
        .select(col("start"), col("wk"), col("nbr").as("cur"))
        .localCheckpoint(true)
      ckpts += next
      slices += next.select(col("start"), col("wk"), lit(t.toLong).as("step"),
        col("cur").as("node"))
      state = next
    }
    val out = slices.reduce(_ unionAll _).localCheckpoint(true)
    Iterate.release((ckpts :+ adj).toSeq: _*)
    out
  }

  /** node2vec-biased deterministic walks (Grover & Leskovec 2016): the
    * second-order upgrade of [[randomWalks]] — at node `cur` with
    * previous node `prev`, each neighbor x weighs
    * `wReturn` if x = prev (the 1/p return term), `wCommon` if edge
    * (prev, x) exists (distance-1 term), else `wFar` (the 1/q
    * exploration term) — integer weights so the cumulative ranges are
    * exact in any engine. The walker picks the neighbor whose
    * cumulative-weight range (neighbors ranked by id) contains
    * `mix(...) mod totalWeight`; with all three weights 1 the ranges
    * collapse to ranks and the walk equals [[randomWalks]] bit-for-bit
    * (spec-pinned). The first step initializes prev = start, making it
    * uniform at `wCommon` by construction (every neighbor of the start
    * is trivially adjacent to it).
    *
    * Shape: per step ONE equi-join of the walker frontier against the
    * ranked adjacency on the current node plus ONE left equi-join
    * probing edge (prev, nbr) existence; the cumulative weights are a
    * per-walker window over deg(cur) rows (the [[randomWalks]] hub
    * caveat applies — pre-cap 10^8-degree hubs upstream). Output:
    * `(start, walk, step, node)`, steps 0..length. */
  def node2vecWalks(edges: DataFrame, srcCol: String, dstCol: String,
      walksPerNode: Int = 1, length: Int = 4, seed: Long = 42L,
      wReturn: Int = 1, wCommon: Int = 4, wFar: Int = 2): DataFrame = {
    require(walksPerNode >= 1, "need at least one walk per node")
    require(length >= 1, "need at least one step")
    require(seed >= 0, "seed must be non-negative")
    require(wReturn >= 1 && wCommon >= 1 && wFar >= 1,
      "bias weights must be positive integers")
    val dir = edges
      .select(col(srcCol).cast("long").as("a"), col(dstCol).cast("long").as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull)
      .distinct()
      .localCheckpoint(true)
    val adj = dir
      .withColumn("rnk",
        row_number().over(Window.partitionBy(col("a")).orderBy(col("b"))) - 1)
      .select(col("a").as("node"), col("b").as("nbr"),
        col("rnk").cast("long").as("rnk"))
      .localCheckpoint(true)
    val eset = adj.select(col("node").as("pa"), col("nbr").as("pb"))
    var state = adj.select(col("node")).distinct()
      .withColumn("wk",
        explode(sequence(lit(0L), lit(walksPerNode - 1L))))
      .select(col("node").as("start"), col("wk"),
        col("node").as("prev"), col("node").as("cur"))
      .localCheckpoint(true)
    val slices = scala.collection.mutable.ArrayBuffer(
      state.select(col("start"), col("wk"), lit(0L).as("step"),
        col("cur").as("node")))
    val ckpts = scala.collection.mutable.ArrayBuffer(state)
    for (t <- 1 to length) {
      val next = node2vecStep(flat(state), adj, eset, t, seed,
        wReturn, wCommon, wFar).localCheckpoint(true)
      ckpts += next
      slices += next.select(col("start"), col("wk"), lit(t.toLong).as("step"),
        col("cur").as("node"))
      state = next
    }
    val out = slices.reduce(_ unionAll _).localCheckpoint(true)
    Iterate.release((ckpts ++ Seq(adj, dir)).toSeq: _*)
    out
  }

  /** One [[node2vecWalks]] step on a walker frame
    * `state (start, wk, prev, cur)`, a ranked adjacency
    * `adj (node, nbr, rnk)` and an edge-probe frame `eset (pa, pb)`:
    * returns the next `(start, wk, prev, cur)`. `private[graft]` so the
    * plan-quality spec can pin the step's physical shape — the loop's
    * checkpoints hide it (the [[louvainBest]] rationale). */
  private[graft] def node2vecStep(state: DataFrame, adj: DataFrame,
      eset: DataFrame, t: Int, seed: Long,
      wReturn: Int, wCommon: Int, wFar: Int): DataFrame = {
    val wWalker = Window.partitionBy(col("start"), col("wk"))
    val mixed =
      pmod(lit(1000003L) * pmod(col("cur"), lit(1048573L)) +
        lit(10007L) * lit(t.toLong) +
        lit(100003L) * pmod(pmod(col("start"), lit(1048573L)) * lit(31L) +
          col("wk"), lit(1048573L)) +
        lit(seed % 2147483647L), lit(2147483647L))
    val cand = state
      .join(adj, col("cur") === col("node"))
      .join(eset, col("prev") === col("pa") && col("nbr") === col("pb"),
        "left_outer")
      .withColumn("w",
        when(col("nbr") === col("prev"), lit(wReturn.toLong))
          .when(col("pa").isNotNull, lit(wCommon.toLong))
          .otherwise(lit(wFar.toLong)))
      .withColumn("cum",
        coalesce(sum(col("w")).over(wWalker.orderBy(col("rnk"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("tot", sum(col("w")).over(wWalker))
    val r = pmod(mixed, col("tot"))
    cand
      .filter(r >= col("cum") && r < col("cum") + col("w"))
      .select(col("start"), col("wk"), col("cur").as("prev"),
        col("nbr").as("cur"))
  }

  /** Betweenness centrality by Brandes' two-pass algorithm (Brandes
    * 2001) from a SAMPLED source set — the Brandes–Pich 2007 subset
    * estimator: exact dependency accumulation from each listed source,
    * summed over sources — over a DIRECTED unweighted edge list,
    * truncated at `rounds` BFS levels (the fixed-round lockstep
    * contract shared with [[ssspBellmanFord]]; paths longer than
    * `rounds` hops contribute nothing, which IS the "k-bounded
    * betweenness" variant used at scale).
    *
    * Forward pass: `rounds` synchronous BFS levels carrying EXACT
    * integer shortest-path counts σ — per level one frontier⋈edges
    * equi-join + a (source, node) partial-aggregating σ-sum (path
    * counts combine map-side; a hub receives one row per map partition,
    * not one per in-edge) + one anti-join against the visited set.
    * σ rides DECIMAL(38,0): path counts grow combinatorially and must
    * not wrap silently.
    *
    * Backward pass: one depth per round from `rounds` down to 1,
    * accumulating δ(v) += σ(v)/σ(w) · (1 + δ(w)) over BFS successors w
    * (depth(w) = depth(v) + 1 — exactly the rows the depth-keyed
    * equi-join selects). Each addend is ONE IEEE expression over exact
    * inputs cast to DECIMAL(28,12) before the sum, so group totals are
    * partition-merge-order independent (the [[adamicAdar]] /
    * [[pageRank]] oracle discipline). Rows at depth ≥ d are final when
    * depth d is processed, so reading δ(w) from the running frame is
    * Brandes' invariant, not an approximation.
    *
    * Output: `(node, btw)` for every node REACHED from a source within
    * `rounds` hops, btw = Σ_sources δ_s(node) rounded to 6 decimals
    * (source self-rows excluded per Brandes). Scale: state is one row
    * per (source, reached node) — the [[multiSourceSssp]] landmark
    * sharding — and every stage is an equi-join or a key-partial agg;
    * nothing is quadratic in degree or corpus. */
  def betweenness(edges: DataFrame, srcCol: String, dstCol: String,
      sources: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, "need at least one BFS round")
    val e = edges.select(col(srcCol).cast("long").as("esrc"),
        col(dstCol).cast("long").as("edst"))
      .filter(col("esrc").isNotNull && col("edst").isNotNull &&
        col("esrc") =!= col("edst"))
      .distinct()
      .localCheckpoint(true)
    val dec0 = DecimalType(38, 0)
    val src0 = sources
      .select(col(sources.columns.head).cast("long").as("source"))
      .filter(col("source").isNotNull).distinct()
      .select(col("source"), col("source").as("node"),
        lit(0).as("depth"), lit(1L).cast(dec0).as("sigma"))
      .localCheckpoint(true)
    val levels = scala.collection.mutable.ArrayBuffer(src0)
    var frontier = src0
    var visited = src0
    for (t <- 1 to rounds) {
      val nf = brandesFrontierStep(frontier, e, visited, t)
        .localCheckpoint(true)
      levels += nf
      // union of checkpoint leaves: estimated sizes ADD (never multiply),
      // so no statsFlatLeaf needed on the visited set
      visited = visited.unionAll(nf)
      frontier = nf
    }
    var delta = levels.map(_.withColumn("delta",
        lit(0).cast(DecimalType(38, 12))))
      .reduce(_ unionAll _)
    for (d <- rounds to 1 by -1) {
      val next = brandesDependencyStep(delta, e, d).localCheckpoint(true)
      levels += next // released with the rest after the final checkpoint
      delta = flat(next)
    }
    val res = delta.filter(col("node") =!= col("source"))
      .groupBy(col("node"))
      .agg(sum(col("delta")).as("dsum"))
      .select(col("node"), round(col("dsum").cast("double"), 6).as("btw"))
      .localCheckpoint(true)
    Iterate.release((levels :+ e).toSeq: _*)
    res
  }

  /** One [[betweenness]] forward BFS level: candidates =
    * frontier ⋈ edges with map-side-combining σ-sums, minus anyone
    * already visited. `private[graft]` so the plan-quality spec can pin
    * the level's physical shape — the loop's checkpoints hide it (the
    * [[louvainBest]] rationale). */
  private[graft] def brandesFrontierStep(frontier: DataFrame, e: DataFrame,
      visited: DataFrame, t: Int): DataFrame =
    frontier.join(e, col("node") === col("esrc"))
      .groupBy(col("source"), col("edst"))
      .agg(sum(col("sigma")).cast(DecimalType(38, 0)).as("sigma"))
      .select(col("source"), col("edst").as("node"),
        lit(t).as("depth"), col("sigma"))
      .join(visited.select(col("source"), col("node")),
        Seq("source", "node"), "left_anti")

  /** Neighborhood-function estimation by HyperBall (Boldi & Vigna 2013:
    * HyperLogLog registers max-merged along edges — Flajolet et al.
    * 2007's estimator): after `rounds` merges, each node carries a
    * 16-register sketch of its OUT-ball `{u : dist(node → u) ≤ rounds}`
    * and the output is the per-node estimated ball size — the
    * reach/effective-diameter primitive exact truncated BFS cannot give
    * at scale (it is O(n²) state; this is O(n·16)).
    *
    * Determinism contract: registers derive from md5(node) hex — bucket
    * = first hex char, rho = 1 + leading zero BITS of the next 15 hex
    * chars (string ops + CASE, no floating point, engine-portable).
    * Each round's merge is an exact integer MAX. The estimate is
    * assembled from the EXACT integer Σ 2^(61−rho) (DECIMAL(38,0)
    * addends — order-free), so the only floating point anywhere is the
    * final one-division estimator (or 16·ln(16/V) linear counting when
    * V registers are empty — the [[adamicAdar]] ln precedent), applied
    * once per node and replayed identically by the oracle.
    *
    * Scale shape: one row per (node, hit bucket) — never per reached
    * node; each round is one edges ⋈ sketch equi-join + a
    * (node, bucket) partial-aggregating MAX, so a hub's registers
    * combine map-side. This is why HyperBall beats exact BFS or KMV
    * top-k sketches at 100 TB: max-merge is fully aggregatable with no
    * per-node sort or bounded-heap anywhere. */
  def hyperBallReach(edges: DataFrame, srcCol: String, dstCol: String,
      rounds: Int, checkpointEvery: Int = 4): DataFrame = {
    require(rounds >= 1, "need at least one merge round")
    require(checkpointEvery >= 1, "checkpointEvery must be positive")
    val e = hllEdges(edges, srcCol, dstCol)
    val sketch0 = hllInitSketch(e)
    val res = Iterate.chain(sketch0, rounds, checkpointEvery, Some(sketch0))(
        (sketch, _) => hyperBallMergeStep(sketch, e))
      .finish(hllEstimate(_).select(col("node"), col("est").as("reach_est")))
    Iterate.release(e)
    res
  }

  /** The full neighborhood function by HyperBall: N(r) = Σ_v |ball(v, r)|
    * estimated at EVERY radius r = 0..rounds in one run — the global
    * distance-distribution summary behind average-distance and
    * effective-diameter readings (Boldi & Vigna's HyperANF deliverable;
    * N(r)/N(rounds) is the CDF of pairwise distances up to the horizon).
    * Same register/merge machinery as [[hyperBallReach]] (each radius's
    * sketch is one more max-merge round, checkpointed and reused), then
    * ONE union computes every radius's per-node estimate and the global
    * sum rides DECIMAL(28,6) addends — the per-node estimates are
    * already rounded to 6 decimals, so the cast is exact and the sum is
    * partition-order free. Output: `(r, nf_est)`, one row per radius. */
  def neighborhoodFunction(edges: DataFrame, srcCol: String, dstCol: String,
      rounds: Int): DataFrame = {
    require(rounds >= 1, "need at least one merge round")
    val e = hllEdges(edges, srcCol, dstCol)
    val perRound = scala.collection.mutable.ArrayBuffer(hllInitSketch(e))
    for (_ <- 1 to rounds)
      perRound += hyperBallMergeStep(flat(perRound.last), e)
        .localCheckpoint(true)
    val all = perRound.zipWithIndex
      .map { case (sk, r) => hllEstimate(sk.withColumn("r", lit(r))) }
      .reduce(_ unionAll _)
    val res = all.groupBy(col("r"))
      .agg(sum(col("est").cast(DecimalType(28, 6))).as("nf"))
      .select(col("r"), col("nf").cast("double").as("nf_est"))
      .localCheckpoint(true)
    Iterate.release((perRound :+ e).toSeq: _*)
    res
  }

  /** Maximal independent set by Luby's algorithm (Luby 1986) over an
    * UNDIRECTED edge list: `rounds` synchronous rounds in which every
    * undecided node whose priority strictly beats ALL undecided
    * neighbors joins the set and knocks its neighbors out. Priorities
    * are md5(node) hex strings — deterministic, engine-portable, and
    * (at 128 bits) collision-free in practice, so both engines run the
    * same tournament in lockstep. Luby terminates in O(log n) rounds
    * w.h.p.; nodes still undecided after `rounds` are simply absent
    * (the fixed-round truncation contract — the output is always
    * INDEPENDENT, and maximal once the undecided set drains).
    *
    * The data-pipeline reading: over a near-dup candidate-pair graph
    * this picks a maximal set of mutually non-duplicate documents —
    * the diversity-max survivor rule, vs. [[Dedup]]'s one-per-cluster
    * representative rule.
    *
    * Scale shape per round: one adjacency ⋈ undecided equi-join + a
    * node-keyed partial MAX (the hub's neighbor priorities combine
    * map-side), one left join for the strict compare, one equi-join +
    * distinct for the knockout set, two anti-joins to shrink the
    * undecided frame — every stage key-partitioned, nothing quadratic.
    * Output: `(node)`, one row per MIS member. */
  def lubyMis(edges: DataFrame, srcCol: String, dstCol: String,
      rounds: Int = 6): DataFrame = {
    // MEASURED AND REVERTED (round-15, guide §1 honesty): folding the
    // tournament into ONE `(node, prio, st)` state frame checkpointed
    // once per round (winners/knocked recomputed inside that single
    // materialization) halves the driver jobs but DUPLICATES the winner
    // subtree's task work per round and deepens the round plan — same-day
    // isolated A/B at sf0.1 (RUNS=6 PASSES=1 warm floors,
    // q141+q111+d15): two-frame form 10.07 s, one-frame form 12.18 s
    // (q141 5.69 vs 7.34). The two-frame form below — winners + shrunken
    // undecided checkpointed separately, MIS parts unioned once at the
    // end — is the measured optimum, exactly like the viterbiUses
    // lazy-chain revert.
    require(rounds >= 1, "need at least one round")
    val und = edges
      .select(least(col(srcCol), col(dstCol)).cast("long").as("a"),
        greatest(col(srcCol), col(dstCol)).cast("long").as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull && col("a") =!= col("b"))
      .distinct()
    val adj = und.select(col("a").as("node"), col("b").as("nbr"))
      .unionAll(und.select(col("b").as("node"), col("a").as("nbr")))
      .localCheckpoint(true)
    // Round-16: the undecided-set size rides an Observation on the
    // checkpoint action each round already runs; once it drains, every
    // remaining round's winners frame is empty by construction (no
    // undecided node can win), so breaking early is output-identical
    // to running the full budget — it only skips rounds that would
    // union nothing. q141 drives 6 colors × this loop; the later,
    // smaller subgraphs drain in 1-2 rounds.
    val (undec0, n0) = Iterate.observe(adj.select(col("node")).distinct()
      .withColumn("prio", md5(col("node").cast("string"))), count(lit(1)), 0L)
    val misParts = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val run = Iterate.until(undec0, if (n0 == 0L) 0 else rounds,
        count(lit(1)), 0L, Some(undec0), identity) { (undec, _) =>
      val nbrBest = adj
        .join(undec.select(col("node").as("nbr"), col("prio").as("nprio")),
          Seq("nbr"))
        .groupBy(col("node")).agg(max(col("nprio")).as("best"))
      val winners = undec.join(nbrBest, Seq("node"), "left_outer")
        .filter(col("best").isNull || col("prio") > col("best"))
        .select(col("node"))
        .localCheckpoint(true)
      misParts += winners
      // Round-16 (guide §2.4): the undecided update was two sequential
      // anti-joins with a distinct on the knockout set — the distinct
      // exchange and the second anti-join probe are both unnecessary:
      // left_anti is existence-based (duplicates on the right are
      // free), and "minus winners, minus knocked" is one anti-join
      // against their union. Two fewer exchanges per MIS round, same
      // set by definition.
      val knockedOrWon = winners.select(col("node"))
        .unionAll(adj.join(winners.select(col("node")), Seq("node"))
          .select(col("nbr").as("node")))
      undec.join(knockedOrWon, Seq("node"), "left_anti")
    }(_ == 0L)
    // an empty graph never enters the loop: emit the schema-correct
    // empty frame (the old fixed-round form unioned empty winners)
    val res = run.finish(undec => misParts.reduceOption(_ unionAll _)
      .getOrElse(undec.select(col("node")).filter(lit(false))))
    Iterate.release((misParts :+ adj).toSeq: _*)
    res
  }

  /** Discrete power-law exponent of the degree distribution by the
    * Clauset–Shalizi–Newman 2009 MLE (their eq. 3.7 discrete
    * approximation): over tail nodes with degree ≥ `dmin`,
    *
    *   α = 1 + n / Σ_i ln(d_i / (dmin − 0.5))
    *
    * — the corpus-graph health diagnostic (web/co-occurrence graphs sit
    * near α ≈ 2–3; α drifting low means hub blowup, the thing degree
    * caps and salting exist for). Degrees are exact integer counts;
    * each ln addend is one IEEE expression cast to DECIMAL(28,12)
    * before the sum (order-free, the [[adamicAdar]] discipline); α is
    * one final IEEE expression. Output: one row
    * `(n_tail, dmin, alpha)`. NULL α when the tail is empty or all at
    * exactly dmin=1-equivalent mass (zero denominator). */
  def powerLawAlpha(edges: DataFrame, srcCol: String, dstCol: String,
      dmin: Int = 2): DataFrame = {
    require(dmin >= 1, "dmin must be positive")
    val und = edges
      .select(least(col(srcCol), col(dstCol)).cast("long").as("a"),
        greatest(col(srcCol), col(dstCol)).cast("long").as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull && col("a") =!= col("b"))
      .distinct()
    val deg = und.select(col("a").as("node"))
      .unionAll(und.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("dg"))
      .filter(col("dg") >= dmin)
    deg.agg(count(lit(1)).as("n_tail"),
        sum(log(col("dg").cast("double") / lit(dmin - 0.5))
          .cast(DecimalType(28, 12))).as("lsum"))
      .select(col("n_tail"), lit(dmin).as("dmin"),
        when(col("lsum") > 0,
          round(lit(1.0) +
            col("n_tail").cast("double") / col("lsum").cast("double"), 6))
          .as("alpha"))
  }

  /** Degree assortativity (Newman 2002, eq. 4) over an UNDIRECTED edge
    * list: the Pearson correlation of endpoint degrees across edges.
    * Clearing denominators turns the whole statistic into
    *
    *   r = (4·m·Σjk − (Σ(j+k))²) / (2·m·Σ(j²+k²) − (Σ(j+k))²)
    *
    * — EXACT integer numerator and denominator (DECIMAL(38,0) sums so
    * a trillion-edge graph cannot wrap) and ONE final IEEE division:
    * no decimal-addend rounding needed at all. Positive r = hubs link
    * to hubs (social), negative = hubs link to leaves (web/biology) —
    * with [[powerLawAlpha]], the second corpus-graph shape diagnostic.
    * NULL on a degree-regular graph (zero denominator). Output: one
    * row `(m_edges, assortativity)`. Shape: one degree agg + two
    * broadcast-sized joins + one global agg. */
  def degreeAssortativity(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = {
    val und = edges
      .select(least(col(srcCol), col(dstCol)).cast("long").as("a"),
        greatest(col(srcCol), col(dstCol)).cast("long").as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull && col("a") =!= col("b"))
      .distinct()
      .localCheckpoint(true) // feeds the degree agg and the edge join
    val deg = und.select(col("a").as("node"))
      .unionAll(und.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("dg"))
    val dec = DecimalType(38, 0)
    val ee = und
      .join(deg.select(col("node").as("a"), col("dg").as("da")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("dg").as("db")), Seq("b"))
    val agg = ee.agg(count(lit(1)).as("m"),
      sum((col("da") * col("db")).cast(dec)).as("sjk"),
      sum((col("da") + col("db")).cast(dec)).as("sj"),
      sum((col("da") * col("da") + col("db") * col("db")).cast(dec)).as("sq"))
    val num = (lit(4L).cast(dec) * col("m").cast(dec) * col("sjk") -
      col("sj") * col("sj")).cast(dec)
    val den = (lit(2L).cast(dec) * col("m").cast(dec) * col("sq") -
      col("sj") * col("sj")).cast(dec)
    val res = agg.select(col("m").as("m_edges"),
      when(den =!= 0,
        round(num.cast("double") / den.cast("double"), 6))
        .as("assortativity"))
      .localCheckpoint(true) // materialize before releasing the edge frame
    Iterate.release(und)
    res
  }

  /** Global and average-local clustering coefficients (Watts–Strogatz
    * 1998 local; Newman's transitivity global) over an UNDIRECTED edge
    * list — the third corpus-graph shape diagnostic with
    * [[powerLawAlpha]] and [[degreeAssortativity]]:
    *
    *   C_global = Σ_v t_v / Σ_v d_v(d_v−1)/2   (= 3·triangles/wedges)
    *   C_local  = mean over d_v ≥ 2 of t_v / (d_v(d_v−1)/2)
    *
    * Triangle counts ride the existing degree-oriented wedge join
    * ([[triangleCounts]] — hub-safe by orientation); degrees and wedge
    * counts are exact integers, so C_global is ONE IEEE division, and
    * each local ratio is one IEEE division cast to DECIMAL(28,12)
    * before the mean (the [[adamicAdar]] discipline). NULLs when no
    * wedges exist. Output: one row
    * `(n_nodes, m_edges, triangle_hits, wedges, global_cc, avg_local_cc)`
    * where triangle_hits = Σ t_v = 3·triangles. */
  def clusteringCoefficients(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = {
    val und = edges
      .select(least(col(srcCol), col(dstCol)).cast("long").as("a"),
        greatest(col(srcCol), col(dstCol)).cast("long").as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull && col("a") =!= col("b"))
      .distinct()
      .localCheckpoint(true)
    val deg = und.select(col("a").as("node"))
      .unionAll(und.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("dg"))
    val tri = triangleCounts(und, "a", "b")
    val per = deg.join(tri, Seq("node"), "left_outer")
      .select(col("node"), col("dg"),
        coalesce(col("triangles"), lit(0L)).as("t"),
        // integer div: a double-division wedge count would round past 2^53
        expr("dg * (dg - 1) div 2").as("w"))
    val agg = per.agg(count(lit(1)).as("n_nodes"),
      sum(col("t")).cast(DecimalType(38, 0)).as("tsum"),
      sum(col("w")).cast(DecimalType(38, 0)).as("wsum"),
      sum(when(col("w") > 0,
          (col("t").cast("double") / col("w").cast("double"))
            .cast(DecimalType(28, 12))))
        .as("lsum"),
      sum(when(col("w") > 0, 1L).otherwise(0L)).as("n2"))
    val m = und.count()
    val res = agg.select(col("n_nodes"), lit(m).as("m_edges"),
        col("tsum").cast("long").as("triangle_hits"),
        col("wsum").cast("long").as("wedges"),
        when(col("wsum") > 0,
          round(col("tsum").cast("double") / col("wsum").cast("double"), 6))
          .as("global_cc"),
        when(col("n2") > 0,
          round(col("lsum").cast("double") / col("n2").cast("double"), 6))
          .as("avg_local_cc"))
      .localCheckpoint(true)
    Iterate.release(und, tri)
    res
  }

  /** Canonicalized edge frame shared by the HyperBall family. */
  private def hllEdges(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame =
    edges.select(col(srcCol).cast("long").as("esrc"),
        col(dstCol).cast("long").as("edst"))
      .filter(col("esrc").isNotNull && col("edst").isNotNull &&
        col("esrc") =!= col("edst"))
      .distinct()
      .localCheckpoint(true)

  /** Initial one-register-per-node sketch: bucket from the first md5
    * hex char, rho = 1 + leading zero BITS of the next 15 hex chars
    * (60 payload bits, rho ∈ 1..61) — string ops + CASE only. */
  private def hllInitSketch(e: DataFrame): DataFrame = {
    val nodes = e.select(col("esrc").as("node"))
      .unionAll(e.select(col("edst").as("node"))).distinct()
    val h = md5(col("node").cast("string"))
    val payload = substring(h, 2, 15)
    val zerosHex = length(regexp_extract(payload, "^0*", 0))
    val firstNz = substring(payload, zerosHex + 1, lit(1))
    val extraBits = when(firstNz === "1", 3)
      .when(firstNz.isin("2", "3"), 2)
      .when(firstNz.isin("4", "5", "6", "7"), 1)
      .otherwise(0) // '' (all-zero payload) included: zerosHex already 60
    nodes.select(col("node"),
        conv(substring(h, 1, 1), 16, 10).cast("int").as("bucket"),
        (zerosHex * 4 + extraBits + 1).cast("int").as("rho"))
      .localCheckpoint(true)
  }

  /** Per-group HLL estimate from a register frame: groups by every
    * non-(bucket, rho) column, assembles the EXACT integer denominator
    * Σ 2^(61−rho) + 2^61 per never-hit bucket (DECIMAL(38,0) addends),
    * then ONE IEEE expression per group — raw HLL (alpha_16 = 0.673) or
    * 16·ln(16/V) linear counting while V buckets are empty — rounded to
    * 6 decimals as `est`. */
  private def hllEstimate(sketch: DataFrame): DataFrame = {
    val keys = sketch.columns.filterNot(Set("bucket", "rho")).map(col)
    val twoTo61 = lit(2305843009213693952L) // 2^61
    val agg = sketch.groupBy(keys: _*)
      .agg(sum(expr("shiftleft(1L, 61 - rho)")
          .cast(DecimalType(38, 0))).as("psum"),
        count(lit(1)).as("present"))
    val denom = (col("psum") +
      (lit(16L) - col("present")).cast(DecimalType(38, 0)) *
        twoTo61.cast(DecimalType(38, 0))).cast(DecimalType(38, 0))
    val zeros = (lit(16L) - col("present")).cast("double")
    agg.select(keys :+
      round(when(col("present") < 16,
          lit(16.0) * log(lit(16.0) / zeros))
        .otherwise(lit(0.673) * lit(256.0) * twoTo61.cast("double") /
          denom.cast("double")), 6).as("est"): _*)
  }

  /** Harmonic centrality from a SAMPLED source set (Boldi & Vigna's
    * recommended centrality under disconnection — unreachable pairs
    * contribute 0, no infinite-distance special case):
    *
    *   H(v) = Σ_{s ∈ sources, d(s,v) > 0} 1 / d(s,v)
    *
    * over unweighted hop distances truncated at `rounds` BFS levels —
    * ONE [[multiSourceSssp]] traversal (unit weights) carries all
    * sources, then one node-keyed aggregation. Each 1/d addend is a
    * single IEEE division cast to DECIMAL(28,12) before the sum (the
    * [[adamicAdar]] discipline), so totals are partition- and
    * engine-order-proof. Output: `(node, harmonic)` for every node
    * reached from at least one source, rounded to 6 decimals. */
  def harmonicCentrality(edges: DataFrame, srcCol: String, dstCol: String,
      sources: DataFrame, rounds: Int): DataFrame = {
    val unit = edges.select(col(srcCol), col(dstCol))
      .withColumn("_graft_w", lit(1L))
    multiSourceSssp(unit, srcCol, dstCol, "_graft_w", sources, rounds)
      .filter(col("dist") > 0)
      .groupBy(col("node"))
      .agg(sum((lit(1.0) / col("dist").cast("double"))
        .cast(DecimalType(28, 12))).as("hsum"))
      .select(col("node"), round(col("hsum").cast("double"), 6).as("harmonic"))
  }

  /** One [[hyperBallReach]] merge round on a register frame
    * `sketch (node, bucket, rho)` and an edge frame `e (esrc, edst)`:
    * each node max-merges its out-neighbors' registers with its own —
    * one equi-join + one (node, bucket) partial-aggregating MAX.
    * `private[graft]` so the plan-quality spec can pin the round's
    * physical shape — the loop's checkpoints hide it. */
  private[graft] def hyperBallMergeStep(sketch: DataFrame,
      e: DataFrame): DataFrame = {
    val prop = e.join(sketch, col("edst") === col("node"))
      .select(col("esrc").as("node"), col("bucket"), col("rho"))
    sketch.unionAll(prop)
      .groupBy(col("node"), col("bucket")).agg(max(col("rho")).as("rho"))
  }

  /** One [[betweenness]] backward dependency round at depth `d`: the
    * depth-d rows (successors w, δ final) reach their depth-(d−1)
    * predecessors through the edge list, each contributing the single
    * IEEE addend σ(p)·(1+δ(w))/σ(w) cast to DECIMAL(28,12); the summed
    * update lands back on the frame via one left equi-join. */
  private[graft] def brandesDependencyStep(delta: DataFrame, e: DataFrame,
      d: Int): DataFrame = {
    val w = delta.filter(col("depth") === d)
      .select(col("source").as("wsrc"), col("node").as("wnode"),
        col("sigma").as("wsig"), col("delta").as("wdelta"))
    val preds = delta.filter(col("depth") === d - 1)
      .select(col("source").as("psrc"), col("node").as("pnode"),
        col("sigma").as("psig"))
    val upd = w.join(e, col("wnode") === col("edst"))
      .join(preds, col("wsrc") === col("psrc") && col("esrc") === col("pnode"))
      .select(col("wsrc").as("source"), col("pnode").as("node"),
        (col("psig").cast("double") *
          (lit(1.0) + col("wdelta").cast("double")) /
          col("wsig").cast("double")).cast(DecimalType(28, 12)).as("add"))
      .groupBy(col("source"), col("node"))
      .agg(sum(col("add")).cast(DecimalType(38, 12)).as("add"))
    delta.join(upd, Seq("source", "node"), "left_outer")
      .withColumn("delta",
        (col("delta") + coalesce(col("add"),
          lit(0).cast(DecimalType(38, 12)))).cast(DecimalType(38, 12)))
      .drop("add")
  }

  /** Katz centrality by synchronous power iteration:
    *
    *   x(v) ← round(β + α · Σ_{u→v} x(u), roundTo)
    *
    * over the DISTINCT directed edge list, starting from x ≡ β — the
    * attenuation-weighted count of walks arriving at each node (Katz
    * 1953): the centrality of choice when influence flows along
    * directed links and PageRank's out-degree normalization is
    * unwanted. The series converges for α < 1/λ_max; the fixed-round
    * form here is exact lockstep for ANY α (each round is replayed
    * bit-for-bit by the unrolled-CTE oracle, diverging inputs
    * included).
    *
    * Determinism contract: the per-edge contribution is the previous
    * score VERBATIM — a DOUBLE already rounded to `roundTo` ≤ 12
    * decimals, hence exactly representable as DECIMAL(28,12), so the
    * cast is value-preserving and the per-node sum is
    * partition-order free; the update is `round(β + α·sum, roundTo)` —
    * two IEEE ops in fixed operand order.
    *
    * Scale shape per round (same as [[pageRank]] minus the degree
    * join): one edges ⋈ scores equi-join + one dst-keyed
    * partial-aggregating sum + one left join onto the node set;
    * lineage truncated via [[flat]] every `checkpointEvery` rounds. */
  def katzCentrality(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int = 6, alpha: Double = 0.1, beta: Double = 1.0,
      roundTo: Int = 9, checkpointEvery: Int = 4): DataFrame = {
    require(iterations >= 1, "need at least one iteration")
    require(alpha > 0 && alpha < 1, "alpha must be in (0, 1)")
    require(checkpointEvery >= 1, "checkpointEvery must be positive")
    val e = edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .distinct().localCheckpoint(true)
    val nodes = e.select(col("src").as("node"))
      .unionAll(e.select(col("dst").as("node")))
      .distinct().localCheckpoint(true)
    val scores0 = nodes.withColumn("x", lit(beta))
    val result = Iterate.chain(scores0, iterations, checkpointEvery) {
      (scores, _) =>
        val inflow = e.join(scores, col("src") === col("node"))
          .groupBy(col("dst"))
          .agg(sum(col("x").cast(DecimalType(28, 12))).as("xsum"))
        nodes.join(inflow, col("node") === col("dst"), "left_outer")
          .select(col("node"),
            round(lit(beta) + lit(alpha) *
              coalesce(col("xsum").cast("double"), lit(0.0)), roundTo).as("x"))
    }.finish()
    Iterate.release(e, nodes)
    result.select(col("node"), col("x").as("katz"))
  }

  /** EFFECTIVE DIAMETER read off the HyperANF curve: the smallest
    * radius r at which the neighborhood function reaches `fraction`
    * (canonically 0.9) of its horizon value N(rounds) — the
    * "practically everything is within r hops" summary statistic
    * (Boldi & Vigna 2011 report exactly this off the same curve).
    * Integer-radius form (no interpolation), so the answer is an exact
    * radius and the only floating point beyond [[neighborhoodFunction]]
    * itself is the single `fraction · N(horizon)` multiply in the
    * threshold compare — both replayed verbatim by the oracle.
    *
    * `rounds` is the horizon, which must comfortably exceed the true
    * effective diameter for the reading to mean anything; the output
    * carries N(horizon) alongside so callers can sanity-check curve
    * saturation. One row: `(eff_diameter, nf_horizon)`. */
  def effectiveDiameter(edges: DataFrame, srcCol: String, dstCol: String,
      rounds: Int, fraction: Double = 0.9): DataFrame = {
    require(fraction > 0 && fraction <= 1, "fraction must be in (0, 1]")
    val nf = neighborhoodFunction(edges, srcCol, dstCol, rounds)
    val horizon = nf.filter(col("r") === rounds)
      .select(col("nf_est").as("nf_horizon"))
    nf.crossJoin(broadcast(horizon))
      .filter(col("nf_est") >= lit(fraction) * col("nf_horizon"))
      .agg(min(col("r")).as("eff_diameter"),
        max(col("nf_horizon")).as("nf_horizon"))
  }

  /** Edge RECIPROCITY of a DIRECTED graph (Newman 2002's r = fraction
    * of directed edges whose reverse edge also exists) — the first-order
    * directedness diagnostic next to [[degreeAssortativity]] /
    * [[powerLawAlpha]] on the undirected side: r ≈ 1 means the digraph
    * is effectively symmetric (running the undirected analytics on it
    * is sound), r ≈ 0 means direction carries real signal (use the
    * directed operators: [[pageRank]], [[hits]], [[katzCentrality]]).
    *
    * Shape: canonicalize (distinct, self-loop-free), then ONE
    * self-equi-join on the reversed key — the same bounded join every
    * dedup candidate generator here uses; counts are exact integers and
    * the single ratio is one IEEE division (the [[clusteringCoefficients]]
    * discipline), so the oracle replays it bit-exactly. One row:
    * `(m_edges, mutual_edges, mutual_pairs, reciprocity)` where
    * `mutual_edges` counts each direction of a mutual pair. */
  def reciprocity(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = {
    val e = edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst"))
      .distinct()
      .localCheckpoint(true) // feeds both sides of the reverse join
    val mutual = e.join(
        e.select(col("dst").as("src"), col("src").as("dst")),
        Seq("src", "dst"))
      .agg(count(lit(1)).as("mutual_edges"))
    val res = e.agg(count(lit(1)).as("m_edges"))
      .crossJoin(broadcast(mutual))
      .select(col("m_edges"), col("mutual_edges"),
        (col("mutual_edges") / 2).cast("long").as("mutual_pairs"),
        when(col("m_edges") =!= 0,
          round(col("mutual_edges").cast("double") /
            col("m_edges").cast("double"), 6)).as("reciprocity"))
      .localCheckpoint(true) // materialize before releasing the edge frame
    Iterate.release(e)
    res
  }

  /** STRONGLY connected components over a DIRECTED edge list — the
    * coloring algorithm (Orzan 2004, the published distributed-SCC
    * recipe; FW-BW's scalable cousin), with O(1) state per node and no
    * all-pairs/transitive-closure materialization anywhere:
    *
    * per outer round, on the still-unassigned subgraph:
    *   1. forward MIN-LABEL propagation (`propRounds` lockstep
    *      iterations of edges ⋈ colors + a dst-keyed min): color(v) =
    *      min id that reaches v. Every node with color(v) = v is a
    *      PIVOT — no smaller id reaches it.
    *   2. backward reach of each pivot RESTRICTED to its color class
    *      (flag propagation over the intra-color edge subset): the
    *      flagged nodes of class c are EXACTLY SCC(c). Proof shape: a
    *      member's min reacher is the pivot itself, and every node on
    *      a member→pivot path has the pivot's color (a smaller-id
    *      reacher of any path node would reach the pivot too,
    *      contradicting pivothood) — so the intra-color restriction
    *      loses nothing and lets ALL pivots extract in parallel.
    *   3. assign + peel: flagged nodes take `component = color`
    *      (the SCC's min member id — stable, engine-portable), and the
    *      next outer round runs on the rest.
    *
    * Each outer round opens with `trimRounds` TRIM iterations (Orzan's
    * step 0): any active node with no non-self in-edge or no non-self
    * out-edge in the active subgraph cannot sit in a ≥2 cycle, so it is
    * assigned `component = node` immediately — DAG fringes peel off in
    * O(depth) cheap degree semi-joins instead of consuming whole
    * color/flag phases (measured: a 194-node test graph with 125
    * DAG singletons needs 5+ un-trimmed peels but 2 trimmed ones).
    *
    * Nodes still unassigned after `outerRounds` peels emit a NULL
    * component — a FIXED iteration budget on both engines, so the
    * output is deterministic regardless of convergence (the oracle
    * unrolls the identical rounds). The budget contract is
    * [[ssspBellmanFord]]'s: SCCs whose internal label/reach distances
    * fit `propRounds` extract exactly (label = min member id); an
    * under-budgeted run may extract a mutually-reachable SUBSET of a
    * larger SCC under a non-minimal pivot — size the budget to the
    * graph's cyclic-core diameter. Scale shape: every step is an
    * equi-join + hash agg / distinct on node-or-edge-sized frames;
    * per-round lineage is truncated ([[Dedup.duplicateClusters]]
    * checkpoint + flattened-stats discipline), and peeling only
    * SHRINKS the subgraph. */
  def stronglyConnectedComponents(edges: DataFrame, srcCol: String,
      dstCol: String, outerRounds: Int = 3, propRounds: Int = 8,
      trimRounds: Int = 4): DataFrame = {
    require(outerRounds >= 1, "need at least one peel round")
    require(propRounds >= 1, "need at least one propagation round")
    require(trimRounds >= 0, "trimRounds must be non-negative")
    val e0 = edges
      .select(col(srcCol).cast("long").as("esrc"),
        col(dstCol).cast("long").as("edst"))
      .filter(col("esrc").isNotNull && col("edst").isNotNull)
      .distinct()
      .localCheckpoint(true)
    // Round-15 job-count reduction (the minimumSpanningForest/jpColoring
    // treatment — per-round driver materializations dominate at bench
    // scale; profiled 84 single-stage jobs for 4.1 s of task time):
    // (a) assigned singleton/SCC frames accumulate in a buffer unioned
    // ONCE at the end instead of re-checkpointing the growing union
    // every trim round and peel; (b) every emptiness probe is DERIVED
    // from row counts observed on checkpoint actions the loop already
    // runs (dead = remaining − alive, so the trim fixpoint and the
    // empty-residue exit need no extra actions); (c) trim-dead frames
    // stay LAZY — anti-joins of two checkpointed leaves, materialized
    // inside the final union. Identical output multiset: trim rule,
    // propagation rounds, pivot flags and budgets are untouched.
    val (nodes0, nodesCount) = Iterate.observe(e0.select(col("esrc").as("node"))
      .unionAll(e0.select(col("edst").as("node")))
      .distinct(), count(lit(1)), 0L)
    var remainingCount = nodesCount
    var remaining = nodes0
    var ea = e0
    val assigneds = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val retired = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var outer = 0
    while (outer < outerRounds) {
      // 0. trim: no non-self in-edge or out-edge => singleton SCC.
      // Early exits below are OUTPUT-IDENTICAL to running the full
      // budget: an empty dead set is a trim fixpoint (same inputs
      // reproduce it), and an empty remaining set makes every later
      // round a no-op.
      var t = 0
      var trimFixpoint = false
      while (t < trimRounds && !trimFixpoint) {
        val nonself = ea.filter(col("esrc") =!= col("edst"))
        val (alive, aliveCount) = Iterate.observe(remaining
          .join(nonself.select(col("esrc").as("node")), Seq("node"),
            "left_semi")
          .join(nonself.select(col("edst").as("node")), Seq("node"),
            "left_semi"), count(lit(1)), 0L)
        if (aliveCount == remainingCount) {
          retired += alive
          trimFixpoint = true
        } else {
          // lazy: two checkpointed leaves, materialized in the final union
          assigneds += remaining.join(alive, Seq("node"), "left_anti")
            .select(col("node"), col("node").as("component"))
          if (remaining ne nodes0) retired += remaining
          remaining = alive
          remainingCount = aliveCount
          val prevEa0 = ea
          ea = ea.join(remaining.select(col("node").as("esrc")), Seq("esrc"),
              "left_semi")
            .join(remaining.select(col("node").as("edst")), Seq("edst"),
              "left_semi")
            .select(col("esrc"), col("edst"))
            .localCheckpoint(true)
          if (prevEa0 ne e0) retired += prevEa0
        }
        t += 1
      }
      // an empty residue makes every remaining phase and peel a no-op
      if (remainingCount == 0L) {
        outer = outerRounds
      } else {
      // 1. forward min-label propagation — lazy chained rounds with the
      //    temporalEarliestArrival lineage-truncation cadence
      val colors = Iterate.chain(remaining.withColumn("color", col("node")),
          propRounds, 4) { (colors, _) =>
        val relaxed = ea.join(colors, col("esrc") === col("node"))
          .select(col("edst").as("node"), col("color"))
        colors.unionAll(relaxed)
          .groupBy(col("node")).agg(min(col("color")).as("color"))
      }.finish()
      // 2. backward flag propagation over intra-color edges only
      val intra = ea
        .join(colors.select(col("node").as("esrc"), col("color").as("csrc")),
          Seq("esrc"))
        .join(colors.select(col("node").as("edst"), col("color").as("cdst")),
          Seq("edst"))
        .filter(col("csrc") === col("cdst"))
        .select(col("esrc"), col("edst"))
        .localCheckpoint(true)
      val flags = Iterate.chain(colors.filter(col("color") === col("node"))
          .select(col("node")), propRounds, 4) { (flags, _) =>
        val reached = intra.join(flags, col("edst") === col("node"))
          .select(col("esrc").as("node"))
        flags.unionAll(reached).distinct()
      }.finish()
      retired += colors; retired += flags
      // 3. assign the flagged SCCs, peel the subgraph
      val newly = colors.join(flags, Seq("node"))
        .select(col("node"), col("color").as("component"))
        .localCheckpoint(true)
      assigneds += newly
      val (prevRemaining, prevEa) = (remaining, ea)
      val (rem, remCount) = Iterate.observe(remaining.join(
        newly.select(col("node")), Seq("node"), "left_anti"), count(lit(1)), 0L)
      remaining = rem
      remainingCount = remCount
      ea = ea.join(remaining.select(col("node").as("esrc")), Seq("esrc"),
          "left_semi")
        .join(remaining.select(col("node").as("edst")), Seq("edst"),
          "left_semi")
        .select(col("esrc"), col("edst"))
        .localCheckpoint(true)
      retired += intra
      if (prevRemaining ne nodes0) retired += prevRemaining
      if (prevEa ne e0) retired += prevEa
      outer += 1
      }
    }
    val out = assigneds.reduceOption(_ unionAll _)
      .getOrElse(nodes0.select(col("node"),
        lit(null).cast("long").as("component")).filter(lit(false)))
      .unionAll(remaining.withColumn("component",
        lit(null).cast("long")))
      .localCheckpoint(true)
    retired ++= assigneds
    if (remaining ne nodes0) retired += remaining
    if (ea ne e0) retired += ea
    Iterate.release((retired ++ Seq(e0, nodes0)).toSeq: _*)
    out
  }

  /** CONDENSATION of a directed graph: the quotient DAG over
    * [[stronglyConnectedComponents]] — one node per SCC, one edge
    * (c1, c2) per pair of distinct components joined by at least one
    * original edge, with the edge multiplicity (how many original
    * edges cross). THE standard follow-up to SCC: cycles collapse
    * away, so dataflow/dependency analyses that need a topological
    * order run on the condensation. Nodes the SCC pass left
    * unresolved (NULL component, under-budgeted peels) are excluded —
    * an edge at an unresolved endpoint has no component to land on.
    *
    * Shape: the labeling (node-sized) joins the edge list twice on its
    * endpoints, one hash agg — all equi-joins; the condensation is at
    * most edge-sized and usually far smaller. Output:
    * `(src_comp, dst_comp, n_edges)`. */
  def sccCondensation(edges: DataFrame, srcCol: String, dstCol: String,
      outerRounds: Int = 3, propRounds: Int = 8,
      trimRounds: Int = 4): DataFrame = {
    val labels = stronglyConnectedComponents(edges, srcCol, dstCol,
      outerRounds, propRounds, trimRounds)
      .filter(col("component").isNotNull)
    val e = edges
      .select(col(srcCol).cast("long").as("esrc"),
        col(dstCol).cast("long").as("edst"))
      .filter(col("esrc").isNotNull && col("edst").isNotNull)
      .distinct()
    val out = e
      .join(labels.select(col("node").as("esrc"),
        col("component").as("src_comp")), Seq("esrc"))
      .join(labels.select(col("node").as("edst"),
        col("component").as("dst_comp")), Seq("edst"))
      .filter(col("src_comp") =!= col("dst_comp"))
      .groupBy(col("src_comp"), col("dst_comp"))
      .agg(count(lit(1)).as("n_edges"))
      .localCheckpoint(true)
    Iterate.release(labels)
    out
  }

  /** Greedy DISTRIBUTED GRAPH COLORING (Jones–Plassmann via iterated
    * Luby MIS): color c goes to a maximal independent set of the
    * still-uncolored subgraph, then ONLY that set is removed (unlike
    * [[lubyMis]]'s single-shot peel, knocked neighbors stay for later
    * colors); uncolored-subgraph-isolated nodes take the current color
    * too. PROPERNESS is unconditional — every color class is an
    * independent set by construction, whatever the budgets — while the
    * budgets bound COVERAGE: nodes uncolored after `colors` outer
    * rounds emit NULL (the [[stronglyConnectedComponents]] fixed-budget
    * contract, oracle in lockstep). The operator behind conflict-free
    * parallel scheduling: same-color items can be updated/written in
    * one wave with no lock.
    *
    * Scale shape: `colors` × [[lubyMis]] (each an md5-priority
    * tournament of equi-joins + hash aggs), subgraph semi-join peels,
    * empty-residue early exit — node/edge-sized frames throughout,
    * checkpoint discipline as in the SCC loop. Output:
    * `(node, color)` — TOTAL over the edge list's nodes: a node whose
    * only incident edges are self-loops is adjacent to itself and so
    * inherently uncolorable; it is emitted with NULL color (the same
    * NULL-coverage contract as budget-uncolored residue), never
    * silently dropped. */
  def jpColoring(edges: DataFrame, srcCol: String, dstCol: String,
      colors: Int = 6, misRounds: Int = 8): DataFrame = {
    require(colors >= 1, "need at least one color")
    require(misRounds >= 1, "need at least one MIS round")
    val rawNodes = edges
      .select(explode(array(col(srcCol).cast("long"),
        col(dstCol).cast("long"))).as("node"))
      .filter(col("node").isNotNull)
      .distinct().localCheckpoint(true)
    val und = edges
      .select(least(col(srcCol), col(dstCol)).cast("long").as("a"),
        greatest(col(srcCol), col(dstCol)).cast("long").as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull &&
        col("a") =!= col("b"))
      .distinct()
      .localCheckpoint(true)
    val nodes0 = und.select(col("a").as("node"))
      .unionAll(und.select(col("b").as("node")))
      .distinct().localCheckpoint(true)
    // Round-15 job-count reduction (the minimumSpanningForest treatment;
    // per-color driver materializations dominate at bench scale —
    // profiled 311 single-stage jobs for 4.2 s of task time): (a) the
    // per-color class frames accumulate in a buffer unioned ONCE at the
    // end instead of re-checkpointing the growing `assigned` union every
    // color; (b) the uncolored-residue early exit rides an Observation
    // on the `remaining` checkpoint action itself instead of a separate
    // isEmpty action; (c) the subgraph node set stays LAZY — its only
    // consumer is the isolated-node anti-join, which materializes inside
    // the color class's own checkpoint. Identical output multiset: MIS
    // tournament, peel order and color tags are untouched.
    val coloreds = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val retired = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val run = Iterate.until(nodes0, colors, count(lit(1)), 0L,
        leaf = identity) { (remaining, c) =>
      val subE = und
        .join(remaining.select(col("node").as("a")), Seq("a"), "left_semi")
        .join(remaining.select(col("node").as("b")), Seq("b"), "left_semi")
        .select(col("a"), col("b"))
        .localCheckpoint(true)
      val graphNodes = subE.select(col("a").as("node"))
        .unionAll(subE.select(col("b").as("node")))
        .distinct()
      val isolated = remaining.join(graphNodes, Seq("node"), "left_anti")
      val mis = lubyMis(subE, "a", "b", misRounds)
      val colored = mis.select(col("node")).unionAll(isolated)
        .withColumn("color", lit(c - 1L))
        .localCheckpoint(true)
      coloreds += colored
      retired += subE; retired += mis
      remaining.join(colored.select(col("node")), Seq("node"), "left_anti")
    }(_ == 0L)
    // self-loop-only nodes: in the edge list but not in the self-loop-
    // free undirected graph — inherently uncolorable, emitted NULL
    val selfLoopOnly = rawNodes.join(nodes0, Seq("node"), "left_anti")
    val out = run.finish(remaining => coloreds.reduceOption(_ unionAll _)
      .getOrElse(nodes0.select(col("node"),
        lit(null).cast("long").as("color")).filter(lit(false)))
      .unionAll(remaining.withColumn("color", lit(null).cast("long")))
      .unionAll(selfLoopOnly.withColumn("color", lit(null).cast("long"))))
    Iterate.release((retired ++ coloreds ++ Seq(und, nodes0, rawNodes)).toSeq: _*)
    out
  }

  /** LONGEST-PATH LEVELIZATION of a DAG — the topological layering
    * that schedules a dependency graph (level = the earliest parallel
    * wave a node can run in when every edge is a happens-before):
    *
    *   level(v) ← max(level(v), max_{u→v} level(u) + 1),  from 0
    *
    * `rounds` fixed lockstep iterations of one equi-join + one
    * dst-keyed map-combining MAX — [[ssspBellmanFord]] with MAX/+1
    * relaxation, the same budget contract (exact once `rounds` covers
    * the longest path; the oracle unrolls identical rounds). On input
    * with a cycle the levels simply saturate at the budget — feed it
    * [[sccCondensation]] output, which is cycle-free by construction.
    * Output: `(node, level)` for every node in the edge list. */
  def dagLevels(edges: DataFrame, srcCol: String, dstCol: String,
      rounds: Int, checkpointEvery: Int = 4): DataFrame = {
    require(rounds >= 1, "need at least one relaxation round")
    require(checkpointEvery >= 1, "checkpointEvery must be positive")
    val e = edges
      .select(col(srcCol).cast("long").as("esrc"),
        col(dstCol).cast("long").as("edst"))
      .filter(col("esrc").isNotNull && col("edst").isNotNull)
      .distinct()
      .localCheckpoint(true)
    val levels0 = e.select(col("esrc").as("node"))
      .unionAll(e.select(col("edst").as("node")))
      .distinct()
      .withColumn("level", lit(0L))
    val out = Iterate.chain(levels0, rounds, checkpointEvery) { (levels, _) =>
      val relaxed = e.join(levels, col("esrc") === col("node"))
        .select(col("edst").as("node"), (col("level") + 1L).as("level"))
      levels.unionAll(relaxed)
        .groupBy(col("node")).agg(max(col("level")).as("level"))
    }.finish()
    Iterate.release(e)
    out
  }

  /** BORŮVKA MINIMUM SPANNING FOREST over a weighted undirected edge
    * list — the distributed MST algorithm (Borůvka 1926; the shape
    * every parallel-graph library ships because each round is pure
    * equi-joins + hash aggs, no priority queue): each round, every
    * component selects its minimum outgoing edge under the TOTAL order
    * `(weight, a, b)` (lexicographic — refines the weight order, so
    * the result is THE unique spanning forest Kruskal would emit under
    * the same order, deterministic even with duplicate weights), the
    * selected edges join the forest, and touched components merge.
    *
    * Correctness under the round budget: every emitted edge is a true
    * MSF edge by the cut property (it is the minimum edge leaving its
    * component), unconditionally — the budget bounds COMPLETENESS
    * only. Components at least halve each round (every live component
    * selects an edge), so `rounds` ≥ log2(initial components) yields
    * the complete forest; an under-budget run emits a correct partial
    * forest (the [[stronglyConnectedComponents]] fixed-budget
    * contract). The loop exits early when no cross-component edge
    * remains.
    *
    * Shape per round: two label equi-joins + one min-struct hash agg
    * (map-side combining) to pick bids, then contraction as
    * connected components over the COMPONENT-level selected edges —
    * a frame with one row per merging component, never the data —
    * via the pointer-jumping [[Dedup.duplicateClusters]] loop. Edge
    * dedup keeps the MIN weight per (a, b) pair. Weights keep their
    * numeric family — integral types widen to long, fractional to
    * double, decimals stay decimal (the (w, a, b) struct order works
    * for any of them); a non-numeric weight column is rejected loudly
    * rather than silently truncated. Output:
    * `(src, dst, weight, added_round)`, src < dst. */
  def minimumSpanningForest(edges: DataFrame, srcCol: String,
      dstCol: String, weightCol: String, rounds: Int = 8,
      ccIter: Int = 20): DataFrame = {
    require(rounds >= 1, "need at least one Borůvka round")
    val wType = {
      import org.apache.spark.sql.types._
      edges.schema(weightCol).dataType match {
        case ByteType | ShortType | IntegerType | LongType => LongType
        case FloatType | DoubleType => DoubleType
        case d: DecimalType => d
        case other => throw new IllegalArgumentException(
          s"weight column '$weightCol' must be numeric, got $other")
      }
    }
    val e = edges
      .select(least(col(srcCol), col(dstCol)).cast("long").as("a"),
        greatest(col(srcCol), col(dstCol)).cast("long").as("b"),
        col(weightCol).cast(wType).as("w"))
      .filter(col("a").isNotNull && col("b").isNotNull &&
        col("w").isNotNull && col("a") =!= col("b"))
      .groupBy(col("a"), col("b")).agg(min(col("w")).as("w"))
      .localCheckpoint(true)
    var comp = e.select(col("a").as("node"))
      .unionAll(e.select(col("b").as("node")))
      .distinct().withColumn("component", col("node"))
      .localCheckpoint(true)
    // Round-15 job-count reduction (guide §1.2 step 1 — the per-round
    // driver materializations, not the data, dominate this loop at
    // bench scale; profiled 111 single-stage jobs for 2.4 s of task
    // time): (a) the bid frame explodes each cross edge into its two
    // component bids IN ONE PASS instead of checkpointing the joined
    // edge frame and unioning two selects over it — same (c, w, a, b)
    // multiset, one fewer materialization per round; (b) emptiness of
    // the selected-edge frame rides an Observation on the checkpoint
    // action itself (the duplicateClusters convergence idiom) instead
    // of a separate isEmpty action; (c) the forest accumulates as a
    // buffer of per-round checkpointed frames unioned ONCE at the end
    // instead of re-checkpointing the growing union every round.
    // Identical output multiset by construction: selection, contraction
    // and round tags are untouched.
    val sels = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val retired = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var r = 0
    var done = false
    while (r < rounds && !done) {
      val bids = e
        .join(comp.select(col("node").as("a"),
          col("component").as("ca")), Seq("a"))
        .join(comp.select(col("node").as("b"),
          col("component").as("cb")), Seq("b"))
        .filter(col("ca") =!= col("cb"))
        .select(explode(array(col("ca"), col("cb"))).as("c"),
          col("w"), col("a"), col("b"))
      val (sel, nSel) = Iterate.observe(bids.groupBy(col("c"))
        .agg(min(struct(col("w"), col("a"), col("b"))).as("m"))
        .select(col("m.a").as("a"), col("m.b").as("b"),
          col("m.w").as("w"))
        .distinct()
        .withColumn("added_round", lit(r.toLong)), count(lit(1)), 0L)
      if (nSel == 0L) { done = true; retired += sel }
      else {
        sels += sel
        // contraction on the COMPONENT graph: one row per merge edge
        val compEdges = sel
          .join(comp.select(col("node").as("a"),
            col("component").as("ca")), Seq("a"))
          .join(comp.select(col("node").as("b"),
            col("component").as("cb")), Seq("b"))
          .select(col("ca").as("id1"), col("cb").as("id2"))
        val merged = Dedup.duplicateClusters(compEdges, "id1", "id2",
            ccIter)
          .select(col("doc_id").as("component"),
            col("cluster_id").as("_graft_new"))
        val prevComp = comp
        comp = comp.join(merged, Seq("component"), "left_outer")
          .select(col("node"),
            coalesce(col("_graft_new"), col("component"))
              .as("component"))
          .localCheckpoint(true)
        retired += prevComp; retired += merged
      }
      r += 1
    }
    val out = sels.reduceOption(_ unionAll _)
      // schema-correct empty frame (weight type rides the input's)
      .getOrElse(e.select(col("a"), col("b"), col("w"),
        lit(0L).as("added_round")).limit(0))
      .select(col("a").as("src"), col("b").as("dst"),
        col("w").as("weight"), col("added_round"))
      .localCheckpoint(true)
    retired ++= sels
    Iterate.release((retired ++ Seq(comp, e)).toSeq: _*)
    out
  }
}
