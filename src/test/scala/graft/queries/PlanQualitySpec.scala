package graft.queries

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan hygiene: the shapes that decide whether a query survives
  * a 100× scale-up. Checked on the executed plan at sf0.001 with AQE off
  * (stable shapes). */
class PlanQualitySpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val dir = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    spark = SparkSession.builder().master("local[4]")
      .appName("plan-quality-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def plan(name: String): String =
    Queries.byName(name).run(spark, dir).queryExecution.executedPlan.toString

  test("q02 pushes the filter into the parquet scan and prunes columns") {
    val p = plan("q02_filter_project")
    assert(p.contains("PushedFilters: [IsNotNull(o_totalprice)"), p.take(2000))
    // scan must not read all 9 order columns for a 4-column projection
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("o_comment") && !readSchema.contains("o_orderdate"), readSchema)
  }

  test("q06 small-dimension join is a broadcast hash join") {
    val p = plan("q06_broadcast_join")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct"))
  }

  test("q03 three-way join uses hash joins, never a cartesian product") {
    val p = plan("q03_join_agg")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q01 aggregation is two-phase (map-side partial combine)") {
    val p = plan("q01_groupby_agg")
    assert(p.contains("partial_"), p.take(2000)) // partial_count/partial_sum before the exchange
  }

  test("d03 LSH candidate join is an equi join on (band, key)") {
    // the public minhashCandidates checkpoints its result (truncating
    // lineage to Scan ExistingRDD), so inspect the pre-checkpoint plan
    val docs = Queries.t(spark, dir, "documents")
    val (cands, bands) = graft.operators.Dedup
      .minhashCandidatesLazy(docs, "doc_id", "text", 16, 4, Int.MaxValue)
    try {
      val p = cands.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin") || p.contains("HashJoin"), p.take(2000))
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
    } finally bands.unpersist()
  }

  test("d09 semantic dedup pairs via a cell equi join, never a cartesian") {
    val p = plan("d09_semantic_dedup")
    assert(p.contains("SortMergeJoin") || p.contains("HashJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q73 triangle wedge join is equi-join-shaped, never a cartesian") {
    // the public triangleCounts checkpoints its result (truncating
    // lineage to Scan ExistingRDD), so inspect the pre-checkpoint plan
    val orders = Queries.t(spark, dir, "orders")
    val edges = orders.select(
      (org.apache.spark.sql.functions.col("o_orderkey") % 97).as("src"),
      (org.apache.spark.sql.functions.col("o_custkey") % 97).as("dst"))
    val (lazyOut, oriented) = graft.operators.Graph
      .triangleCountsLazy(edges, "src", "dst")
    try {
      val p = lazyOut.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin") || p.contains("HashJoin"), p.take(2000))
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    } finally { oriented.unpersist(); () }
  }

  test("t18 BM25 is an inverted-index equi join with partial aggs, never query x doc") {
    val p = plan("t18_bm25")
    assert(p.contains("SortMergeJoin") || p.contains("HashJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("partial_"), p.take(2000)) // term/df counts combine map-side
  }

  test("q78 k-core peel rounds are equi joins, never a cartesian") {
    // the public kCore checkpoints its result (lineage truncates to Scan
    // ExistingRDD), so inspect the pre-checkpoint plan — few enough
    // rounds that no mid-loop checkpoint truncates either
    val li = Queries.t(spark, dir, "lineitem")
      .filter(org.apache.spark.sql.functions.col("l_orderkey") % 20 === 0)
      .select(org.apache.spark.sql.functions.col("l_orderkey").as("ok"),
        org.apache.spark.sql.functions.col("l_partkey").as("pk"))
      .distinct()
    val edges = li.as("x").join(li.as("y"),
        org.apache.spark.sql.functions.col("x.ok") ===
          org.apache.spark.sql.functions.col("y.ok") &&
          org.apache.spark.sql.functions.col("x.pk") <
            org.apache.spark.sql.functions.col("y.pk"))
      .select(org.apache.spark.sql.functions.col("x.pk").as("src"),
        org.apache.spark.sql.functions.col("y.pk").as("dst"))
    val (lazyOut, lastCkpt) = graft.operators.Graph
      .kCoreLazy(edges, "src", "dst", 3, 3, 100)
    try {
      val p = lazyOut.queryExecution.executedPlan.toString
      assert((p.contains("SortMergeJoin") || p.contains("HashJoin")) &&
        p.contains("LeftSemi"), p.take(2000))
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    } finally lastCkpt.foreach(_.unpersist())
  }

  test("s06 IVF-SQ8 rerank joins are equi-shaped, never a cartesian") {
    val p = plan("s06_knn_ivf_sq8")
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("t23 duplicate-span gram join is an equi join, never a cartesian") {
    val p = plan("t23_dup_spans")
    assert(p.contains("SortMergeJoin") || p.contains("HashJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("t25 screened span recovery joins grams on (gram, partner id) — no corpus-wide gram self-join") {
    val p = plan("t25_dup_spans_screened")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    // the b-side gram join must carry the candidate partner id as an
    // equi-key alongside the gram — the line proving the gram join is
    // restricted to candidate pairs rather than the whole corpus
    val joinLines = p.linesIterator
      .filter(l => l.contains("Join") && l.contains("_b_gram")).toSeq
    assert(joinLines.exists(l => l.contains("_b_id")),
      s"gram join lost the pair restriction:\n${joinLines.mkString("\n")}\n${p.take(2000)}")
  }

  test("t09/t35/t38 contamination family joins postings on the shingle — never test×train cross") {
    Seq("t09_decontam", "t35_decontam_filter", "t38_decontam_ngram").foreach { q =>
      val p = plan(q)
      assert(p.contains("SortMergeJoin") || p.contains("HashJoin"),
        s"$q lost its equi join:\n${p.take(2000)}")
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q planned a cross product:\n${p.take(2000)}")
    }
    // the capped variant must anti-join the hot-shingle set out BEFORE
    // the postings join (the 100 TB hot-key guard)
    assert(plan("t38_decontam_ngram").contains("LeftAnti"),
      plan("t38_decontam_ngram").take(2000))
  }

  test("t41 textrank co-occurrence pair stage is map-only — no join of any kind") {
    // A doc_id-keyed self-join here forms the per-document T² token
    // cross product before the position filter (one 100k-token doc =
    // 10^10 candidate rows on one key). The pair stage must be pure
    // array HOFs: zero joins, zero shuffle exchanges.
    val p = graft.operators.TextAnalysis
      .cooccurrencePairs(spark.read.parquet(s"$dir/documents.parquet"),
        "doc_id", "text", window = 2)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Join"), s"t41 pair stage planned a join:\n${p.take(2000)}")
    assert(!p.contains("Exchange"), s"t41 pair stage shuffles:\n${p.take(2000)}")
  }

  test("q99 k-truss support round is equi joins + a partial count, never a cartesian") {
    val sp = spark; import sp.implicits._
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L)).toDF("a", "b")
    val p = graft.operators.Graph.trussSupport(e)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"truss support planned a cartesian:\n${p.take(2000)}")
    assert(p.contains("Join"), "truss support lost its wedge equi-join")
    assert(p.contains("partial_count") || p.contains("partial"),
      s"support count lost map-side partial aggregation:\n${p.take(2000)}")
  }

  test("q101 salted join runs on (key, salt) as a shuffled hash join, never broadcast") {
    val p = plan("q101_salted_join")
    // the salt must be IN the join key (both sides), and the dim side must
    // not be broadcast — broadcast would collapse the salt fan-out back
    // into one task per hot key downstream
    assert(p.contains("ShuffledHashJoin"), p.take(3000))
    assert(p.contains("_salt"), s"salt column missing from the plan:\n${p.take(3000)}")
    assert(!p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct"))
  }

  test("q105 node2vec step is equi joins only — bias probe included, no cartesian") {
    val sp = spark; import sp.implicits._
    // per step: frontier ⋈ adjacency on the current node plus the
    // (prev, nbr) edge-existence LEFT probe — both equi; a cartesian
    // or nested-loop here would be the all-pairs failure mode (the
    // loop's checkpoints hide the step, so pin the step directly)
    val adj = Seq((1L, 2L, 0L), (2L, 1L, 0L), (2L, 3L, 1L), (3L, 2L, 0L))
      .toDF("node", "nbr", "rnk")
    val eset = adj.selectExpr("node as pa", "nbr as pb")
    val state = Seq((1L, 0L, 1L, 1L)).toDF("start", "wk", "prev", "cur")
    val p = graft.operators.Graph
      .node2vecStep(state, adj, eset, 1, 7L, 1, 4, 2)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"node2vec step planned a cartesian:\n${p.take(3000)}")
    assert(p.contains("Join"), "node2vec step lost its equi joins")
  }

  test("q107 brandes steps are equi joins + partial sigma/delta aggs, never a cartesian") {
    val sp = spark; import sp.implicits._
    val e = Seq((0L, 1L), (1L, 2L)).toDF("esrc", "edst")
    val dec0 = org.apache.spark.sql.types.DecimalType(38, 0)
    val dec12 = org.apache.spark.sql.types.DecimalType(38, 12)
    import org.apache.spark.sql.functions.{col, lit}
    val lvl0 = Seq(0L).toDF("source")
      .select(col("source"), col("source").as("node"),
        lit(0).as("depth"), lit(1L).cast(dec0).as("sigma"))
    // forward: frontier ⋈ edges equi-join + (source, node) partial agg
    // + the visited anti-join — a cartesian here is the all-pairs
    // failure mode (loop checkpoints hide the step, so pin it directly)
    val fwd = graft.operators.Graph
      .brandesFrontierStep(lvl0, e, lvl0, 1)
      .queryExecution.executedPlan.toString
    assert(!fwd.contains("CartesianProduct") && !fwd.contains("BroadcastNestedLoop"),
      s"brandes forward step planned a cartesian:\n${fwd.take(3000)}")
    assert(fwd.contains("Join") && fwd.contains("partial"),
      s"brandes forward step lost its equi join or map-side sigma partials:\n${fwd.take(3000)}")
    // backward: depth-d rows reach depth-(d-1) predecessors through TWO
    // equi joins; the delta update is one left equi-join. The frame must
    // carry rows at BOTH depths or empty-relation propagation folds the
    // whole step to a LocalTableScan and there is no plan to pin.
    val delta = lvl0
      .unionAll(Seq(0L).toDF("source")
        .select(col("source"), lit(1L).as("node"),
          lit(1).as("depth"), lit(1L).cast(dec0).as("sigma")))
      .withColumn("delta", lit(0).cast(dec12))
    val back = graft.operators.Graph
      .brandesDependencyStep(delta, e, 1)
      .queryExecution.executedPlan.toString
    assert(!back.contains("CartesianProduct") && !back.contains("BroadcastNestedLoop"),
      s"brandes backward step planned a cartesian:\n${back.take(3000)}")
    assert(back.contains("Join") && back.contains("partial"),
      s"brandes backward step lost its equi joins or delta partials:\n${back.take(3000)}")
  }

  test("q108 hyperball merge round is one equi join + a partial MAX agg") {
    val sp = spark; import sp.implicits._
    import org.apache.spark.sql.functions.col
    val e = Seq((0L, 1L), (1L, 2L)).toDF("esrc", "edst")
    val sk = Seq((0L, 3, 2), (1L, 7, 1), (2L, 3, 4))
      .toDF("node", "bucket", "rho")
      .select(col("node"), col("bucket"), col("rho"))
    val p = graft.operators.Graph.hyperBallMergeStep(sk, e)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"hyperball merge planned a cartesian:\n${p.take(3000)}")
    assert(p.contains("Join"), "hyperball merge lost its equi join")
    assert(p.contains("partial"),
      s"hyperball MAX merge lost its map-side partial agg:\n${p.take(3000)}")
  }

  test("q102 louvain round is equi joins + partial aggs, never a cartesian") {
    val sp = spark; import sp.implicits._
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("a", "b")
    val und = e.unionAll(e.selectExpr("b as a", "a as b"))
    val deg = und.groupBy("a").count().selectExpr("a as node", "count as dg")
    val lab = deg.selectExpr("node", "node as lbl")
    val p = graft.operators.Graph.louvainBest(und, deg, lab, 3L)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"louvain round planned a cartesian:\n${p.take(3000)}")
    assert(p.contains("Join"), "louvain round lost its equi joins")
    assert(p.contains("partial"),
      s"louvain aggregations lost map-side partials:\n${p.take(3000)}")
  }

  test("t44 packing is prefix sums + a map-side explode — no sort-merge join anywhere") {
    val p = plan("t44_pack_sequences")
    // the only join is withPrefixSumBy's tiny broadcast offset frame;
    // the doc->window fan-out must be a Generate (explode), not a join
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"packing grew a heavy join:\n${p.take(3000)}")
    assert(p.contains("Generate"),
      s"doc->window fan-out lost its explode:\n${p.take(3000)}")
    assert(p.contains("BroadcastHashJoin"),
      s"bucket offsets lost their broadcast:\n${p.take(3000)}")
  }

  test("t43 mixture stages the per-source bucket offsets behind a broadcast join") {
    val p = plan("t43_mixture_budget")
    // the grouped prefix scan joins tiny (source, bucket) offsets by
    // broadcast; the per-row window is (source, bucket)-partitioned —
    // never one window partition per source
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("s18 NSW graph build is a cell-blocked equi join, never a cartesian") {
    // the per-node kNN must be blocked by cell id — an unkeyed
    // self-join is corpus² pairs. (The SEARCH loop's per-round plans
    // are not inspectable here: each round is eagerly checkpointed, so
    // the returned frame's plan is just the checkpoint scan; the
    // rounds reuse this same frontier ⋈ graph equi-join shape by
    // construction — Similarity.nswKnnOn.)
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val graph = graft.operators.Similarity.nswGraph(e, m = 4)
    val gp = graph.queryExecution.executedPlan.toString
    assert(!gp.contains("CartesianProduct") && !gp.contains("BroadcastNestedLoop"),
      s"nsw graph build planned a cartesian:\n${gp.take(2000)}")
    assert(gp.contains("Join"), "nsw graph build lost its cell equi-join")
  }

  test("d12 fuzzy-join variant screen is an equi join, never all-pairs levenshtein") {
    val p = plan("d12_fuzzy_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(2000))
    // the self-join key is the deletion variant string — levenshtein
    // must appear only downstream of it, on screened candidates
    assert(p.contains("_graft_v"), p.take(2000))
    assert(p.contains("levenshtein"), p.take(2000))
  }

  test("q83 lateral top-k decorrelates into a ranked join, not a per-row nested loop") {
    val p = plan("q83_lateral_topk")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(2000))
    // Catalyst rewrites the correlated LIMIT subquery into a window
    // rank + equi join — the shape that scales
    assert(p.contains("Window") || p.contains("row_number"), p.take(2000))
  }

  test("t37 classifier scoring is a broadcast weight join + partial aggs") {
    val p = plan("t37_quality_classifier")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(p.contains("partial_"), p.take(2000))
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("s12/s13 label aggregations combine partially map-side, never a per-neighborhood window") {
    val p12 = plan("s12_knn_classify")
    assert(p12.contains("partial_"), s"s12 lost map-side combine:\n${p12.take(2000)}")
    assert(!p12.contains("CartesianProduct") && !p12.contains("RunningWindowFunction"))
    // the audit checkpoints its output — inspect the pre-checkpoint
    // composition over a materialized neighbor frame
    val e = Queries.t(spark, dir, "embeddings")
    val neighbors = graft.operators.Similarity
      .knnKernel(e.filter(org.apache.spark.sql.functions.col("vec_id") < 10), e, 3)
      .localCheckpoint(true)
    try {
      val audit = graft.operators.Labels.agreementFromNeighbors(neighbors, e)
        .join(graft.operators.Labels.classifyFromNeighbors(neighbors, e), Seq("vec_id"))
      val p13 = audit.queryExecution.executedPlan.toString
      assert(p13.contains("partial_"), s"s13 lost map-side combine:\n${p13.take(2000)}")
      assert(!p13.contains("CartesianProduct") && !p13.contains("RunningWindowFunction"))
    } finally graft.operators.Iterate.release(neighbors)
  }

  test("q91 hilbert-layout pruned read pushes the residual box filter into the scan") {
    val p = plan("q91_hilbert_layout")
    assert(p.contains("PushedFilters: [") && p.contains("GreaterThanOrEqual(hx"),
      p.linesIterator.filter(_.contains("PushedFilters")).mkString("\n"))
    assert(!p.contains("CartesianProduct"))
  }

  test("q26 as-of join is window-based — no nested-loop range join") {
    val p = plan("q26_asof_join")
    assert(p.contains("RunningWindowFunction") || p.contains("Window"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
  }

  test("q27 range join is an equi join on (key, bucket), not a nested loop") {
    val p = plan("q27_range_join")
    assert(p.contains("SortMergeJoin") || p.contains("HashJoin"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
  }

  test("q44 top-k aggregator combines partially map-side (no window sort)") {
    val p = plan("q44_topk_per_key")
    // the UDAF itself must plan as a partial+final ObjectHashAggregate
    // pair — a generic partial_count elsewhere must not satisfy this
    val aggLines = p.linesIterator.filter(l =>
      l.contains("ObjectHashAggregate") && l.contains("Aggregators")).toSeq
    assert(aggLines.exists(_.contains("partial_")),
      s"no partial top-k aggregate:\n${aggLines.mkString("\n")}")
    assert(aggLines.exists(l => !l.contains("partial_")),
      s"no final top-k aggregate:\n${aggLines.mkString("\n")}")
    // the point of the aggregator: per-key O(k) state, not a per-partition
    // window sort over every row
    assert(!p.contains("RunningWindowFunction"), p.take(2000))
    assert(!p.contains("Window "), p.take(2000))
  }

  test("q37 full-outer join is a sort-merge join, never a nested loop") {
    val p = plan("q37_full_outer_join")
    assert(p.contains("SortMergeJoin FullOuter") || p.contains("SortMergeJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q42 range-frame window is one shuffle + one window pass") {
    val p = plan("q42_window_range_frame")
    assert(p.contains("Window"), p.take(2000))
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges <= 1, s"expected at most 1 shuffle, got $exchanges:\n${p.take(2000)}")
  }

  test("bucketed tables join co-located — zero shuffle exchanges") {
    // The 100 TB recipe for a repeated big-big equi join: bucket both
    // sides on the join key at write time, and the join plans with NO
    // Exchange at all (only per-bucket sorts).
    import org.apache.spark.sql.functions._
    val o = Queries.t(spark, dir, "orders")
    val c = Queries.t(spark, dir, "customer")
    spark.sql("DROP TABLE IF EXISTS graft_b_orders")
    spark.sql("DROP TABLE IF EXISTS graft_b_customer")
    val wh = java.nio.file.Files.createTempDirectory("graft-bucket").toString
    o.write.bucketBy(4, "o_custkey").sortBy("o_custkey")
      .option("path", s"$wh/orders").saveAsTable("graft_b_orders")
    c.write.bucketBy(4, "c_custkey").sortBy("c_custkey")
      .option("path", s"$wh/customer").saveAsTable("graft_b_customer")
    // at sf0.001 the dimension fits the broadcast threshold and the planner
    // would skip bucketing entirely — disable auto-broadcast to plan the
    // big-big shape this layout exists for
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val q = spark.table("graft_b_orders")
        .join(spark.table("graft_b_customer"),
          col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("c_custkey"), col("c_mktsegment"))
      val p = q.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), p.take(2000))
      assert(!p.contains("Exchange"),
        "bucketed join must not shuffle:\n" + p.take(3000))
      // correctness: same row set as the unbucketed join
      val expected = o.join(c, col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("c_custkey"), col("c_mktsegment"))
        .collect().toSet
      assert(q.collect().toSet == expected)
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS graft_b_orders")
      spark.sql("DROP TABLE IF EXISTS graft_b_customer")
    }
  }

  test("d07 simhash pair join is an equi join on (band, key)") {
    val p = plan("d07_simhash_pairs")
    assert(p.contains("SortMergeJoin") || p.contains("HashJoin"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
  }

  test("t09 decontamination joins on shingles, never test×train") {
    val p = plan("t09_decontam")
    assert(p.contains("SortMergeJoin") || p.contains("HashJoin"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
  }

  test("t10 tf-idf aggregations combine partially map-side") {
    // the public tfidfTopTerms checkpoints its result, so inspect the
    // pre-checkpoint plan (term counts themselves are checkpointed —
    // the downstream len/df aggs and joins must still combine map-side)
    val docs = Queries.t(spark, dir, "documents")
    val (lazyOut, termCounts) = graft.operators.TextAnalysis
      .tfidfTopTermsLazy(docs, "doc_id", "text", 3)
    try {
      val p = lazyOut.queryExecution.executedPlan.toString
      assert(p.contains("partial_"), p.take(2000))
      assert(!p.contains("CartesianProduct"))
    } finally { termCounts.unpersist(); () }
  }

  test("q58 funnel is equi joins on the user key, no cartesian, partial aggs") {
    val p = plan("q58_funnel")
    assert(p.contains("partial_"), p.take(2000))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q59 cohort and s04 centroids aggregate with map-side combine") {
    assert(plan("q59_cohort").contains("partial_"))
    assert(plan("s04_centroids").contains("partial_"))
  }

  test("whole-stage codegen covers the scan→filter→project pipeline") {
    val p = plan("q02_filter_project")
    // codegen'd stages print with a `*(n)` prefix; filter+project must be inside one
    assert(p.linesIterator.exists(l => l.contains("*(") && l.contains("Filter")), p.take(2000))
    assert(p.linesIterator.exists(l => l.contains("*(") && l.contains("Project")), p.take(2000))
  }

  test("q62 quantile binning has no global sort and no window") {
    // the whole point vs ntile: boundaries via one agg, assignment via
    // broadcast comparison — never a single-partition row_number sort
    val df = graft.operators.Analytics.quantileBins(
      Queries.t(spark, dir, "orders"), "o_totalprice", 8)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Window"), p.take(2000))
    assert(!p.contains("Sort"), p.take(2000))
    assert(p.contains("BroadcastExchange"), p.take(2000)) // the cuts array
  }

  test("q60 upsert merge is exactly one shuffle on the merge key") {
    val p = plan("q60_merge_upsert")
    // exactly one HASH shuffle (the key-partitioned merge window); the
    // final presentation ORDER BY may add a rangepartitioning exchange,
    // which is not part of the merge
    val hashExchanges = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") && !l.contains("Reused"))
    assert(hashExchanges === 1, s"expected one hash-partition exchange, plan:\n${p.take(3000)}")
  }

  test("d08 bloom probe stage is map-only (no shuffle between scan and flag)") {
    val docs = Queries.t(spark, dir, "documents")
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.md5(
          org.apache.spark.sql.functions.col("text")).as("fp"))
    val ref = docs.limit(50).select("fp")
    val flagged = graft.operators.Dedup.bloomFlag(docs, "fp", "hit", ref, "fp")
    val p = flagged.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), p.take(2000))
  }

  test("q65 column profiler reads the table exactly once") {
    val df = graft.operators.Analytics.profileColumns(
      Queries.t(spark, dir, "orders"),
      Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"))
    val p = df.queryExecution.executedPlan.toString
    assert(p.linesIterator.count(_.contains("FileScan")) === 1, p.take(3000))
  }

  test("q58 funnel reuses the shared step subtree's exchanges across union branches") {
    // funnel's doc claims the step-(i-1) subtree (same user-key
    // partitioning) is computed once and reused by later steps' branches —
    // enforce it: the executed plan must contain ReusedExchange nodes, and
    // the non-reused hash exchanges must stay bounded by the step count
    // (one scan-side + one agg-side exchange per distinct step subtree),
    // not grow with the number of union branches that reference them.
    val p = plan("q58_funnel")
    assert(p.contains("ReusedExchange"),
      s"expected ReusedExchange for the shared step subtrees:\n${p.take(3000)}")
    val steps = 3 // q58 runs a 3-step funnel
    val hashExchanges = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") && !l.contains("Reused"))
    assert(hashExchanges <= 2 * steps,
      s"expected <= ${2 * steps} distinct hash exchanges, got $hashExchanges:\n${p.take(3000)}")
  }

  test("t12 packing stages the bucket offsets behind a broadcast join") {
    val df = graft.operators.TextAnalysis.packSequences(
      Queries.t(spark, dir, "documents"), "doc_id", "text", 512)
    val p = df.queryExecution.executedPlan.toString
    // per-bucket cumulative window joins tiny bucket offsets by broadcast;
    // the full-data window is partitioned (never a global unpartitioned sort)
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("t29 DSIR joins the small target stats by broadcast, no cartesian") {
    val p = plan("t29_dsir")
    // the trusted-target LM stats are the small side by contract
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(3000))
  }

  test("t31 temperature sampling broadcasts the per-group takes; partial group counts") {
    val p = plan("t31_temperature_sample")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(p.contains("partial_"), p.take(3000)) // group sizes combine map-side
    assert(!p.contains("CartesianProduct"))
  }

  test("t32 RRF fusion aggregates partially and joins without cartesian blowup") {
    val p = plan("t32_hybrid_rrf")
    assert(p.contains("partial_"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("q85 KMV signatures build with partial (map-side) object aggregation") {
    val p = plan("q85_kmv_distinct")
    // the Aggregator's partial-merge shape: ≤ k longs per group ship
    // per map task, not the raw keys
    assert(p.contains("partial_kmv") || p.contains("partial_"), p.take(3000))
    assert(!p.contains("CartesianProduct"))
  }

  test("q88 HITS rounds are equi joins + partial aggs, never a cartesian") {
    // the public hits() checkpoints its result; inspect a live round's plan
    val e = Queries.t(spark, dir, "lineitem")
      .filter(org.apache.spark.sql.functions.col("l_partkey") % 10 === 0)
      .selectExpr("l_suppkey AS src", "l_partkey + 1000000 AS dst").distinct()
    val p = graft.operators.Graph.hits(e, "src", "dst", iterations = 1)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(3000))
  }

  test("q89 hilbert value stays inside whole-stage codegen") {
    val p = plan("q89_hilbert")
    // the native expression must not break the codegen span it sits in
    assert(p.linesIterator.exists(l => l.contains("*(") && l.contains("Project")),
      p.take(3000))
  }

  test("q93 Adamic-Adar wedge stage is an equi join with the top-N as a TakeOrdered") {
    val sp = spark; import sp.implicits._
    val li = sp.read.parquet(s"$dir/lineitem.parquet")
      .filter($"l_orderkey" % 20 === 0)
      .select($"l_orderkey".as("ok"), $"l_partkey".as("pk")).distinct()
    val edges = li.as("x").join(li.as("y"), $"x.ok" === $"y.ok" && $"x.pk" < $"y.pk")
      .select($"x.pk".as("src"), $"y.pk".as("dst"))
    val (scored, und, adj) = graft.operators.Graph
      .adamicAdarLazy(edges, "src", "dst", topN = 50, degCap = 256)
    val p = scored.queryExecution.executedPlan.toString
    und.unpersist(); adj.unpersist()
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(3000))
    assert(p.contains("TakeOrdered"),
      s"global top-N must be a distributed heap, not a full sort:\n${p.take(3000)}")
    assert(p.contains("LeftAnti"),
      s"existing edges must leave via an anti join:\n${p.take(3000)}")
  }

  test("d13 prefix-filter candidates join on the prefix shingle — equi join, no cartesian") {
    val sp = spark; import sp.implicits._
    val docs = sp.read.parquet(s"$dir/documents.parquet")
    val inv = graft.operators.Dedup.shinglePostings(docs, "doc_id", "text")
      .localCheckpoint(true)
    val sizes = inv.groupBy($"doc_id").agg(org.apache.spark.sql.functions.count(
      org.apache.spark.sql.functions.lit(1)).as("n"))
    val (cands, prefix) = graft.operators.Dedup.prefixCandidates(inv, sizes, 0.5)
    val p = cands.queryExecution.executedPlan.toString
    graft.operators.Iterate.release(prefix, inv)
    assert(p.contains("SortMergeJoin") || p.contains("HashJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(3000))
  }

  test("t40 blocklist screen is map-only: no Exchange anywhere in the scoring plan") {
    val sp = spark; import sp.implicits._
    val docs = sp.read.parquet(s"$dir/documents.parquet")
    val p = graft.operators.Cleaning.blocklistScreen(
        docs, "doc_id", "text", Seq("table part", "a a"), maxHits = 1)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"),
      s"a stateless screen must not shuffle:\n${p.take(3000)}")
  }

  test("q125 reciprocity's reverse join is an equi join, never a cartesian") {
    // the public operator checkpoints its one-row result (truncating
    // lineage to Scan ExistingRDD), so inspect the pre-checkpoint
    // reverse-join shape on the same canonicalized edge frame
    val sp = spark; import sp.implicits._
    val e = sp.read.parquet(s"$dir/lineitem.parquet")
      .select($"l_partkey".as("src"), $"l_suppkey".as("dst")).distinct()
    val p = e.join(e.select($"dst".as("src"), $"src".as("dst")),
        Seq("src", "dst"))
      .queryExecution.executedPlan.toString
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct"))
  }

  test("q126/q128 daily series windows are key-partitioned, never global") {
    // a Window with no PARTITION BY single-tasks the table; both
    // time-series ops must partition by the key
    for (n <- Seq("q126_anomaly_hampel", "q128_cusum")) {
      val p = plan(n)
      assert(!p.contains("WindowExec: No Partition"), s"$n:\n${p.take(2000)}")
      val winLine = p.linesIterator.find(_.contains("Window")).getOrElse("")
      // q128 folds via aggregate() (no window at all) — only check when
      // a window operator is actually present
      if (winLine.nonEmpty)
        assert(winLine.contains("user_id"), s"$n window not keyed: $winLine")
    }
  }

  test("q129 PSI assigns bins via a broadcast of the one-row cuts frame") {
    val p = plan("q129_psi_drift")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      p.take(3000)) // crossJoin(broadcast(one-row cuts)) — never a shuffle join
    assert(p.contains("partial_count"), p.take(3000)) // bin counts combine map-side
  }

  test("t55 KN trigram joins all carry equality conditions (no cartesian), " +
      "cross join only against the one-row T broadcast") {
    // the public operator checkpoints its executed result, so pin the
    // LOGICAL plan: every Join node must be an equi join except the
    // single broadcast cross join against the one-row type-count frame
    val sp = spark
    val docs = sp.read.parquet(s"$dir/documents.parquet")
    val (out, corpus) = graft.operators.TextAnalysis
      .knTrigramPlan(docs, "doc_id", "text", 0.75)
    val lp = out.queryExecution.analyzed.toString
    corpus.unpersist()
    // analyzed-plan join nodes render as ":-/+- Join Inner, (cond)"
    val joins = lp.linesIterator.filter(_.matches(""".*\bJoin (Inner|Cross|LeftOuter|FullOuter).*""")).toSeq
    assert(joins.nonEmpty)
    val (cross, equi) = joins.partition(_.contains("Cross"))
    assert(equi.forall(_.contains("=")), joins.mkString("\n"))
    assert(cross.size <= 1, joins.mkString("\n")) // only the tPairs broadcast
  }

  test("t56/t57 prefix-sum stages broadcast the bucket offsets; " +
      "per-row windows stay bucket-keyed") {
    // the t12 two-level-scan contract: the only global window runs over
    // the TINY per-bucket offsets frame; per-row work joins it by
    // broadcast and windows by bucket
    for (n <- Seq("t56_shard_assign", "t57_mixture_order")) {
      val p = plan(n)
      assert(p.contains("BroadcastHashJoin"), s"$n:\n${p.take(3000)}")
      assert(!p.contains("CartesianProduct"), s"$n:\n${p.take(3000)}")
    }
  }

  test("t58 packing efficiency is one partial-combining hash agg, no joins") {
    val p = plan("t58_packing_efficiency")
    assert(p.contains("partial_"), p.take(3000))
    assert(!p.contains("Join"), p.take(3000))
  }

  test("q131/q132 series folds aggregate partially and never window globally") {
    for (n <- Seq("q131_acf", "q132_holt_winters")) {
      val p = plan(n)
      // per-key series collection combines map-side (object hash agg)
      assert(p.contains("partial_"), s"$n:\n${p.take(3000)}")
      assert(!p.contains("WindowExec: No Partition") &&
        !p.contains("CartesianProduct"), s"$n:\n${p.take(3000)}")
    }
  }

  test("t59 novelty joins the reference gram set by equi semi-join") {
    val p = plan("t59_ngram_novelty")
    assert(p.contains("partial_"), p.take(3000))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(3000))
  }

  test("q134 decomposition windows are key-partitioned, joins are equi") {
    val p = plan("q134_seasonal_decompose")
    assert(!p.contains("WindowExec: No Partition"), p.take(3000))
    val winLine = p.linesIterator.find(_.contains("Window")).getOrElse("")
    if (winLine.nonEmpty)
      assert(winLine.contains("user_id"), s"window not keyed: $winLine")
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("q133 SCC rounds are equi joins on node-keyed frames, no cartesian") {
    // the public operator checkpoints every round (lineage truncates to
    // Scan ExistingRDD), so pin the round shapes on equivalent frames:
    // one forward relax round + one trim semi-join pair
    val sp = spark; import sp.implicits._
    val e = sp.read.parquet(s"$dir/lineitem.parquet")
      .select($"l_partkey".as("esrc"), ($"l_suppkey" + 100L).as("edst"))
      .distinct()
    val colors = e.select($"esrc".as("node")).distinct()
      .withColumn("color", $"node")
    val relax = e.join(colors, $"esrc" === $"node")
      .select($"edst".as("node"), $"color")
      .unionAll(colors)
      .groupBy($"node").agg(org.apache.spark.sql.functions.min($"color"))
    val p1 = relax.queryExecution.executedPlan.toString
    assert((p1.contains("HashJoin") || p1.contains("SortMergeJoin")) &&
      !p1.contains("CartesianProduct"), p1.take(3000))
    assert(p1.contains("partial_min"), p1.take(3000))
    val alive = colors.select($"node")
      .join(e.select($"esrc".as("node")), Seq("node"), "left_semi")
      .join(e.select($"edst".as("node")), Seq("node"), "left_semi")
    val p2 = alive.queryExecution.executedPlan.toString
    assert(!p2.contains("CartesianProduct"), p2.take(3000))
  }
}
