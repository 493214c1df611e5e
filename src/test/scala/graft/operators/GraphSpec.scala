package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class GraphSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    spark = SparkSession.builder().master("local[4]")
      .appName("graph-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      // ReleaseCheck counts stored blocks: the context cleaner must not
      // free a leaked checkpoint's blocks before the check reads them
      .config("spark.cleaner.referenceTracking", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ReleaseCheck.track(spark.sparkContext)
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def sym(pairs: Seq[(Long, Long)]) =
    pairs ++ pairs.map { case (a, b) => (b, a) }

  test("pageRank: symmetric complete graph stays uniform at rank 1.0") {
    val sp = spark; import sp.implicits._
    // K4: every node gives 1/3 to each neighbor -> sum of thirds = 1 forever
    val k4 = (for (a <- 0L to 3L; b <- 0L to 3L if a != b) yield (a, b))
      .toDF("src", "dst")
    val out = Graph.pageRank(k4, "src", "dst", iterations = 5).collect()
    assert(out.length === 4)
    out.foreach(r => assert(r.getAs[Double]("rank") === 1.0))
  }

  test("pageRank: hub of a star outranks leaves; total rank is conserved") {
    val sp = spark; import sp.implicits._
    // star: center 0 <-> leaves 1..9
    val star = sym((1L to 9L).map(l => (0L, l))).toDF("src", "dst")
    val out = Graph.pageRank(star, "src", "dst", iterations = 10)
      .collect().map(r => r.getAs[Long]("node") -> r.getAs[Double]("rank")).toMap
    assert(out(0L) > out(1L) * 3, s"hub should dominate: $out")
    // leaves are symmetric -> identical ranks
    assert((2L to 9L).forall(l => out(l) === out(1L)))
    // no dangling nodes -> total rank ~ node count (drift only from rounding)
    assert(math.abs(out.values.sum - 10.0) < 1e-6)
  }

  test("pageRank is deterministic under repartitioning (decimal-sum lockstep)") {
    val sp = spark; import sp.implicits._
    val rnd = new scala.util.Random(5)
    val edges = sym((1 to 300).map(_ =>
      (rnd.nextInt(40).toLong, 40L + rnd.nextInt(40).toLong)).distinct)
    val df1 = edges.toDF("src", "dst").repartition(1)
    val df7 = edges.toDF("src", "dst").repartition(7)
    val r1 = Graph.pageRank(df1, "src", "dst", iterations = 6)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
    val r7 = Graph.pageRank(df7, "src", "dst", iterations = 6)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
    assert(r1.toSeq === r7.toSeq, "partition merge order changed ranks")
  }

  test("pageRank redistributes dangling-node mass (chain matches local reference)") {
    val sp = spark; import sp.implicits._
    // directed chain 1 -> 2 -> 3: node 3 has no out-edge; its mass must
    // redistribute uniformly instead of leaking out of the system
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val nodes = Seq(1L, 2L, 3L)
    val adj = Map(1L -> Seq(2L), 2L -> Seq(3L))
    val dang = Seq(3L)
    val oneMinusD = 1.0 - 0.85
    def q12(x: Double) = java.math.BigDecimal.valueOf(x)
      .setScale(12, java.math.RoundingMode.HALF_UP)
    var ranks = nodes.map(_ -> 1.0).toMap
    for (_ <- 1 to 6) {
      val contribs = adj.toSeq.flatMap { case (u, vs) =>
        vs.map(v => v -> ranks(u) / vs.length.toDouble) }
      val dsum = dang.map(ranks).map(q12)
        .reduceOption(_ add _).fold(0.0)(_.doubleValue())
      ranks = nodes.map { v =>
        val csum = contribs.filter(_._1 == v).map(_._2).map(q12)
          .reduceOption(_ add _).fold(0.0)(_.doubleValue())
        v -> java.math.BigDecimal
          .valueOf(oneMinusD + 0.85 * (csum + dsum / nodes.length.toDouble))
          .setScale(9, java.math.RoundingMode.HALF_UP).doubleValue()
      }.toMap
    }
    val got = Graph.pageRank(edges, "src", "dst", iterations = 6)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got === ranks)
    // redistribution conserves total mass (drift only from rounding)
    assert(math.abs(got.values.sum - 3.0) < 1e-6)
  }

  test("personalizedPageRank: mass concentrates at seeds; dangling restarts at seeds") {
    val sp = spark; import sp.implicits._
    // path 1↔2↔3↔4 plus 4→5; node 5 has no out-edge (dangling). Seed = {1}.
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (3L, 4L), (4L, 3L), (4L, 5L))
    val t = Map(1L -> 1.0, 2L -> 0.0, 3L -> 0.0, 4L -> 0.0, 5L -> 0.0)
    val outAdj = edges.groupBy(_._1).map { case (u, es) => u -> es.map(_._2) }
    def dec12(x: Double) = java.math.BigDecimal.valueOf(x)
      .setScale(12, java.math.RoundingMode.HALF_UP)
    var ranks: Map[Long, Double] = t
    for (_ <- 1 to 6) {
      val contribs = outAdj.toSeq.flatMap { case (u, vs) =>
        vs.map(v => v -> ranks(u) / vs.length.toDouble) }
      val dsum = ranks.filterKeys(k => !outAdj.contains(k)).values
        .map(dec12).reduceOption(_ add _).fold(0.0)(_.doubleValue())
      ranks = t.keys.map { v =>
        val csum = contribs.filter(_._1 == v).map(_._2).map(dec12)
          .reduceOption(_ add _).fold(0.0)(_.doubleValue())
        v -> java.math.BigDecimal.valueOf(0.15 * t(v) + 0.85 * (csum + dsum * t(v)))
          .setScale(9, java.math.RoundingMode.HALF_UP).doubleValue()
      }.toMap
    }
    val got = Graph.personalizedPageRank(edges.toDF("src", "dst"), "src", "dst",
        Seq(1L), iterations = 6)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got === ranks)
    // proximity ordering down the path (4 vs 5 is excluded: node 5 lags a
    // round behind node 4 mid-transient, so their order flips by iteration
    // count — the reference-match above is the exact check)
    assert(got(1L) > got(2L) && got(2L) > got(3L) && got(3L) > got(4L))
    assert(got(1L) === got.values.max)
  }

  test("pageRank convergeTol: an already-stationary graph stops after one round, ranks identical") {
    val sp = spark; import sp.implicits._
    // K4 is stationary from the start (rank 1.0 forever): the observed
    // max |Δrank| is 0.0 in round 1, so Some(0.0) must stop immediately
    val k4 = (for (a <- 0L to 3L; b <- 0L to 3L if a != b) yield (a, b))
      .toDF("src", "dst")
    val fixed = Graph.pageRank(k4, "src", "dst", iterations = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
    val conv = Graph.pageRank(k4, "src", "dst", iterations = 10,
      convergeTol = Some(0.0))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
    assert(Iterate.ConvergenceGauge.lastRounds === 1,
      s"stationary graph should stop after round 1, ran ${Iterate.ConvergenceGauge.lastRounds}")
    assert(conv.toSeq === fixed.toSeq)
  }

  test("pageRank convergeTol: a star converges in fewer than the budgeted rounds with identical ranks") {
    val sp = spark; import sp.implicits._
    // symmetric star; low damping + coarse rounding make the rounded
    // ranks exactly stationary well before the 10-round budget, and from
    // the stationary round on every further iteration reproduces the
    // same ranks — so early-stop output == fixed-10-round output
    val star = sym((1L to 9L).map(l => (0L, l))).toDF("src", "dst")
    val fixed = Graph.pageRank(star, "src", "dst", iterations = 10,
      damping = 0.3, roundTo = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
    val conv = Graph.pageRank(star, "src", "dst", iterations = 10,
      damping = 0.3, roundTo = 3, convergeTol = Some(0.0))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
    val rounds = Iterate.ConvergenceGauge.lastRounds
    info(s"star converged in $rounds/10 rounds")
    assert(rounds < 10, s"expected early convergence, ran all $rounds rounds")
    assert(conv.toSeq === fixed.toSeq,
      "converged ranks diverged from the fixed-iteration run")
  }

  test("personalizedPageRank convergeTol stops early with ranks identical to the fixed run") {
    val sp = spark; import sp.implicits._
    val k4 = (for (a <- 0L to 3L; b <- 0L to 3L if a != b) yield (a, b))
      .toDF("src", "dst")
    val fixed = Graph.personalizedPageRank(k4, "src", "dst", Seq(0L),
      iterations = 12, damping = 0.3, roundTo = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
    val conv = Graph.personalizedPageRank(k4, "src", "dst", Seq(0L),
      iterations = 12, damping = 0.3, roundTo = 3, convergeTol = Some(0.0))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
    val rounds = Iterate.ConvergenceGauge.lastRounds
    info(s"ppr converged in $rounds/12 rounds")
    assert(rounds < 12, s"expected early convergence, ran all $rounds rounds")
    assert(conv.toSeq === fixed.toSeq)
  }

  test("triangleCounts: K4 + pendant, robust to duplicates/reverses/self-loops") {
    val sp = spark; import sp.implicits._
    // K4 on {1,2,3,4} = 4 triangles, every K4 node in exactly 3; pendant
    // node 5 hangs off 4 and joins none. Feed the edges dirty: both
    // directions, duplicates, and a self-loop must all collapse.
    val k4 = for (a <- 1L to 4L; b <- 1L to 4L if a != b) yield (a, b)
    val edges = (k4 ++ Seq((4L, 5L), (5L, 4L), (4L, 5L), (3L, 3L)))
      .toDF("src", "dst")
    val got = Graph.triangleCounts(edges, "src", "dst")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L),
      s"K4 participation wrong: $got")
    // and a brute-force cross-check on a pseudo-random graph
    val rnd = new scala.util.Random(5)
    val rand = Seq.fill(120)((rnd.nextInt(12).toLong, rnd.nextInt(12).toLong))
    val canon = rand.collect { case (a, b) if a != b =>
      (math.min(a, b), math.max(a, b)) }.distinct
    val brute = canon.combinations(3).count {
      case Seq(e1, e2, e3) =>
        val ns = Set(e1._1, e1._2, e2._1, e2._2, e3._1, e3._2)
        ns.size == 3
      case _ => false
    }
    val total = Graph.triangleCounts(rand.toDF("src", "dst"), "src", "dst")
      .agg(org.apache.spark.sql.functions.sum($"triangles")).collect().head.getLong(0)
    assert(total === 3L * brute, s"got $total participations, brute $brute triangles")
  }

  test("pageRank matches a local reference implementation") {
    val sp = spark; import sp.implicits._
    val edges = sym(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L)))
    // local power iteration with the same arithmetic contract as the
    // operator: DECIMAL(28,12)-quantized addends, round-9 per iteration,
    // and (1 - damping) computed in IEEE exactly as the operator does
    val oneMinusD = 1.0 - 0.85
    val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var ranks = adj.keys.map(_ -> 1.0).toMap
    for (_ <- 1 to 7) {
      val contribs = adj.toSeq.flatMap { case (u, vs) =>
        vs.map(v => v -> ranks(u) / vs.length.toDouble) }
      ranks = adj.keys.map { v =>
        val s = contribs.filter(_._1 == v).map(_._2)
          .map(c => java.math.BigDecimal.valueOf(c)
            .setScale(12, java.math.RoundingMode.HALF_UP))
          .reduceOption(_ add _).fold(0.0)(_.doubleValue())
        v -> java.math.BigDecimal.valueOf(oneMinusD + 0.85 * s)
          .setScale(9, java.math.RoundingMode.HALF_UP).doubleValue()
      }.toMap
    }
    val got = Graph.pageRank(edges.toDF("src", "dst"), "src", "dst", iterations = 7)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got === ranks)
  }

  test("modularity matches hand-computed Q on labeled triangles") {
    val sp = spark; import sp.implicits._
    // two disjoint triangles, m = 6
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (4L, 5L), (5L, 6L), (4L, 6L)).toDF("src", "dst")
    def q(labels: Seq[(Long, Long)]) =
      Graph.modularity(edges, "src", "dst", labels.toDF("node", "label"))
        .collect().map(r => r.getLong(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    // perfect partition: each triangle its own community ->
    // Q_c = 3/6 - (6/12)^2 = 0.25 each, total 0.5
    val perfect = q(Seq(1L -> 10L, 2L -> 10L, 3L -> 10L,
      4L -> 20L, 5L -> 20L, 6L -> 20L))
    assert(perfect === Map(
      10L -> (3L, 3L, 6L, 0.25), 20L -> (3L, 3L, 6L, 0.25)))
    // everything in one community: Q = 6/6 - (12/12)^2 = 0
    val lumped = q((1L to 6L).map(_ -> 99L))
    assert(lumped === Map(99L -> (6L, 6L, 12L, 0.0)))
    // a community with NO intra edges still appears, negative contribution:
    // split one triangle node into its own label -> e_c = 0
    val split = q(Seq(1L -> 10L, 2L -> 10L, 3L -> 30L,
      4L -> 20L, 5L -> 20L, 6L -> 20L))
    assert(split(30L) === ((1L, 0L, 2L,           // round-9 of -(2/12)^2
        BigDecimal(-(2.0 / 12) * (2.0 / 12))
          .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble)),
      s"singleton community wrong: ${split(30L)}")
  }

  test("louvainMove finds the two triangles and raises modularity over singletons") {
    val sp = spark; import sp.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (4L, 5L), (5L, 6L), (4L, 6L)).toDF("src", "dst")
    val lab = Graph.louvainMove(edges, "src", "dst", rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // hand-traced half-schedule: triangle one collapses onto label 1,
    // triangle two onto label 4, by round 3
    assert(lab === Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 4L, 5L -> 4L, 6L -> 4L), s"labels: $lab")
    def totalQ(labels: org.apache.spark.sql.DataFrame) =
      Graph.modularity(edges, "src", "dst", labels)
        .agg(org.apache.spark.sql.functions.sum("q_contrib")).head.getDouble(0)
    val qLouvain = totalQ(Graph.louvainMove(edges, "src", "dst", rounds = 4))
    val singletons = (1L to 6L).map(n => n -> n).toDF("node", "label")
    assert(qLouvain === 0.5) // the optimal partition of two triangles
    assert(qLouvain > totalQ(singletons))
    // deterministic under repartitioning
    val lab2 = Graph.louvainMove(edges.repartition(7), "src", "dst", rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lab2 === lab)
  }

  test("louvainTwoPass coarsens the phase-1 partition and never splits a community") {
    val sp = spark; import sp.implicits._
    // two triangles, separate: the optimal partition — pass 2 must keep
    // them apart (no inter-community edges → stay is the only candidate)
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (4L, 5L), (5L, 6L), (4L, 6L)).toDF("src", "dst")
    val two = Graph.louvainTwoPass(tri, "src", "dst", rounds1 = 4, rounds2 = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(two.values.toSet.size == 2, s"two triangles merged or split: $two")
    assert(two(1L) == two(2L) && two(2L) == two(3L))
    assert(two(4L) == two(5L) && two(5L) == two(6L) && two(1L) != two(4L))
    // coarsening invariant on a denser graph: the final labeling is a
    // FUNCTION of the phase-1 labeling (pass 2 moves whole communities,
    // never splits one)
    val g = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L),
      (5L, 6L), (4L, 6L), (6L, 7L), (7L, 8L), (8L, 9L), (7L, 9L))
      .toDF("src", "dst")
    val p1 = Graph.louvainMove(g, "src", "dst", rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val p2 = Graph.louvainTwoPass(g, "src", "dst", rounds1 = 3, rounds2 = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(p1.keySet === p2.keySet)
    p1.groupBy(_._2).values.foreach { members =>
      val finals = members.keys.map(p2).toSet
      assert(finals.size == 1,
        s"pass 2 split a phase-1 community: ${members.keys} -> $finals")
    }
    // determinism under repartitioning
    val again = Graph.louvainTwoPass(g.repartition(5), "src", "dst", 3, 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again === p2)
  }

  test("randomWalks halts at dangling nodes, walks only real edges, repartition-stable") {
    val sp = spark; import sp.implicits._
    // directed chain 1 -> 2 -> 3; 3 is dangling
    val chain = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val rows = Graph.randomWalks(chain, "src", "dst", walksPerNode = 1,
      length = 4, seed = 0L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // start 3 never appears (no out-edge); start 1 emits steps 0,1,2 and
    // halts at 3; start 2 emits steps 0,1
    assert(rows.toSet === Set(
      (1L, 0L, 0L, 1L), (1L, 0L, 1L, 2L), (1L, 0L, 2L, 3L),
      (2L, 0L, 0L, 2L), (2L, 0L, 1L, 3L)), rows.mkString(","))
    // every emitted transition is a real edge, on a branching graph too
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 1L), (3L, 1L), (4L, 1L))
    val walked = Graph.randomWalks(star.toDF("src", "dst"), "src", "dst",
      walksPerNode = 3, length = 5, seed = 11L)
    val bad = walked.as("x").join(walked.as("y"),
        col("x.start") === col("y.start") && col("x.wk") === col("y.wk") &&
          col("x.step") + 1 === col("y.step"))
      .join(star.toDF("a", "b"),
        col("x.node") === col("a") && col("y.node") === col("b"), "left_anti")
    assert(bad.count() == 0, "a walk used a non-edge transition")
    // deterministic under repartitioning
    val again = Graph.randomWalks(star.toDF("src", "dst").repartition(5),
      "src", "dst", walksPerNode = 3, length = 5, seed = 11L)
    assert(walked.exceptAll(again).count() == 0 &&
      again.exceptAll(walked).count() == 0)
  }

  test("conductance: hand-computed bridge cut, NULL for the whole-graph community") {
    val sp = spark; import sp.implicits._
    // two triangles bridged by one edge; m = 7
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L)).toDF("src", "dst")
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L),
      (4L, 4L), (5L, 4L), (6L, 4L)).toDF("node", "label")
    val out = Graph.conductance(edges, "src", "dst", labels)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3),
          if (r.isNullAt(4)) None else Some(r.getDouble(4))))).toMap
    // community 1: vol = 2+2+3 = 7, cut = 1, min(7, 14-7) = 7 -> 1/7
    assert(out(1L) === ((3L, 7L, 1L, Some(0.142857143))))
    assert(out(4L) === ((3L, 7L, 1L, Some(0.142857143))))
    // one community spanning everything: denominator 0 -> NULL
    val one = (1L to 6L).map(n => (n, 0L)).toDF("node", "label")
    val whole = Graph.conductance(edges, "src", "dst", one).collect()
    assert(whole.length == 1 && whole.head.isNullAt(4))
    // perfectly separated communities (bridge dropped): cut 0, phi 0
    val sep = Graph.conductance(
      edges.filter(!($"src" === 3L && $"dst" === 4L)), "src", "dst", labels)
      .collect().map(r => r.getLong(0) -> r.getDouble(4)).toMap
    assert(sep(1L) === 0.0 && sep(4L) === 0.0)
  }

  test("node2vecWalks: unit weights collapse to randomWalks; bias changes the path") {
    val sp = spark; import sp.implicits._
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 1L), (3L, 1L), (4L, 1L),
      (2L, 3L), (3L, 2L))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    // all-ones weights: cumulative ranges collapse to ranks and the
    // second-order walk IS the first-order walk, bit for bit
    val unit = Graph.node2vecWalks(star.toDF("src", "dst"), "src", "dst",
      walksPerNode = 3, length = 5, seed = 11L,
      wReturn = 1, wCommon = 1, wFar = 1)
    val first = Graph.randomWalks(star.toDF("src", "dst"), "src", "dst",
      walksPerNode = 3, length = 5, seed = 11L)
    assert(rows(unit) === rows(first),
      "unit-weight node2vec diverged from the first-order walk")
    // real bias weights produce a DIFFERENT (but still edge-valid) path
    val biased = Graph.node2vecWalks(star.toDF("src", "dst"), "src", "dst",
      walksPerNode = 3, length = 5, seed = 11L,
      wReturn = 1, wCommon = 4, wFar = 2)
    assert(rows(biased) !== rows(first), "bias weights changed nothing")
    val bad = biased.as("x").join(biased.as("y"),
        col("x.start") === col("y.start") && col("x.wk") === col("y.wk") &&
          col("x.step") + 1 === col("y.step"))
      .join(star.toDF("a", "b"),
        col("x.node") === col("a") && col("y.node") === col("b"), "left_anti")
    assert(bad.count() == 0, "a biased walk used a non-edge transition")
    // deterministic under repartitioning
    val again = Graph.node2vecWalks(star.toDF("src", "dst").repartition(5),
      "src", "dst", 3, 5, 11L, 1, 4, 2)
    assert(rows(biased) === rows(again))
  }

  test("kTruss peels support cascades; one round is not the fixpoint") {
    val sp = spark; import sp.implicits._
    // K5 on {1..5}: every edge closes 3 triangles. Bowtie {20,21,22} +
    // {21,22,23}: edge (21,22) has support 2, the other four support 1.
    val k5 = for (a <- 1L to 5L; b <- 1L to 5L if a < b) yield (a, b)
    val bowtie = Seq((20L, 21L), (20L, 22L), (21L, 22L), (21L, 23L), (22L, 23L))
    val edges = (k5 ++ bowtie).toDF("src", "dst")
    def rows(k: Int, rounds: Int) =
      Graph.kTruss(edges, "src", "dst", k, rounds).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // 3-truss (support >= 1): everything survives, supports reported
    val t3 = rows(3, 8)
    assert(t3.size === 15 && t3((21L, 22L)) === 2L && t3((20L, 21L)) === 1L)
    // 4-truss (support >= 2): the bowtie cascades away — round 1 drops
    // the four support-1 edges, round 2 drops the now-triangle-less
    // (21,22). One round is NOT enough.
    val t4 = rows(4, 8)
    assert(t4.keySet === k5.toSet && t4.values.forall(_ === 3L),
      s"4-truss should be the bare K5: $t4")
    val oneRound = rows(4, 1)
    assert(oneRound.get((21L, 22L)).contains(0L) && !oneRound.contains((20L, 21L)),
      s"single peel round should still hold (21,22) at support 0: $oneRound")
    // above the clique's truss number: empty, not an error
    assert(rows(6, 8).isEmpty)
    // k = 2 would be the identity truss the support join cannot express
    intercept[IllegalArgumentException] {
      Graph.kTruss(edges, "src", "dst", k = 2, rounds = 1)
    }
  }

  test("kCore peels chains off a clique; the cascade needs multiple rounds") {
    val sp = spark; import sp.implicits._
    // K4 on {1,2,3,4} (all internal degree 3) + chain 4-10-11-12 hanging
    // off it. The 2-core is exactly the clique, but the chain peels one
    // link per round (12 first, then 11, then 10) — a single-round
    // "filter by degree" gets it wrong, which is what this pins.
    val clique = for (a <- 1L to 4L; b <- 1L to 4L if a < b) yield (a, b)
    val chain = Seq((4L, 10L), (10L, 11L), (11L, 12L))
    val edges = (clique ++ chain).toDF("src", "dst")
    val core2 = Graph.kCore(edges, "src", "dst", k = 2, rounds = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core2 === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L),
      s"2-core should be the bare K4: $core2")
    // one round is NOT enough: only 12 (degree 1) peels, 11 survives it
    val oneRound = Graph.kCore(edges, "src", "dst", k = 2, rounds = 1)
      .collect().map(_.getLong(0)).toSet
    assert(oneRound.contains(11L) && !oneRound.contains(12L),
      s"single peel round should still hold node 11: $oneRound")
    // k above the max degree: empty core, not an error
    assert(Graph.kCore(edges, "src", "dst", k = 4, rounds = 8).count() === 0)
    // duplicate/reverse/self edges collapse before peeling
    val messy = (clique ++ chain ++ Seq((2L, 1L), (3L, 3L), (1L, 2L)))
      .toDF("src", "dst")
    val got = Graph.kCore(messy, "src", "dst", k = 2, rounds = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === core2)
  }

  test("labelPropagation: disjoint cliques each converge to their minimum node id") {
    val sp = spark; import sp.implicits._
    // two K4s with no bridge: within a clique, round 1 relabels everyone
    // to the min neighbor id and the min node adopts the second-smallest;
    // by round 3 every node carries the clique minimum — and stays there
    val cliqueA = for (a <- 1L to 4L; b <- 1L to 4L if a < b) yield (a, b)
    val cliqueB = for (a <- 10L to 13L; b <- 10L to 13L if a < b) yield (a, b)
    val edges = (cliqueA ++ cliqueB).toDF("src", "dst")
    val got = Graph.labelPropagation(edges, "src", "dst", rounds = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L), s"communities wrong: $got")
  }

  test("labelPropagation matches a local synchronous reference and ignores dirty edges") {
    val sp = spark; import sp.implicits._
    // pseudo-random graph fed dirty (reverses, duplicates, self-loops);
    // reference = same synchronous min-tie-break schedule in plain Scala
    val rnd = new scala.util.Random(11)
    val raw = Seq.fill(80)((rnd.nextInt(15).toLong, rnd.nextInt(15).toLong))
    val canon = raw.collect { case (a, b) if a != b =>
      (math.min(a, b), math.max(a, b)) }.distinct
    val adj = (canon ++ canon.map { case (a, b) => (b, a) })
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var lbl: Map[Long, Long] = adj.keys.map(n => n -> n).toMap
    for (_ <- 1 to 4) {
      lbl = adj.map { case (n, nbrs) =>
        val counts = nbrs.groupBy(lbl).view.mapValues(_.size)
        val best = counts.toSeq.map { case (l, c) => (-c, l) }.min
        n -> best._2
      }
    }
    val dirty = (raw ++ raw.take(10) ++ Seq((3L, 3L))).toDF("src", "dst")
    val got = Graph.labelPropagation(dirty, "src", "dst", rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === lbl)
    // and partitioning must not change anything (integer argmax lockstep)
    val got7 = Graph.labelPropagation(dirty.repartition(7), "src", "dst", rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got7 === got)
  }

  test("kCore stopEarly halts at the fixpoint with output identical to the fixed run") {
    val sp = spark; import sp.implicits._
    val clique = for (a <- 1L to 4L; b <- 1L to 4L if a < b) yield (a, b)
    val chain = Seq((4L, 10L), (10L, 11L), (11L, 12L))
    val edges = (clique ++ chain).toDF("src", "dst")
    // chain peels in 3 rounds + 1 round that drops nobody = 4 executed,
    // far below the requested 50
    val early = Graph.kCore(edges, "src", "dst", k = 2, rounds = 50, stopEarly = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val executed = Iterate.ConvergenceGauge.lastRounds
    assert(executed === 4, s"expected 4 observed rounds, ran $executed")
    val fixed = Graph.kCore(edges, "src", "dst", k = 2, rounds = 50)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(early === fixed, "early-stopped core differs from the fixed-round run")
    // an already-converged graph (the bare clique) stops after one
    // observed round; a fully-peeled (empty) result also terminates
    Graph.kCore(clique.toDF("src", "dst"), "src", "dst", k = 2,
      rounds = 50, stopEarly = true).collect()
    assert(Iterate.ConvergenceGauge.lastRounds === 1,
      s"stationary graph should stop after round 1, ran ${Iterate.ConvergenceGauge.lastRounds}")
    assert(Graph.kCore(edges, "src", "dst", k = 4, rounds = 50,
      stopEarly = true).count() === 0)
  }

  test("hits: pure hubs point at the pure authority; scores are sup-normalized") {
    val sp = spark; import sp.implicits._
    // 3 hubs all point at node 100; 100 points nowhere, hubs receive nothing
    val edges = Seq((1L, 100L), (2L, 100L), (3L, 100L)).toDF("src", "dst")
    val got = Graph.hits(edges, "src", "dst", iterations = 4)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(got(100L) === ((0.0, 1.0)), "sink must be the pure authority")
    Seq(1L, 2L, 3L).foreach { h =>
      assert(got(h) === ((1.0, 0.0)), s"source $h must be a pure hub")
    }
  }

  test("hits separates index pages from content pages and is lockstep-deterministic") {
    val sp = spark; import sp.implicits._
    // hub 1 links to all three authorities, hub 2 to one of them; authority
    // 10 is cited by both. A directed cycle 20->21->20 adds mixed roles.
    val edges = Seq((1L, 10L), (1L, 11L), (1L, 12L), (2L, 10L),
      (20L, 21L), (21L, 20L)).toDF("src", "dst")
    def run(parts: Int) = Graph.hits(edges.repartition(parts), "src", "dst",
        iterations = 8)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val a = run(1)
    assert(a === run(7), "HITS must be partition-order independent")
    assert(a(1L)._1 === 1.0, "the 3-link page is the top hub")
    assert(a(1L)._1 > a(2L)._1, "more authorities linked -> higher hub score")
    assert(a(10L)._2 === 1.0, "the doubly-cited page is the top authority")
    assert(a(10L)._2 > a(11L)._2)
    // the isolated 2-cycle reinforces itself symmetrically
    assert(a(20L)._1 === a(21L)._1 && a(20L)._2 === a(21L)._2)
  }

  test("pageRank warm start replays the cold trajectory and stops instantly when stationary") {
    val sp = spark; import sp.implicits._
    val rnd = new scala.util.Random(23)
    val edges = sym((1 to 200).map(_ =>
      (rnd.nextInt(30).toLong, 30L + rnd.nextInt(30).toLong)).distinct)
      .toDF("src", "dst")
    // trajectory equivalence: cold 8 rounds == cold 4 rounds, then 4
    // more warm-started from that output (the update reads only the
    // previous round, so the split must be bit-exact)
    val cold8 = Graph.pageRank(edges, "src", "dst", iterations = 8)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val mid = Graph.pageRank(edges, "src", "dst", iterations = 4)
    val warm = Graph.pageRank(edges, "src", "dst", iterations = 4,
        initRanks = Some(mid))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(warm === cold8, "warm-started rounds diverged from the cold trajectory")
    // a stationary seed under convergeTol(0.0) stops after one
    // verification round with identical output — K4 is EXACTLY
    // stationary at uniform 1.0 (random graphs can limit-cycle in the
    // last rounded decimal and never hit delta == 0)
    val k4 = (for (a <- 0L to 3L; b <- 0L to 3L if a != b) yield (a, b))
      .toDF("src", "dst")
    val stat = Graph.pageRank(k4, "src", "dst", iterations = 5,
      convergeTol = Some(0.0))
    val resumed = Graph.pageRank(k4, "src", "dst", iterations = 30,
        convergeTol = Some(0.0), initRanks = Some(stat))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(Iterate.ConvergenceGauge.lastRounds === 1,
      "stationary warm start must stop after one round")
    assert(resumed === stat.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap)
    // appended nodes (absent from the seed) enter at 1.0; the enlarged
    // graph (K4 + isolated symmetric pair) is still stationary
    val extra = k4.unionAll(Seq((100L, 101L), (101L, 100L)).toDF("src", "dst"))
    val appended = Graph.pageRank(extra, "src", "dst", iterations = 30,
        convergeTol = Some(0.0), initRanks = Some(stat))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(Iterate.ConvergenceGauge.lastRounds === 1,
      "appended-but-stationary graph must also stop after one round")
    assert(appended(100L) === 1.0 && appended(101L) === 1.0)
  }

  test("updateConnectedComponents equals a full rebuild and keeps untouched component ids stable") {
    val sp = spark; import sp.implicits._
    val rnd = new scala.util.Random(17)
    val all = (1 to 250).map(_ =>
      (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong)).filter(p => p._1 != p._2)
    val (b1, b2) = all.splitAt(all.length / 2)
    val labels1 = Graph.connectedComponents(b1.toDF("src", "dst"), "src", "dst")
    val incr = Graph.updateConnectedComponents(labels1,
        b2.toDF("src", "dst"), "src", "dst")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val full = Graph.connectedComponents(all.toDF("src", "dst"), "src", "dst")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(incr === full, "append path diverged from the full rebuild")
    // two separate cliques merge through ONE new edge and adopt the
    // smaller id; a third untouched clique keeps its id
    val cliques = Seq((1L, 2L), (2L, 3L), (10L, 11L), (11L, 12L), (20L, 21L))
    val l1 = Graph.connectedComponents(cliques.toDF("src", "dst"), "src", "dst")
    val merged = Graph.updateConnectedComponents(l1,
        Seq((3L, 10L)).toDF("src", "dst"), "src", "dst")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L, 10L, 11L, 12L).forall(merged(_) == 1L))
    assert(merged(20L) === 20L && merged(21L) === 20L)
  }

  test("adamicAdar scores non-adjacent pairs by 1/ln(deg) of shared neighbors") {
    val sp = spark; import sp.implicits._
    // path 1-2-3-4 plus chord 2-4: N(2) = {1,3,4} (deg 3), N(3) = {2,4},
    // N(4) = {2,3}. Non-adjacent pairs with a common neighbor:
    //   (1,3) via 2, (1,4) via 2 -> each 1/ln(3)
    //   (2,3)? adjacent. (3,4)? adjacent. (2,4)? adjacent.
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (2L, 4L)).toDF("src", "dst")
    val got = Graph.adamicAdar(edges, "src", "dst", topN = 10)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val w3 = BigDecimal(1.0 / math.log(3.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got === Map((1L, 3L) -> w3, (1L, 4L) -> w3), s"got $got")
  }

  test("adamicAdar sums over multiple shared neighbors; degCap drops hub centers whole") {
    val sp = spark; import sp.implicits._
    // u=1 and v=2 share low-degree neighbors 10 (deg 2), 11 (deg 2) and a
    // hub 99 connected to 6 extra satellites (deg 8)
    val base = Seq((1L, 10L), (2L, 10L), (1L, 11L), (2L, 11L),
      (1L, 99L), (2L, 99L)) ++ (200L to 205L).map(s => (99L, s))
    val edges = base.toDF("src", "dst")
    def score(cap: Int) = Graph.adamicAdar(edges, "src", "dst",
        topN = 100, degCap = cap)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val full = score(256)((1L, 2L))
    val capped = score(4)((1L, 2L))
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(full === r6(2.0 / math.log(2.0) + 1.0 / math.log(8.0)))
    // cap 4 excludes the deg-8 hub as a center but keeps both deg-2 wedges
    assert(capped === r6(2.0 / math.log(2.0)))
    // satellite pairs through the hub exist only uncapped
    assert(score(256).keys.exists(p => p._1 >= 200L && p._2 >= 200L))
    assert(!score(4).keys.exists(p => p._1 >= 200L && p._2 >= 200L))
  }

  test("adamicAdar is deterministic under repartitioning and excludes existing edges") {
    val sp = spark; import sp.implicits._
    val rnd = new scala.util.Random(11)
    val edges = (1 to 200).map(_ =>
      (rnd.nextInt(30).toLong, rnd.nextInt(30).toLong)).filter(p => p._1 != p._2)
    val df1 = edges.toDF("src", "dst").repartition(1)
    val df7 = edges.toDF("src", "dst").repartition(7)
    val a = Graph.adamicAdar(df1, "src", "dst", topN = 25)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(x => (x._1, x._2))
    val b = Graph.adamicAdar(df7, "src", "dst", topN = 25)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(x => (x._1, x._2))
    assert(a.nonEmpty && a.toSeq === b.toSeq)
    val und = edges.map { case (x, y) => (math.min(x, y), math.max(x, y)) }.toSet
    assert(a.forall { case (u, v, _) => !und.contains((u, v)) },
      "predicted pairs must not already be edges")
  }

  test("ssspBellmanFord relaxes shortest paths; hop horizon and min-multi-edge") {
    val sp = spark; import sp.implicits._
    // 0 -> 1 (w 10), 0 -> 2 (w 1), 2 -> 1 (w 2): best 0->1 is 3 via 2.
    // Parallel edge 0 -> 2 (w 5) must lose to the w-1 copy. A long chain
    // 1 -> 5 -> 6 -> 7 -> 8 puts node 8 exactly 6 hops out.
    val edges = Seq((0L, 1L, 10L), (0L, 2L, 1L), (2L, 1L, 2L), (0L, 2L, 5L),
      (1L, 5L, 1L), (5L, 6L, 1L), (6L, 7L, 1L), (7L, 8L, 1L))
      .toDF("src", "dst", "w")
    val d6 = Graph.ssspBellmanFord(edges, "src", "dst", "w", source = 0L, rounds = 6)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d6 === Map(0L -> 0L, 2L -> 1L, 1L -> 3L, 5L -> 4L, 6L -> 5L,
      7L -> 6L, 8L -> 7L))
    // 3 rounds can't see past 3 relaxations: 7/8 absent, 6 carries the
    // NON-final distance through the slow 0->1(10) path (the Bellman-Ford
    // horizon contract: rounds < needed relaxations = provisional values)
    val d3 = Graph.ssspBellmanFord(edges, "src", "dst", "w", source = 0L, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d3 === Map(0L -> 0L, 2L -> 1L, 1L -> 3L, 5L -> 4L, 6L -> 12L))
  }

  test("weightedPageRank: uniform weights equal the unweighted operator; mass follows weight") {
    val sp = spark; import sp.implicits._
    val rnd = new scala.util.Random(31)
    val base = (1 to 200).map(_ =>
      (rnd.nextInt(30).toLong, 30L + rnd.nextInt(30).toLong)).distinct
    val edges = sym(base).toDF("src", "dst")
    val uw = Graph.pageRank(edges, "src", "dst", iterations = 6)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val w1 = Graph.weightedPageRank(
        edges.withColumn("w", org.apache.spark.sql.functions.lit(7L)),
        "src", "dst", "w", iterations = 6)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(w1 === uw, "constant weights must reduce to the unweighted operator")
    // hub 0 points at 1 (weight 9) and 2 (weight 1): 1 must outrank 2,
    // and a zero-weight edge to 3 carries NOTHING (3 is rank-source only)
    val star = Seq((0L, 1L, 9L), (0L, 2L, 1L), (0L, 3L, 0L),
      (1L, 0L, 1L), (2L, 0L, 1L), (3L, 0L, 1L)).toDF("src", "dst", "w")
    val got = Graph.weightedPageRank(star, "src", "dst", "w", iterations = 8)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got(1L) > got(2L), s"the weight-9 target must outrank the weight-1: $got")
    assert(got(3L) < got(2L), s"a zero-weight target receives nothing: $got")
    intercept[IllegalArgumentException] {
      Graph.weightedPageRank(Seq((0L, 1L, -2L)).toDF("src", "dst", "w"),
        "src", "dst", "w")
    }
  }

  test("temporalEarliestArrival enforces the missed-connection rule") {
    val sp = spark; import sp.implicits._
    // s=0 reaches a at t=5. a->b fires at t=3 (BEFORE arrival — dead),
    // and again at t=9 (usable). A direct 0->b at t=10 must lose to 9.
    // c is reachable only through the dead edge's timeline: never.
    val edges = Seq(
      (0L, 1L, 5L), (1L, 2L, 3L), (1L, 2L, 9L), (0L, 2L, 10L),
      (1L, 3L, 3L)).toDF("src", "dst", "tm")
    val got = Graph.temporalEarliestArrival(edges, "src", "dst", "tm",
        source = 0L, startTime = 0L, rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(0L -> 0L, 1L -> 5L, 2L -> 9L),
      s"missed connections must not propagate: $got")
    // startTime after every edge: nothing moves
    val late = Graph.temporalEarliestArrival(edges, "src", "dst", "tm",
        source = 0L, startTime = 100L, rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(late === Map(0L -> 100L))
    // a LATER arrival can unlock an edge an earlier path misses:
    // 0->1 at t=1 and t=6; 1->4 fires only at t=2..5 (t=4). The t=1
    // arrival catches it — earliest arrival at 4 is 4.
    val window = Seq((0L, 1L, 1L), (0L, 1L, 6L), (1L, 4L, 4L))
      .toDF("src", "dst", "tm")
    val w = Graph.temporalEarliestArrival(window, "src", "dst", "tm",
        source = 0L, startTime = 0L, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(w === Map(0L -> 0L, 1L -> 1L, 4L -> 4L))
    // repartition determinism
    val rnd = new scala.util.Random(29)
    val big = (1 to 300).map(_ => (rnd.nextInt(40).toLong,
      rnd.nextInt(40).toLong, rnd.nextInt(50).toLong))
    def run(parts: Int) = Graph.temporalEarliestArrival(
        big.toDF("src", "dst", "tm").repartition(parts),
        "src", "dst", "tm", source = 0L, startTime = 5L, rounds = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(run(1).toSeq === run(7).toSeq)
  }

  test("multiSourceSssp equals per-source single runs in one traversal") {
    val sp = spark; import sp.implicits._
    val rnd = new scala.util.Random(19)
    val edges = (1 to 200).map(_ => (rnd.nextInt(40).toLong,
      rnd.nextInt(40).toLong, (1 + rnd.nextInt(5)).toLong))
      .toDF("src", "dst", "w")
    val sources = Seq(0L, 7L, 23L)
    val multi = Graph.multiSourceSssp(edges, "src", "dst", "w",
        sources.toDF("source"), rounds = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    sources.foreach { s =>
      val single = Graph.ssspBellmanFord(edges, "src", "dst", "w", s, rounds = 8)
        .collect().map(r => (s, r.getLong(0)) -> r.getLong(1)).toMap
      assert(multi.filter(_._1._1 == s) === single,
        s"landmark $s diverged from its single-source run")
    }
  }

  test("ssspBellmanFord rejects negative weights and is repartition-deterministic") {
    val sp = spark; import sp.implicits._
    val bad = Seq((0L, 1L, -1L)).toDF("src", "dst", "w")
    intercept[IllegalArgumentException] {
      Graph.ssspBellmanFord(bad, "src", "dst", "w", source = 0L, rounds = 2)
    }
    val rnd = new scala.util.Random(13)
    val edges = (1 to 300).map(_ => (rnd.nextInt(50).toLong,
      rnd.nextInt(50).toLong, (1 + rnd.nextInt(9)).toLong))
    val a = Graph.ssspBellmanFord(edges.toDF("src", "dst", "w").repartition(1),
        "src", "dst", "w", source = 0L, rounds = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val b = Graph.ssspBellmanFord(edges.toDF("src", "dst", "w").repartition(7),
        "src", "dst", "w", source = 0L, rounds = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(a.nonEmpty && a.toSeq === b.toSeq)
  }

  test("hyperBallReach tracks true ball sizes within sketch error and grows with rounds") {
    val sp = spark; import sp.implicits._
    // complete digraph K8: every out-ball is all 8 nodes after 1 round
    val k8 = (for (a <- 0L to 7L; b <- 0L to 7L if a != b) yield (a, b))
      .toDF("src", "dst")
    val est8 = Graph.hyperBallReach(k8, "src", "dst", rounds = 1)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(est8.size === 8)
    // one shared 16-register estimate for the identical ball; 16-bucket
    // sketches put the 8-element estimate in a wide-but-sane band
    assert(est8.values.toSet.size === 1)
    est8.values.foreach(v => assert(v > 4.0 && v < 16.0, s"K8 estimate $v"))
    // directed ring of 12: the r-ball is exactly r+1 nodes — estimates
    // must be strictly monotone in rounds (more reach, more registers)
    val ring = (0L to 11L).map(i => (i, (i + 1) % 12)).toDF("src", "dst")
    def meanAt(r: Int): Double = {
      val v = Graph.hyperBallReach(ring, "src", "dst", rounds = r)
        .collect().map(_.getDouble(1))
      v.sum / v.length
    }
    val m1 = meanAt(1); val m3 = meanAt(3); val m6 = meanAt(6)
    assert(m1 < m3 && m3 < m6, s"means not monotone: $m1, $m3, $m6")
    assert(m1 > 1.0 && m6 < 14.0)
  }

  test("clusteringCoefficients: triangle, path, and star+chord hand values") {
    val sp = spark; import sp.implicits._
    def run(es: Seq[(Long, Long)]) =
      Graph.clusteringCoefficients(es.toDF("src", "dst"), "src", "dst")
        .collect().head
    // K3: every node closes its one wedge -> both coefficients 1
    val k3 = run(Seq((1L, 2L), (2L, 3L), (1L, 3L)))
    assert((k3.getLong(0), k3.getLong(1), k3.getLong(2), k3.getLong(3)) ===
      ((3L, 3L, 3L, 3L)))
    assert(k3.getDouble(4) === 1.0 && k3.getDouble(5) === 1.0)
    // path 1-2-3: one open wedge, no triangles -> 0.0 (not NULL)
    val path = run(Seq((1L, 2L), (2L, 3L)))
    assert(path.getLong(2) === 0L && path.getLong(3) === 1L)
    assert(path.getDouble(4) === 0.0 && path.getDouble(5) === 0.0)
    // star 0-{1,2,3} plus chord 1-2: triangle (0,1,2);
    // global = 3/5, avg local = (1/3 + 1 + 1)/3
    val chord = run(Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L)))
    assert(chord.getLong(2) === 3L && chord.getLong(3) === 5L)
    assert(chord.getDouble(4) === 0.6)
    val third = BigDecimal(1.0 / 3.0)
      .setScale(12, BigDecimal.RoundingMode.HALF_UP)
    assert(chord.getDouble(5) ===
      BigDecimal((third + 2).toDouble / 3.0)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    // no edges at all: single row, NULL coefficients
    val empty = Graph.clusteringCoefficients(
      Seq.empty[(Long, Long)].toDF("src", "dst"), "src", "dst").collect().head
    assert(empty.getLong(0) === 0L && empty.isNullAt(4) && empty.isNullAt(5))
  }

  test("degreeAssortativity: star is exactly -1; regular graphs are NULL") {
    val sp = spark; import sp.implicits._
    // star K(1,8): every edge joins the hub (deg 8) to a leaf (deg 1) —
    // the algebra gives exactly -n²(n-1)² / n²(n-1)² = -1
    val star = (1L to 8L).map(i => (0L, i)).toDF("src", "dst")
    val s = Graph.degreeAssortativity(star, "src", "dst").collect().head
    assert(s.getLong(0) === 8L && s.getDouble(1) === -1.0)
    // triangle: degree-regular, zero variance -> NULL (not NaN, not 0)
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("src", "dst")
    val t = Graph.degreeAssortativity(tri, "src", "dst").collect().head
    assert(t.getLong(0) === 3L && t.isNullAt(1))
    // two disjoint hub-hub edges + pendant leaves: positive mixing
    val social = Seq((1L, 2L), (1L, 3L), (2L, 4L), (1L, 2L))
      .toDF("src", "dst")
    val r = Graph.degreeAssortativity(social, "src", "dst").collect().head
    assert(r.getLong(0) === 3L) // duplicate edge collapsed
  }

  test("powerLawAlpha: star-graph MLE hand value; empty tail yields NULL alpha") {
    val sp = spark; import sp.implicits._
    // star 0 <-> 1..10: center degree 10, leaves degree 1 -> the dmin=2
    // tail is {center}: alpha = 1 + 1/ln(10/1.5)
    val star = (1L to 10L).map(i => (0L, i)).toDF("src", "dst")
    val r = Graph.powerLawAlpha(star, "src", "dst", dmin = 2).collect().head
    assert(r.getLong(0) === 1L && r.getInt(1) === 2)
    assert(r.getDouble(2) ===
      BigDecimal(1.0 + 1.0 / math.log(10.0 / 1.5))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    // a single edge: both endpoints degree 1, tail empty -> NULL alpha
    val one = Seq((1L, 2L)).toDF("src", "dst")
    val e = Graph.powerLawAlpha(one, "src", "dst", dmin = 2).collect().head
    assert(e.getLong(0) === 0L && e.isNullAt(2))
  }

  test("neighborhoodFunction is monotone in radius and sums the per-node reach estimates") {
    val sp = spark; import sp.implicits._
    val ring = (0L to 11L).map(i => (i, (i + 1) % 12)).toDF("src", "dst")
    val nf = Graph.neighborhoodFunction(ring, "src", "dst", rounds = 5)
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(nf.keySet === (0 to 5).toSet)
    // balls only grow: N(r) is nondecreasing, and strictly grows on a
    // ring where every round reaches one genuinely new node
    (1 to 5).foreach(r => assert(nf(r) > nf(r - 1),
      s"N($r)=${nf(r)} did not grow over N(${r - 1})=${nf(r - 1)}"))
    // radius 0 is 12 one-element balls: each is the same 16-register
    // linear-counting estimate of a single element
    assert(math.abs(nf(0) - 12 * 16.0 * math.log(16.0 / 15.0)) < 1e-4)
    // the final radius agrees with summing hyperBallReach's per-node
    // estimates (same registers, same estimator, exact-decimal sum)
    val perNode = Graph.hyperBallReach(ring, "src", "dst", rounds = 5)
      .collect().map(r => BigDecimal(r.getDouble(1)))
    assert(BigDecimal(nf(5)) === perNode.sum,
      s"N(5)=${nf(5)} != sum of per-node estimates ${perNode.sum}")
  }

  test("harmonicCentrality sums reciprocal hop distances from the sampled sources") {
    val sp = spark; import sp.implicits._
    // path 0->1->2->3, sources {0, 1}:
    //   H(1) = 1/d(0,1) = 1;  H(2) = 1/2 + 1/1 = 1.5
    //   H(3) = 1/3 + 1/2 = 0.833333;  0 is reached by nobody
    val path = Seq((0L, 1L), (1L, 2L), (2L, 3L)).toDF("src", "dst")
    val h = Graph.harmonicCentrality(path, "src", "dst",
        Seq(0L, 1L).toDF("source"), rounds = 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(h === Map(1L -> 1.0, 2L -> 1.5, 3L -> 0.833333))
    // the rounds horizon truncates distance-3 contributions
    val h1 = Graph.harmonicCentrality(path, "src", "dst",
        Seq(0L).toDF("source"), rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(h1 === Map(1L -> 1.0, 2L -> 0.5))
    // disconnection is the harmonic selling point: an unreachable node
    // contributes nothing (no infinity), and isolated sources see nothing
    val twoIslands = Seq((0L, 1L), (5L, 6L)).toDF("src", "dst")
    val hi = Graph.harmonicCentrality(twoIslands, "src", "dst",
        Seq(0L).toDF("source"), rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(hi === Map(1L -> 1.0))
  }

  test("betweenness: path accumulates Brandes dependencies; diamond splits them") {
    val sp = spark; import sp.implicits._
    // path 0->1->2->3 from source 0: delta(1) = 1 + delta(2) = 2,
    // delta(2) = 1, endpoints 0 (source, excluded) and 3 (no successors)
    val path = Seq((0L, 1L), (1L, 2L), (2L, 3L)).toDF("src", "dst")
    val p = Graph.betweenness(path, "src", "dst",
        Seq(0L).toDF("source"), rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(p === Map(1L -> 2.0, 2L -> 1.0, 3L -> 0.0))
    // diamond 0->{1,2}->3: two shortest paths, each middle carries
    // sigma(mid)/sigma(3) = 1/2
    val diamond = Seq((0L, 1L), (0L, 2L), (1L, 3L), (2L, 3L))
      .toDF("src", "dst")
    val d = Graph.betweenness(diamond, "src", "dst",
        Seq(0L).toDF("source"), rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(d === Map(1L -> 0.5, 2L -> 0.5, 3L -> 0.0))
    // the rounds horizon truncates: 1 BFS level sees no 2-hop paths,
    // so nothing routes THROUGH node 1
    val p1 = Graph.betweenness(path, "src", "dst",
        Seq(0L).toDF("source"), rounds = 1)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(p1 === Map(1L -> 0.0))
    // sampled sources sum per-source dependencies: adding source 1 on
    // the path contributes delta_1(2) = 1 on top of delta_0(2) = 1
    val p2 = Graph.betweenness(path, "src", "dst",
        Seq(0L, 1L).toDF("source"), rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(p2 === Map(1L -> 2.0, 2L -> 2.0, 3L -> 0.0))
  }

  test("katzCentrality: directed path converges to the hand-computed fix") {
    val sp = spark; import sp.implicits._
    // 0 -> 1 -> 2 with alpha = 0.5, beta = 1:
    //   x(0) = 1 always (no in-edges)
    //   x(1) = 1 + 0.5 * x(0) = 1.5 from round 1 on
    //   x(2) = 1 + 0.5 * x(1) -> 1.5, 1.75, then stationary
    val path = Seq((0L, 1L), (1L, 2L)).toDF("src", "dst")
    val out = Graph.katzCentrality(path, "src", "dst",
        iterations = 3, alpha = 0.5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out === Map(0L -> 1.0, 1L -> 1.5, 2L -> 1.75))
    // duplicate edges collapse: doubling 0->1 must not double the flow
    val dup = Seq((0L, 1L), (0L, 1L), (1L, 2L)).toDF("src", "dst")
    val out2 = Graph.katzCentrality(dup, "src", "dst",
        iterations = 3, alpha = 0.5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out2 === out)
  }

  test("katzCentrality: hub in-degree dominates; deterministic under " +
      "repartitioning") {
    val sp = spark; import sp.implicits._
    // all leaves point at the hub: x(hub) = 1 + alpha * 9 after round 1
    val star = (1L to 9L).map(l => (l, 0L)).toDF("src", "dst")
    val out = Graph.katzCentrality(star, "src", "dst", iterations = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out(0L) === 1.9)
    assert((1L to 9L).forall(out(_) === 1.0))
    val rnd = new scala.util.Random(11)
    val edges = sym((1 to 300).map(_ =>
      (rnd.nextInt(40).toLong, 40L + rnd.nextInt(40).toLong)).distinct)
    val r1 = Graph.katzCentrality(edges.toDF("src", "dst").repartition(1),
        "src", "dst", iterations = 6)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
    val r7 = Graph.katzCentrality(edges.toDF("src", "dst").repartition(7),
        "src", "dst", iterations = 6)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
    assert(r1 === r7)
  }

  test("effectiveDiameter: complete graph saturates at radius 1; " +
      "fraction is monotone") {
    val sp = spark; import sp.implicits._
    val k5 = (for (a <- 0L to 4L; b <- 0L to 4L if a != b) yield (a, b))
      .toDF("src", "dst")
    val d1 = Graph.effectiveDiameter(k5, "src", "dst", rounds = 3)
      .collect().head
    // every 1-ball is the whole graph -> the curve is flat from r = 1,
    // so 90% of the horizon is reached at exactly 1
    assert(d1.getInt(0) === 1)
    // a lower fraction can only give an equal-or-smaller radius; 8-node
    // directed path stresses a slowly-growing curve
    val path8 = (0L to 6L).map(i => (i, i + 1)).toDF("src", "dst")
    val eff = (f: Double) =>
      Graph.effectiveDiameter(path8, "src", "dst", rounds = 7, fraction = f)
        .collect().head.getInt(0)
    val (e5, e9, e10) = (eff(0.5), eff(0.9), eff(1.0))
    assert(e5 <= e9 && e9 <= e10, s"monotone: $e5 $e9 $e10")
    assert(e10 <= 7 && e5 >= 0)
  }

  test("reciprocity: symmetric graph is 1, DAG is 0, mixed is exact") {
    val sp = spark; import sp.implicits._
    // fully mutual: 1 <-> 2, 2 <-> 3
    val full = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L)).toDF("src", "dst")
    val f = Graph.reciprocity(full, "src", "dst").collect().head
    assert(f.getLong(0) === 4L && f.getLong(1) === 4L &&
      f.getLong(2) === 2L && f.getDouble(3) === 1.0)
    // pure DAG: no edge has a reverse
    val dag = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("src", "dst")
    val d = Graph.reciprocity(dag, "src", "dst").collect().head
    assert(d.getLong(0) === 3L && d.getLong(1) === 0L && d.getDouble(3) === 0.0)
    // one mutual pair among 4 edges (dups + self-loops dropped first)
    val mixed = Seq((1L, 2L), (2L, 1L), (1L, 2L), (3L, 3L), (1L, 3L), (2L, 3L))
      .toDF("src", "dst")
    val m = Graph.reciprocity(mixed, "src", "dst").collect().head
    assert(m.getLong(0) === 4L && m.getLong(1) === 2L && m.getLong(2) === 1L)
    assert(m.getDouble(3) === 0.5)
    // empty graph: zero edges, NULL ratio (not NaN, not 0)
    val e = Graph.reciprocity(Seq.empty[(Long, Long)].toDF("src", "dst"),
      "src", "dst").collect().head
    assert(e.getLong(0) === 0L && e.isNullAt(3))
  }

  test("stronglyConnectedComponents: cycles, bridges, chains, self-loops") {
    val sp = spark; import sp.implicits._
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 1L),   // 3-cycle -> SCC {1,2,3}
      (10L, 11L), (11L, 10L),         // 2-cycle -> SCC {10,11}
      (3L, 10L),                      // DAG bridge between the SCCs
      (20L, 21L), (21L, 22L),         // chain: three singletons
      (30L, 30L),                     // self-loop: singleton SCC {30}
      (40L, 41L)                      // one-way pair: two singletons
    ).toDF("src", "dst")
    val out = Graph.stronglyConnectedComponents(edges, "src", "dst",
        outerRounds = 2, propRounds = 4, trimRounds = 3)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(out === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L,
      11L -> 10L, 20L -> 20L, 21L -> 21L, 22L -> 22L, 30L -> 30L,
      40L -> 40L, 41L -> 41L))
    // with trimming off, the color/flag peels alone converge too
    val noTrim = Graph.stronglyConnectedComponents(edges, "src", "dst",
        outerRounds = 3, propRounds = 4, trimRounds = 0)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(noTrim === out)
    // component labels are the min member id; members mutually reachable
    assert(out.filter(_._2 >= 0).groupBy(_._2).forall {
      case (c, ms) => ms.keys.min === c
    })
  }

  test("stronglyConnectedComponents: under-budgeted peel emits NULL, " +
      "never a wrong merge") {
    val sp = spark; import sp.implicits._
    // chain of singletons: one un-trimmed peel assigns only the pivot
    // (20); the rest must come out NULL, not mislabeled
    val chain = Seq((20L, 21L), (21L, 22L)).toDF("src", "dst")
    val out = Graph.stronglyConnectedComponents(chain, "src", "dst",
        outerRounds = 1, propRounds = 4, trimRounds = 0)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(out === Map(20L -> 20L, 21L -> -1L, 22L -> -1L))
    // empty edge list -> empty output
    assert(Graph.stronglyConnectedComponents(
      Seq.empty[(Long, Long)].toDF("src", "dst"), "src", "dst").count() === 0L)
  }

  test("sccCondensation: quotient DAG edges with original multiplicities") {
    val sp = spark; import sp.implicits._
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 1L),   // SCC A = {1,2,3}
      (10L, 11L), (11L, 10L),         // SCC B = {10,11}
      (3L, 10L), (2L, 10L),           // two A->B bridges
      (3L, 20L)                       // A -> singleton sink 20
    ).toDF("src", "dst")
    val out = Graph.sccCondensation(edges, "src", "dst",
        outerRounds = 2, propRounds = 4, trimRounds = 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // intra-SCC edges collapse; cross edges keep multiplicity
    assert(out === Map((1L, 10L) -> 2L, (1L, 20L) -> 1L))
  }

  test("jpColoring: proper coloring, isolated nodes colored, " +
      "budget residue is NULL never improper") {
    val sp = spark; import sp.implicits._
    // K4 (needs 4 colors) + a path + an isolated pair via self-dup edge
    val edges = (for (a <- 1L to 4L; b <- 1L to 4L if a < b) yield (a, b)) ++
      Seq((10L, 11L), (11L, 12L), (20L, 21L))
    val out = Graph.jpColoring(edges.toDF("src", "dst"), "src", "dst",
        colors = 5, misRounds = 4)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    // every node colored within budget
    assert(out.values.forall(_ >= 0L), out.toString)
    // properness: no edge joins equal colors
    edges.foreach { case (a, b) =>
      assert(out(a) !== out(b), s"edge ($a,$b) monochrome: $out")
    }
    // K4 consumes 4 distinct colors
    assert((1L to 4L).map(out).toSet.size === 4)
    // under-budget: 2 colors cannot finish K4; leftovers NULL, and the
    // colored subset is STILL proper
    val tight = Graph.jpColoring(edges.toDF("src", "dst"), "src", "dst",
        colors = 2, misRounds = 4)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(tight.values.exists(_ == -1L))
    edges.foreach { case (a, b) =>
      if (tight(a) >= 0 && tight(b) >= 0)
        assert(tight(a) !== tight(b))
    }
    // determinism under reshuffle
    val again = Graph.jpColoring(
      edges.toDF("src", "dst").repartition(7), "src", "dst",
      colors = 5, misRounds = 4)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(again === out)
  }

  test("minimumSpanningForest: exact MSF, dup-edge min fold, tie order, " +
      "budget partiality, reshuffle determinism") {
    val sp = spark; import sp.implicits._
    // two components: a 4-cycle with one heavy chord (MST drops the
    // heaviest cycle edge) and a weighted triangle; plus a duplicate
    // edge where only the MIN weight may count, and a weight tie that
    // the (w, a, b) order breaks toward the smaller endpoint pair
    val edges = Seq(
      (1L, 2L, 4L), (2L, 3L, 1L), (3L, 4L, 2L), (4L, 1L, 3L),
      (1L, 3L, 9L),               // heavy chord: never in the MSF
      (2L, 1L, 7L),               // duplicate of (1,2): min(4,7) = 4
      (10L, 11L, 5L), (11L, 12L, 5L), (10L, 12L, 5L) // all-tie triangle
    ).toDF("src", "dst", "wt")
    def run(df: org.apache.spark.sql.DataFrame, rounds: Int) =
      Graph.minimumSpanningForest(df, "src", "dst", "wt", rounds)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
    val msf = run(edges, rounds = 4)
    // component 1: cycle keeps its 3 lightest edges (weights 1,2,3),
    // drops (1,2,w=4); chord and the duplicate never appear
    // component 2: tie triangle keeps (10,11) and (10,12) — the
    // (w, a, b) order picks both edges incident to node 10
    assert(msf === Set((2L, 3L, 1L), (3L, 4L, 2L), (1L, 4L, 3L),
      (10L, 11L, 5L), (10L, 12L, 5L)), msf.toString)
    // total weight is the true MST weight per component (1+2+3, 5+5)
    assert(msf.toSeq.map(_._3).sum === 16L)
    // budget partiality: 1 round emits a SUBSET of the true MSF
    val partial = run(edges, rounds = 1)
    assert(partial.nonEmpty && partial.subsetOf(msf), partial.toString)
    // reshuffle determinism, including added_round
    val full = Graph.minimumSpanningForest(edges, "src", "dst", "wt", 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    val again = Graph.minimumSpanningForest(edges.repartition(7),
        "src", "dst", "wt", 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(again === full)
    // an edgeless input yields an empty forest with the right schema
    val empty = Graph.minimumSpanningForest(
      Seq.empty[(Long, Long, Long)].toDF("src", "dst", "wt"),
      "src", "dst", "wt", 2)
    assert(empty.columns.toSeq ===
      Seq("src", "dst", "weight", "added_round"))
    assert(empty.count() === 0L)
  }

  test("minimumSpanningForest: fractional weights compare exactly " +
      "(no silent long truncation); non-numeric weight rejected") {
    val sp = spark; import sp.implicits._
    // triangle whose weights all truncate to 1: a long-cast would
    // reduce this to a pure (a, b) tie-break and keep (1,2) + (1,3);
    // exact double comparison must keep the two LIGHTEST edges
    val tri = Seq((1L, 2L, 1.5), (2L, 3L, 1.2), (1L, 3L, 1.4))
      .toDF("src", "dst", "wt")
    val msf = Graph.minimumSpanningForest(tri, "src", "dst", "wt", 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    assert(msf === Set((2L, 3L, 1.2), (1L, 3L, 1.4)), msf.toString)
    // weight dtype rides the input: long in, long out (q142 contract)
    val longIn = Graph.minimumSpanningForest(
      Seq((1L, 2L, 7L)).toDF("src", "dst", "wt"), "src", "dst", "wt", 2)
    assert(longIn.schema("weight").dataType ===
      org.apache.spark.sql.types.LongType)
    // a string weight column is a loud error, not a silent cast
    val err = intercept[IllegalArgumentException] {
      Graph.minimumSpanningForest(
        Seq((1L, 2L, "heavy")).toDF("src", "dst", "wt"),
        "src", "dst", "wt", 2)
    }
    assert(err.getMessage.contains("must be numeric"))
  }

  test("dagLevels: longest-path layering; diamond takes the longer arm") {
    val sp = spark; import sp.implicits._
    // diamond with a long arm: 1->2->3->5, 1->4->5; 5 sits at level 3
    val dag = Seq((1L, 2L), (2L, 3L), (3L, 5L), (1L, 4L), (4L, 5L))
      .toDF("src", "dst")
    val out = Graph.dagLevels(dag, "src", "dst", rounds = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 1L, 5L -> 3L))
    // under-budget rounds are deterministic (just shallower levels)
    val shallow = Graph.dagLevels(dag, "src", "dst", rounds = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(shallow === Map(1L -> 0L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L))
  }

  test("iterative operators release every block except the ones their result holds") {
    val sp = spark; import sp.implicits._
    // cycles (1-2-3, 4-5), a dangling sink (6), a clique (7..10) hanging
    // off node 1, and a chain long enough that every loop below runs
    // past its checkpoint cadence
    val raw = Seq((1L, 2L, 3L, 1L), (2L, 3L, 1L, 2L), (3L, 1L, 2L, 3L),
      (3L, 4L, 4L, 4L), (4L, 5L, 1L, 5L), (5L, 4L, 2L, 6L), (5L, 6L, 5L, 7L),
      (2L, 5L, 2L, 3L), (7L, 1L, 1L, 1L)) ++
      (for (a <- 7L to 10L; b <- 7L to 10L if a != b) yield (a, b, a + b, a))
    val g = raw.toDF("src", "dst", "w", "tm")
    val dag = Seq((1L, 2L), (2L, 3L), (3L, 5L), (1L, 4L), (4L, 5L), (5L, 6L))
      .toDF("src", "dst")
    val sources = Seq(1L, 7L).toDF("s")
    val sc = spark.sparkContext
    def check(name: String)(call: => org.apache.spark.sql.DataFrame): Unit =
      ReleaseCheck.check(sc, name)(call)
    for (tol <- Seq(None, Some(0.0))) {
      check(s"pageRank $tol")(Graph.pageRank(g, "src", "dst", iterations = 6,
        checkpointEvery = 2, convergeTol = tol))
      check(s"personalizedPageRank $tol")(Graph.personalizedPageRank(g,
        "src", "dst", Seq(1L), iterations = 6, checkpointEvery = 2,
        convergeTol = tol))
    }
    for (stop <- Seq(false, true))
      check(s"kCore stopEarly=$stop")(Graph.kCore(g, "src", "dst", k = 2,
        rounds = 5, checkpointEvery = 2, stopEarly = stop))
    check("weightedPageRank")(Graph.weightedPageRank(g, "src", "dst", "w",
      iterations = 5, checkpointEvery = 2))
    check("labelPropagation")(Graph.labelPropagation(g, "src", "dst",
      rounds = 5, checkpointEvery = 2))
    check("kTruss")(Graph.kTruss(g, "src", "dst", k = 3, rounds = 3))
    check("hits")(Graph.hits(g, "src", "dst", iterations = 4))
    check("ssspBellmanFord")(Graph.ssspBellmanFord(g, "src", "dst", "w",
      source = 1L, rounds = 5, checkpointEvery = 2))
    check("multiSourceSssp")(Graph.multiSourceSssp(g, "src", "dst", "w",
      sources, rounds = 5, checkpointEvery = 2))
    check("temporalEarliestArrival")(Graph.temporalEarliestArrival(g, "src",
      "dst", "tm", source = 1L, startTime = 0L, rounds = 5,
      checkpointEvery = 2))
    check("harmonicCentrality")(Graph.harmonicCentrality(g, "src", "dst",
      sources, rounds = 4))
    check("katzCentrality")(Graph.katzCentrality(g, "src", "dst",
      iterations = 5, checkpointEvery = 2))
    check("louvainMove")(Graph.louvainMove(g, "src", "dst", rounds = 3))
    check("louvainTwoPass")(Graph.louvainTwoPass(g, "src", "dst", 3, 3))
    check("randomWalks")(Graph.randomWalks(g, "src", "dst", length = 3))
    check("node2vecWalks")(Graph.node2vecWalks(g, "src", "dst", length = 3))
    check("betweenness")(Graph.betweenness(g, "src", "dst", sources, rounds = 3))
    check("hyperBallReach")(Graph.hyperBallReach(g, "src", "dst", rounds = 5,
      checkpointEvery = 2))
    check("neighborhoodFunction")(Graph.neighborhoodFunction(g, "src", "dst",
      rounds = 3))
    check("effectiveDiameter")(Graph.effectiveDiameter(g, "src", "dst",
      rounds = 3))
    check("lubyMis")(Graph.lubyMis(g, "src", "dst", rounds = 4))
    check("jpColoring")(Graph.jpColoring(g, "src", "dst", colors = 4,
      misRounds = 3))
    check("stronglyConnectedComponents")(Graph.stronglyConnectedComponents(g,
      "src", "dst", outerRounds = 2, propRounds = 9, trimRounds = 2))
    check("sccCondensation")(Graph.sccCondensation(g, "src", "dst",
      propRounds = 9))
    check("dagLevels")(Graph.dagLevels(dag, "src", "dst", rounds = 5,
      checkpointEvery = 2))
    // their rounds run in Dedup.duplicateClusters
    check("connectedComponents")(Graph.connectedComponents(g, "src", "dst"))
    check("minimumSpanningForest")(Graph.minimumSpanningForest(g, "src",
      "dst", "w", rounds = 3))
  }

  test("the release check counts stored blocks, so a driver GC cannot hide a leak") {
    val sp = spark; import sp.implicits._
    val g = Seq((1L, 2L, 3L), (2L, 3L, 1L), (3L, 1L, 2L), (3L, 4L, 4L),
      (4L, 5L, 1L), (5L, 6L, 5L)).toDF("src", "dst", "w")
    val sc = spark.sparkContext
    def msf() = Graph.minimumSpanningForest(g, "src", "dst", "w", rounds = 3)
    // a second forest dropped unreleased is a leaked checkpoint; the GC
    // clears it from getPersistentRDDs' weak map, not from the block store
    def leaky() = { val out = msf(); msf(); System.gc(); out }
    val leaks = (1 to 3).map(_ => ReleaseCheck.leaked(sc)(leaky()))
    assert(leaks.forall(_.size == 1), s"leaked checkpoints per call: $leaks")
    assert(leaks.map(_.values.sum).distinct.size == 1,
      s"identical calls read different leaked block counts: $leaks")
    (1 to 3).foreach(_ => ReleaseCheck.check(sc, "minimumSpanningForest")(msf()))
  }
}
