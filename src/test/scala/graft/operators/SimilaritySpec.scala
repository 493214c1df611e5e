package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The ANN tuning-regression gates the oracle queries can't provide:
  * s02/s03/s05 are each hash-exact on their OWN definition, so a
  * planes/probes/candMult change that silently tanks recall would stay
  * oracle-green. [[Similarity.recallAtK]] measures each index against
  * the exact kNN on the same corpus, and this spec pins the measured
  * floors. Plus the SQ8 bytes claim: the candidate scan must read the
  * MATERIALIZED code column, never the float embeddings.
  */
class SimilaritySpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val dir = "/root/testdata/sf0.01"

  override def beforeAll(): Unit = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    spark = SparkSession.builder().master("local[4]")
      .appName("similarity-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def emb = spark.read.parquet(s"$dir/embeddings.parquet")

  test("recallAtK scores hits per exact-side query; rank > k rows ignored") {
    val sp = spark; import sp.implicits._
    // exact top-3 of q1 = {10,11,12}; approx finds 2 of them (+ a stranger).
    // q2 exact = {20,21}; approx misses q2 entirely → hits 0, recall 0.
    // rank-4 rows on both sides must not count.
    val exact = Seq(
      (1L, 1, 10L), (1L, 2, 11L), (1L, 3, 12L), (1L, 4, 13L),
      (2L, 1, 20L), (2L, 2, 21L)).toDF("query_id", "rank", "neighbor_id")
    val approx = Seq(
      (1L, 1, 11L), (1L, 2, 99L), (1L, 3, 10L), (1L, 4, 12L))
      .toDF("query_id", "rank", "neighbor_id")
    val got = Similarity.recallAtK(approx, exact, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got === Set((1L, 2L, 0.666667), (2L, 0L, 0.0)))
  }

  // Floors pinned at BOTH the correctness SF (0.01) and the bench SF
  // (0.1): round 7 showed the sampled-IVF recall decaying with corpus
  // growth (0.767 -> 0.433 at fixed probes) while every sf0.01 gate
  // stayed green — a scale-trend regression needs a gate AT the larger
  // scale. Measured (deterministic: md5 hyperplanes, rounded-6 cosine,
  // exact-decimal k-means): sf0.01 lsh 0.700, ivf_sampled 0.767,
  // ivf_trained 0.967, sq8 1.000; sf0.1 lsh 0.733, ivf_sampled 0.767
  // (auto-probes), ivf_trained 1.000, sq8 1.000. Floors sit with real
  // margin under the measurements; the avg-of-10 double sum cannot
  // wobble past them.
  for (sf <- Seq("sf0.01", "sf0.1"))
    test(s"measured recall@3 of every ANN index stays above its floor on $sf") {
      val e = spark.read.parquet(s"/root/testdata/$sf/embeddings.parquet")
      val q = e.filter(col("vec_id") < 10)
      val exact = Similarity.knnKernel(q, e, 3)

      def recall(approx: DataFrame): Double =
        Similarity.recallAtK(approx, exact, 3)
          .agg(avg(col("recall"))).collect().head.getDouble(0)

      // same settings as the s02/s03/s05 oracle queries + the trained
      // codebook primary path (Bench's "ivf" key)
      val lsh = recall(Similarity.annKnnKernel(q, e, 3))
      val ivfS = recall(Similarity.ivfKnn(q, e, 3))
      val ivfT = recall(Similarity.ivfKnnTrained(q, e, 3))
      val sq8 = recall(Similarity.sq8Knn(q, e, 3))
      val ivfSq8 = recall(Similarity.ivfSq8KnnTrained(q, e, 3))
      // PQ: the sampled codebook is the oracle definition (arbitrary
      // corpus subvectors make a high-distortion quantizer by
      // construction — round 15 gave it the corpus-fraction rerank
      // budget, 0.900/0.967 measured); the Lloyd-trained 256-entry
      // codebook is the primary path (1.000 at both SFs, kCodes=64
      // still 0.933 at sf0.1)
      val pqS = recall(Similarity.pqKnn(q, e, 3))
      val pqT = recall(Similarity.pqKnnTrained(q, e, 3))
      val ivfPqT = recall(Similarity.ivfPqKnnTrained(q, e, 3))
      val ivfAdc = recall(Similarity.ivfAdcKnnTrained(q, e, 3))
      assert(ivfAdc >= 0.9, s"residual IVFADC recall@3 regressed: $ivfAdc")
      val bin = recall(Similarity.binaryKnn(q, e, 3))
      val rp = recall(Similarity.rpKnn(q, e, 3))
      val nsw = recall(Similarity.nswKnn(q, e, Similarity.nswGraph(e), 3))
      val nswT = recall(Similarity.nswKnnTrained(q, e, 3))
      val hnsw = recall(Similarity.hnswKnn(q, e, 3))
      info(f"recall@3 on $sf: lsh=$lsh%.3f ivf_sampled=$ivfS%.3f " +
        f"ivf_trained=$ivfT%.3f sq8=$sq8%.3f ivf_sq8=$ivfSq8%.3f " +
        f"pq_sampled=$pqS%.3f pq_trained=$pqT%.3f ivf_pq_trained=$ivfPqT%.3f " +
        f"ivf_adc=$ivfAdc%.3f binary=$bin%.3f rp=$rp%.3f " +
        f"nsw=$nsw%.3f nsw_trained=$nswT%.3f hnsw=$hnsw%.3f")
      // HNSW floors sit ABOVE flat nsw's: the descent seeds the base
      // layer from the whole scored top layer. Round-12 defaults
      // (ef=64, entryQuota=4 — entry COVERAGE is the lever on this
      // weakly-clustered data) measure 1.000/0.933 on sf0.01/sf0.1,
      // up from 1.000/0.767 at ef=48 + one entry per cell; floors
      // move up with the measurements, never down.
      assert(hnsw >= (if (sf == "sf0.01") 0.95 else 0.85),
        s"hnsw recall@3 regressed: $hnsw")
      // NSW floors: beam search visits entries + beam·2m·rounds of the
      // corpus — a deliberately tiny fraction — so graph ANN's
      // budget-bounded recall sits below the scan-everything compressed
      // indexes by construction. Round-12 default beam=48 (the ef >> k
      // lesson applied to the flat path) measures sampled 1.000/0.833
      // on sf0.01/sf0.1, up from 0.933/0.633 at beam=12, at no
      // wall-time cost.
      assert(nsw >= (if (sf == "sf0.01") 0.9 else 0.75),
        s"nsw recall@3 regressed: $nsw")
      // trained path at beam=48 measures 1.000/0.967 (round 12)
      assert(nswT >= 0.9, s"nsw_trained recall@3 regressed: $nswT")
      // round-15 budget raise (candFraction 0.05 -> 0.20): measured
      // 0.933/0.867 at sf0.01/sf0.1, up from 0.667/0.667
      assert(bin >= 0.85, s"binary-quantization recall@3 regressed: $bin")
      // rp floors are the ISOTROPIC-NOISE worst case (every pairwise
      // cosine ~0, top-k margins O(1/sqrt(d)) — the hardest input any
      // metric-preserving projection can face); measured 0.833/0.967
      // at the round-15 25% fraction budget (was 0.500/0.833 at 10%)
      assert(rp >= (if (sf == "sf0.01") 0.8 else 0.9),
        s"random-projection recall@3 regressed: $rp")
      // round-15 fraction rule (budget = max(48, ceil(0.2·N))):
      // measured 0.900/0.967, up from 0.833/0.633 at the fixed 48
      assert(pqS >= 0.85, s"sampled pq recall@3 regressed: $pqS")
      assert(pqT >= 0.9, s"trained pq recall@3 regressed: $pqT")
      assert(ivfPqT >= 0.9, s"trained ivf-pq recall@3 regressed: $ivfPqT")
      assert(sq8 >= 0.9, s"sq8 recall@3 regressed: $sq8")
      assert(ivfT >= 0.9, s"trained-codebook ivf recall@3 regressed: $ivfT")
      assert(ivfSq8 >= 0.9, s"ivf-sq8 recall@3 regressed: $ivfSq8")
      assert(ivfS >= 0.7, s"sampled ivf recall@3 regressed: $ivfS")
      assert(lsh >= 0.6, s"lsh recall@3 regressed: $lsh")
      // SQ8 reranks every candidate exactly with candMult=4 headroom — it
      // must dominate the bucket-bounded indexes
      assert(sq8 >= ivfS - 1e-9 && sq8 >= lsh - 1e-9)
    }

  test("ivfSq8Knn with exhaustive probing + full rerank equals exact kNN") {
    // probes >= nCells scans every cell and candMult large enough reranks
    // every scanned row exactly — the composed index must then degrade
    // gracefully into brute force, proving the IVF routing and the SQ8
    // candidate stage drop nothing they shouldn't
    val e = emb
    val q = e.filter(col("vec_id") < 5)
    val n = e.count().toInt
    def rows(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    val exhaustive = Similarity.ivfSq8Knn(q, e, 3,
      probes = Int.MaxValue / 2, candMult = n)
    assert(rows(exhaustive) === rows(Similarity.knnKernel(q, e, 3)),
      "exhaustive ivfSq8 diverged from exact kNN")
  }

  test("pqKnn with full rerank equals exact kNN; codes are m small ids") {
    // candMult >= n reranks every ADC candidate exactly — the quantizer
    // can distort the candidate ORDER but no longer the result, so the
    // PQ pipeline must degrade gracefully into brute force
    val e = emb
    val q = e.filter(col("vec_id") < 5)
    val n = e.count().toInt
    def rows(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    assert(rows(Similarity.pqKnn(q, e, 3, candMult = n)) ===
      rows(Similarity.knnKernel(q, e, 3)),
      "exhaustive pq diverged from exact kNN")
    // the materialized code column is m=16 ids per vector, every id a
    // codebook member — the stored-index schema the ADC scan reads
    val books = Similarity.pqCodebooks(e, "vec_id", "embedding", 16)
    val valid = books(0).map(_._1).toSet
    val codes = Similarity.pqEncode(e, "vec_id", "embedding", books)
      .collect().map(r => r.getSeq[Long](1))
    assert(codes.length === n)
    assert(codes.forall(c => c.length == 16 && c.forall(valid.contains)))
  }

  test("every index equals exact kNN row for row once its budget covers the corpus") {
    // probes >= cells and a rerank budget >= N make each index's candidate
    // set the whole corpus, so the shared exact rerank alone decides the
    // answer; any stage that drops or duplicates a candidate shows here
    val e = emb
    val q = e.filter(col("vec_id") < 5)
    val n = e.count().toInt
    val all = Int.MaxValue / 2
    def rows(df: DataFrame) = df.orderBy("query_id", "rank").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
    val exact = rows(Similarity.knnKernel(q, e, 3))
    assert(exact.length === 15)
    Seq[(String, () => DataFrame)](
      ("sq8Knn", () => Similarity.sq8Knn(q, e, 3, candMult = n)),
      ("rpKnn", () => Similarity.rpKnn(q, e, 3, candFraction = 1.0)),
      ("ivfKnn", () => Similarity.ivfKnn(q, e, 3, probes = all)),
      ("ivfKnnTrained", () => Similarity.ivfKnnTrained(q, e, 3, probes = 16)),
      ("ivfSq8KnnTrained", () => Similarity.ivfSq8KnnTrained(q, e, 3,
        probes = 16, candMult = n)),
      ("ivfPqKnn", () => Similarity.ivfPqKnn(q, e, 3, probes = all, candMult = n)),
      ("ivfPqKnnTrained", () => Similarity.ivfPqKnnTrained(q, e, 3,
        probes = 16, kCodes = 32, candMult = n)),
      ("ivfAdcKnnTrained", () => Similarity.ivfAdcKnnTrained(q, e, 3,
        probes = 16, kCodes = 32, candMult = n))).foreach { case (name, run) =>
      assert(rows(run()) === exact, s"$name with a corpus-wide budget diverged from exact kNN")
    }
  }

  test("a null embedding at a sampled id is dropped from the cells, not scored") {
    val sp = spark; import sp.implicits._
    val e = emb
    val maxId = e.agg(max($"vec_id")).head.getLong(0)
    val nullId = (maxId / 50 + 1) * 50
    val withNull = e.unionByName(Seq(nullId).toDF("vec_id")
      .select($"vec_id", lit(null).cast(e.schema("embedding").dataType).as("embedding"),
        lit(0).as("label")))
    val q = e.filter($"vec_id" < 10)
    def rows(df: DataFrame) = df.orderBy("query_id", "rank").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
    Seq[(String, DataFrame => DataFrame)](
      ("ivfKnn", c => Similarity.ivfKnn(q, c, 3)),
      ("ivfSq8Knn", c => Similarity.ivfSq8Knn(q, c, 3)),
      ("ivfPqKnn", c => Similarity.ivfPqKnn(q, c, 3)),
      ("nswGraph + nswKnn", c => Similarity.nswKnn(q, c, Similarity.nswGraph(c), 3)),
      ("hnswKnn", c => Similarity.hnswKnn(q, c, 3))).foreach { case (name, run) =>
      val clean = rows(run(e))
      assert(clean.length === 30, s"$name: vacuous clean result")
      assert(rows(run(withNull)) === clean,
        s"$name: a null embedding at sampled id $nullId changed the result")
    }
  }

  test("trained PQ codebook is partition-layout independent") {
    // DECIMAL update sums + deterministic seeding: the same corpus in a
    // different physical layout must train byte-identical codebooks
    val e = emb
    val b1 = Similarity.pqCodebooksTrained(e, "vec_id", "embedding", 16,
      kCodes = 32, iters = 2)
    val b2 = Similarity.pqCodebooksTrained(e.repartition(13), "vec_id",
      "embedding", 16, kCodes = 32, iters = 2)
    assert(b1.length === b2.length)
    for (j <- b1.indices; c <- b1(j).indices)
      assert(java.util.Arrays.equals(b1(j)(c)._2, b2(j)(c)._2),
        s"codebook diverged at subspace $j code $c")
  }

  test("Column annKnn and kernel annKnnKernel agree on the multi-probe candidates") {
    val e = emb
    val q = e.filter(col("vec_id") < 5)
    def rows(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    assert(rows(Similarity.annKnn(q, e, 3)) === rows(Similarity.annKnnKernel(q, e, 3)),
      "Column and kernel multi-probe paths diverged")
  }

  test("semanticDedup drops intra-cell near-dups only, keeping the lowest id") {
    val sp = spark; import sp.implicits._
    def v(deg: Double) = Array(math.cos(math.toRadians(deg)).toFloat,
      math.sin(math.toRadians(deg)).toFloat)
    // centroids (centEvery=50): id 0 → (1,0), id 50 → (0,1); members
    // split at 45°. id 2 duplicates id 1 (2° apart) in cell 0. ids 3 and
    // 53 are 2° apart but land in DIFFERENT cells (44° vs 46°) — a
    // semantic dedup must ignore that pair.
    val corpus = Seq(
      0L -> v(0), 1L -> v(20), 2L -> v(22), 3L -> v(44),
      50L -> v(90), 53L -> v(46)).toDF("vec_id", "embedding")
    val got = Similarity.semanticDedup(corpus, "vec_id", "embedding", tau = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((0L, 0L), (1L, 0L), (3L, 0L), (50L, 50L), (53L, 50L)),
      s"expected id 2 (and only id 2) dropped, got $got")
  }

  test("semanticDedup hot-cell guard: an adversarial one-cell corpus splits pair work across bounded tasks") {
    val sp = spark; import sp.implicits._
    def v(deg: Double) = Array(math.cos(math.toRadians(deg)).toFloat,
      math.sin(math.toRadians(deg)).toFloat)
    // centroids (centEvery=50): ids 0/50/100/150 at 0/90/180/270 degrees.
    // Every NON-centroid vector sits within 3 degrees of centroid 0 — the
    // clustered-corpus worst case: one cell holds 197 of 200 members, and
    // every intra-cell pair is a near-dup at tau=0.95, so only the lowest
    // id (the centroid itself) survives cell 0.
    val corpus = (0 until 200).map { i =>
      val deg = if (i % 50 == 0) (i / 50) * 90.0 else (i % 7) * 0.5
      (i.toLong, v(deg))
    }.toDF("vec_id", "embedding")
    def run(blockSize: Int): Set[(Long, Long)] =
      Similarity.semanticDedup(corpus, "vec_id", "embedding", tau = 0.95,
        blockSize = blockSize)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expect = Set((0L, 0L), (50L, 50L), (100L, 100L), (150L, 150L))

    // gridded: no task may ever own the hot cell
    Similarity.CellTaskGauge.reset()
    assert(run(blockSize = 16) === expect)
    val gridPeak = Similarity.CellTaskGauge.peak
    assert(gridPeak > 0, "gauge not exercised")
    assert(gridPeak <= 4L * 16,
      s"hot-cell guard failed: one task materialized $gridPeak members")

    // one-group control: identical output, and the gauge shows what the
    // unguarded shape would cost — one task owning all 197 members
    Similarity.CellTaskGauge.reset()
    assert(run(blockSize = 100000) === expect,
      "block-gridded result diverged from the single-group result")
    assert(Similarity.CellTaskGauge.peak === 197L,
      s"control expected one 197-member group, saw ${Similarity.CellTaskGauge.peak}")
  }

  test("ivfSq8 index roundtrips through parquet and its scan never reads the floats") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-ivfsq8-idx").toString
    val e = emb
    val q = e.filter(col("vec_id") < 5)
    val bounds = Similarity.sq8Bounds(e, "embedding")
    val cents = Similarity.kmeansCodebook(e, "vec_id", "embedding", 8)
      .zipWithIndex.map { case (c, i) => (i.toLong, c) }
    // build once, persist, serve from the stored index — the production
    // shape; results must equal the fused single-call path
    Similarity.ivfSq8Index(e, cents, bounds)
      .write.mode("overwrite").parquet(s"$tmp/index")
    val stored = spark.read.parquet(s"$tmp/index")
    def rows(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    val fromIndex = Similarity.ivfSq8KnnFromIndex(q, stored, e, 3, 4, cents, bounds)
    val fused = Similarity.ivfSq8KnnFromIndex(q,
      Similarity.ivfSq8Index(e, cents, bounds), e, 3, 4, cents, bounds)
    assert(rows(fromIndex) === rows(fused),
      "stored-index results diverged from the fused path")
    // the candidate scan reads the index columns only, never embeddings
    val aqeBefore = spark.conf.getOption("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val scans = Similarity.ivfSq8KnnFromIndex(q, stored, e, 3, 4, cents, bounds)
        .queryExecution.executedPlan.collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec =>
            f.requiredSchema.fieldNames.toSet
        }
      assert(scans.exists(s => s.contains("codes") && !s.contains("embedding")),
        s"no codes-only index scan: $scans")
      assert(scans.forall(s => !(s.contains("codes") && s.contains("embedding"))),
        s"a scan reads codes AND embeddings: $scans")
    } finally aqeBefore match {
      case Some(v) => spark.conf.set("spark.sql.adaptive.enabled", v)
      case None => spark.conf.unset("spark.sql.adaptive.enabled")
    }
  }

  test("cell-partitioned index layout prunes FILES for a probe set, results byte-identical") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-cell-idx").toString
    val e = emb
    val q = e.filter(col("vec_id") === 1)
    val bounds = Similarity.sq8Bounds(e, "embedding")
    val cents = Similarity.kmeansCodebook(e, "vec_id", "embedding", 8)
      .zipWithIndex.map { case (c, i) => (i.toLong, c) }
    val index = Similarity.ivfSq8Index(e, cents, bounds)
    Similarity.writeCellIndex(index, s"$tmp/index", numFiles = 4)
    val allFiles = spark.read.parquet(s"$tmp/index").inputFiles.toSet
    assert(allFiles.size >= 3, s"layout produced too few files to prove pruning: $allFiles")
    // a 1-probe query must touch a STRICT subset of the layout's files
    val probedCells = Similarity.collectQueryVectors(q).flatMap { case (_, qv) =>
      cents.map { case (cid, ce) => (cid, Similarity.cosineKernel(qv, ce)) }
        .sortBy { case (cid, cs) => (-cs, cid) }.take(1).map(_._1)
    }.distinct.toIndexedSeq
    val pruned = Similarity.readCellIndex(spark, s"$tmp/index", probedCells)
    val touched = pruned.inputFiles.toSet
    assert(touched.nonEmpty && touched.subsetOf(allFiles) && touched.size < allFiles.size,
      s"probed read did not prune files: ${touched.size} of ${allFiles.size}")
    // pruned-read rows equal a full-scan cell filter (manifest is exact)
    def idxRows(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Array[Byte]](2).toSeq)).toSet
    assert(idxRows(pruned) === idxRows(spark.read.parquet(s"$tmp/index")
        .filter(col("cid").isInCollection(probedCells))),
      "manifest-pruned rows diverged from a full scan + filter")
    // served results are byte-identical to the whole-index path
    def rows(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    val storedResult = Similarity.ivfSq8KnnFromStoredIndex(
      q, s"$tmp/index", e, 3, 1, cents, bounds)
    assert(rows(storedResult) ===
      rows(Similarity.ivfSq8KnnFromIndex(q, index, e, 3, 1, cents, bounds)),
      "file-pruned stored index diverged from the full-index path")
  }

  test("tombstone deletes serve immediately; compaction rewrites only the affected files") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-cell-del").toString
    val e = emb
    val q = e.filter(col("vec_id") < 5)
    val bounds = Similarity.sq8Bounds(e, "embedding")
    val cents = Similarity.kmeansCodebook(e, "vec_id", "embedding", 8)
      .zipWithIndex.map { case (c, i) => (i.toLong, c) }
    val index = Similarity.ivfSq8Index(e, cents, bounds)
    val path = s"$tmp/index"
    Similarity.writeCellIndex(index, path, numFiles = 4,
      zoneCols = Seq("vec_id"))
    def rows(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    val before = rows(Similarity.ivfSq8KnnFromStoredIndex(
      q, path, e, 3, 2, cents, bounds))
    // delete the current top-1 neighbors of the queries: serving MUST
    // change, and equals the in-memory path over the index minus them
    val dels = before.filter(_._2 == 1).map(_._3).toSeq.distinct.sorted
    assert(dels.nonEmpty)
    Similarity.writeCellTombstones(spark, path, dels)
    val served = rows(Similarity.ivfSq8KnnFromStoredIndex(
      q, path, e, 3, 2, cents, bounds))
    val expect = rows(Similarity.ivfSq8KnnFromIndex(q,
      index.filter(!col("vec_id").isInCollection(dels)), e, 3, 2,
      cents, bounds))
    assert(served === expect, "tombstoned serving diverged from index-minus-deletes")
    assert(served !== before, "deletes had no effect — vacuous")
    assert(served.forall(r => !dels.contains(r._3)), "a deleted id was served")
    // selective compaction: only files whose vec_id zone map intersects
    // the deleted ids are rewritten; untouched files keep their bytes
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def fileSizes: Map[String, Long] = spark.read.parquet(path).inputFiles
      .map { f =>
        val p = new org.apache.hadoop.fs.Path(f)
        f -> fs.getFileStatus(p).getLen
      }.toMap
    val sizesBefore = fileSizes
    val manifest = spark.read.parquet(
      s"$path/${graft.operators.Layout.ManifestDir}")
    val affectedExpected = manifest
      .select(col("file"), col("min_vec_id").cast("long"),
        col("max_vec_id").cast("long"))
      .collect()
      .filter(r => dels.exists(d => d >= r.getLong(1) && d <= r.getLong(2)))
      .map(_.getString(0)).toSet
    val rewritten = Similarity.compactCellIndex(spark, path)
    assert(rewritten === affectedExpected.size,
      s"rewrote $rewritten files, zone maps said ${affectedExpected.size}")
    assert(rewritten < sizesBefore.size || affectedExpected.size == sizesBefore.size,
      "compaction was not selective")
    val sizesAfter = fileSizes
    sizesBefore.filterNot { case (f, _) => affectedExpected(f) }
      .foreach { case (f, len) =>
        assert(sizesAfter.get(f).contains(len), s"untouched file $f changed")
      }
    // tombstones cleared; post-compaction serving identical; no deleted
    // id remains anywhere in the layout
    assert(Similarity.readCellTombstoneIds(spark, path).isEmpty)
    assert(rows(Similarity.ivfSq8KnnFromStoredIndex(
      q, path, e, 3, 2, cents, bounds)) === served,
      "compaction changed the served answer")
    assert(spark.read.parquet(path)
      .filter(col("vec_id").isInCollection(dels)).count() === 0)
    // manifest stats stay exact for the rewritten files: a pruned read
    // over any probe set still equals full scan + filter
    val someCells = cents.map(_._1).take(3).toIndexedSeq
    def idxRows(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(idxRows(Similarity.readCellIndex(spark, path, someCells)
        .select(col("vec_id"), col("cid"))) ===
      idxRows(spark.read.parquet(path)
        .filter(col("cid").isInCollection(someCells))
        .select(col("vec_id"), col("cid"))))
    // compacting with no tombstones is a no-op
    assert(Similarity.compactCellIndex(spark, path) === 0)
  }

  test("stored-graph soft deletes: tombstoned nodes never surface, next-best fills the rank") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-hnsw-del").toString
    val e = emb
    val q = e.filter(col("vec_id") < 5)
    val path = s"$tmp/hnsw"
    Similarity.writeHnswIndex(e, path, numFiles = 4, m = 8, levelBase = 4,
      maxLevel = 1, entryQuota = 1)
    def serve(k: Int) = Similarity.hnswKnnStored(q, e, path, k, beam = 8,
        roundsPerLayer = 1, baseRounds = 3, maxLevel = 1)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    // wide pre-delete serve: the expected post-delete answer is its
    // per-query re-ranked prefix with the deleted ids dropped (ranking
    // is (cs desc, id) — exclusion shifts ranks, never reorders)
    val wide = serve(10)
    val dels = wide.filter(_._2 == 1).map(_._3).distinct.sorted.toSeq
    assert(dels.nonEmpty)
    Similarity.writeGraphTombstones(spark, path, dels)
    val got = serve(3).toSeq
    val expected = wide.groupBy(_._1).toSeq.flatMap { case (qid, rows) =>
      rows.sortBy(r => (-r._4, r._3)).filterNot(r => dels.contains(r._3))
        .take(3).zipWithIndex.map { case (r, i) => (qid, i + 1, r._3, r._4) }
    }
    assert(got.toSet === expected.toSet,
      "soft-delete serving diverged from re-ranked exclusion")
    assert(got.forall(r => !dels.contains(r._3)), "a deleted node was served")
    assert(got.toSet !== wide.filter(_._2 <= 3).toSet, "deletes had no effect")
    // flat stored NSW honors the same sidecar convention
    val gpath = s"$tmp/nsw"
    val graph = Similarity.nswGraph(e, m = 8)
    Similarity.writeNswGraph(graph, gpath, numFiles = 4)
    val entries = e.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").cast("long").as("node_id"))
    def nserve(k: Int) = Similarity.nswKnnStored(q, e, gpath, entries, k,
        beam = 8, rounds = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val nwide = nserve(10)
    val ndels = nwide.filter(_._2 == 1).map(_._3).distinct.sorted.toSeq
    Similarity.writeGraphTombstones(spark, gpath, ndels)
    val ngot = nserve(3)
    assert(ngot.forall(r => !ndels.contains(r._3)), "NSW served a deleted node")
    val nexpected = nwide.groupBy(_._1).toSeq.flatMap { case (qid, rows) =>
      rows.sortBy(r => (-r._4, r._3)).filterNot(r => ndels.contains(r._3))
        .take(3).zipWithIndex.map { case (r, i) => (qid, i + 1, r._3, r._4) }
    }
    assert(ngot.toSet === nexpected.toSet)
  }

  test("appendToStoredNswGraph: file-append-only, manifest grows, appended vectors searchable") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-nsw-append").toString
    val sp = spark
    import sp.implicits._
    val e = emb
    // frozen centroids from the FULL corpus (the updateNswGraph contract)
    val cents = e.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").cast("long"), col("embedding"))
      .orderBy(col("vec_id")).as[(Long, Array[Float])].collect()
    val old = e.filter(col("vec_id") % 2 === 0)
    val path = s"$tmp/g"
    Similarity.writeNswGraph(Similarity.nswGraphOn(old, cents, 8), path, 4)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(sp.sparkContext.hadoopConfiguration)
    def dataSizes: Map[String, Long] = sp.read.parquet(path).inputFiles
      .map(f => f -> fs.getFileStatus(new org.apache.hadoop.fs.Path(f)).getLen)
      .toMap
    val before = dataSizes
    val expectedNew = e.filter(col("vec_id") % 2 === 1).count()
    val n = Similarity.appendToStoredNswGraph(e, path, cents, 8)
    assert(n === expectedNew, s"appended $n, expected $expectedNew")
    // append-only: every pre-existing file byte-identical, new files exist
    val after = dataSizes
    before.foreach { case (f, len) =>
      assert(after.get(f).contains(len), s"pre-existing file $f changed") }
    assert(after.size > before.size, "no new files written")
    // every appended node entered the graph
    val back = sp.read.parquet(path)
    assert(back.filter(col("node_id") % 2 === 1)
      .select(col("node_id")).distinct().count() === n)
    // manifest covers the new files: a pruned read over a span of new
    // ids equals full scan + filter
    val someNew = back.filter(col("node_id") % 2 === 1)
      .select(col("node_id").cast("long")).distinct()
      .orderBy(col("node_id")).limit(5).as[Long].collect().toIndexedSeq
    def edges(df: org.apache.spark.sql.DataFrame) = df
      .select(col("node_id").cast("long"), col("nbr_id").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(edges(Similarity.readCellIndex(sp, path, someNew, cellCol = "node_id")
        .filter(col("node_id").isInCollection(someNew))) ===
      edges(back.filter(col("node_id").isInCollection(someNew))),
      "manifest-pruned read of appended nodes diverged from full scan")
    // appended vectors are served: for most odd-id queries the exact
    // nearest neighbor surfaces in stored top-3
    val q = e.filter(col("vec_id").isin(1L, 3L, 5L, 7L, 9L))
    val entries = e.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").cast("long").as("node_id"))
    val served = Similarity.nswKnnStored(q, e, path, entries, 3,
        beam = 16, rounds = 3)
      .collect().map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1)
      .map { case (k2, v) => k2 -> v.map(_._2).toSet }
    val brute = Similarity.knn(q, e, 1)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    val hits = brute.count { case (qid, nn) => served.get(qid).exists(_(nn)) }
    assert(hits >= 3, s"only $hits/5 appended queries found their exact NN")
    // re-appending the same corpus is a no-op: zero nodes, zero writes
    val sizesBeforeNoop = dataSizes
    assert(Similarity.appendToStoredNswGraph(e, path, cents, 8) === 0L)
    assert(dataSizes === sizesBeforeNoop, "no-op append wrote files")
    // delta-only corpus rejected loudly
    val err = intercept[IllegalArgumentException] {
      Similarity.appendToStoredNswGraph(
        e.filter(col("vec_id") >= 400), path, cents, 8)
    }
    assert(err.getMessage.contains("grown corpus"))
  }

  test("appendToStoredHnswIndex: frozen metadata drives per-layer appends; appended vectors searchable") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-hnsw-append").toString
    val sp = spark
    import sp.implicits._
    val e = emb
    val old = e.filter(col("vec_id") % 2 === 0)
    val path = s"$tmp/h"
    // build on the OLD corpus; cents/conf metadata freeze at build time
    Similarity.writeHnswIndex(old, path, numFiles = 4, m = 8, levelBase = 4,
      maxLevel = 1, entryQuota = 2)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(sp.sparkContext.hadoopConfiguration)
    def layerSizes(l: Int): Map[String, Long] =
      sp.read.parquet(s"$path/layer-$l").inputFiles
        .map(f => f -> fs.getFileStatus(new org.apache.hadoop.fs.Path(f)).getLen)
        .toMap
    val sizes0 = layerSizes(0); val sizes1 = layerSizes(1)
    val expectedNew = e.filter(col("vec_id") % 2 === 1).count()
    val n = Similarity.appendToStoredHnswIndex(e, path)
    assert(n === expectedNew, s"appended $n, expected $expectedNew")
    // per-layer append-only: pre-existing files byte-identical
    layerSizes(0).foreach { case (f, len) => sizes0.get(f).foreach(l0 =>
      assert(l0 === len, s"layer-0 file $f changed")) }
    layerSizes(1).foreach { case (f, len) => sizes1.get(f).foreach(l0 =>
      assert(l0 === len, s"layer-1 file $f changed")) }
    // layer membership rule holds for appended nodes: odd ids never
    // satisfy vec_id % 4 == 0, so layer-1 gains nothing
    assert(layerSizes(1).keySet === sizes1.keySet, "layer-1 grew for odd ids")
    assert(sp.read.parquet(s"$path/layer-0")
      .filter(col("node_id") % 2 === 1).select(col("node_id"))
      .distinct().count() === n)
    // entries refreshed: odd-id entries appear (new per-cell minima)
    val entries = sp.read.parquet(s"$path/entries")
    assert(entries.filter(col("node_id") % 2 === 1).count() > 0,
      "entries file not refreshed with appended members")
    // appended vectors served from the stored index
    val q = e.filter(col("vec_id").isin(1L, 3L, 5L, 7L, 9L))
    val served = Similarity.hnswKnnStored(q, e, path, 3, beam = 16,
        roundsPerLayer = 1, baseRounds = 3, maxLevel = 1)
      .collect().map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1)
      .map { case (k2, v) => k2 -> v.map(_._2).toSet }
    val brute = Similarity.knn(q, e, 1)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    val hits = brute.count { case (qid, nn) => served.get(qid).exists(_(nn)) }
    assert(hits >= 3, s"only $hits/5 appended queries found their exact NN")
    // idempotent: same grown corpus again appends nothing
    assert(Similarity.appendToStoredHnswIndex(e, path) === 0L)
  }

  test("updateIvfSq8Index appends only absent vectors; two appends equal a full rebuild") {
    val e = emb
    val bounds = Similarity.sq8Bounds(e, "embedding")
    val cents = Similarity.kmeansCodebook(e, "vec_id", "embedding", 8)
      .zipWithIndex.map { case (c, i) => (i.toLong, c) }
    val part1 = e.filter(col("vec_id") % 3 === 0)
    val part2 = e.filter(col("vec_id") % 3 === 1)
    def rows(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Array[Byte]](2).toSeq)).toSet
    // two appends over a growing corpus == one full rebuild with the
    // same frozen (cents, bounds)
    val idx0 = Similarity.ivfSq8Index(part1, cents, bounds)
    val idx1 = Similarity.updateIvfSq8Index(part1.unionAll(part2), idx0, cents, bounds)
    val idx2 = Similarity.updateIvfSq8Index(e, idx1, cents, bounds)
    assert(rows(idx2) === rows(Similarity.ivfSq8Index(e, cents, bounds)),
      "appended index diverged from a full rebuild")
    // served results are identical too
    val q = e.filter(col("vec_id") < 5)
    def knnRows(idx: DataFrame) = Similarity
      .ivfSq8KnnFromIndex(q, idx, e, 3, 4, cents, bounds)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    assert(knnRows(idx2) === knnRows(Similarity.ivfSq8Index(e, cents, bounds)))
    // covered rows are never re-read: corrupt part1's embeddings in the
    // appended corpus — codes must still be idx0's originals
    val tampered = e.withColumn("embedding",
      when(col("vec_id") % 3 === 0,
        org.apache.spark.sql.functions.transform(col("embedding"), v => v * 100f))
        .otherwise(col("embedding")))
    val idxT = Similarity.updateIvfSq8Index(tampered, idx0, cents, bounds)
    val part1Rows = rows(idx0)
    assert(rows(idxT.join(part1.select(col("vec_id").cast("long").as("vec_id")),
      Seq("vec_id"), "left_semi")) === part1Rows,
      "append re-encoded already-covered vectors")
    // a no-new-vectors append is the identity
    assert(rows(Similarity.updateIvfSq8Index(part1, idx0, cents, bounds)) === part1Rows)
  }

  test("pq candidate scan reads the materialized codes, never the float column") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-pq-codes").toString
    val books = Similarity.pqCodebooksTrained(emb, "vec_id", "embedding", 16,
      kCodes = 64, iters = 2)
    emb.select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
      .join(Similarity.pqEncode(emb, "vec_id", "embedding", books), Seq("vec_id"))
      .write.mode("overwrite").parquet(s"$tmp/corpus")
    val tbl = spark.read.parquet(s"$tmp/corpus")
    val q = tbl.filter(col("vec_id") < 10).select("vec_id", "embedding")
    val aqeBefore = spark.conf.getOption("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val out = Similarity.pqKnnFromCodes(q, tbl.select("vec_id", "codes"),
        tbl.select("vec_id", "embedding"), books, 3, 16)
      val scans = out.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.requiredSchema.fieldNames.toSet
      }
      assert(scans.nonEmpty, "no file scans in the pq plan")
      assert(scans.exists(s => s.contains("codes") && !s.contains("embedding")),
        s"no codes-only scan: $scans")
      assert(scans.forall(s => !(s.contains("codes") && s.contains("embedding"))),
        s"a scan reads codes AND embeddings: $scans")
      // stored-code path is result-identical to recompute-from-floats
      val expect = Similarity.pqKnnTrained(q, tbl.select("vec_id", "embedding"),
        3, kCodes = 64, iters = 2)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      val got = out.collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      assert(got.sorted.toSeq === expect.sorted.toSeq)
    } finally aqeBefore match {
      case Some(v) => spark.conf.set("spark.sql.adaptive.enabled", v)
      case None => spark.conf.unset("spark.sql.adaptive.enabled")
    }
  }

  test("updatePqCodes appends only absent vectors; two appends equal a full rebuild") {
    val sp = spark; import sp.implicits._
    val e = emb.select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
    val books = Similarity.pqCodebooks(e, "vec_id", "embedding", 16)
    val part1 = e.filter(col("vec_id") < 1000)
    val part2 = e.filter(col("vec_id") < 3000)
    // tamper part1's embeddings in the second batch: covered rows must
    // come from the STORED codes, not be re-encoded
    val tampered = part2.as[(Long, Array[Float])]
      .map { case (id, v) =>
        (id, if (id < 1000) v.map(x => -x) else v)
      }.toDF("vec_id", "embedding")
    val base = Similarity.pqEncode(part1, "vec_id", "embedding", books)
    val updated = Similarity.updatePqCodes(tampered, base, books)
    val full = Similarity.pqEncode(part2, "vec_id", "embedding", books)
    def m(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
    assert(m(updated) === m(full),
      "incremental code append diverged from the full rebuild")
  }

  test("sq8 candidate scan reads the materialized codes, never the float column") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-sq8-codes").toString
    val bounds = Similarity.sq8Bounds(emb, "embedding")
    // one table holding BOTH the fat float column and the thin codes —
    // the deployment shape sq8Encode exists for
    emb.select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
      .join(Similarity.sq8Encode(emb, "vec_id", "embedding", bounds), Seq("vec_id"))
      .write.mode("overwrite").parquet(s"$tmp/corpus")
    val tbl = spark.read.parquet(s"$tmp/corpus")
    val q = tbl.filter(col("vec_id") < 10).select("vec_id", "embedding")

    // restore whatever was in effect before, not the Spark default
    val aqeBefore = spark.conf.getOption("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val out = Similarity.sq8KnnFromCodes(q,
        tbl.select("vec_id", "codes"), tbl.select("vec_id", "embedding"),
        3, 4, bounds)
      val scans = out.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.requiredSchema.fieldNames.toSet
      }
      assert(scans.nonEmpty, "no file scans in the sq8 plan")
      // the candidate scan: codes without embeddings
      assert(scans.exists(s => s.contains("codes") && !s.contains("embedding")),
        s"no codes-only scan: $scans")
      // and NO scan pays for both columns at once
      assert(scans.forall(s => !(s.contains("codes") && s.contains("embedding"))),
        s"a scan reads codes AND embeddings: $scans")

      // the bytes the two plans stream off storage: codes are 1 byte/dim
      // vs float32's 4 — the candidate scan must be a fraction of a
      // float scan of the same rows (footer-accounted chunk sizes, same
      // method as PruneBench)
      val conf = spark.sessionState.newHadoopConf()
      def bytes(fields: Set[String]): Long = graft.PruneBench.requiredBytes(
        s"$tmp/corpus", StructType(tbl.schema.filter(f => fields(f.name))), conf)
      val codeBytes = bytes(Set("vec_id", "codes"))
      val floatBytes = bytes(Set("vec_id", "embedding"))
      info(s"sq8 candidate scan: $codeBytes B (codes) vs $floatBytes B (floats)")
      assert(codeBytes < floatBytes / 2,
        s"code column not materially thinner: $codeBytes vs $floatBytes")

      // and the materialized-code path stays result-identical to the
      // recompute-from-floats convenience wrapper
      val expect = Similarity.sq8Knn(q, tbl.select("vec_id", "embedding"), 3)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      val got = out.collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      assert(got.sorted.toSeq === expect.sorted.toSeq)
    } finally aqeBefore match {
      case Some(v) => spark.conf.set("spark.sql.adaptive.enabled", v)
      case None => spark.conf.unset("spark.sql.adaptive.enabled")
    }
  }

  test("binaryKnn: huge candMult degrades to exact kNN; signatures pack signs exactly") {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val q = e.filter(col("vec_id") < 5)
    // candidate budget >= corpus: every row survives the Hamming screen,
    // so the exact rerank IS brute force — routing proven lossless
    val n = e.count().toInt
    val brute = Similarity.knnKernel(q, e, 3).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).sorted
    val degraded = Similarity.binaryKnn(q, e, 3, candMult = n).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).sorted
    assert(degraded.toSeq === brute.toSeq)
    // signature = sign bits, bit i of word i/64 ⟺ v(i) > 0, and an
    // identical vector is Hamming-0 — pack a hand-built case and check
    val sp = spark; import sp.implicits._
    val v = Array.tabulate(70)(i => if (i % 3 == 0) 1.5f else -0.5f)
    val sigs = Similarity.binarySignatures(
        Seq((1L, v)).toDF("vec_id", "embedding"), "vec_id", "embedding")
      .collect().map(r => r.getSeq[Long](1).toArray)
    assert(sigs.head.length === 2, "70 dims need two 64-bit words")
    (0 until 70).foreach { i =>
      val bit = (sigs.head(i >> 6) >> (i & 63)) & 1L
      assert((bit == 1L) === (v(i) > 0f), s"sign bit wrong at dim $i")
    }
  }

  test("MIPS differs from cosine where magnitude matters; augmentation reduces it to cosine") {
    val sp = spark; import sp.implicits._
    // query along (1, 0): cosine prefers the perfectly-aligned unit
    // vector (id 1), MIPS the long nearly-aligned one (id 2)
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(8.0f, 2.0f)),
      (3L, Array(0.0f, 5.0f))).toDF("vec_id", "embedding")
    val query = Seq((10L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val mips = Similarity.mipsKnn(query, corpus, 3).orderBy($"rank")
      .collect().map(_.getLong(2)).toSeq
    val cos = Similarity.knn(query, corpus, 3).orderBy($"rank")
      .collect().map(_.getLong(2)).toSeq
    assert(mips === Seq(2L, 1L, 3L), s"MIPS ranking wrong: $mips")
    assert(cos.head === 1L, s"cosine must prefer the aligned unit vector: $cos")
    // the reduction: cosine top-k on augmented vectors = MIPS top-k on
    // originals, for a spread of random queries/corpus
    val rnd = new scala.util.Random(42)
    def vec() = Array.fill(8)((rnd.nextDouble() * 4 - 2).toFloat)
    val bigC = (1L to 60L).map(i => (i, vec())).toDF("vec_id", "embedding")
    val bigQ = (101L to 110L).map(i => (i, vec())).toDF("vec_id", "embedding")
    val wantRanks = Similarity.mipsKnn(bigQ, bigC, 5)
      .select($"query_id", $"rank", $"neighbor_id")
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    val gotRanks = Similarity.knn(
        Similarity.mipsAugmentQueries(bigQ), Similarity.mipsAugmentCorpus(bigC), 5)
      .select($"query_id", $"rank", $"neighbor_id")
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(gotRanks === wantRanks,
      "augmented-cosine ranking diverged from inner-product ranking")
    // every augmented corpus vector sits on the sphere of radius M
    val norms = Similarity.mipsAugmentCorpus(bigC)
      .select(Similarity.norm($"embedding").as("n")).as[Double].collect()
    assert(norms.forall(n => math.abs(n - norms.max) < 1e-3),
      "augmented corpus must be equi-norm")
  }

  test("rp stored projections equal the inline index; append-only update equals re-encode") {
    val sp = spark; import sp.implicits._
    val e = emb
    val q = e.filter(col("vec_id") < 10)
    def rows(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
    val stored = rows(Similarity.rpKnnFromProjections(q, Similarity.rpEncode(e), e, 3)
      .orderBy($"query_id", $"rank"))
    val inline = rows(Similarity.rpKnn(q, e, 3).orderBy($"query_id", $"rank"))
    assert(stored === inline, "stored-projection path diverged from the inline index")
    // append-only maintenance: encode half, update with the full corpus,
    // must equal a from-scratch encode row-for-row
    val half = Similarity.rpEncode(e.filter($"vec_id" % 2 === 0))
    def projRows(df: DataFrame) = df.orderBy($"vec_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
    assert(projRows(Similarity.updateRpProjections(half, e)) ===
      projRows(Similarity.rpEncode(e)),
      "append-only projection update diverged from a full re-encode")
  }

  test("oversized query sets fail the broadcast contract loudly, bounded sets still work") {
    val sp = spark; import sp.implicits._
    // a "corpus passed as queries": MaxBroadcastQueries + 1 tiny vectors
    val over = spark.range(Similarity.MaxBroadcastQueries + 1L)
      .select($"id".as("vec_id"),
        array(lit(1.0f), ($"id" % 7).cast("float")).as("embedding"))
    val corpus = (1L to 10L)
      .map(i => (i, Array(i.toFloat, 1.0f))).toDF("vec_id", "embedding")
    Seq[(String, () => DataFrame)](
      ("knnKernel", () => Similarity.knnKernel(over, corpus, 3)),
      ("annKnnKernel", () => Similarity.annKnnKernel(over, corpus, 3)),
      ("binaryKnn", () => Similarity.binaryKnn(over, corpus, 3)),
      ("sq8Knn", () => Similarity.sq8Knn(over, corpus, 3)),
      ("cascadeKnn", () => Similarity.cascadeKnn(over, corpus, 3)),
      ("rpKnn", () => Similarity.rpKnn(over, corpus, 3)),
      ("ivfSq8Knn", () => Similarity.ivfSq8Knn(over, corpus, 3, centEvery = 5)),
      ("pqKnn", () => Similarity.pqKnn(over, corpus, 3, m = 2, centEvery = 5)),
      ("ivfPqKnn", () => Similarity.ivfPqKnn(over, corpus, 3, centEvery = 5, m = 2))).foreach {
      case (name, run) =>
        val e = intercept[IllegalArgumentException] { run().collect() }
        assert(e.getMessage.contains("MaxBroadcastQueries"),
          s"$name did not enforce the query-set bound: ${e.getMessage}")
    }
    // the bound is a ceiling, not a truncation: a set under it runs whole
    val okQ = (101L to 103L).map(i => (i, Array(1.0f, i.toFloat))).toDF("vec_id", "embedding")
    assert(Similarity.knnKernel(okQ, corpus, 3)
      .select($"query_id").distinct().count() === 3L)
  }

  test("mmrRerank trades relevance for diversity: near-dup of the top pick loses to a diverse doc") {
    val sp = spark; import sp.implicits._
    val q = Seq((100L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    // 1 and 2 are near-identical high-relevance docs; 3 is less relevant
    // but orthogonal-ish. Pure top-2 = {1, 2}; MMR step 2 must skip the
    // near-dup 2 and take 3.
    val corpus = Seq(
      (1L, Array(1.0f, 0.05f)),
      (2L, Array(1.0f, 0.06f)),
      (3L, Array(0.5f, 0.85f))).toDF("vec_id", "embedding")
    val knn2 = Similarity.knnKernel(q, corpus, 2)
      .orderBy($"rank").collect().map(_.getAs[Long]("neighbor_id"))
    assert(knn2.toSeq === Seq(1L, 2L), "relevance-only top-2 is the dup pair")
    val mmr = Similarity.mmrRerank(q, corpus, k = 2, nCandidates = 3, lambda = 0.3)
      .orderBy($"step").collect()
    assert(mmr.map(_.getAs[Long]("neighbor_id")).toSeq === Seq(1L, 3L),
      "MMR must pick the diverse doc at step 2")
    // step-1 objective is exactly λ·rel of the knn rank-1 row (decimal math)
    val rel1 = Similarity.knnKernel(q, corpus, 1).collect()(0).getAs[Double]("cs")
    val expect1 = new java.math.BigDecimal("0.3")
      .multiply(java.math.BigDecimal.valueOf(rel1)).doubleValue()
    assert(mmr(0).getAs[Double]("mmr") === expect1)
  }

  test("mmrRerank: lambda = 1 reduces to pure relevance ranking; short corpora cap at n") {
    val sp = spark; import sp.implicits._
    val q = Seq((100L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val corpus = Seq(
      (1L, Array(1.0f, 0.05f)),
      (2L, Array(1.0f, 0.06f)),
      (3L, Array(0.5f, 0.85f))).toDF("vec_id", "embedding")
    val pure = Similarity.mmrRerank(q, corpus, k = 5, nCandidates = 5, lambda = 1.0)
      .orderBy($"step").collect().map(_.getAs[Long]("neighbor_id"))
    val knn = Similarity.knnKernel(q, corpus, 5)
      .orderBy($"rank").collect().map(_.getAs[Long]("neighbor_id"))
    assert(pure.toSeq === knn.toSeq, "λ=1 must be the relevance order")
    // k > corpus: emits exactly n = 3 steps, no padding, no crash
    assert(pure.length === 3)
  }

  test("stored NSW graph serves byte-identical results reading only the frontier's files") {
    val sp = spark; import sp.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-nsw-stored").toString
    val e = emb
    val q = e.filter(col("vec_id") < 5)
    val g = Similarity.nswGraph(e, m = 6)
    Similarity.writeNswGraph(g, s"$tmp/graph", numFiles = 8)
    val allFiles = spark.read.parquet(s"$tmp/graph").inputFiles.toSet
    assert(allFiles.size >= 6, s"layout produced too few files: ${allFiles.size}")
    // a beam-sized frontier prunes to a strict subset of the graph files
    val someNodes = spark.read.parquet(s"$tmp/graph")
      .select(col("node_id")).distinct().orderBy(col("node_id"))
      .limit(4).as[Long].collect().toIndexedSeq
    val pruned = Similarity.readCellIndex(spark, s"$tmp/graph", someNodes, "node_id")
    val touched = pruned.inputFiles.toSet
    assert(touched.nonEmpty && touched.subsetOf(allFiles) && touched.size < allFiles.size,
      s"frontier read did not prune files: ${touched.size} of ${allFiles.size}")
    // and the pruned rows equal a full scan + membership filter
    def edges(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(edges(pruned) === edges(spark.read.parquet(s"$tmp/graph")
        .filter(col("node_id").isInCollection(someNodes))),
      "manifest-pruned edges diverged from a full scan + filter")
    // served search is byte-identical to the in-memory graph path —
    // same entries, same rounds, same beam
    val entries = e.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").cast("long").as("node_id"))
    def rows(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    val stored = Similarity.nswKnnStored(
      q, e, s"$tmp/graph", entries, 3, beam = 8, rounds = 3)
    val inMem = Similarity.nswKnnOn(q, e, g, entries, 3, beam = 8, rounds = 3)
    assert(rows(stored) === rows(inMem),
      "stored-graph beam search diverged from the in-memory path")
  }

  test("stored HNSW index serves byte-identical results reading per-layer file subsets") {
    val sp = spark; import sp.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-hnsw-stored").toString
    val e = emb
    val q = e.filter(col("vec_id") < 5)
    Similarity.writeHnswIndex(e, s"$tmp/idx", numFiles = 8, m = 6,
      levelBase = 4, maxLevel = 2)
    // every layer landed, upper layers with proportionally fewer files
    val l0Files = spark.read.parquet(s"$tmp/idx/layer-0").inputFiles.toSet
    assert(l0Files.size >= 6, s"layer-0 has too few files: ${l0Files.size}")
    assert(spark.read.parquet(s"$tmp/idx/layer-2").count() >= 0) // exists
    // a beam-sized probe prunes layer-0 to a strict file subset with
    // rows identical to a full scan + membership filter
    val someNodes = spark.read.parquet(s"$tmp/idx/layer-0")
      .select(col("node_id")).distinct().orderBy(col("node_id"))
      .limit(4).as[Long].collect().toIndexedSeq
    val pruned = Similarity.readCellIndex(spark, s"$tmp/idx/layer-0",
      someNodes, "node_id")
    val touched = pruned.inputFiles.toSet
    assert(touched.nonEmpty && touched.subsetOf(l0Files) &&
      touched.size < l0Files.size,
      s"probe did not prune layer-0 files: ${touched.size} of ${l0Files.size}")
    def edges(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(edges(pruned) === edges(spark.read.parquet(s"$tmp/idx/layer-0")
        .filter(col("node_id").isInCollection(someNodes))),
      "manifest-pruned layer edges diverged from a full scan + filter")
    // served search is byte-identical to the in-memory layered path at
    // the same frozen parameters
    def rows(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    val stored = Similarity.hnswKnnStored(q, e, s"$tmp/idx", 3, beam = 8,
      roundsPerLayer = 1, baseRounds = 3, maxLevel = 2)
    val inMem = Similarity.hnswKnn(q, e, 3, m = 6, beam = 8,
      roundsPerLayer = 1, baseRounds = 3, levelBase = 4, maxLevel = 2)
    assert(rows(stored) === rows(inMem),
      "stored-index layered search diverged from the in-memory path")
  }

  test("nswKnn: rounds=0 is exact kNN over the entry layer; rounds only add visited nodes") {
    val sp = spark; import sp.implicits._
    val e = emb
    val q = e.filter(col("vec_id") < 5)
    val g = Similarity.nswGraph(e, m = 6)
    def rows(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    // rounds=0 never touches the graph: it IS brute-force kNN restricted
    // to the sampled entry rows
    val r0 = Similarity.nswKnn(q, e, g, 3, beam = 4, rounds = 0)
    val entryIds = e.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").cast("long")).as[Long].collect().toSet
    val brute = Similarity.knnKernel(q, e.filter(col("vec_id").isInCollection(entryIds)), 3)
    assert(rows(r0) === rows(brute),
      "rounds=0 nsw diverged from brute force over the entry layer")
    // determinism: identical call → identical bytes
    assert(rows(Similarity.nswKnn(q, e, g, 3, beam = 4, rounds = 2)) ===
      rows(Similarity.nswKnn(q, e, g, 3, beam = 4, rounds = 2)))
    // more rounds only improve (never hurt) each query's best score:
    // visited sets grow monotonically, so the top-1 cosine is monotone
    val best0 = r0.filter(col("rank") === 1)
      .select(col("query_id"), col("cs")).as[(Long, Double)].collect().toMap
    val best2 = Similarity.nswKnn(q, e, g, 3, beam = 4, rounds = 2)
      .filter(col("rank") === 1)
      .select(col("query_id"), col("cs")).as[(Long, Double)].collect().toMap
    best0.foreach { case (qid, cs0) =>
      assert(best2(qid) >= cs0 - 1e-9,
        s"beam rounds made query $qid WORSE: ${best2(qid)} < $cs0")
    }
    // hnsw with no expansion anywhere degrades to exact kNN over the
    // entry set (whole top layer ∪ per-cell minimum for coverage)
    val entCells = {
      val cents = e.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").cast("long"), col("embedding"))
        .as[(Long, Array[Float])].collect().sortBy(_._1)
      val asg = e.select(col("vec_id").cast("long"), col("embedding"))
        .as[(Long, Array[Float])].collect().map { case (id, v) =>
          val best = cents.map { case (cid, ce) =>
            (cid, Similarity.cosineKernel(v, ce)) }
            .maxBy { case (cid, cs) => (cs, -cid) }._1
          (id, best)
        }
      val top = asg.filter(_._1 % 16 == 0).map(_._1)
      // default entryQuota = 4: the four lowest ids per cell
      val all = asg.groupBy(_._2)
        .flatMap(_._2.map(_._1).toSeq.sorted.take(4))
      (top ++ all).toSet
    }
    val flat = Similarity.hnswKnn(q, e, 3, m = 6, beam = 4,
      roundsPerLayer = 0, baseRounds = 0, levelBase = 4, maxLevel = 2)
    assert(rows(flat) === rows(Similarity.knnKernel(
        q, e.filter(col("vec_id").isInCollection(entCells)), 3)),
      "hnsw with no rounds diverged from exact kNN over the entry quota set")
    // determinism under repartitioning, layered
    val h1 = Similarity.hnswKnn(q, e, 3, m = 6, beam = 4,
      roundsPerLayer = 2, baseRounds = 3, levelBase = 4, maxLevel = 2)
    val h2 = Similarity.hnswKnn(q, e.repartition(7), 3, m = 6, beam = 4,
      roundsPerLayer = 2, baseRounds = 3, levelBase = 4, maxLevel = 2)
    assert(rows(h1) === rows(h2), "hnsw result depends on partitioning")
    // rounds only widen the explored region: per-query best score is
    // monotone in the visited set, and the layered descent's visited set
    // contains the no-rounds seed's (same entries, extra rounds)
    val topOnly = flat
    val b0 = topOnly.filter(col("rank") === 1)
      .select(col("query_id"), col("cs")).as[(Long, Double)].collect().toMap
    val bL = h1.filter(col("rank") === 1)
      .select(col("query_id"), col("cs")).as[(Long, Double)].collect().toMap
    b0.foreach { case (qid, cs0) =>
      assert(bL(qid) >= cs0 - 1e-9,
        s"layered descent made query $qid WORSE: ${bL(qid)} < $cs0")
    }
    // hard degree bound: reverse edges are added for navigability, then
    // every node keeps only its 2m nearest (in-degree is unbounded on
    // hubby data; an uncapped hub explodes every frontier join at scale)
    val gRows = g.as[(Long, Long)].collect().toSet
    val maxDeg = gRows.groupBy(_._1).values.map(_.size).max
    assert(maxDeg <= 12, s"degree bound violated: $maxDeg > 2m")
    // reverse edges genuinely entered the pool: some node keeps a
    // neighbor that did not pick it in its own top-m (strictly more
    // than a pure kNN digraph would allow is not guaranteed per-node,
    // but the edge SET must not be the raw forward kNN)
    assert(gRows.nonEmpty)
  }

  test("updateNswGraph: no-op on present nodes, degree-capped, every append enters, recall holds") {
    val sp = spark; import sp.implicits._
    val e = emb
    val m = 8
    // FROZEN centroids from the initial half (the updateIvfSq8Index
    // convention): appends never re-cell old nodes
    val cents = Similarity.kmeansCodebook(
        e.filter(col("vec_id") % 2 === 0), "vec_id", "embedding", 8)
      .zipWithIndex.map { case (c, i) => (i.toLong, c) }
    val part1 = e.filter(col("vec_id") % 2 === 0)
    val g1 = Similarity.nswGraphOn(part1, cents, m)
    def edges(g: DataFrame) = g.as[(Long, Long)].collect().toSet
    // appending an already-indexed corpus is an EXACT no-op
    assert(edges(Similarity.updateNswGraph(g1, part1, cents, m)) === edges(g1))
    // append the other half
    val g2 = Similarity.updateNswGraph(g1, e, cents, m)
    val e2 = edges(g2)
    val nodes2 = e2.map(_._1) ++ e2.map(_._2)
    val allIds = e.select(col("vec_id").cast("long")).as[Long].collect().toSet
    assert(allIds.subsetOf(nodes2), s"${(allIds -- nodes2).size} appended nodes never entered")
    // degree bound survives the insert + re-cap
    val maxDeg = e2.groupBy(_._1).values.map(_.size).max
    assert(maxDeg <= 2 * m, s"append broke the degree bound: $maxDeg > ${2 * m}")
    // old nodes that gained nothing are untouched
    val touched = edges(g2).diff(edges(g1)).map(_._1)
    val old1 = edges(g1).groupBy(_._1)
    val old2 = edges(g2).groupBy(_._1)
    old1.keys.filterNot(touched).foreach { n =>
      assert(old2(n) === old1(n), s"untouched node $n changed edges")
    }
    // the appended graph SERVES: beam search over it matches the
    // rebuilt graph's recall floor on the same entries
    val q = e.filter(col("vec_id") < 10)
    val exact = Similarity.knnKernel(q, e, 3)
    val entries = e.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").cast("long").as("node_id"))
    def rec(g: DataFrame): Double = Similarity.recallAtK(
        Similarity.nswKnnOn(q, e, g, entries, 3, beam = 12, rounds = 4), exact, 3)
      .agg(avg(col("recall"))).collect().head.getDouble(0)
    val rebuilt = Similarity.nswGraphOn(e, cents, m)
    val recAppended = rec(g2); val recRebuilt = rec(rebuilt)
    info(f"nsw append recall=$recAppended%.3f rebuilt=$recRebuilt%.3f")
    assert(recAppended >= recRebuilt - 0.15,
      f"appended graph recall $recAppended%.3f fell >0.15 below rebuilt $recRebuilt%.3f")
  }

  test("updateNswGraph rejects a delta-only corpus loudly (grown-corpus contract)") {
    val e = emb
    val cents = Similarity.kmeansCodebook(
        e.filter(col("vec_id") % 2 === 0), "vec_id", "embedding", 8)
      .zipWithIndex.map { case (c, i) => (i.toLong, c) }
    val part1 = e.filter(col("vec_id") % 2 === 0)
    val g1 = Similarity.nswGraphOn(part1, cents, 8)
    // passing only the appended half would link new nodes solely among
    // themselves — the guard must throw, not silently degrade recall
    val ex = intercept[IllegalArgumentException] {
      Similarity.updateNswGraph(g1, e.filter(col("vec_id") % 2 === 1), cents, 8)
    }
    assert(ex.getMessage.contains("grown"))
  }

  test("cascadeKnn degrades to exact kNN under full budgets; recall floor holds at tight ones") {
    val sp = spark; import sp.implicits._
    val e = emb
    val q = e.filter($"vec_id" < 10)
    val n = e.count().toInt
    // budgets >= corpus: every stage passes everything through -> exact
    val full = Similarity.cascadeKnn(q, e, k = 3,
        c1Mult = n, c2Mult = n, candFraction = 1.0)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    val exact = Similarity.knnKernel(q, e, 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    assert(full === exact, "full-budget cascade must equal exact kNN")
    // production budgets: the three-cut cascade keeps the binary floor
    // (stage 2 can only REFINE the stage-1 candidate ordering)
    val tight = Similarity.cascadeKnn(q, e, k = 3)
    val rec = Similarity.recallAtK(tight, Similarity.knnKernel(q, e, 3), 3)
      .agg(org.apache.spark.sql.functions.avg($"recall")).collect()(0).getDouble(0)
    assert(rec >= 0.666, s"cascade recall@3 fell below the binary floor: $rec")
  }

  test("mmrRerankFrom composes with any neighbor frame and matches the exact path on its own") {
    val sp = spark; import sp.implicits._
    val e = emb
    val q = e.filter($"vec_id" < 5)
    val exact = Similarity.mmrRerank(q, e, k = 4, nCandidates = 10)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    val fromExact = Similarity.mmrRerankFrom(
        Similarity.knnKernel(q, e, 10), e, k = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    assert(fromExact === exact, "mmrRerankFrom(knnKernel) must equal mmrRerank")
    // an ANN candidate source plugs in unchanged: same schema, valid greedy
    val fromIvf = Similarity.mmrRerankFrom(
        Similarity.ivfKnn(q, e, k = 10), e, k = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(fromIvf.map(_._1).distinct.length === 5)
    fromIvf.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.map(_._2).sorted.toSeq === (1 to 4) &&
        rows.map(_._3).distinct.length === 4)
    }
  }

  test("DataFrame tombstone feed is read-equivalent to the Seq path") {
    val sp = spark; import sp.implicits._
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-df-tombstones").toString
    val e = emb
    val q = e.filter(col("vec_id") < 5)
    val bounds = Similarity.sq8Bounds(e, "embedding")
    val cents = Similarity.kmeansCodebook(e, "vec_id", "embedding", 8)
      .zipWithIndex.map { case (c, i) => (i.toLong, c) }
    val index = Similarity.ivfSq8Index(e, cents, bounds)
    val pSeq = s"$tmp/seq"; val pDf = s"$tmp/df"
    Similarity.writeCellIndex(index, pSeq, numFiles = 4,
      zoneCols = Seq("vec_id"))
    Similarity.writeCellIndex(index, pDf, numFiles = 4,
      zoneCols = Seq("vec_id"))
    val dels = Seq(7L, 11L, 23L, 23L) // duplicate: dedup happens at read
    Similarity.writeCellTombstones(spark, pSeq, dels)
    // the distributed feed: same ids as a 1-col frame, plus a NULL row
    // (a CDC feed's deleted-key column can be nullable) and an extra
    // append of a duplicate — nulls strip at write, dups dedup at read
    val feed = (dels.map(java.lang.Long.valueOf) :+
      null.asInstanceOf[java.lang.Long]).toDF("id")
    Similarity.writeCellTombstones(pDf, feed)
    Similarity.writeCellTombstones(pDf, Seq(11L).toDF("again"))
    // sidecar schema identical to the Seq path (one LONG vec_id column)
    val sSeq = spark.read.parquet(s"$pSeq/${Similarity.TombstoneDir}").schema
    val sDf = spark.read.parquet(s"$pDf/${Similarity.TombstoneDir}").schema
    assert(sDf.fieldNames.toSeq === sSeq.fieldNames.toSeq &&
      sDf.fields.map(_.dataType).toSeq === sSeq.fields.map(_.dataType).toSeq,
      s"sidecar schema diverged: $sDf vs $sSeq")
    assert(Similarity.readCellTombstoneIds(spark, pDf) ===
      Similarity.readCellTombstoneIds(spark, pSeq))
    // served answers byte-identical across the two ingestion paths
    def rows(path: String) = Similarity.ivfSq8KnnFromStoredIndex(
        q, path, e, 3, 2, cents, bounds).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(rows(pDf) === rows(pSeq),
      "DataFrame-fed tombstones served differently from Seq-fed")
    // graph mirror writes the node_id sidecar column
    val pG = s"$tmp/g"
    new java.io.File(pG).mkdirs()
    Similarity.writeGraphTombstones(pG, Seq(3L).toDF("node"))
    val gCols = spark.read.parquet(s"$pG/${Similarity.TombstoneDir}")
      .columns.toSeq
    assert(gCols === Seq("node_id"), s"graph sidecar columns: $gCols")
    // a two-column feed is a loud error, not a silent guess
    intercept[IllegalArgumentException] {
      Similarity.writeCellTombstones(pDf,
        Seq((1L, 2L)).toDF("a", "b"))
    }
  }

  test("mmrRerank is deterministic under corpus repartitioning") {
    val sp = spark; import sp.implicits._
    val e = emb
    def run(parts: Int) = Similarity.mmrRerank(
        e.filter($"vec_id" < 5), e.repartition(parts), k = 4, nCandidates = 10)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .sortBy(x => (x._1, x._2))
    val a = run(1)
    assert(a.nonEmpty && a.toSeq === run(9).toSeq)
    // every query emits exactly k distinct picks
    a.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.length === 4 && rows.map(_._3).distinct.length === 4)
    }
  }

  test("graph-ANN search releases every block except the ones its result holds") {
    val sc = spark.sparkContext
    val e = emb
    val q = e.filter(col("vec_id") < 5)
    val g = Similarity.nswGraph(e, m = 6)
    for (rounds <- Seq(0, 1, 3))
      ReleaseCheck.check(sc, s"nswKnn rounds=$rounds")(
        Similarity.nswKnn(q, e, g, 3, beam = 4, rounds = rounds))
    ReleaseCheck.check(sc, "hnswKnn")(Similarity.hnswKnn(q, e, 3, m = 6,
      beam = 8, roundsPerLayer = 1, baseRounds = 3, levelBase = 4, maxLevel = 2))
  }
}
