package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Similarity search over an embedding column (`array<float>`).
  *
  * Brute-force cosine top-k is the exact baseline (O(Q×N) — fine when the
  * query side is small and broadcastable). The LSH (random hyperplane)
  * variant is the scale path: bucket both sides, equi-join on bucket, and
  * rerank candidates exactly — shuffle ∝ bucket collisions, not Q×N.
  *
  * All arithmetic is double-precision Column expressions folded in array
  * order, with cosine rounded to 6 decimals so results are reproducible
  * across engines (the DuckDB oracle mirrors the same math).
  *
  * ANN pipeline. Every quantized or cell-routed index is one composition
  * `cells → code scan → candidate cut → exact rerank` (the FAISS
  * index-factory shape, `IVFx,SQ8` / `IVFx,PQy`, over Jégou et al.'s
  * product quantization), built from plain private stage functions so
  * each decision lives in one place:
  *
  *   - cells: [[sampledCells]] (every `centEvery`-th id with a non-null
  *     embedding, id-sorted), [[autoProbes]], [[nearestCell]] (argmax
  *     cosine, ties to the first = lower id) and [[probeCells]] (the
  *     `probes` best cells, `(cs desc, cid asc)`);
  *   - code kernels: [[sq8Code]]/[[sq8Decode]], [[signBits]] with one
  *     [[hammingScan]], and for PQ [[pqNearestCodes]] (round-6 L2, ties to
  *     the lower code id), [[adcTables]]/[[adcScore]] and the Lloyd
  *     trainer [[lloydBooks]] (unrounded squared L2 via [[lloydNearest]]);
  *   - candidates and rerank: [[rerankBudget]]
  *     (`max(k·candMult, ceil(f·N))`), [[topCandidates]] (the per-query
  *     cut), [[exactRerank]] (exact cosine on the survivors) and
  *     [[rankTopK]] (the final `rank <= k` window every path ends in).
  *
  * Compositions: [[sq8Knn]]/[[sq8KnnFromCodes]] = SQ8 scan → cut →
  * rerank; [[binaryKnnFromSigs]] = Hamming scan → budget cut → rerank;
  * [[cascadeKnn]] = Hamming cut → SQ8 cut → rerank; [[rpKnnFromProjections]]
  * = projected scan → budget cut → rerank; [[pqKnnFromCodes]] = ADC scan →
  * cut → rerank; [[ivfKnn]]/[[ivfKnnCodebook]] = cells → probed-cell
  * exact scoring → [[rankTopK]]; [[ivfSq8KnnFromIndex]] = probed cells →
  * SQ8 scan → cut → rerank; [[ivfPqKnn]]/[[ivfPqKnnTrained]] = cells → PQ
  * encode + ADC → cut → rerank; [[ivfAdcKnnTrained]] = cells → residual
  * PQ + ADC → cut → rerank. [[knn]], [[annKnn]], [[knnKernel]] and
  * [[annKnnKernel]] score directly and end in [[rankTopK]]. The graph
  * indexes ([[nswGraph]], [[hnswKnn]], [[writeHnswIndex]]) and
  * [[semanticDedup]] share the cell stages only.
  */
object Similarity {

  /** Hard bound on the DRIVER-SIDE query set every kernel ANN index
    * accepts (the kNN-probe shape broadcasts the query side). A caller
    * passing a corpus as the query side would otherwise OOM the driver
    * silently at scale — past this bound the index fails LOUDLY with a
    * pointer at the distributed-join alternatives ([[knn]] /
    * [[nearDupPairs]] / [[cosinePairsBlocked]]), whose shuffles scale
    * with the data instead of the driver heap. 2^16 query vectors ×
    * ~1 KiB each ≈ 64 MiB broadcast — the practical broadcast ceiling. */
  val MaxBroadcastQueries: Int = 1 << 16

  /** Bounded driver-side materialization of the query side, shared by
    * every kernel index. Reads at most [[MaxBroadcastQueries]] + 1 rows
    * (never the whole oversized set) before failing the contract. */
  private[operators] def collectQueryVectors(
      queries: DataFrame): Array[(Long, Array[Float])] = {
    val sp = queries.sparkSession
    import sp.implicits._
    val qs = queries.select(col("vec_id").cast("long"), col("embedding"))
      .filter(col("vec_id").isNotNull && col("embedding").isNotNull)
      .limit(MaxBroadcastQueries + 1)
      .as[(Long, Array[Float])].collect()
    require(qs.length <= MaxBroadcastQueries,
      s"ANN query set exceeds MaxBroadcastQueries=$MaxBroadcastQueries vectors; " +
        "the broadcast-query index shape collects the query side to the driver. " +
        "For corpus-sized query sets use the distributed join paths instead " +
        "(Similarity.knn top-k join, nearDupPairs, cosinePairsBlocked).")
    qs
  }

  private def d(c: Column): Column = transform(c, _.cast(DoubleType))

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(d(a), d(b), (x, y) => x * y), lit(0.0), (s, v) => s + v)

  def norm(a: Column): Column =
    sqrt(aggregate(transform(d(a), x => x * x), lit(0.0), (s, v) => s + v))

  /** Cosine similarity rounded to 6 decimals (cross-engine reproducible);
    * zero-norm vectors have similarity 0 by definition (a division would
    * throw under ANSI mode / produce NaN in the kernel). */
  def cosine(a: Column, b: Column): Column =
    when(norm(a) === 0.0 || norm(b) === 0.0, lit(0.0))
      .otherwise(round(dot(a, b) / (norm(a) * norm(b)), 6))

  /** [[cosine]] through the native codegen
    * [[graft.functions.CosineSimilarity]] expression — bit-identical to
    * the HOF formulation for `array<float>` inputs
    * (CosineSimilaritySpec pins it) at a fraction of the cost: the HOF
    * path runs five interpreted per-element lambda aggregates per pair,
    * the native kernel one fused loop inside whole-stage codegen.
    * Float-only by ANALYSIS check — the library's embedding contract
    * (every index path already encodes via `Array[Float]`). Internal
    * scoring joins use this; the HOF stays the engine-portable
    * reference formulation any numeric array type can run. */
  def cosineF(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.CosineSimilarity(
        org.apache.spark.sql.graft.ColumnBridge.expression(a),
        org.apache.spark.sql.graft.ColumnBridge.expression(b)))

  /** Exact top-k neighbors for each query vector (brute force; broadcast
    * the query side — it is the small side by construction). */
  def knn(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = broadcast(queries.select(col("vec_id").as("query_id"), col("embedding").as("qe")))
    val c = corpus.select(col("vec_id").as("neighbor_id"), col("embedding").as("ce"))
    rankTopK(q.join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("cs", cosineF(col("qe"), col("ce"))), k)
  }

  /** Exact MAX-INNER-PRODUCT top-k (MIPS — the recommendation-scoring
    * semantic, where vector MAGNITUDE matters: a popular item's long
    * vector should outrank a niche item cosine would prefer). Same
    * broadcast-query brute-force shape as [[knn]], ranked on the raw
    * dot product rounded to 6. */
  def mipsKnn(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = broadcast(queries.select(col("vec_id").as("query_id"), col("embedding").as("qe")))
    val c = corpus.select(col("vec_id").as("neighbor_id"), col("embedding").as("ce"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("ip").desc, col("neighbor_id"))
    q.join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("ip", round(dot(col("qe"), col("ce")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("ip"))
  }

  /** MIPS → unit-sphere reduction (Bachrach et al. 2014, "Speeding up
    * the Xbox recommender"): append one coordinate
    * `sqrt(M² − ‖v‖²)` to every corpus vector (M = max corpus norm)
    * and `0` to every query. Then `dot(q_aug, v_aug) = dot(q, v)` and
    * `‖v_aug‖ = M` for ALL corpus vectors, so COSINE ranking on the
    * augmented vectors equals inner-product ranking on the originals —
    * which means every cosine ANN index in this library
    * ([[ivfKnnTrained]], [[ivfSq8Knn]], PQ, binary…) serves MIPS
    * unchanged: augment once at build time, search with cosine. M² is
    * a one-row aggregate broadcast back; the append is map-only.
    *
    * Precision caveat: the augmented coordinate is stored as FLOAT (the
    * corpus embedding element type), so augmented norms equal M only up
    * to float rounding (~1e-3 relative) — ranking equality vs
    * [[mipsKnn]] holds up to that rounding, and near-exact inner-product
    * ties can swap order. Exact-MIPS callers should use [[mipsKnn]];
    * the augmentation exists to reuse the approximate cosine indexes. */
  def mipsAugmentCorpus(corpus: DataFrame): DataFrame = {
    val n2 = aggregate(transform(d(col("embedding")), x => x * x),
      lit(0.0), (s, v) => s + v)
    val m2 = corpus.agg(max(n2).as("_graft_m2"))
    corpus.crossJoin(broadcast(m2))
      .select(col("vec_id"),
        concat(col("embedding"),
          array(sqrt(greatest(col("_graft_m2") - n2, lit(0.0))).cast("float")))
          .as("embedding"))
  }

  /** Query-side twin of [[mipsAugmentCorpus]]: append a literal 0, so
    * the augmented coordinate never contributes to any dot product. */
  def mipsAugmentQueries(queries: DataFrame): DataFrame =
    queries.select(col("vec_id"),
      concat(col("embedding"), array(lit(0.0f))).as("embedding"))

  /** Random-hyperplane LSH bucket id over `planes` hyperplanes of `dims`
    * components, each component a deterministic ±1 drawn from md5 parity
    * of "plane_dim" — reproducible anywhere, no stored model.
    * `dims` must not exceed the vector length (ANSI element_at throws
    * past the end). */
  def lshBucket(vec: Column, planes: Int, dims: Int): Column = {
    val vd = d(vec)
    (0 until planes).map { j =>
      val dotJ = aggregate(sequence(lit(1), lit(dims)), lit(0.0),
        (acc, i) => acc + element_at(vd, i) *
          when(conv(substring(md5(concat(lit(s"${j}_"), i.cast("string"))), 1, 8), 16, 10)
            .cast("long") % 2 === 0, lit(1.0)).otherwise(lit(-1.0)))
      when(dotJ >= 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** All XOR masks over `planes` bits with at most `probeBits` bits set —
    * the multi-probe neighborhood of a bucket (mask 0 = the bucket
    * itself). Sorted, deterministic; count = Σ C(planes, 0..probeBits). */
  def probeMasks(planes: Int, probeBits: Int): Seq[Long] =
    (0L until (1L << planes))
      .filter(m => java.lang.Long.bitCount(m) <= probeBits).sorted

  /** Approximate top-k: candidates share an LSH bucket (MULTI-PROBE: the
    * query side also probes every bucket within `probeBits` bit flips of
    * its own — the standard recall fix for hyperplane LSH, since a true
    * neighbor's most likely miss is disagreeing on exactly one
    * hyperplane), then exact cosine rerank. Recall < 1 by design; the
    * win is the equi-join shape: the QUERY side fans out
    * Σ C(planes, 0..probeBits) probe rows (small side by contract), the
    * corpus side stays one row per vector, and (query, neighbor) pairs
    * stay unique because a corpus row has exactly one bucket. */
  def annKnn(queries: DataFrame, corpus: DataFrame, k: Int,
      planes: Int = 6, dims: Int = 64, probeBits: Int = 2): DataFrame = {
    require(probeBits >= 0 && probeBits <= planes, "probeBits out of range")
    val masks = probeMasks(planes, probeBits)
    // stage the (expensive) bucket expression once per query row, THEN
    // fan out the probe masks — not one lshBucket evaluation per mask
    val q = broadcast(queries
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        lshBucket(col("embedding"), planes, dims).as("_graft_qb"))
      .select(col("query_id"), col("qe"),
        explode(array(masks.map(m =>
          col("_graft_qb").bitwiseXOR(lit(m))): _*)).as("bucket")))
    val c = corpus.select(col("vec_id").as("neighbor_id"), col("embedding").as("ce"),
      lshBucket(col("embedding"), planes, dims).as("bucket"))
    rankTopK(q.join(c, Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cs", cosineF(col("qe"), col("ce"))), k)
  }

  /** Scalar-quantization (SQ8) ANN: compress every corpus vector to one
    * byte per dimension — per-dimension corpus `[min, max]` split into
    * 256 levels — score all query×corpus pairs asymmetrically (exact
    * query against the RECONSTRUCTED cell-midpoint corpus vector), keep
    * the top `k·candMult` candidates per query, and rerank only those
    * with the exact cosine.
    *
    * The 100 TB story: the hot scan streams codes at 1/4 the bytes of
    * float32 (the production win of SQ8 — memory bandwidth, not fewer
    * comparisons), the exact vectors are touched only for the few
    * candidates that survive, and the "codebook" is 2×dims doubles — a
    * planning-time collect measured in bytes (same contract as the IVF
    * codebook). Queries broadcast (small side by contract, as in
    * [[knn]]). Determinism: quantize/reconstruct is fixed-order double
    * arithmetic, approximate scores round to 6 decimals with id
    * tiebreak, so candidate sets — and results — are engine-portable. */
  def sq8Knn(queries: DataFrame, corpus: DataFrame, k: Int, candMult: Int = 4)
      : DataFrame = {
    val bounds = sq8Bounds(corpus, "embedding")
    sq8KnnFromCodes(queries, sq8Encode(corpus, "vec_id", "embedding", bounds),
      corpus, k, candMult, bounds)
  }

  /** Per-dimension corpus `[min, span]` for SQ8 — the "codebook" is
    * 2×dims doubles, a planning-time collect measured in bytes (same
    * contract as the IVF codebook). */
  def sq8Bounds(corpus: DataFrame, vecCol: String): (Array[Double], Array[Double]) = {
    val stats = corpus
      .select(posexplode(d(col(vecCol))).as(Seq("dim", "x")))
      .groupBy(col("dim")).agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .orderBy(col("dim")).collect()
    (stats.map(_.getDouble(1)), stats.map(r => r.getDouble(2) - r.getDouble(1)))
  }

  /** MATERIALIZE the SQ8 code column: one `binary` byte per dimension,
    * `code_i = clamp(floor((x_i - mn_i) / span_i * 256), 0, 255)`. Write
    * this next to the corpus once; every ANN scan then streams codes at
    * 1/4 the bytes of float32 — the production win of SQ8 is memory/IO
    * bandwidth on the hot scan, and it only exists if the codes are a
    * real stored column rather than recomputed from the floats. Output:
    * `(vec_id, codes binary)`; map-only, no shuffle. */
  def sq8Encode(corpus: DataFrame, idCol: String, vecCol: String,
      bounds: (Array[Double], Array[Double])): DataFrame = {
    val sp = corpus.sparkSession
    import sp.implicits._
    val bc = sp.sparkContext.broadcast(bounds)
    idVectors(corpus, idCol, vecCol)
      .mapPartitions { it =>
        val (m, s) = bc.value
        it.map { case (id, v) => (id, sq8Code(v, m, s)) }
      }.toDF("vec_id", "codes")
  }

  /** SQ8 ANN over a MATERIALIZED code column (see [[sq8Encode]]): the
    * candidate scan reads `(vec_id, codes)` ONLY — never the float
    * embeddings — decodes each row to the cell midpoint in a tight
    * kernel, scores all broadcast queries asymmetrically, keeps the top
    * `k·candMult` per query, and touches `corpus`'s exact vectors just
    * for those survivors (an equi-join on the candidate ids). Scores are
    * bit-identical to the Column formulation (double arithmetic in array
    * order, round-6, id tiebreak), so results are engine-portable. */
  def sq8KnnFromCodes(queries: DataFrame, codes: DataFrame, corpus: DataFrame,
      k: Int, candMult: Int, bounds: (Array[Double], Array[Double])): DataFrame = {
    require(k >= 1, "k must be positive")
    require(candMult >= 1, "candMult must be positive")
    val sp = corpus.sparkSession
    import sp.implicits._
    val qCollected = collectQueryVectors(queries)
    val qb = sp.sparkContext.broadcast(qCollected)
    val bb = sp.sparkContext.broadcast(bounds)
    // quantized scan: codes only — 1 byte/dim off storage
    val approxScores = codes.select(col("vec_id").cast("long"), col("codes"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        val qs = qb.value
        val (m, s) = bb.value
        it.flatMap { case (nid, cd) =>
          // decode the midpoint once per corpus row, score every query
          val rec = sq8Decode(cd, m, s)
          qs.iterator.filter(_._1 != nid).map { case (qid, qv) =>
            (qid, nid, cosineKernelFD(qv, rec))
          }
        }
      }.toDF("query_id", "neighbor_id", "acs")
    exactRerank(topCandidates(approxScores, k * candMult, "acs", ascending = false),
      queries, corpus, k)
  }

  /** [[cosineKernel]] for a float query against an already-decoded
    * double vector — the SQ8 asymmetric-scoring inner loop. Same
    * contract: double accumulation in array order over the common
    * prefix, round-6, zero-norm → 0. */
  def cosineKernelFD(a: Array[Float], b: Array[Double]): Double = {
    val n = math.min(a.length, b.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val x = a(i).toDouble; val y = b(i)
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0
    else round6(dot / (math.sqrt(na) * math.sqrt(nb)))
  }

  /** 1-bit BINARY quantization signatures: bit `i` of word `i/64` is set
    * iff `v(i) > 0` — 32× smaller than float32, the cheapest code in the
    * quantization family ([[sq8Encode]] is 4×, PQ is dims/m bytes).
    * Hamming distance between sign signatures is the classic SRP bound
    * on angular distance (Charikar 2002 with coordinate hyperplanes), so
    * a Hamming pre-rank orders candidates roughly by cosine at
    * XOR+popcount cost. Output `(vec_id, sig array<long>)`; map-only, no
    * shuffle — write it next to the corpus once and every scan streams
    * 8 bytes per 64 dims. Zero components quantize to 0 (ties on the
    * hyperplane are a measure-zero fringe; the exact rerank fixes any). */
  def binarySignatures(corpus: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val sp = corpus.sparkSession
    import sp.implicits._
    idVectors(corpus, idCol, vecCol)
      .mapPartitions(_.map { case (id, v) => (id, signBits(v)) })
      .toDF("vec_id", "sig")
  }

  /** Binary-quantization ANN over MATERIALIZED sign signatures (see
    * [[binarySignatures]]): the candidate scan reads `(vec_id, sig)`
    * ONLY — 8 bytes per 64 dims off storage — ranks every corpus row
    * against the broadcast queries by Hamming distance (XOR+popcount),
    * keeps the [[rerankBudget]] best per query by `(hamming asc, id
    * asc)`, and touches the float embeddings just for those survivors
    * ([[exactRerank]]). Everything is integer
    * arithmetic until the rerank, so candidate sets — and results — are
    * engine-portable bit-for-bit. */
  def binaryKnnFromSigs(queries: DataFrame, sigs: DataFrame, corpus: DataFrame,
      k: Int, candMult: Int, candFraction: Double = 0.2): DataFrame = {
    require(k >= 1, "k must be positive")
    require(candMult >= 1, "candMult must be positive")
    require(candFraction >= 0.0 && candFraction <= 1.0, "candFraction in [0,1]")
    // A 1-bit/dim sketch is COARSE (for 64-dim embeddings the whole
    // signature is 64 bits), so a fixed candidate count decays with
    // corpus growth: more rows crowd into each Hamming shell and the
    // true neighbors fall below the cut (measured recall@3 0.667 at
    // sf0.01 → 0.367 at sf0.1 with a fixed 24), hence the
    // [[rerankBudget]] corpus fraction. The default fraction is 0.2
    // (round 15, up from 0.05): a 64-bit/64-dim signature is the
    // coarsest code in the library, and the DuckDB-replayed budget
    // sweep measured recall@3 0.667/0.667 at 5% → 0.933/0.867 at 20%
    // (sf0.01/sf0.1) — the floats reranked stay a constant 1/5 of
    // corpus bytes while the full scan still reads 1 bit/dim.
    val budget = rerankBudget(k, candMult, candFraction, sigs.count())
    val hams = hammingScan(sigs, collectQueryVectors(queries))
    exactRerank(topCandidates(hams, budget, "ham", ascending = true),
      queries, corpus, k)
  }

  /** Binary-quantization ANN with signatures computed inline from the
    * corpus (the [[sq8Knn]]-style convenience over
    * [[binaryKnnFromSigs]]). */
  def binaryKnn(queries: DataFrame, corpus: DataFrame, k: Int,
      candMult: Int = 8): DataFrame =
    binaryKnnFromSigs(queries,
      binarySignatures(corpus, "vec_id", "embedding"), corpus, k, candMult)

  /** CASCADED ANN — the billion-scale production scan: three stages,
    * each reading strictly fewer rows at strictly more bytes per row.
    *
    *   1. 1-bit sign signatures, Hamming pre-rank (XOR+popcount over
    *      1 bit/dim) → top max(k·c1Mult, ⌈candFraction·N⌉) per query —
    *      [[binaryKnnFromSigs]]'s corpus-fraction budget rule, so the
    *      wide cut survives corpus growth;
    *   2. SQ8 asymmetric rescore of ONLY those survivors (1 byte/dim,
    *      midpoint reconstruction) → top k·c2Mult;
    *   3. exact cosine on the finalists (4 bytes/dim floats touched for
    *      k·c2Mult rows per query, nothing else).
    *
    * The full corpus is scanned once at 1 bit/dim; every later byte is
    * spent on a provably shrinking candidate set — the memory-bandwidth
    * shape FAISS deployments use when even 1 byte/dim over the whole
    * corpus is too much. Every stage keeps the established determinism
    * contract (integer Hamming / round-6 scores, id tiebreaks), so the
    * cascade is engine-portable end to end and the oracle replays all
    * three cuts. */
  def cascadeKnn(queries: DataFrame, corpus: DataFrame, k: Int,
      c1Mult: Int = 8, c2Mult: Int = 4, candFraction: Double = 0.05): DataFrame = {
    require(k >= 1, "k must be positive")
    require(c1Mult >= c2Mult && c2Mult >= 1, "need c1Mult >= c2Mult >= 1")
    require(candFraction >= 0.0 && candFraction <= 1.0, "candFraction in [0,1]")
    val sp = corpus.sparkSession
    import sp.implicits._
    // stage 1 — 1-bit Hamming pre-rank. The signature frame feeds BOTH
    // the corpus count and the Hamming scan: materialize it once
    // (jaccardPairs/pageRank discipline) instead of re-signing the
    // billion-row corpus per consumer.
    val sigs = binarySignatures(corpus, "vec_id", "embedding").localCheckpoint(true)
    val budget1 = rerankBudget(k, c1Mult, candFraction, sigs.count())
    val qCollected = collectQueryVectors(queries)
    val cands1 = topCandidates(hammingScan(sigs, qCollected), budget1, "ham",
      ascending = true)
    // stage 2 — SQ8 asymmetric rescore of the stage-1 survivors. Codes
    // are materialized once too: the rescore join is the only consumer,
    // but without a checkpoint a retried/AQE-replanned stage would
    // re-encode the whole corpus.
    val bounds = sq8Bounds(corpus, "embedding")
    val codes = sq8Encode(corpus, "vec_id", "embedding", bounds).localCheckpoint(true)
    val qfb = sp.sparkContext.broadcast(qCollected.toMap)
    val bb = sp.sparkContext.broadcast(bounds)
    val approx = cands1
      .join(codes.withColumnRenamed("vec_id", "neighbor_id"), Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("codes"))
      .as[(Long, Long, Array[Byte])]
      .mapPartitions { it =>
        val qm = qfb.value
        val (m, s) = bb.value
        it.map { case (qid, nid, cd) =>
          (qid, nid, cosineKernelFD(qm(qid), sq8Decode(cd, m, s)))
        }
      }.toDF("query_id", "neighbor_id", "acs")
    // stage 3 — exact rerank, floats read for the finalists only
    val result = exactRerank(
        topCandidates(approx, k * c2Mult, "acs", ascending = false),
        queries, corpus, k)
      .localCheckpoint(true) // materialize (k rows/query) before freeing the stages
    Iterate.release(sigs, codes)
    result
  }

  /** Recall@k of an approximate kNN result against the exact result on
    * the same corpus — the tuning-regression gate for [[annKnn]] /
    * [[ivfKnn]] / [[sq8Knn]]: a planes/probes/candMult change that
    * silently tanks recall fails a threshold on this operator's output
    * even though each index stays "correct" on its own definition.
    * Both inputs use the kNN output schema `(query_id, rank,
    * neighbor_id, …)`; rows with rank > k are ignored. Emits one row per
    * exact-side query: `(query_id, hits, recall)` with recall =
    * |approx ∩ exact top-k| / |exact top-k|, rounded to 6. Relational
    * shape: one equi-join on (query, neighbor) + query-keyed aggs —
    * scales with the result sets, not the corpus. */
  def recallAtK(approx: DataFrame, exact: DataFrame, k: Int): DataFrame = {
    require(k >= 1, "k must be positive")
    val e = exact.filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"))
    val a = approx.filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"))
    val hits = e.join(a, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("_graft_hits"))
    e.groupBy(col("query_id")).agg(count(lit(1)).as("_graft_n"))
      .join(hits, Seq("query_id"), "left_outer")
      .select(col("query_id"),
        coalesce(col("_graft_hits"), lit(0L)).as("hits"),
        round(coalesce(col("_graft_hits"), lit(0L)).cast("double") /
          col("_graft_n").cast("double"), 6).as("recall"))
  }

  // ------------------------------------------------------------------
  // ANN pipeline stages (see the object scaladoc for which index composes
  // which). Plain functions over plain arrays: the task closures that call
  // them capture nothing but their broadcasts.
  // ------------------------------------------------------------------

  /** `(id, vector)` rows with a non-null id and vector — the input every
    * kernel scan reads. */
  private def idVectors(df: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): Dataset[(Long, Array[Float])] = {
    val sp = df.sparkSession
    import sp.implicits._
    df.select(col(idCol).cast("long"), col(vecCol))
      .filter(col(idCol).isNotNull && col(vecCol).isNotNull)
      .as[(Long, Array[Float])]
  }

  /** The sampled cell table: every `centEvery`-th id with a non-null
    * embedding, the `maxCents` lowest, sorted by id. The sample grows with
    * the corpus; `maxCents` keeps it a codebook. */
  private def sampledCells(corpus: DataFrame, idCol: String, vecCol: String,
      centEvery: Int, maxCents: Int): Array[(Long, Array[Float])] = {
    val sp = corpus.sparkSession
    import sp.implicits._
    val cents = corpus.filter(col(idCol) % centEvery === 0)
      .select(col(idCol).cast("long"), col(vecCol))
      .filter(col(idCol).isNotNull && col(vecCol).isNotNull)
      .orderBy(col(idCol)).limit(maxCents)
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    require(cents.nonEmpty,
      s"no centroids: no corpus $idCol divisible by $centEvery — lower centEvery")
    cents
  }

  /** `probes`, or when 0 the auto rule `max(4, ceil(0.4 · nCells))`: a
    * constant probed fraction of a cell table that grows with the corpus
    * (see [[IvfAutoProbeFraction]]). */
  private def autoProbes(probes: Int, nCells: Int): Int =
    if (probes > 0) probes
    else math.max(4, math.ceil(IvfAutoProbeFraction * nCells).toInt)

  /** Index of `v`'s argmax round-6 cosine cell; ties go to the first, which
    * is the lower id in an id-sorted table. */
  private def nearestCell(v: Array[Float], cells: Array[(Long, Array[Float])]): Int = {
    var best = 0; var bestCs = Double.NegativeInfinity; var c = 0
    while (c < cells.length) {
      val s = cosineKernel(v, cells(c)._2)
      if (s > bestCs) { bestCs = s; best = c }
      c += 1
    }
    best
  }

  /** The `probes` cells nearest `qv`, ordered `(cs desc, cid asc)`. */
  private def probeCells(qv: Array[Float], cells: Array[(Long, Array[Float])],
      probes: Int): Array[Long] =
    cells.map { case (cid, ce) => (cid, cosineKernel(qv, ce)) }
      .sortBy { case (cid, cs) => (-cs, cid) }.take(probes).map(_._1)

  /** SQ8 code: `clamp(floor((x_i - mn_i) / span_i * 256), 0, 255)` per dim. */
  private def sq8Code(v: Array[Float], mn: Array[Double], span: Array[Double]): Array[Byte] = {
    val codes = new Array[Byte](math.min(v.length, mn.length))
    var i = 0
    while (i < codes.length) {
      val sSafe = if (span(i) == 0.0) 1.0 else span(i)
      codes(i) = math.min(255.0, math.max(0.0,
        math.floor((v(i).toDouble - mn(i)) / sSafe * 256.0))).toInt.toByte
      i += 1
    }
    codes
  }

  /** SQ8 reconstruction at the cell midpoint (a zero-span dim decodes to
    * its min). */
  private def sq8Decode(cd: Array[Byte], mn: Array[Double], span: Array[Double]): Array[Double] = {
    val rec = new Array[Double](cd.length)
    var i = 0
    while (i < cd.length) {
      rec(i) =
        if (span(i) == 0.0) mn(i)
        else mn(i) + ((cd(i) & 0xFF).toDouble + 0.5) * span(i) / 256.0
      i += 1
    }
    rec
  }

  /** Sign signature: bit `i` of word `i/64` is set iff `v(i) > 0`. */
  private def signBits(v: Array[Float]): Array[Long] = {
    val words = new Array[Long](math.max(1, (v.length + 63) / 64))
    var i = 0
    while (i < v.length) {
      if (v(i) > 0f) words(i >> 6) |= 1L << (i & 63)
      i += 1
    }
    words
  }

  /** Hamming distance of every `(vec_id, sig)` row to every query's sign
    * signature (self excluded): `(query_id, neighbor_id, ham)`. */
  private def hammingScan(sigs: DataFrame,
      queries: Array[(Long, Array[Float])]): DataFrame = {
    val sp = sigs.sparkSession
    import sp.implicits._
    val qb = sp.sparkContext.broadcast(queries.map { case (id, v) => (id, signBits(v)) })
    sigs.select(col("vec_id").cast("long"), col("sig"))
      .as[(Long, Array[Long])]
      .mapPartitions { it =>
        val qs = qb.value
        it.flatMap { case (nid, sg) =>
          qs.iterator.filter(_._1 != nid).map { case (qid, q0) =>
            val n = math.min(sg.length, q0.length)
            var h = 0; var w = 0
            while (w < n) { h += java.lang.Long.bitCount(sg(w) ^ q0(w)); w += 1 }
            (qid, nid, h)
          }
        }
      }.toDF("query_id", "neighbor_id", "ham")
  }

  /** Round-6 L2 between the subvector of `v` at `off` and entry `c` — the
    * per-subspace PQ distance. */
  private def subDist(v: Array[Double], off: Int, c: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < c.length) {
      val dd = v(off + i) - c(i)
      s += dd * dd; i += 1
    }
    round6(math.sqrt(s))
  }

  /** PQ encoding: per subspace, the id of the entry nearest on round-6 L2,
    * ties to the lower id. */
  private def pqNearestCodes(v: Array[Double],
      books: Array[Array[(Long, Array[Double])]]): Array[Long] = {
    val sd = books(0)(0)._2.length
    val codes = new Array[Long](books.length)
    var j = 0
    while (j < books.length) {
      val bk = books(j)
      var best = 0L; var bestD = Double.PositiveInfinity; var e = 0
      while (e < bk.length) {
        val dd = subDist(v, j * sd, bk(e)._2)
        if (dd < bestD || (dd == bestD && bk(e)._1 < best)) { bestD = dd; best = bk(e)._1 }
        e += 1
      }
      codes(j) = best
      j += 1
    }
    codes
  }

  /** ADC lookup tables for one (normalized) query: per subspace, code id →
    * round-6 L2 to that entry in exact micro-units. */
  private def adcTables(qv: Array[Double],
      books: Array[Array[(Long, Array[Double])]]): Array[Map[Long, Long]] = {
    val sd = books(0)(0)._2.length
    books.zipWithIndex.map { case (bk, j) =>
      bk.map { case (cid, cv) => cid -> math.round(subDist(qv, j * sd, cv) * 1e6) }.toMap
    }
  }

  /** Asymmetric distance of a code vector: the exact sum of its table
    * entries, so ordering is engine- and partition-independent. */
  private def adcScore(tables: Array[Map[Long, Long]], codes: Array[Long]): Long = {
    var s = 0L; var j = 0
    while (j < codes.length) { s += tables(j)(codes(j)); j += 1 }
    s
  }

  /** Lloyd assignment: index of the entry nearest the subvector of `v` at
    * `off` on UNROUNDED squared L2, ties to the first. */
  private def lloydNearest(v: Array[Double], off: Int, bk: Array[Array[Double]]): Int = {
    var best = 0; var bestD = Double.PositiveInfinity; var e = 0
    while (e < bk.length) {
      val c = bk(e)
      var s = 0.0; var i = 0
      while (i < c.length) { val dd = v(off + i) - c(i); s += dd * dd; i += 1 }
      if (s < bestD) { bestD = s; best = e }
      e += 1
    }
    best
  }

  /** Lloyd-trained per-subspace books over `prep(vector)`: seeded with the
    * `kCodes` lowest-id vectors, then `iters` passes that assign every
    * subvector ([[lloydNearest]]) and recompute means as (subspace, code,
    * dim) DECIMAL sums — one aggregation per pass for all `m` subspaces,
    * independent of partition merge order. Empty entries keep their
    * value. Entry ids are their indices. */
  private def lloydBooks(vecs: Dataset[(Long, Array[Float])], idCol: String,
      m: Int, kCodes: Int, iters: Int,
      prep: Array[Float] => Array[Double]): Array[Array[(Long, Array[Double])]] = {
    val sp = vecs.sparkSession
    import sp.implicits._
    val seed = vecs.orderBy(col(idCol)).limit(kCodes).collect().map(r => prep(r._2))
    require(seed.nonEmpty, "empty corpus")
    val dims = seed.head.length
    require(dims % m == 0, s"dims=$dims not divisible by m=$m")
    val sd = dims / m
    var books: Array[Array[Array[Double]]] = Array.tabulate(m) { j =>
      seed.map(v => java.util.Arrays.copyOfRange(v, j * sd, (j + 1) * sd))
    }
    for (_ <- 0 until iters) {
      val bb = sp.sparkContext.broadcast(books)
      val sums = vecs.mapPartitions { it =>
        val bks = bb.value
        it.flatMap { case (_, raw) =>
          val v = prep(raw)
          (0 until bks.length).iterator.flatMap { j =>
            val best = lloydNearest(v, j * sd, bks(j))
            (0 until sd).iterator.map(i => (j, best, i, v(j * sd + i)))
          }
        }
      }.toDF("j", "code", "dim", "x")
        .groupBy(col("j"), col("code"), col("dim"))
        .agg(sum(col("x").cast(org.apache.spark.sql.types.DecimalType(28, 12))).as("s"),
          count(lit(1)).as("n"))
        .collect()
      val next = books.map(_.map(_.clone()))
      sums.foreach { r =>
        next(r.getInt(0))(r.getInt(1))(r.getInt(2)) =
          r.getDecimal(3).doubleValue() / r.getLong(4)
      }
      bb.destroy()
      books = next
    }
    books.map(_.zipWithIndex.map { case (cv, e) => (e.toLong, cv) })
  }

  /** `max(k·candMult, ceil(candFraction·rows))`: a constant corpus
    * FRACTION reranks, so recall holds under corpus growth by
    * construction. `rows` (a count job) is evaluated only when
    * `candFraction > 0`. */
  private def rerankBudget(k: Int, candMult: Int, candFraction: Double,
      rows: => Long): Long =
    if (candFraction > 0.0)
      math.max(k.toLong * candMult, math.ceil(candFraction * rows).toLong)
    else k.toLong * candMult

  /** The per-query candidate cut: the `budget` best `(query_id,
    * neighbor_id)` pairs by `scoreCol`, neighbor id breaking ties. */
  private def topCandidates(scores: DataFrame, budget: Long, scoreCol: String,
      ascending: Boolean): DataFrame = {
    val w = Window.partitionBy(col("query_id")).orderBy(
      if (ascending) col(scoreCol).asc else col(scoreCol).desc, col("neighbor_id"))
    scores.withColumn("_crank", row_number().over(w))
      .filter(col("_crank") <= budget)
      .select(col("query_id"), col("neighbor_id"))
  }

  /** Exact rerank of candidate pairs: only the survivors' float
    * embeddings are read (equi-joins on id; queries broadcast), scored
    * with [[cosineF]] and ranked by [[rankTopK]]. */
  private def exactRerank(cands: DataFrame, queries: DataFrame,
      corpus: DataFrame, k: Int): DataFrame = {
    val q = broadcast(queries.select(col("vec_id").as("query_id"),
      col("embedding").as("qe")))
    val c = corpus.select(col("vec_id").as("neighbor_id"), col("embedding").as("ce"))
    rankTopK(cands.join(c, Seq("neighbor_id")).join(q, Seq("query_id"))
      .withColumn("cs", cosineF(col("qe"), col("ce"))), k)
  }

  /** The kNN output: per query the `k` best `cs`, neighbor id breaking
    * ties, as `(query_id, rank, neighbor_id, cs)`. */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cs").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cs"))
  }

  // ------------------------------------------------------------------
  // Kernel paths: identical math in tight per-partition loops. Catalyst's
  // higher-order array functions (aggregate/zip_with/transform) are
  // interpreted per element — fine for composition, ~100× too slow for
  // O(N²) similarity kernels. These keep the *plan* relational (broadcast
  // + mapPartitions + window) and move only the arithmetic inner loop to
  // scalar code, exactly as one would on a 1000-executor cluster.
  // ------------------------------------------------------------------

  /** Spark round(x, 6) semantics (BigDecimal HALF_UP on the shortest
    * decimal representation) — keeps kernel output bit-identical to the
    * Column `cosine` above and the DuckDB oracle. */
  def round6(x: Double): Double =
    java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Cosine similarity of two float vectors, double accumulation in
    * array order, rounded to 6 decimals. Ragged inputs score the common
    * prefix — the same contract as [[graft.functions.CosineSimilarity]]
    * (the Column `cosine` yields null there; equal-length inputs, the
    * only supported shape, agree bit-for-bit across all three). */
  def cosineKernel(a: Array[Float], b: Array[Float]): Double = {
    val n = math.min(a.length, b.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0
    else round6(dot / (math.sqrt(na) * math.sqrt(nb)))
  }

  /** [[cosineKernel]] for two double vectors — the projected-space
    * scorer. Same contract: double accumulation in array order over the
    * common prefix, round-6, zero-norm → 0. */
  def cosineKernelDD(a: Array[Double], b: Array[Double]): Double = {
    val n = math.min(a.length, b.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val x = a(i); val y = b(i)
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0
    else round6(dot / (math.sqrt(na) * math.sqrt(nb)))
  }

  /** Johnson–Lindenstrauss projection of one vector onto the ±1 sign
    * matrix: round-6( Σ_i v_i·s_ji / √outDims ) per output coordinate
    * — deterministic, engine-portable, no stored model. */
  def projectJl(v: Array[Float], signs: Array[Array[Double]]): Array[Double] = {
    val out = new Array[Double](signs.length)
    val scale = 1.0 / math.sqrt(signs.length.toDouble)
    var j = 0
    while (j < signs.length) {
      val row = signs(j); var s = 0.0; var i = 0
      val n = math.min(v.length, row.length)
      while (i < n) { s += v(i).toDouble * row(i); i += 1 }
      out(j) = round6(s * scale)
      j += 1
    }
    out
  }

  /** RANDOM-PROJECTION kNN (Johnson–Lindenstrauss): project both sides
    * onto `outDims` deterministic ±1/√outDims hyperplanes (the same
    * md5-parity [[signMatrix]] as LSH — zero stored model, the
    * embedding-COMPRESSION member of the ANN family), rank candidates
    * by cosine in the PROJECTED space, keep `k·candMult` per query,
    * exact-cosine rerank on the original embeddings. JL concentration
    * keeps projected inner products near the originals, so recall is
    * tuned by `outDims`/`candMult` with no training pass at all.
    *
    * 100 TB shape: the candidate scan reads corpus vectors once and
    * multiplies against outDims×dims broadcast doubles — at
    * outDims = 32 over 64-d vectors the projected scoring does 2× less
    * arithmetic than brute force, and a PERSISTED projected column
    * (the natural deployment, like [[sq8Encode]]'s codes) reads 2×
    * fewer bytes too. The rerank budget is [[rerankBudget]]'s corpus
    * fraction (the binaryKnn lesson).
    *
    * Recall caveat: the synthetic test embeddings are near-isotropic
    * noise — every pairwise cosine concentrates near 0 and top-k
    * margins are O(1/√d), the provably hardest case for ANY
    * metric-preserving projection — so the pinned floors (0.833/0.967
    * measured at sf0.01/sf0.1 with the round-15 25% budget, up from
    * 0.5/0.83 at 10%) are the WORST-case end of JL behavior; clustered
    * real-world embeddings project far better at the same settings. */
  def rpKnn(queries: DataFrame, corpus: DataFrame, k: Int,
      outDims: Int = 32, dims: Int = 64, candMult: Int = 4,
      candFraction: Double = 0.25): DataFrame =
    rpKnnFromProjections(queries, rpEncode(corpus, outDims, dims), corpus,
      k, outDims, dims, candMult, candFraction)

  /** Materialized JL projections — the STORED-INDEX form of [[rpKnn]]
    * (the [[sq8Encode]] deployment pattern): persist this once and the
    * candidate scan reads `(vec_id, proj)` only, 2× fewer bytes than
    * the float embeddings at outDims = 32 over 64-d. One kernel map,
    * no shuffle. */
  def rpEncode(corpus: DataFrame, outDims: Int = 32,
      dims: Int = 64): DataFrame = {
    require(outDims >= 1 && dims >= 1, "dims must be positive")
    val sp = corpus.sparkSession
    import sp.implicits._
    val sgb = sp.sparkContext.broadcast(signMatrix(outDims, dims))
    idVectors(corpus)
      .mapPartitions { it =>
        val sg = sgb.value
        it.map { case (id, v) => (id, projectJl(v, sg)) }
      }.toDF("vec_id", "proj")
  }

  /** Append-only maintenance for a persisted [[rpEncode]] table: one
    * anti-join finds corpus vectors absent from the stored projections
    * and encodes ONLY those — spec-pinned equal to a full re-encode.
    * The sign matrix is deterministic (md5 parity), so old and new
    * rows always come from the same projection. */
  def updateRpProjections(existing: DataFrame, corpus: DataFrame,
      outDims: Int = 32, dims: Int = 64): DataFrame = {
    val absent = corpus.join(
      existing.select(col("vec_id")), Seq("vec_id"), "left_anti")
    existing.select(col("vec_id"), col("proj"))
      .unionByName(rpEncode(absent, outDims, dims))
  }

  /** [[rpKnn]] over a MATERIALIZED projection table: the candidate
    * scan never touches the float embeddings — it scores broadcast
    * projected queries against `(vec_id, proj)` rows and only the
    * surviving candidates read exact vectors ([[exactRerank]] of the
    * [[rerankBudget]] best). */
  def rpKnnFromProjections(queries: DataFrame, projections: DataFrame,
      corpus: DataFrame, k: Int, outDims: Int = 32, dims: Int = 64,
      candMult: Int = 4, candFraction: Double = 0.25): DataFrame = {
    require(k >= 1 && candMult >= 1, "k and candMult must be positive")
    require(candFraction > 0.0 && candFraction <= 1.0,
      "candFraction must be in (0, 1]")
    val sp = corpus.sparkSession
    import sp.implicits._
    val signs = signMatrix(outDims, dims)
    val qProj = collectQueryVectors(queries)
      .map { case (id, v) => (id, projectJl(v, signs)) }
    val qb = sp.sparkContext.broadcast(qProj)
    val proj = projections.select(col("vec_id").cast("long"), col("proj"))
      .as[(Long, Array[Double])]
    val budget = rerankBudget(k, candMult, candFraction, proj.count())
    val approx = proj
      .mapPartitions { it =>
        val qs = qb.value
        it.flatMap { case (nid, p) =>
          qs.iterator.filter(_._1 != nid).map { case (qid, qp) =>
            (qid, nid, cosineKernelDD(qp, p))
          }
        }
      }.toDF("query_id", "neighbor_id", "acs")
    exactRerank(topCandidates(approx, budget, "acs", ascending = false),
      queries, corpus, k)
  }

  /** All pairs (id1 < id2) with cosine >= tau, as one fully distributed
    * block-grid self-join — NO driver-side materialization and NO corpus
    * broadcast anywhere in the path.
    *
    * Rows are hash-assigned to one of B = ceil(n / blockSize) blocks; each
    * row is shuffled to the B block-pair groups (i, j) its block
    * participates in (i = its block and every j ≥ i, plus every i ≤ its
    * block); each group scores block-i rows against block-j rows in a
    * tight scalar loop. Shuffle volume is O(N·B) = O(N²/blockSize) rows —
    * the inherent replication cost of exact all-pairs — and per-task state
    * is ≤ 2·blockSize vectors, independent of corpus size. This is the
    * formulation that still runs when the corpus exceeds the memory of any
    * single machine; `blockSize` trades shuffle replication against
    * per-group memory and parallelism (B(B+1)/2 independent tasks).
    *
    * `blockSize <= 0` (default) auto-sizes the block length to
    * clamp(n/64, 512, 65536): small corpora get ≥64 groups for
    * parallelism, and per-task state stays ≤ 2·65536 vectors no matter
    * the corpus — beyond ~4M rows the replication factor B grows instead
    * of the per-task footprint (exact all-pairs is O(N²) compute at that
    * point regardless; the memory guarantee is what must not break).
    */
  def cosinePairs(corpus: DataFrame, idCol: String, vecCol: String,
      tau: Double, blockSize: Int = 0): DataFrame = {
    val sp = corpus.sparkSession
    import sp.implicits._
    val base = corpus.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      .filter(col("id").isNotNull && col("v").isNotNull) // kernel scoring — no null lifting
    // one count action sizes the grid: an extra column-pruned scan,
    // deliberately NOT a checkpoint — materializing the vectors would
    // cost a full dataset copy to save a read that is negligible next to
    // the O(N²) scoring this operator exists for
    val n = base.count()
    val effBlock: Long =
      if (blockSize > 0) blockSize.toLong
      else math.min(65536L, math.max(512L, n / 64))
    val nBlocks = math.max(1L, (n + effBlock - 1) / effBlock).toInt
    val replicated = base
      .withColumn("b", pmod(hash(col("id")), lit(nBlocks)).cast("int"))
      // every (i, j) pair-group this row's block joins; array_union drops
      // the duplicate (b, b) entry the two ranges share
      .withColumn("pk", explode(array_union(
        transform(sequence(col("b"), lit(nBlocks - 1)),
          j => struct(col("b").as("i"), j.as("j"))),
        transform(sequence(lit(0), col("b")),
          i => struct(i.as("i"), col("b").as("j"))))))
      .select(col("pk.i").as("pi"), col("pk.j").as("pj"), col("b"),
        col("id"), col("v"))
      .as[(Int, Int, Int, Long, Array[Float])]
    replicated.groupByKey(r => (r._1, r._2))
      .flatMapGroups { (key: (Int, Int), it: Iterator[(Int, Int, Int, Long, Array[Float])]) =>
        val (pi, pj) = key
        val rows = it.toArray // bounded: ≤ 2·blockSize rows per group
        val out = Iterator.newBuilder[(Long, Long, Double)]
        def score(x: (Int, Int, Int, Long, Array[Float]),
            y: (Int, Int, Int, Long, Array[Float])): Unit = {
          val cs = cosineKernel(x._5, y._5)
          if (cs >= tau)
            out += ((math.min(x._4, y._4), math.max(x._4, y._4), cs))
        }
        if (pi == pj) {
          // intra-block: all unordered pairs with distinct ids
          var i = 0
          while (i < rows.length) {
            var j = i + 1
            while (j < rows.length) {
              if (rows(i)._4 != rows(j)._4) score(rows(i), rows(j))
              j += 1
            }
            i += 1
          }
        } else {
          // inter-block: block-i side × block-j side (ids differ by
          // construction — equal ids hash to the same block)
          val a = rows.filter(_._3 == pi)
          val c = rows.filter(_._3 == pj)
          var i = 0
          while (i < a.length) {
            var j = 0
            while (j < c.length) { score(a(i), c(j)); j += 1 }
            i += 1
          }
        }
        out.result().iterator
      }
      .toDF("id1", "id2", "cs")
  }

  /** Exact all-pairs at the default block size — see [[cosinePairs]]. */
  def cosinePairsExact(corpus: DataFrame, idCol: String, vecCol: String,
      tau: Double): DataFrame =
    cosinePairs(corpus, idCol, vecCol, tau)

  /** [[cosinePairs]] with an explicit block size (kept as the tuning
    * entry point; output is identical for any block size). */
  def cosinePairsBlocked(corpus: DataFrame, idCol: String, vecCol: String,
      tau: Double, blockSize: Int = 4096): DataFrame =
    cosinePairs(corpus, idCol, vecCol, tau, blockSize)

  /** LSH-bucketed near-dup pairs: bucket every vector with the broadcast
    * random-hyperplane matrix, equi-join on bucket (id1 < id2), rerank
    * candidates with the exact cosine kernel, keep cs >= tau. Approximate
    * by construction — pairs split across buckets are missed (P[miss]
    * shrinks with cosine: a pair at angle θ collides with probability
    * (1 − θ/π)^planes) — but the join is an equi-join on bucket, so
    * shuffle ∝ bucket collisions, never N². The sub-quadratic embedding
    * analogue of [[Dedup.minhashCandidates]]. */
  def lshCosinePairs(corpus: DataFrame, idCol: String, vecCol: String,
      tau: Double, planes: Int = 8, dims: Int = 64): DataFrame = {
    val sp = corpus.sparkSession
    import sp.implicits._
    val sb = sp.sparkContext.broadcast(signMatrix(planes, dims))
    val withBucket = corpus.select(col(idCol).cast("long"), col(vecCol))
      .filter(col(idCol).isNotNull && col(vecCol).isNotNull)
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val sg = sb.value
        it.map { case (id, v) => (id, v, bucketOf(v, sg)) }
      }.toDF("id", "v", "bucket")
    withBucket.as("a").join(withBucket.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("a.v").as("v1"),
        col("b.id").as("id2"), col("b.v").as("v2"))
      .as[(Long, Array[Float], Long, Array[Float])]
      .mapPartitions(_.flatMap { case (id1, v1, id2, v2) =>
        val cs = cosineKernel(v1, v2)
        if (cs >= tau) Iterator.single((id1, id2, cs)) else Iterator.empty
      })
      .toDF("id1", "id2", "cs")
  }

  /** Near-duplicate pairs (cosine >= tau) with AUTOMATIC routing, so the
    * O(N²)-compute exact path is opt-in by corpus size rather than the
    * default: corpora at or below `exactMaxRows` go through the exact
    * block-grid [[cosinePairs]] (every pair scored); larger corpora go
    * through [[lshCosinePairs]] (sub-quadratic candidates + exact rerank).
    * Both routes emit the same (id1, id2, cs) schema with id1 < id2 and
    * kernel-exact rounded-6 scores, so the routing changes recall at
    * scale, never the scoring contract. */
  def nearDupPairs(corpus: DataFrame, idCol: String, vecCol: String, tau: Double,
      exactMaxRows: Long = 100000, planes: Int = 8, dims: Int = 64): DataFrame = {
    // count on the pruned (id) projection — negligible next to scoring
    val n = corpus.select(col(idCol)).filter(col(idCol).isNotNull).count()
    if (n <= exactMaxRows) cosinePairs(corpus, idCol, vecCol, tau)
    else lshCosinePairs(corpus, idCol, vecCol, tau, planes, dims)
  }

  /** Exact top-k with the query side broadcast and the scoring loop in
    * the kernel; ranking stays a relational window. */
  def knnKernel(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val sp = corpus.sparkSession
    import sp.implicits._
    val qb = sp.sparkContext.broadcast(collectQueryVectors(queries))
    rankTopK(idVectors(corpus)
      .mapPartitions { it =>
        val qs = qb.value
        it.flatMap { case (nid, v) =>
          qs.iterator.filter(_._1 != nid).map { case (qid, qv) =>
            (qid, nid, cosineKernel(qv, v))
          }
        }
      }.toDF("query_id", "neighbor_id", "cs"), k)
  }

  /** Maximal-Marginal-Relevance re-ranking (Carbonell & Goldstein 1998):
    * take the exact cosine top-`nCandidates` per query ([[knnKernel]]),
    * then greedily select `k` of them, each step maximizing
    *
    *   mmr(c) = λ · rel(c) − (1 − λ) · max_{s ∈ selected} sim(c, s)
    *
    * — relevance traded against redundancy with what is already picked,
    * the standard retrieval/RAG answer to "my top-5 are five copies of
    * the same paragraph". Step 1 picks pure relevance (empty selected
    * set ⇒ redundancy 0). Output: one row `(query_id, step,
    * neighbor_id, mmr)` per selection, `mmr` the round-6 objective at
    * pick time.
    *
    * Determinism contract: rel and all candidate-pair sims are round-6
    * cosines ([[cosineKernel]]) — i.e. exact 6-digit decimals — and λ is
    * taken at its shortest-decimal value, so the objective is computed
    * EXACTLY in decimal arithmetic (no IEEE rounding ambiguity at all):
    * the greedy ranks on the exact decimal, ties break on the smaller
    * neighbor id, and the emitted `mmr` is that decimal's nearest
    * double. An engine replaying the same greedy (the DuckDB oracle
    * unrolls the k steps as CTEs over DECIMAL casts) agrees
    * bit-for-bit.
    *
    * Scale shape: the candidate stage is the broadcast-query kernel scan
    * (one corpus pass, no shuffle beyond the top-k window); the greedy
    * runs per query over ≤ nCandidates rows grouped to one task —
    * O(k · n²) kernel work on a bounded set, never a corpus operation.
    * The O(n²) pair sims are computed lazily inside the group kernel,
    * not materialized as a join. */
  def mmrRerank(queries: DataFrame, corpus: DataFrame, k: Int,
      nCandidates: Int, lambda: Double = 0.7): DataFrame = {
    require(nCandidates >= k, "need nCandidates >= k")
    mmrRerankFrom(knnKernel(queries, corpus, nCandidates), corpus, k, lambda)
  }

  /** [[mmrRerank]] over a PRE-COMPUTED neighbor frame
    * `(query_id, neighbor_id, cs)` — the composition surface the label
    * family established ([[graft.operators.Labels]] aggregates over any
    * neighbor frame): run the greedy diversity re-rank on candidates
    * from WHICHEVER index the corpus size demands (exact [[knnKernel]],
    * [[ivfKnn]], [[sq8Knn]], …). Candidate embeddings are joined from
    * `corpus` for the pairwise-similarity term; the greedy itself is
    * unchanged (exact decimal objective, id tie-breaks). */
  def mmrRerankFrom(neighbors: DataFrame, corpus: DataFrame, k: Int,
      lambda: Double = 0.7): DataFrame = {
    require(k >= 1, "k must be positive")
    require(lambda > 0.0 && lambda <= 1.0, "lambda must be in (0, 1]")
    val sp = corpus.sparkSession
    import sp.implicits._
    val withEmb = neighbors.join(
        corpus.select(col("vec_id").cast("long").as("neighbor_id"),
          col("embedding")),
        Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("cs"), col("embedding"))
      .as[(Long, Long, Double, Array[Float])]
    withEmb.groupByKey(_._1).flatMapGroups { (qid, it) =>
      // rel desc, id asc — the knnKernel ranking order, so step 1's pick
      // is exactly its rank-1 row
      val cs = it.toArray.sortBy(c => (-c._3, c._2))
      val n = cs.length
      val chosen = new Array[Boolean](n)
      // pair sims computed at most once per (i, j) and only when a
      // selected row forces them
      val sim = Array.fill(n)(null: Array[Double])
      def pairSim(i: Int, j: Int): Double = {
        if (sim(i) == null) sim(i) = Array.fill(n)(Double.NaN)
        if (sim(i)(j).isNaN) sim(i)(j) = cosineKernel(cs(i)._4, cs(j)._4)
        sim(i)(j)
      }
      val lamBd = java.math.BigDecimal.valueOf(lambda)
      val oneMinusBd = java.math.BigDecimal.ONE.subtract(lamBd)
      val out = Seq.newBuilder[(Long, Int, Long, Double)]
      var step = 1
      val kk = math.min(k, n)
      while (step <= kk) {
        var bestIdx = -1
        var bestRaw: java.math.BigDecimal = null
        var i = 0
        while (i < n) {
          if (!chosen(i)) {
            // true max over the selected set (can be negative — a
            // candidate ANTI-correlated with every pick gets a bonus,
            // matching the SQL MAX the oracle replays)
            var ms = Double.NegativeInfinity
            var j = 0
            while (j < n) {
              if (chosen(j)) { val s = pairSim(i, j); if (s > ms) ms = s }
              j += 1
            }
            // round-6 doubles ARE 6-digit decimals; valueOf recovers
            // them exactly, so the objective is exact decimal math
            val relBd = java.math.BigDecimal.valueOf(cs(i)._3)
            val raw =
              if (step == 1) lamBd.multiply(relBd)
              else lamBd.multiply(relBd).subtract(
                oneMinusBd.multiply(java.math.BigDecimal.valueOf(ms)))
            if (bestIdx < 0 || raw.compareTo(bestRaw) > 0 ||
                (raw.compareTo(bestRaw) == 0 && cs(i)._2 < cs(bestIdx)._2)) {
              bestIdx = i; bestRaw = raw
            }
          }
          i += 1
        }
        chosen(bestIdx) = true
        out += ((qid, step, cs(bestIdx)._2, bestRaw.doubleValue()))
        step += 1
      }
      out.result().iterator
    }.toDF("query_id", "step", "neighbor_id", "mmr")
  }

  /** Deterministic ±1 hyperplane matrix from md5 parity of "plane_dim" —
    * computed once on the driver and broadcast (the model-free analogue
    * of shipping an IVF codebook). Same values as the Column
    * [[lshBucket]]. */
  def signMatrix(planes: Int, dims: Int): Array[Array[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(planes, dims) { (j, i0) =>
      md.reset()
      val d = md.digest(s"${j}_${i0 + 1}".getBytes("UTF-8"))
      val v = ((d(0) & 0xFFL) << 24) | ((d(1) & 0xFFL) << 16) | ((d(2) & 0xFFL) << 8) | (d(3) & 0xFFL)
      if (v % 2 == 0) 1.0 else -1.0
    }
  }

  def bucketOf(v: Array[Float], signs: Array[Array[Double]]): Long = {
    var b = 0L; var j = 0
    while (j < signs.length) {
      val row = signs(j); var d = 0.0; var i = 0
      val n = math.min(v.length, row.length)
      while (i < n) { d += v(i).toDouble * row(i); i += 1 }
      if (d >= 0) b |= 1L << j
      j += 1
    }
    b
  }

  /** Fraction of cells the sampled-centroid [[ivfKnn]] probes when
    * `probes` is left on auto (0). Pinned at the fraction the recall
    * floors were validated at: probing 40% of 1-in-50-sampled cells
    * measures recall@3 = 0.767 on BOTH the sf0.01 and sf0.1 embeddings
    * (fixed probes=4 decayed 0.767 → 0.433 over the same scale-up,
    * because cells grow with the corpus while the probe count stood
    * still). */
  val IvfAutoProbeFraction = 0.4

  /** IVF (inverted-file) ANN: partition the corpus by nearest centroid,
    * probe only the `probes` centroids closest to each query, rerank the
    * probed cells exactly. Centroids here are a deterministic sample
    * (every `centEvery`-th id), which makes the whole definition
    * engine-portable (DuckDB-oracled) — but it also means the cell count
    * grows with the corpus, so `probes = 0` (the default) auto-scales to
    * `max(4, ceil(0.4 · nCells))`: the probed FRACTION of the corpus
    * stays constant and so does recall, instead of silently decaying as
    * the data grows. Assignment is a broadcast of the centroid table + a
    * kernel argmax (ties to the lower centroid id); candidate matching
    * is an equi-join on cell id.
    *
    * Scale posture: constant-fraction probing of a linearly-growing cell
    * table means candidate work is a constant fraction of N — honest but
    * only ~2.5× cheaper than brute force. The PRIMARY path at scale is
    * [[ivfKnnTrained]] / [[ivfKnnCodebook]]: a FIXED-size trained
    * codebook keeps the probed fraction `probes / nCells` constant by
    * construction while cells (not cell count) absorb corpus growth —
    * measured recall@3 1.000 at sf0.1 with k=16, probes=4.
    *
    * `maxCents` bounds the sampled-centroid table: a 1-in-`centEvery`
    * sample grows linearly with the corpus, which would eventually
    * overwhelm the driver and the per-vector assignment loop — the cap
    * keeps the codebook a codebook. */
  def ivfKnn(queries: DataFrame, corpus: DataFrame, k: Int,
      probes: Int = 0, centEvery: Int = 50, maxCents: Int = 65536): DataFrame = {
    val cents = sampledCells(corpus, "vec_id", "embedding", centEvery, maxCents)
    ivfProbeRerank(queries, corpus, k, autoProbes(probes, cents.length), cents)
  }

  /** IVF with a trained codebook (see [[kmeansCodebook]]) — cell ids are
    * the codebook indices. */
  def ivfKnnCodebook(queries: DataFrame, corpus: DataFrame, k: Int,
      codebook: Array[Array[Float]], probes: Int = 4): DataFrame = {
    require(codebook.nonEmpty, "empty codebook")
    ivfProbeRerank(queries, corpus, k, probes,
      codebook.zipWithIndex.map { case (c, i) => (i.toLong, c) })
  }

  /** The PRIMARY IVF path at scale: train a FIXED-size spherical k-means
    * codebook ([[kmeansCodebook]]) and probe it. Because `nCells` is a
    * parameter — not a function of corpus size — the probed fraction
    * `probes / nCells` and therefore recall stay constant as the corpus
    * grows; only per-cell membership grows, and the rerank inside probed
    * cells is distributed. Measured recall@3 with the defaults: 0.967 on
    * the sf0.01 embeddings, 1.000 on sf0.1 (vs 0.767/0.433 for the
    * fixed-probe sampled variant this supersedes). Assignment cost is
    * O(N · nCells) kernel dot-products, map-only over a broadcast
    * codebook; training adds `iters` passes of the same shape. */
  def ivfKnnTrained(queries: DataFrame, corpus: DataFrame, k: Int,
      nCells: Int = 16, probes: Int = 4, iters: Int = 5): DataFrame = {
    val cb = kmeansCodebook(corpus, "vec_id", "embedding", nCells, iters)
    ivfKnnCodebook(queries, corpus, k, cb, probes)
  }

  private def ivfProbeRerank(queries: DataFrame, corpus: DataFrame, k: Int,
      probes: Int, cents: Array[(Long, Array[Float])]): DataFrame = {
    val sp = corpus.sparkSession
    import sp.implicits._
    val cb = sp.sparkContext.broadcast(cents)
    val corpusCells = idVectors(corpus)
      .mapPartitions { it =>
        val cs = cb.value
        it.map { case (id, v) => (id, v, cs(nearestCell(v, cs))._1) }
      }.toDF("neighbor_id", "ce", "cid")
    val queryCells = idVectors(queries)
      .mapPartitions(_.flatMap { case (id, v) =>
        probeCells(v, cb.value, probes).iterator.map(cid => (id, v, cid))
      }).toDF("query_id", "qe", "cid")
    rankTopK(broadcast(queryCells).join(corpusCells, Seq("cid"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), cosineF(col("qe"), col("ce")).as("cs")), k)
  }

  /** IVF-SQ8 composed index: IVF cell probing bounds WHICH corpus rows
    * are scanned, SQ8 codes bound the BYTES each scanned row costs —
    * multiplied, that is the FAISS `IVFx,SQ8` recipe and the practical
    * 100 TB ANN shape (probes/nCells of the corpus touched, at 1/4 the
    * bandwidth of float32, floats read only for the rerank survivors).
    *
    * This wrapper is the engine-portable (DuckDB-oracled) definition:
    * sampled centroids (every `centEvery`-th id) with the same
    * auto-scaled probe rule as [[ivfKnn]], global per-dimension SQ8
    * bounds, candidates = top `k·candMult` per query by quantized
    * cosine (round-6, id tiebreak), exact rerank on the survivors.
    * The scale path with a trained fixed-size codebook is
    * [[ivfSq8KnnTrained]]. */
  def ivfSq8Knn(queries: DataFrame, corpus: DataFrame, k: Int,
      probes: Int = 0, centEvery: Int = 50, maxCents: Int = 65536,
      candMult: Int = 4): DataFrame = {
    val cents = sampledCells(corpus, "vec_id", "embedding", centEvery, maxCents)
    val bounds = sq8Bounds(corpus, "embedding")
    ivfSq8KnnFromIndex(queries, ivfSq8Index(corpus, cents, bounds),
      corpus, k, autoProbes(probes, cents.length), cents, bounds, candMult)
  }

  /** [[ivfSq8Knn]] with a TRAINED fixed-size codebook — the primary
    * scale path, same argument as [[ivfKnnTrained]]: `nCells` is a
    * parameter, so the probed fraction `probes / nCells` (and recall)
    * holds constant as the corpus grows while cells absorb the growth,
    * and the SQ8 scan keeps the per-row cost at 1 byte/dim. */
  def ivfSq8KnnTrained(queries: DataFrame, corpus: DataFrame, k: Int,
      nCells: Int = 16, probes: Int = 4, iters: Int = 5,
      candMult: Int = 4): DataFrame = {
    val cb = kmeansCodebook(corpus, "vec_id", "embedding", nCells, iters)
    val cents = cb.zipWithIndex.map { case (c, i) => (i.toLong, c) }
    val bounds = sq8Bounds(corpus, "embedding")
    ivfSq8KnnFromIndex(queries, ivfSq8Index(corpus, cents, bounds),
      corpus, k, probes, cents, bounds, candMult)
  }

  /** MATERIALIZE the IVF-SQ8 index: one corpus pass assigns each vector
    * to its nearest cell AND emits its SQ8 code, dropping the floats
    * immediately. Output `(vec_id, cid, codes)` — write it next to the
    * corpus once (the [[sq8Encode]] contract) and serve every query
    * batch from it via [[ivfSq8KnnFromIndex]]: the hot scan then
    * streams 1 byte/dim with cell-routing metadata, never the float
    * embeddings. Map-only, no shuffle. */
  def ivfSq8Index(corpus: DataFrame, cents: Array[(Long, Array[Float])],
      bounds: (Array[Double], Array[Double])): DataFrame = {
    val sp = corpus.sparkSession
    import sp.implicits._
    val cb = sp.sparkContext.broadcast(cents)
    val bb = sp.sparkContext.broadcast(bounds)
    idVectors(corpus)
      .mapPartitions { it =>
        val cs = cb.value
        val (m, s) = bb.value
        it.map { case (id, v) => (id, cs(nearestCell(v, cs))._1, sq8Code(v, m, s)) }
      }.toDF("vec_id", "cid", "codes")
  }

  /** APPEND maintenance for a materialized [[ivfSq8Index]]: encode ONLY
    * the corpus vectors whose `vec_id` is absent from the stored index
    * (one anti-join) and union them in — the [[Layout.updateManifest]]
    * append-only pattern applied to the ANN index, so a daily ingest
    * pays for its new vectors, never a corpus-wide re-encode. Covered
    * rows pass through BYTE-IDENTICAL (the spec tampers with their
    * embeddings to prove they are not re-read). Cells and bounds stay
    * FROZEN by contract — that is what keeps the result identical to a
    * full rebuild with the same `(cents, bounds)`; if the appended
    * distribution drifts outside the trained codebook or the SQ8
    * bounds, retrain/re-bound and rebuild (the same periodic-reindex
    * discipline every IVF deployment runs). */
  def updateIvfSq8Index(corpus: DataFrame, index: DataFrame,
      cents: Array[(Long, Array[Float])],
      bounds: (Array[Double], Array[Double])): DataFrame = {
    val existing = index.select(col("vec_id").cast("long").as("vec_id"),
      col("cid"), col("codes"))
    val fresh = corpus
      .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
      .filter(col("vec_id").isNotNull && col("embedding").isNotNull)
      .join(existing.select(col("vec_id")), Seq("vec_id"), "left_anti")
    existing.unionAll(ivfSq8Index(fresh, cents, bounds))
  }

  /** IVF-SQ8 ANN over a MATERIALIZED index (see [[ivfSq8Index]]): the
    * candidate scan reads `(vec_id, cid, codes)` ONLY — cells outside
    * every query's probe set are skipped by a broadcast cell-set filter
    * before any decode, scanned rows stream 1 byte/dim, and `corpus`'s
    * float embeddings are touched just for the exact rerank of the
    * `k·candMult` survivors. Queries collect to the driver (small side
    * by the [[knn]] broadcast contract), so probe cells are computed
    * against the in-memory codebook with zero extra jobs. Quantized
    * scores are [[cosineKernelFD]] against the decoded cell midpoint
    * (round-6, id tiebreak — bit-identical cross-engine); the only
    * shuffles are the two candidate top-k windows and the rerank
    * equi-join. */
  def ivfSq8KnnFromIndex(queries: DataFrame, index: DataFrame,
      corpus: DataFrame, k: Int, probes: Int,
      cents: Array[(Long, Array[Float])],
      bounds: (Array[Double], Array[Double]), candMult: Int = 4): DataFrame =
    ivfSq8KnnFromIndex(collectQueryVectors(queries), queries, index, corpus,
      k, probes, cents, bounds, candMult)

  /** [[ivfSq8KnnFromIndex]] on the query side already collected as `qs`. */
  private def ivfSq8KnnFromIndex(qs: Array[(Long, Array[Float])],
      queries: DataFrame, index: DataFrame, corpus: DataFrame, k: Int,
      probes: Int, cents: Array[(Long, Array[Float])],
      bounds: (Array[Double], Array[Double]), candMult: Int): DataFrame = {
    require(k >= 1, "k must be positive")
    require(candMult >= 1, "candMult must be positive")
    val sp = corpus.sparkSession
    import sp.implicits._
    // the queries probing each cell, grouped driver-side
    val qProbes: Map[Long, Array[(Long, Array[Float])]] =
      qs.flatMap { q => probeCells(q._2, cents, probes).map(cid => (cid, q)) }
        .groupBy(_._1).map { case (cid, probing) => (cid, probing.map(_._2)) }
    val qb = sp.sparkContext.broadcast(qProbes)
    val bb = sp.sparkContext.broadcast(bounds)
    // quantized candidate scan: probed cells only, codes only
    val approx = index
      .select(col("vec_id").as("neighbor_id"), col("cid"), col("codes"))
      .as[(Long, Long, Array[Byte])]
      .mapPartitions { it =>
        val probed = qb.value
        val (m, s) = bb.value
        it.flatMap { case (nid, cid, cd) =>
          probed.get(cid) match {
            case None => Iterator.empty // cell no query probes: skipped
            case Some(qs) =>
              // decode the cell midpoint once, score every probing query
              val rec = sq8Decode(cd, m, s)
              qs.iterator.filter(_._1 != nid).map { case (qid, qv) =>
                (qid, nid, cosineKernelFD(qv, rec))
              }
          }
        }
      }.toDF("query_id", "neighbor_id", "acs")
    exactRerank(topCandidates(approx, k * candMult, "acs", ascending = false),
      queries, corpus, k)
  }

  /** Persist a cell-keyed ANN index (the `(vec_id, cid, codes)` frame of
    * [[ivfSq8Index]], or any frame with a numeric cell column)
    * RANGE-PARTITIONED AND SORTED by cell id, and register a per-file
    * min/max manifest over the cell column (the [[Layout.writeManifest]]
    * machinery). At 100 TB the index itself is terabytes: bounding the
    * rows *scanned logically* (the broadcast cell-set filter in
    * [[ivfSq8KnnFromIndex]]) still READS every file — clustering by cid
    * turns a probe set into FILE-level pruning, so a query batch touches
    * only the files whose [min_cid, max_cid] intersect its probed cells.
    * Same layout loop as the Hilbert data path (q91): cluster → manifest
    * → pruned read. */
  def writeCellIndex(index: DataFrame, path: String, numFiles: Int,
      cellCol: String = "cid", zoneCols: Seq[String] = Nil): Unit = {
    require(numFiles >= 1, "numFiles must be positive")
    index.repartitionByRange(numFiles, col(cellCol))
      .sortWithinPartitions(cellCol)
      .write.mode("overwrite").parquet(path)
    // zoneCols add SECONDARY min/max zone maps (columns the layout is
    // NOT sorted by — e.g. the row id): ranges are wide but still prune
    // when values cluster per file, which is what makes
    // [[compactCellIndex]] selective instead of a full rewrite
    graft.operators.Layout.writeManifest(index.sparkSession, path,
      cellCol +: zoneCols)
  }

  /** Sidecar directory holding tombstoned row ids of a
    * [[writeCellIndex]] layout. */
  val TombstoneDir = "_graft_tombstones"

  /** Max tombstones a serve/compact call will collect to the driver —
    * deletes between compactions are batch-bounded by operations, not
    * corpus-sized; the cap is checked LOUDLY. */
  val MaxTombstones: Int = 1 << 22

  /** Record row DELETES against a stored [[writeCellIndex]] layout as
    * an APPEND-ONLY tombstone sidecar — no data file is touched. The
    * lakehouse delete shape: serving anti-joins the sidecar
    * ([[readCellTombstoneIds]] callers), [[compactCellIndex]] folds it
    * into the files and clears it. Idempotent under re-delete
    * (duplicates are deduplicated at read). */
  def writeCellTombstones(spark: SparkSession, path: String,
      ids: Seq[Long], idCol: String = "vec_id"): Unit = {
    require(ids.nonEmpty, "no ids to tombstone")
    import spark.implicits._
    ids.toDF(idCol).write.mode("append")
      .parquet(s"$path/$TombstoneDir")
  }

  /** [[writeCellTombstones]] with a DISTRIBUTED delete feed: the single
    * id column of `ids` is appended to the sidecar directly, so the
    * delete set never round-trips the driver — a CDC stream's deletes
    * ingest at cluster width instead of through a `Seq[Long]`. Sidecar
    * format is identical to the Seq path (one nullable-stripped LONG
    * column named `idCol`; spec-pinned read-equivalent), duplicates
    * are still deduplicated at read, and [[MaxTombstones]] still
    * bounds SERVING — only the ingest is unbounded; compaction
    * ([[compactCellIndex]] / graph rebuild) remains the reclamation
    * path when the sidecar outgrows the cap. An empty feed appends an
    * empty file — a harmless no-op at read. */
  def writeCellTombstones(path: String, ids: DataFrame,
      idCol: String): Unit = {
    require(ids.columns.length == 1,
      s"delete feed must be exactly one id column, got " +
        ids.columns.mkString("(", ",", ")"))
    ids.select(col(ids.columns.head).cast("long").as(idCol))
      .filter(col(idCol).isNotNull)
      .write.mode("append").parquet(s"$path/$TombstoneDir")
  }

  /** [[writeCellTombstones]] DataFrame overload with the default
    * `vec_id` sidecar column. */
  def writeCellTombstones(path: String, ids: DataFrame): Unit =
    writeCellTombstones(path, ids, "vec_id")

  /** The layout's tombstoned ids (deduplicated), empty when the sidecar
    * does not exist; loud above [[MaxTombstones]]. */
  def readCellTombstoneIds(spark: SparkSession, path: String,
      idCol: String = "vec_id"): Set[Long] = {
    val p = new org.apache.hadoop.fs.Path(s"$path/$TombstoneDir")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return Set.empty
    import spark.implicits._
    val ids = spark.read.parquet(s"$path/$TombstoneDir")
      .select(col(idCol).cast("long")).distinct()
      .limit(MaxTombstones + 1).as[Long].collect()
    require(ids.length <= MaxTombstones,
      s"tombstone sidecar exceeds $MaxTombstones ids — compact the " +
        "layout (compactCellIndex) before deleting further")
    ids.toSet
  }

  /** Fold a layout's tombstones into its data files SELECTIVELY: only
    * files whose `idCol` zone map ([min, max] recorded at write via
    * `zoneCols`) can contain a tombstoned id are rewritten in place;
    * every other file — at scale, almost all of them — is untouched.
    * Files left empty are removed. Affected manifest rows are
    * recomputed (bounds of survivors ⊆ old bounds, so readers racing
    * the compaction still prune correctly); the sidecar is cleared
    * last. Returns the number of files rewritten. Layouts written
    * without the `idCol` zone map fall back to treating every file as
    * affected (correct, not selective). */
  def compactCellIndex(spark: SparkSession, path: String,
      cellCol: String = "cid", idCol: String = "vec_id"): Int = {
    val dels = readCellTombstoneIds(spark, path, idCol)
    if (dels.isEmpty) return 0
    val hconf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(hconf)
    val manifestPath = s"$path/${graft.operators.Layout.ManifestDir}"
    val manifest = spark.read.parquet(manifestPath)
    val hasZone = manifest.columns.contains(s"min_$idCol")
    val affected: Array[String] =
      if (!hasZone) manifest.select(col("file")).collect().map(_.getString(0))
      else manifest
        .select(col("file"), col(s"min_$idCol").cast("long"),
          col(s"max_$idCol").cast("long"))
        .collect()
        .collect {
          case r if r.isNullAt(1) || r.isNullAt(2) => r.getString(0)
          case r if dels.exists(d => d >= r.getLong(1) && d <= r.getLong(2)) =>
            r.getString(0)
        }
    val delSeq = dels.toSeq.sorted
    var rewritten = 0
    affected.foreach { f =>
      val survivors = spark.read.parquet(f)
        .filter(!col(idCol).isInCollection(delSeq))
      val tmp = s"$path/.graft-compact-tmp"
      survivors.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = fs.listStatus(new org.apache.hadoop.fs.Path(tmp))
        .map(_.getPath).find(_.getName.endsWith(".parquet"))
        .getOrElse(throw new IllegalStateException(
          s"compaction wrote no parquet part for $f"))
      val target = new org.apache.hadoop.fs.Path(f)
      val empty = spark.read.parquet(part.toString).isEmpty
      fs.delete(target, false)
      if (!empty) {
        require(fs.rename(part, target), s"compaction rename failed for $f")
      }
      fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
      rewritten += 1
    }
    if (rewritten > 0) {
      // recompute manifest rows for the rewritten (or removed) files
      val keep = manifest.filter(!col("file").isInCollection(
        affected.toIndexedSeq))
      val live = affected.filter(f =>
        fs.exists(new org.apache.hadoop.fs.Path(f)))
      val cols = manifest.columns.filter(c =>
        c.startsWith("min_") || c.startsWith("max_")).map { c =>
        val base = c.stripPrefix("min_").stripPrefix("max_")
        if (c.startsWith("min_")) min(col(base)).as(c) else max(col(base)).as(c)
      }
      val fresh =
        if (live.isEmpty) None
        else Some(spark.read.parquet(live.toIndexedSeq: _*)
          .groupBy(input_file_name().as("file"))
          .agg(count(lit(1)).as("n_rows"), cols.toIndexedSeq: _*))
      val updated = fresh.fold(keep)(fr =>
        keep.unionByName(fr.select(keep.columns.map(col).toIndexedSeq: _*)))
        .localCheckpoint(true) // manifest is read back below from its own path
      updated.coalesce(1).write.mode("overwrite").parquet(manifestPath)
      Iterate.release(updated)
    }
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/$TombstoneDir"), true)
    rewritten
  }

  /** Manifest-pruned read of a [[writeCellIndex]] layout for a probe
    * cell SET: a file survives iff some probed cell lies in its
    * [min_cid, max_cid] (null-stats files cannot match), surviving
    * files are read directly, and the exact cell-membership residual is
    * re-applied — byte-identical rows to a full scan + filter while the
    * planning I/O is one tiny manifest. The manifest collect is one row
    * per file, the same cardinality as the listing every scan does. */
  def readCellIndex(spark: SparkSession, path: String, cells: Seq[Long],
      cellCol: String = "cid"): DataFrame = {
    require(cells.nonEmpty, "need at least one probed cell")
    val manifest = spark.read
      .parquet(s"$path/${graft.operators.Layout.ManifestDir}")
      .select(col("file"), col(s"min_$cellCol").cast("long"),
        col(s"max_$cellCol").cast("long"))
      .collect()
    val sorted = cells.distinct.sorted
    val files = manifest.collect {
      case r if !r.isNullAt(1) && !r.isNullAt(2) &&
          sorted.exists(c => c >= r.getLong(1) && c <= r.getLong(2)) =>
        r.getString(0)
    }
    if (files.isEmpty)
      spark.read.parquet(path).filter(lit(false))
    else spark.read.parquet(files.toIndexedSeq: _*)
      .filter(col(cellCol).isInCollection(sorted))
  }

  /** IVF-SQ8 ANN over a STORED [[writeCellIndex]] layout: the probe
    * cells are computed driver-side against the codebook exactly as
    * [[ivfSq8KnnFromIndex]] does, the layout is file-pruned to those
    * cells via the manifest, and the pruned frame feeds the unchanged
    * FromIndex kernel — results byte-identical to scanning the whole
    * index, I/O proportional to the probed cells' files. TOMBSTONE
    * AWARE: ids recorded by [[writeCellTombstones]] are excluded from
    * the candidate set before scoring, so serving over (layout +
    * sidecar) equals serving over the compacted layout — deletes take
    * effect immediately, compaction is pure I/O hygiene. */
  def ivfSq8KnnFromStoredIndex(queries: DataFrame, indexPath: String,
      corpus: DataFrame, k: Int, probes: Int,
      cents: Array[(Long, Array[Float])],
      bounds: (Array[Double], Array[Double]), candMult: Int = 4): DataFrame = {
    val sp = corpus.sparkSession
    val qs = collectQueryVectors(queries)
    val probedCells = qs
      .flatMap { case (_, qv) => probeCells(qv, cents, probes) }.distinct.toIndexedSeq
    val pruned = readCellIndex(sp, indexPath, probedCells)
    val dels = readCellTombstoneIds(sp, indexPath)
    val served =
      if (dels.isEmpty) pruned
      else pruned.filter(!col("vec_id").isInCollection(dels.toSeq.sorted))
    ivfSq8KnnFromIndex(qs, queries, served, corpus, k, probes, cents, bounds, candMult)
  }

  /** Build a NAVIGABLE-SMALL-WORLD-style neighbor graph over the corpus
    * (Malkov & Yashunin 2016's base layer, relationalized): assign every
    * vector to its nearest sampled centroid (the [[ivfKnn]] coarse
    * layer — every `centEvery`-th id, round-6 cosine, ties to the lower
    * cid) and emit each node's top-`m` nearest SAME-CELL neighbors
    * (round-6 cosine desc, id asc). Output `(node_id, nbr_id)` —
    * materialize it once next to the corpus and serve query batches with
    * [[nswKnn]].
    *
    * Scale shape: the self-join is an EQUI join on the cell id (never
    * all-pairs — the d09 blocking discipline), per-cell work is bounded
    * by cell membership, and the per-node top-m is a window over
    * cell-local candidates. The graph is corpus-sized × m rows of two
    * longs — far smaller than the embeddings it indexes. */
  def nswGraph(corpus: DataFrame, m: Int = 16, centEvery: Int = 50,
      maxCents: Int = 65536): DataFrame =
    nswGraphOn(corpus,
      sampledCells(corpus, "vec_id", "embedding", centEvery, maxCents), m)

  /** [[nswGraph]] on an EXPLICIT centroid set (the trained-codebook
    * primary path feeds [[kmeansCodebook]] cells here). Edges are the
    * UNION of each node's top-`m` same-cell kNN and its reverse — the
    * NSW bidirectional-link rule, which keeps the cell subgraph
    * navigable where a raw kNN digraph on weakly-structured data
    * fragments into islands — then HARD-CAPPED at degree 2m per node
    * (nearest first, id tiebreak): in-degree is unbounded on hubby
    * data, and an uncapped hub would explode every frontier ⋈ graph
    * round at corpus scale (the HNSW M_max pruning rule, spec-pinned). */
  def nswGraphOn(corpus: DataFrame,
      cents: Array[(Long, Array[Float])], m: Int): DataFrame = {
    require(cents.nonEmpty, "need at least one centroid")
    nswGraphFromAssign(nswAssign(corpus, cents), m)
  }

  /** [[nswGraphOn]] over a pre-computed `(vec_id, cid, e)` assignment —
    * shared by the sampled and trained builds so the assignment is
    * computed exactly once per index build. */
  private def nswGraphFromAssign(asg: DataFrame, m: Int): DataFrame = {
    require(m >= 1, "m must be positive")
    val w = Window.partitionBy(col("node_id"))
      .orderBy(col("ncs").desc, col("nbr_id"))
    val knnEdges = asg.as("a").join(asg.as("b"),
        col("a.cid") === col("b.cid") && col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("node_id"), col("b.vec_id").as("nbr_id"),
        cosineF(col("a.e"), col("b.e")).as("ncs"))
      .withColumn("_r", row_number().over(w))
      .filter(col("_r") <= m)
      .select(col("node_id"), col("nbr_id"), col("ncs"))
    knnEdges
      .union(knnEdges.select(col("nbr_id").as("node_id"),
        col("node_id").as("nbr_id"), col("ncs")))
      .distinct()
      .withColumn("_d", row_number().over(w))
      .filter(col("_d") <= 2 * m)
      .select(col("node_id"), col("nbr_id"))
  }

  /** [[nearestCell]] assignment carrying the vector: `(vec_id, cid, e)`. */
  private def nswAssign(corpus: DataFrame,
      cents: Array[(Long, Array[Float])]): DataFrame = {
    val sp = corpus.sparkSession
    import sp.implicits._
    val cb = sp.sparkContext.broadcast(cents)
    idVectors(corpus)
      .mapPartitions { it =>
        val cs = cb.value
        it.map { case (id, v) => (id, cs(nearestCell(v, cs))._1, v) }
      }.toDF("vec_id", "cid", "e")
  }

  /** Graph-based ANN search over a [[nswGraph]] neighbor graph: beam
    * search as FIXED synchronous expansion rounds (the
    * [[graft.operators.Graph]] relax-join shape — deterministic and
    * engine-replayable, unlike priority-queue NSW descent). Start from
    * the sampled coarse layer scored map-only against the broadcast
    * query set; each round expands the per-query top-`beam` visited
    * nodes through ONE frontier ⋈ graph equi-join, anti-joins already
    * visited `(query, node)` pairs, scores only the genuinely new
    * candidates (exact round-6 cosine — graph ANN scores true vectors,
    * so there is no rerank stage), and re-beams. After `rounds` rounds
    * the per-query top-`k` of the visited set is the answer.
    *
    * Scale shape: per round one equi-join of a (queries × beam)-row
    * frontier against the stored graph + one equi-join to the corpus
    * embeddings for scoring — never a corpus scan after the entry round;
    * visited state is per-query-bounded (entries + beam·m·rounds).
    * Per-round frames ride the statsFlatLeaf discipline like every
    * iterative loop. Queries are bounded by the broadcast contract
    * ([[MaxBroadcastQueries]], loud).
    *
    * Default `beam = 48` is the s20 ef >> k lesson applied to the flat
    * path (round 12, measured recall@3 vs beam=12: 0.933→1.000 at
    * sf0.01, 0.633→0.833 at sf0.1, no wall-time cost — the wider beam
    * keeps one frontier slot per plausible cell instead of flooding
    * the few best-scoring ones). The s18/s19 oracle queries pin their
    * own beam explicitly. */
  def nswKnn(queries: DataFrame, corpus: DataFrame, graph: DataFrame,
      k: Int, beam: Int = 48, rounds: Int = 4, centEvery: Int = 50,
      maxCents: Int = 65536): DataFrame = {
    val sp = corpus.sparkSession
    import sp.implicits._
    val entries = corpus
      .filter(col("vec_id").isNotNull && col("vec_id") % centEvery === 0)
      .select(col("vec_id").cast("long").as("node_id"))
      .orderBy(col("node_id")).limit(maxCents)
    nswKnnOn(queries, corpus, graph, entries, k, beam, rounds)
  }

  /** [[nswKnn]] with EXPLICIT entry nodes (see [[nswEntries]]) — the
    * shape both the sampled-oracle and trained primary paths share. */
  def nswKnnOn(queries: DataFrame, corpus: DataFrame, graph: DataFrame,
      entryNodes: DataFrame, k: Int, beam: Int, rounds: Int): DataFrame = {
    val sp = corpus.sparkSession
    // The graph is joined EVERY round (and once more by the final
    // checkpoint): left lazy, its whole build — assignment scan, cell
    // self-join, two windows, distinct — re-executes per round.
    // Materialize it once (the cascadeKnn sigs/codes discipline) and
    // flatten its carried stats like every other loop-carried frame.
    val graphCkpt = graph.select(col("node_id"), col("nbr_id"))
      .localCheckpoint(true)
    val g = org.apache.spark.sql.graft.PlanBridge.statsFlatLeaf(graphCkpt)
    val res = nswSearch(queries, corpus, entryNodes, k, beam, rounds,
      (_: Array[Long]) => g)
    Iterate.release(graphCkpt)
    res
  }

  /** Persist a [[nswGraph]] neighbor graph range-partitioned + sorted by
    * `node_id` with a per-file min/max manifest — the [[writeCellIndex]]
    * layout keyed on the SEARCH key, so a serving round's frontier
    * prunes FILES: at corpus scale the graph is corpus-sized × degree
    * rows, and a beam of a few dozen nodes must read a few files, not
    * the graph. */
  def writeNswGraph(graph: DataFrame, path: String, numFiles: Int): Unit =
    writeCellIndex(graph.select(col("node_id"), col("nbr_id")), path,
      numFiles, cellCol = "node_id")

  /** Beam search over a STORED [[writeNswGraph]] layout — the serving
    * path: each round collects the frontier's node ids (at most
    * queries × beam longs, and queries are already bounded by the
    * [[MaxBroadcastQueries]] contract), manifest-prunes the graph files
    * to those ids via [[readCellIndex]], and joins ONLY the surviving
    * files' edges. Results are byte-identical to [[nswKnnOn]] over the
    * same graph (the spec pins it); the I/O is proportional to the
    * frontier's file span instead of the whole graph — the same
    * file-level win [[ivfSq8KnnFromStoredIndex]] buys the cell index.
    * TOMBSTONE AWARE: node ids recorded by [[writeGraphTombstones]]
    * still navigate (graph connectivity survives the delete) but are
    * excluded from every result ranking — soft delete, effective
    * immediately, no file rewritten. */
  def nswKnnStored(queries: DataFrame, corpus: DataFrame, graphPath: String,
      entryNodes: DataFrame, k: Int, beam: Int, rounds: Int): DataFrame = {
    require(k >= 1, "k must be positive")
    require(beam >= 1, "beam must be positive")
    require(rounds >= 0, "rounds must be non-negative")
    val sp = corpus.sparkSession
    import sp.implicits._
    val dels = readCellTombstoneIds(sp, graphPath, "node_id")
    val entryIds = entryNodes.select(col("node_id").cast("long"))
      .filter(col("node_id").isNotNull).distinct().as[Long].collect()
    val fetcher = new StoredGraphEdgeFetcher(sp,
      StoredGraphEdgeFetcher.readManifest(sp, graphPath))
    storedBeamSearch(collectQueryVectors(queries), corpus, entryIds,
      Seq((rounds, fetcher)), beam, k, dels.toSeq.sorted)
  }

  /** Record node DELETES against a stored graph layout
    * ([[writeNswGraph]] / [[writeHnswIndex]]) as the append-only
    * tombstone sidecar — the graph-index counterpart of
    * [[writeCellTombstones]]. Semantics are SOFT delete: serving
    * ([[nswKnnStored]]/[[hnswKnnStored]]) keeps tombstoned nodes as
    * navigation waypoints (removing them would fragment the small-world
    * graph) and filters them from every ranking, so a deleted vector is
    * never returned while recall for live vectors is preserved.
    * Periodic graph REBUILD (not in-place compaction — edge repair
    * without the dropped nodes is a rebuild by definition) is the
    * reclamation path, as in every production HNSW deployment. */
  def writeGraphTombstones(spark: SparkSession, path: String,
      ids: Seq[Long]): Unit =
    writeCellTombstones(spark, path, ids, "node_id")

  /** [[writeGraphTombstones]] with a DISTRIBUTED delete feed — the
    * graph-index mirror of the [[writeCellTombstones]] DataFrame
    * overload (same no-driver-round-trip contract). */
  def writeGraphTombstones(path: String, ids: DataFrame): Unit =
    writeCellTombstones(path, ids, "node_id")

  /** Per-hop edge fetch over a stored [[writeCellIndex]] graph layout —
    * the SERVE-side reader: the min/max manifest is collected once (a
    * layered index pre-collects ALL layers' manifests in one read and
    * hands each fetcher its slice), and each hop reads ONLY the files
    * whose range intersects the frontier, with the frontier membership
    * filter PUSHED INTO the scan — the files are node_id-sorted at
    * write time, so parquet row-group stats skip everything but the
    * frontier's row groups even when a file is re-touched on a later
    * hop. The returned adjacency is frontier-bounded (≤ frontier × 2m
    * rows — the [[MaxBroadcastQueries]] serve contract's size class,
    * never a file's full contents, never the corpus). */
  private final class StoredGraphEdgeFetcher(sp: SparkSession,
      manifest: Array[(String, Long, Long)]) {
    def edgesFor(sortedIds: Array[Long]): Map[Long, Array[Long]] = {
      if (sortedIds.isEmpty) return Map.empty
      val needed = manifest.collect { case (f, lo, hi)
          if sortedIds.exists(c => c >= lo && c <= hi) => f }
      if (needed.isEmpty) return Map.empty
      import sp.implicits._
      sp.read.parquet(needed.toIndexedSeq: _*)
        .select(col("node_id").cast("long"), col("nbr_id").cast("long"))
        .filter(col("node_id").isInCollection(sortedIds.toIndexedSeq))
        .as[(Long, Long)].collect()
        .groupBy(_._1).map { case (n, es) => n -> es.map(_._2) }
    }
  }

  private object StoredGraphEdgeFetcher {
    def readManifest(sp: SparkSession, path: String):
        Array[(String, Long, Long)] =
      sp.read.parquet(s"$path/${graft.operators.Layout.ManifestDir}")
        .select(col("file"), col("min_node_id").cast("long"),
          col("max_node_id").cast("long"))
        .collect().collect {
          case r if !r.isNullAt(1) && !r.isNullAt(2) =>
            (r.getString(0), r.getLong(1), r.getLong(2))
        }
  }

  /** Fetch the float vectors of an id set as a driver map — one
    * filtered columnar scan with the membership predicate pushed down.
    * Bounded by the caller's id set (entries / per-hop candidates —
    * both under the serve contract's queries × beam × degree class),
    * never the corpus. */
  private def fetchVectors(corpus: DataFrame,
      ids: Array[Long]): Map[Long, Array[Float]] = {
    if (ids.isEmpty) return Map.empty
    val sp = corpus.sparkSession
    import sp.implicits._
    corpus.select(col("vec_id").cast("long"), col("embedding"))
      .filter(col("vec_id").isNotNull && col("embedding").isNotNull)
      .filter(col("vec_id").isInCollection(ids.toIndexedSeq))
      .as[(Long, Array[Float])].collect().toMap
  }

  /** DRIVER-COORDINATED beam search over stored graph layers — the
    * serving loop (round 15; replaces the relational per-round
    * window/join/checkpoint pipeline whose ~50 Spark jobs of planning
    * overhead dominated serve latency): all beam STATE (per-query
    * visited scores — bounded by queries × (entries + hops × beam × 2m),
    * the documented serve contract, never the corpus) lives on the
    * driver, while every READ stays a distributed, manifest-pruned,
    * predicate-pushed columnar scan — two trivial-plan jobs per hop
    * (frontier edges + new-candidate vectors) instead of a windowed
    * multi-join query. Semantics are BYTE-IDENTICAL to the in-memory
    * relational path ([[nswExpand]] — spec-pinned): same entry scoring
    * ([[cosineKernel]], round 6), same per-query top-beam frontier with
    * `(cs desc, node asc)` ties, same candidate = frontier-neighbors
    * minus visited rule, same final ranking with self and tombstones
    * excluded. */
  private def storedBeamSearch(queries: Array[(Long, Array[Float])],
      corpus: DataFrame, entryIds: Array[Long],
      layers: Seq[(Int, StoredGraphEdgeFetcher)], beam: Int, k: Int,
      exclude: Seq[Long]): DataFrame = {
    val sp = corpus.sparkSession
    import sp.implicits._
    val vecs = scala.collection.mutable.HashMap.empty[Long, Array[Float]]
    val fetched = scala.collection.mutable.HashSet.empty[Long]
    def ensure(ids: Array[Long]): Unit = {
      val need = ids.filterNot(fetched.contains).distinct.sorted
      if (need.nonEmpty) { fetched ++= need; vecs ++= fetchVectors(corpus, need) }
    }
    ensure(entryIds)
    // per-query visited scores; entry nodes with no corpus vector never
    // enter (the relational path's corpus semi-join)
    val visited = queries.map { case (qid, qv) =>
      val m = scala.collection.mutable.HashMap.empty[Long, Double]
      entryIds.foreach(id => vecs.get(id).foreach(v => m(id) = cosineKernel(qv, v)))
      (qid, qv, m)
    }
    def topBeam(m: scala.collection.mutable.HashMap[Long, Double]): Array[Long] =
      m.toArray.sortWith { case ((n1, c1), (n2, c2)) =>
        c1 > c2 || (c1 == c2 && n1 < n2)
      }.take(beam).map(_._1)
    for ((rounds, fetcher) <- layers; _ <- 0 until rounds) {
      val fronts = visited.map { case (_, _, m) => topBeam(m) }
      val adj = fetcher.edgesFor(fronts.flatten.distinct.sorted)
      // per-query candidates: neighbors of ITS frontier, minus visited
      val cands = visited.zip(fronts).map { case ((_, _, m), front) =>
        front.flatMap(adj.getOrElse(_, Array.empty[Long]))
          .distinct.filterNot(m.contains)
      }
      ensure(cands.flatten)
      visited.zip(cands).foreach { case ((_, qv, m), cand) =>
        cand.foreach(id => vecs.get(id).foreach(v => m(id) = cosineKernel(qv, v)))
      }
    }
    val excl = exclude.toSet
    val rows = visited.flatMap { case (qid, _, m) =>
      m.toArray
        .filter { case (n, _) => n != qid && !excl.contains(n) }
        .sortWith { case ((n1, c1), (n2, c2)) =>
          c1 > c2 || (c1 == c2 && n1 < n2)
        }.take(k).zipWithIndex
        .map { case ((n, c), i) => (qid, i + 1, n, c) }
    }
    rows.toIndexedSeq.toDF("query_id", "rank", "neighbor_id", "cs")
  }

  /** Shared fixed-round beam-search loop: `edgesFor(frontier)` supplies
    * each round's `(node_id, nbr_id)` edge set — the whole materialized
    * graph for the in-memory path, a manifest-file-pruned read for the
    * stored path. */
  private def nswSearch(queries: DataFrame, corpus: DataFrame,
      entryNodes: DataFrame, k: Int, beam: Int, rounds: Int,
      edgesForIds: Array[Long] => DataFrame,
      exclude: Seq[Long] = Nil): DataFrame = {
    require(k >= 1, "k must be positive")
    require(beam >= 1, "beam must be positive")
    require(rounds >= 0, "rounds must be non-negative")
    val sp = corpus.sparkSession
    val qb = sp.sparkContext.broadcast(collectQueryVectors(queries))
    val corpusVecs = corpus.select(col("vec_id").cast("long"), col("embedding"))
      .filter(col("vec_id").isNotNull && col("embedding").isNotNull)
    // LAZY seed checkpoint: the first expansion round's frontier collect
    // (or nswRank's materialization when rounds == 0) executes it
    val v0 = nswScoreEntries(qb, corpusVecs, entryNodes).localCheckpoint(false)
    nswRank(nswExpand(qb, corpusVecs, v0, beam, rounds, edgesForIds), k, exclude)
  }

  /** Score an entry-node id set against every broadcast query exactly
    * (round-6 cosine) — the seed `(query_id, node, cs)` visited state.
    * The query's OWN corpus node stays in the search state: its
    * out-edges point exactly at its nearest neighbors, so dropping it
    * here severs the best navigation path for corpus-member queries
    * (measured: recall 0.333→1.0 at round 1 on sf0.01 for queries whose
    * id is an entry). Self is excluded from the RESULT ranking only
    * ([[nswRank]]). */
  private def nswScoreEntries(
      qb: org.apache.spark.broadcast.Broadcast[Array[(Long, Array[Float])]],
      corpusVecs: DataFrame, entryNodes: DataFrame): DataFrame = {
    val sp = corpusVecs.sparkSession
    import sp.implicits._
    corpusVecs
      .join(entryNodes.select(col("node_id")),
        col("vec_id") === col("node_id"), "left_semi")
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val qs = qb.value
        it.flatMap { case (nid, v) =>
          qs.iterator.map { case (qid, qv) =>
            (qid, nid, cosineKernel(qv, v))
          }
        }
      }.toDF("query_id", "node", "cs")
  }

  /** `rounds` fixed expansion rounds from an ALREADY-SCORED (eagerly or
    * LAZILY checkpointed) `(query_id, node, cs)` visited state: returns
    * the final visited CHECKPOINT, MATERIALIZED (the input itself when
    * `rounds == 0`). The loop is [[Iterate.deferred]], which frees every
    * superseded checkpoint, the input included; the caller frees the
    * returned one ([[nswRank]] does).
    *
    * Round-15 serve-cost shape — ONE Spark job per round: the per-query
    * top-beam frontier is COLLECTED (≤ queries × beam rows, both bounded
    * by the [[MaxBroadcastQueries]] serve contract), and that single
    * collect (a) materializes the previous round's lazy checkpoint,
    * (b) hands the stored-path reader its file-pruning ids with no
    * distinct job of its own, and (c) re-enters the candidate join as a
    * BROADCAST literal relation — replacing the old frontier recompute
    * + eager per-round checkpoint pair (two jobs + a shuffled join).
    * Each round's new visited state is a LAZY local checkpoint that the
    * NEXT round's collect (or the final `count`) executes; values are
    * untouched — same window, same tie-breaks, same joins — so every
    * graph-ANN canon is byte-identical. */
  private def nswExpand(
      qb: org.apache.spark.broadcast.Broadcast[Array[(Long, Array[Float])]],
      corpusVecs: DataFrame, visited0: DataFrame, beam: Int, rounds: Int,
      edgesForIds: Array[Long] => DataFrame): DataFrame = {
    val sp = corpusVecs.sparkSession
    import sp.implicits._
    val wBeam = Window.partitionBy(col("query_id"))
      .orderBy(col("cs").desc, col("node"))
    // visited is referenced twice per round (anti-join + union): each
    // checkpoint is re-wrapped stats-flat so estimates never compound
    Iterate.deferred(visited0, rounds, Some(visited0)) { (visited, _) =>
      // the round's ONE driver action: collecting the frontier runs the
      // pending lazy checkpoint under `visited`
      val frontierRows = visited
        .withColumn("_b", row_number().over(wBeam))
        .filter(col("_b") <= beam).select(col("query_id"), col("node"))
        .as[(Long, Long)].collect()
      val g = edgesForIds(frontierRows.map(_._2).distinct.sorted)
      val frontier = broadcast(
        frontierRows.toIndexedSeq.toDF("query_id", "node"))
      val cand = frontier.join(g, frontier("node") === g("node_id"))
        .select(col("query_id"), col("nbr_id").as("node")).distinct()
        .join(visited.select(col("query_id"), col("node")),
          Seq("query_id", "node"), "left_anti")
      val scored = cand
        .join(corpusVecs, cand("node") === corpusVecs("vec_id"))
        .select(col("query_id"), col("node"), col("embedding"))
        .as[(Long, Long, Array[Float])]
        .mapPartitions { it =>
          val qm = qb.value.toMap
          it.map { case (qid, nid, v) =>
            (qid, nid, cosineKernel(qm(qid), v))
          }
        }.toDF("query_id", "node", "cs")
      visited.unionAll(scored)
    }.held.get
  }

  /** Per-query top-`k` of a visited checkpoint (self excluded — it only
    * ever navigates): materializes the result eagerly and releases the
    * input checkpoint ([[Iterate.release]]). `exclude` ids are
    * SOFT-DELETED nodes: they stay in the search state (routing through
    * them keeps the graph connected — the FAISS/Vespa soft-delete
    * convention) but never surface in a result, and the next-best
    * visited node fills their rank. */
  private def nswRank(visitedCkpt: DataFrame, k: Int,
      exclude: Seq[Long] = Nil): DataFrame = {
    val wBeam = Window.partitionBy(col("query_id"))
      .orderBy(col("cs").desc, col("node"))
    val live =
      if (exclude.isEmpty) visitedCkpt
      else visitedCkpt.filter(!col("node").isInCollection(exclude))
    val result = live
      .filter(col("node") =!= col("query_id"))
      .withColumn("rank", row_number().over(wBeam))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("node").as("neighbor_id"),
        col("cs"))
      .localCheckpoint(true)
    Iterate.release(visitedCkpt)
    result
  }

  /** Hierarchical NSW (Malkov & Yashunin 2016's layered descent,
    * relationalized) with a DETERMINISTIC layer rule: node v lives on
    * every layer `l` with `vec_id % levelBase^l == 0` — HNSW's geometric
    * level draw replaced by id-stride sampling, so each layer is a
    * `levelBase`× sparser subgraph (exactly HNSW's expected layer sizes)
    * and any SQL engine replays membership. Layer graphs are
    * [[nswGraphFromAssign]] over ONE shared cell assignment restricted
    * to the layer's members; search seeds at the whole (capped) top
    * layer scored exactly, then descends: each layer runs
    * `roundsPerLayer` fixed expansion rounds and the accumulated
    * per-query visited state seeds the next layer — upper layers are
    * the long-range hops that place the beam in the right region before
    * the dense base layer refines it.
    *
    * Entries are the whole (capped) top layer plus one minimum-id
    * member per cell (the [[nswKnnTrained]] coverage lesson — cells
    * have no inter-cell edges, so a cell with no entry is unreachable).
    * Upper layers run `roundsPerLayer` navigation rounds each; the
    * base layer runs `baseRounds` — HNSW's greedy-upper / wide-base
    * split. The default `beam` is HNSW's ef, NOT k: measured at
    * beam=12 (flat nsw's old default) the narrowed frontier expands
    * only the few best-scoring cells and recall drops to 0.633/0.500
    * (sf0.01/sf0.1); ef=48 measured 1.000/0.767, and the round-12
    * defaults (ef=64 + entryQuota=4 — four lowest-id entries per cell
    * instead of one) measure 1.000/0.933 at the same cost, because
    * entry COVERAGE seeds several plausible in-cell regions and the
    * wide beam keeps one frontier slot per region while the layers
    * keep the per-round join bounded.
    *
    * Scale shape: per-round joins identical to [[nswKnnOn]]; the extra
    * cost is `maxLevel` sparse graph builds off the one assignment scan
    * (layer l's self-join touches corpus/levelBase^l rows); the entry
    * set is ≤ 2·cells rows. */
  def hnswKnn(queries: DataFrame, corpus: DataFrame, k: Int,
      m: Int = 16, beam: Int = 64, roundsPerLayer: Int = 2,
      baseRounds: Int = 4, levelBase: Int = 4, maxLevel: Int = 2,
      centEvery: Int = 50, maxCents: Int = 65536,
      entryQuota: Int = 4): DataFrame = {
    require(levelBase >= 2, "levelBase must be at least 2")
    require(maxLevel >= 0, "maxLevel must be non-negative")
    require(roundsPerLayer >= 0, "roundsPerLayer must be non-negative")
    require(baseRounds >= 0, "baseRounds must be non-negative")
    require(k >= 1, "k must be positive")
    require(beam >= 1, "beam must be positive")
    require(entryQuota >= 1, "entryQuota must be positive")
    val sp = corpus.sparkSession
    val cents = sampledCells(corpus, "vec_id", "embedding", centEvery, maxCents)
    // one assignment scan feeds every layer's graph (cascadeKnn discipline)
    val asg = nswAssign(corpus, cents).localCheckpoint(true)
    val qb = sp.sparkContext.broadcast(collectQueryVectors(queries))
    val corpusVecs = corpus.select(col("vec_id").cast("long"), col("embedding"))
      .filter(col("vec_id").isNotNull && col("embedding").isNotNull)
    val strides: IndexedSeq[Long] =
      (0 to maxLevel).map(l => (1 to l).foldLeft(1L)((s, _) => s * levelBase))
    val topLayer = asg
      .filter(pmod(col("vec_id"), lit(strides(maxLevel))) === 0)
      .select(col("vec_id").as("node_id"))
      .orderBy(col("node_id")).limit(maxCents)
    // entryQuota lowest ids PER CELL (quota 1 = the per-cell minimum):
    // cells have no inter-cell edges, so per-cell entry COVERAGE is the
    // recall lever — more seeds per cell means the beam can hold several
    // plausible in-cell regions instead of one
    val cellEntries = asg
      .withColumn("_rk", row_number().over(Window.partitionBy(col("cid"))
        .orderBy(col("vec_id"))))
      .filter(col("_rk") <= entryQuota)
      .select(col("vec_id").as("node_id"))
    val entryIds = topLayer.union(cellEntries).distinct()
    var visited = nswScoreEntries(qb, corpusVecs, entryIds)
      .localCheckpoint(true)
    for (l <- maxLevel to 0 by -1) {
      val members =
        if (l == 0) asg
        else asg.filter(pmod(col("vec_id"), lit(strides(l))) === 0)
      val rounds = if (l == 0) baseRounds else roundsPerLayer
      val gCkpt = nswGraphFromAssign(members, m).localCheckpoint(true)
      val g = org.apache.spark.sql.graft.PlanBridge.statsFlatLeaf(gCkpt)
      visited = nswExpand(qb, corpusVecs, visited, beam, rounds,
        (_: Array[Long]) => g)
      Iterate.release(gCkpt)
    }
    val res = nswRank(visited, k)
    Iterate.release(asg)
    res
  }

  /** Persist a [[hnswKnn]] layered index: each layer's neighbor graph
    * goes range-partitioned + sorted by `node_id` with a min/max
    * manifest under `path/layer-<l>` (the [[writeNswGraph]] layout per
    * layer — upper layers get proportionally fewer files), and the
    * entry set (whole top layer ∪ per-cell minimum) lands as a tiny
    * `path/entries` parquet so serving never recomputes the
    * assignment. Search parameters (m, levelBase, maxLevel, centEvery)
    * are FROZEN at write time — the [[updateIvfSq8Index]] convention;
    * pass the same `maxLevel` to [[hnswKnnStored]]. */
  def writeHnswIndex(corpus: DataFrame, path: String, numFiles: Int,
      m: Int = 16, levelBase: Int = 4, maxLevel: Int = 2,
      centEvery: Int = 50, maxCents: Int = 65536,
      entryQuota: Int = 4): Unit = {
    require(numFiles >= 1, "numFiles must be positive")
    require(levelBase >= 2, "levelBase must be at least 2")
    require(maxLevel >= 0, "maxLevel must be non-negative")
    require(entryQuota >= 1, "entryQuota must be positive")
    val sp = corpus.sparkSession
    import sp.implicits._
    val cents = sampledCells(corpus, "vec_id", "embedding", centEvery, maxCents)
    val asg = nswAssign(corpus, cents).localCheckpoint(true)
    val strides: IndexedSeq[Long] =
      (0 to maxLevel).map(l => (1 to l).foldLeft(1L)((s, _) => s * levelBase))
    // Round-15 (guide §2.6): once `asg` is checkpointed, the per-layer
    // graph writes, the entries file, and the frozen-metadata writes
    // are mutually independent — each lands in its own directory and
    // derives only from `asg`/`cents`. Submitting them from a small
    // thread pool lets the tiny upper-layer and metadata jobs back-fill
    // the cores idled by layer-0's tail instead of queueing behind it
    // as sequential driver round-trips (each write is ~3 driver jobs:
    // range sampling, data write, manifest). Bytes written are
    // identical to the sequential order — the layout has no
    // cross-directory dependency.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(4, maxLevel + 2))
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    try {
      val layerFiles: IndexedSeq[Int] = (0 to maxLevel)
        .scanLeft(numFiles)((f, _) => math.max(1, f / levelBase))
      val writes = (0 to maxLevel).map { l =>
        scala.concurrent.Future {
          val members =
            if (l == 0) asg
            else asg.filter(pmod(col("vec_id"), lit(strides(l))) === 0)
          writeCellIndex(nswGraphFromAssign(members, m), s"$path/layer-$l",
            layerFiles(l), cellCol = "node_id")
        }
      } :+ scala.concurrent.Future {
        writeHnswEntries(asg, path, strides(maxLevel), maxCents, entryQuota)
      } :+ scala.concurrent.Future {
        // persist the FROZEN build inputs (centroids + parameters) so
        // append maintenance cannot drift from the build-time cells —
        // the stored-index metadata every FAISS index file carries
        cents.toIndexedSeq.toDF("cid", "ce")
          .repartition(1).write.mode("overwrite").parquet(s"$path/cents")
        Seq((m, levelBase, maxLevel, entryQuota))
          .toDF("m", "level_base", "max_level", "entry_quota")
          .repartition(1).write.mode("overwrite").parquet(s"$path/conf")
      }
      scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(writes),
        scala.concurrent.duration.Duration.Inf)
    } finally {
      pool.shutdown()
      Iterate.release(asg)
    }
  }

  /** The [[writeHnswIndex]] entries file: whole (capped) top layer ∪
    * `entryQuota` minimum-id members per cell — recomputed whole on
    * append (it is a tiny file; entry coverage must see new cells'
    * members immediately). */
  private def writeHnswEntries(asg: DataFrame, path: String,
      topStride: Long, maxCents: Int, entryQuota: Int): Unit = {
    val topLayer = asg
      .filter(pmod(col("vec_id"), lit(topStride)) === 0)
      .select(col("vec_id").as("node_id"))
      .orderBy(col("node_id")).limit(maxCents)
    val cellEntries = asg
      .withColumn("_rk", row_number().over(Window.partitionBy(col("cid"))
        .orderBy(col("vec_id"))))
      .filter(col("_rk") <= entryQuota)
      .select(col("vec_id").as("node_id"))
    topLayer.union(cellEntries).distinct()
      .repartition(1).write.mode("overwrite").parquet(s"$path/entries")
  }

  /** APPEND maintenance for a STORED [[writeHnswIndex]] layout: each
    * layer the new vectors belong to (the deterministic
    * `vec_id % levelBase^l == 0` membership rule) gets an
    * [[appendToStoredNswGraph]]-style file-append of the new nodes'
    * edges against the FROZEN build-time centroids and parameters (both
    * read back from the index's own `cents`/`conf` metadata — nothing
    * to misremember at call time), and the tiny `entries` file is
    * recomputed whole so new cells and top-layer members are reachable
    * immediately. Existing layer files and manifest rows are untouched
    * (the per-layer append guarantee); degree creep and the rebuild
    * reclamation contract are [[appendToStoredNswGraph]]'s. `corpus`
    * must be the GROWN corpus (guarded per layer). Returns appended
    * node count at the base layer (every new vector). */
  def appendToStoredHnswIndex(corpus: DataFrame, path: String,
      maxCents: Int = 65536): Long = {
    val sp = corpus.sparkSession
    import sp.implicits._
    val confRow = sp.read.parquet(s"$path/conf").head()
    val (m, levelBase, maxLevel, entryQuota) = (confRow.getInt(0),
      confRow.getInt(1), confRow.getInt(2), confRow.getInt(3))
    val cents = sp.read.parquet(s"$path/cents")
      .select(col("cid").cast("long"), col("ce"))
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    val strides: IndexedSeq[Long] =
      (0 to maxLevel).map(l => (1 to l).foldLeft(1L)((s, _) => s * levelBase))
    var appendedBase = 0L
    for (l <- 0 to maxLevel) {
      val members =
        if (l == 0) corpus
        else corpus.filter(pmod(col("vec_id"), lit(strides(l))) === 0)
      val n = appendToStoredNswGraph(members, s"$path/layer-$l", cents, m)
      if (l == 0) appendedBase = n
    }
    if (appendedBase > 0) {
      val asg = nswAssign(corpus, cents).localCheckpoint(true)
      writeHnswEntries(asg, path, strides(maxLevel), maxCents, entryQuota)
      Iterate.release(asg)
    }
    appendedBase
  }

  /** Layered beam search over a STORED [[writeHnswIndex]] layout — the
    * serving path: entries come from the persisted `path/entries`, and
    * each round of layer `l` collects the frontier's node ids (at most
    * queries × beam longs, queries already bounded by the
    * [[MaxBroadcastQueries]] contract) and manifest-prunes
    * `path/layer-<l>` to those ids before the expansion join
    * ([[nswKnnStored]]'s discipline per layer). Results are
    * byte-identical to [[hnswKnn]] at the same frozen parameters
    * (spec-pinned); the I/O per round is the frontier's file span of
    * ONE layer, never the whole index. TOMBSTONE AWARE (sidecar at the
    * index root, see [[writeGraphTombstones]]): deleted nodes navigate
    * but never surface in a ranking. */
  def hnswKnnStored(queries: DataFrame, corpus: DataFrame, path: String,
      k: Int, beam: Int = 48, roundsPerLayer: Int = 2, baseRounds: Int = 4,
      maxLevel: Int = 2): DataFrame = {
    require(k >= 1, "k must be positive")
    require(beam >= 1, "beam must be positive")
    require(roundsPerLayer >= 0, "roundsPerLayer must be non-negative")
    require(baseRounds >= 0, "baseRounds must be non-negative")
    require(maxLevel >= 0, "maxLevel must be non-negative")
    val sp = corpus.sparkSession
    import sp.implicits._
    import sp.implicits._
    val dels = readCellTombstoneIds(sp, path, "node_id")
    val entryIds = sp.read.parquet(s"$path/entries")
      .select(col("node_id").cast("long"))
      .filter(col("node_id").isNotNull).distinct().as[Long].collect()
    // ALL layers' min/max manifests in ONE read (round 15 — they share
    // a schema, and input_file_name() attributes each row to its
    // layer): one driver job instead of maxLevel+1, on top of the
    // round-11 fix that already made each layer's manifest read
    // once-per-descent instead of once-per-round
    val layerOf = (f: String) => {
      // LAST match: the layer dir sits directly above the manifest dir,
      // and an enclosing index path could itself contain "/layer-N/"
      val ms = "/layer-(\\d+)/".r.findAllMatchIn(f).toSeq
      if (ms.isEmpty) -1 else ms.last.group(1).toInt
    }
    val manifests: Map[Int, Array[(String, Long, Long)]] = sp.read
      .parquet((0 to maxLevel).map(l =>
        s"$path/layer-$l/${graft.operators.Layout.ManifestDir}"): _*)
      .select(input_file_name().as("_mf"), col("file"),
        col("min_node_id").cast("long"), col("max_node_id").cast("long"))
      .collect().collect {
        case r if !r.isNullAt(2) && !r.isNullAt(3) =>
          (layerOf(r.getString(0)), (r.getString(1), r.getLong(2),
            r.getLong(3)))
      }.groupBy(_._1).map { case (l, rs) => l -> rs.map(_._2) }
    val layers = (maxLevel to 0 by -1).map { l =>
      (if (l == 0) baseRounds else roundsPerLayer,
        new StoredGraphEdgeFetcher(sp, manifests.getOrElse(l, Array.empty)))
    }
    storedBeamSearch(collectQueryVectors(queries), corpus, entryIds,
      layers, beam, k, dels.toSeq.sorted)
  }

  /** The PRIMARY graph-ANN path at scale: [[kmeansCodebook]]-trained
    * cells (real clusters, not arbitrary id-sampled rows) under the
    * bidirectional top-`m` graph, searched from the DIVERSE sampled
    * entry layer (every `centEvery`-th id). As with
    * [[ivfKnnTrained]]/[[pqKnnTrained]], the trained variant is the
    * recall path and the sampled [[nswKnn]] is the engine-portable
    * oracle definition.
    *
    * Entry design note (measured, round 11): per-cell MEDOID entries —
    * the textbook "enter at the most central node" — collapse recall to
    * near-random here (0.067 vs 0.833 at sf0.1, identical graph),
    * because on weakly-clustered data greedy expansion from a few
    * central nodes stalls in their neighborhoods; a SCATTERED entry
    * sample seeds every region of the space and lets the beam keep
    * whichever region matches the query. Entry diversity, not entry
    * centrality, is what buys recall.
    *
    * Entry COVERAGE note (measured, round 11): the cell graph has no
    * inter-cell edges — each cell is its own connected component — so a
    * cell with no entry node is UNREACHABLE no matter the beam. The
    * sampled path covers cells by construction (its centroids are
    * themselves `% centEvery` entries); here the kmeans centroids are
    * synthetic points, so the scattered sample alone left 4+ of 16
    * sf0.01 cells entry-less and capped recall at 0.367. Entries are
    * therefore the scattered sample UNION one guaranteed member per
    * cell (its min vec_id) — nCells extra rows for full reachability. */
  def nswKnnTrained(queries: DataFrame, corpus: DataFrame, k: Int,
      nCells: Int = 16, m: Int = 16, beam: Int = 48, rounds: Int = 4,
      iters: Int = 5, centEvery: Int = 50, maxCents: Int = 65536): DataFrame = {
    val cb = kmeansCodebook(corpus, "vec_id", "embedding", nCells, iters)
      .zipWithIndex.map { case (c, i) => (i.toLong, c) }
    // asg feeds three consumers (graph build, scattered entries, per-cell
    // entries) — materialize the assignment scan once (cascadeKnn
    // discipline); safe to free after nswKnnOn's eager result checkpoint.
    val asg = nswAssign(corpus, cb).localCheckpoint(true)
    val graph = nswGraphFromAssign(asg, m)
    val scattered = asg
      .filter(col("vec_id") % centEvery === 0)
      .select(col("vec_id").as("node_id"))
      .orderBy(col("node_id")).limit(maxCents)
    val perCell = asg.groupBy(col("cid"))
      .agg(min(col("vec_id")).as("node_id")).select(col("node_id"))
    val entries = scattered.union(perCell).distinct()
    val res = nswKnnOn(queries, corpus, graph, entries, k, beam, rounds)
    Iterate.release(asg)
    res
  }

  /** Append maintenance for a [[nswGraphOn]] neighbor graph: fold NEW
    * corpus vectors in with the HNSW insert rule (Malkov & Yashunin
    * 2016 §4, alg. 1) — each new node links to its top-`m` same-cell
    * neighbors (old or new), reverse edges are added, and every node
    * that GAINED an edge is re-capped at degree 2m (nearest first, id
    * tiebreak). Nodes gaining nothing pass through untouched, so the
    * work is O(new × cell + touched × 2m), never a rebuild — which
    * also means the result is NOT byte-equal to a from-scratch
    * [[nswGraphOn]] (the real HNSW trade: inserts are local; an old
    * node keeps an edge a rebuild would have replaced unless the
    * re-cap evicts it). The spec pins what the trade guarantees:
    * appending already-present nodes is an exact no-op, the degree
    * bound holds after any append sequence, every appended node
    * enters the graph, and beam-search recall over the appended graph
    * matches the rebuilt graph's floor. `cents` must be the FROZEN
    * centroid set the graph was built with (the [[updateIvfSq8Index]]
    * convention — re-deriving centroids from a grown corpus would
    * silently re-cell the old nodes).
    *
    * `corpus` must be the FULL GROWN corpus (old vectors + appended
    * ones), not the appended delta alone: new nodes find their
    * neighbors in the corpus assignment, so a delta-only corpus would
    * link new nodes only among themselves and recall would silently
    * degrade. Guarded by a cheap sampled check — a handful of existing
    * graph node ids must resolve in the corpus, or this throws. */
  def updateNswGraph(graph: DataFrame, corpus: DataFrame,
      cents: Array[(Long, Array[Float])], m: Int): DataFrame = {
    require(m >= 1, "m must be positive")
    require(cents.nonEmpty, "need at least one centroid")
    val asg = nswAssign(corpus, cents)
    // loud grown-corpus guard: sample a few graph nodes, require they
    // resolve in the corpus (a delta-only corpus fails here instead of
    // silently producing an island of new nodes)
    val sampleIds = graph.select(col("node_id").cast("long"))
      .limit(8).collect().map(_.getLong(0)).distinct
    if (sampleIds.nonEmpty) {
      val resolved = asg.filter(col("vec_id").isin(sampleIds: _*))
        .select(col("vec_id")).distinct().count()
      require(resolved == sampleIds.length,
        s"updateNswGraph: only $resolved of ${sampleIds.length} sampled " +
          "graph node ids resolve in `corpus` — pass the full grown " +
          "corpus (old + appended vectors), not the appended delta")
    }
    val known = graph.select(col("node_id")).distinct()
    val newAsg = asg.join(known, asg("vec_id") === known("node_id"), "left_anti")
    val w = Window.partitionBy(col("node_id"))
      .orderBy(col("ncs").desc, col("nbr_id"))
    val fwd = newAsg.as("a").join(asg.as("b"),
        col("a.cid") === col("b.cid") && col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("node_id"), col("b.vec_id").as("nbr_id"),
        cosineF(col("a.e"), col("b.e")).as("ncs"))
      .withColumn("_r", row_number().over(w))
      .filter(col("_r") <= m)
      .select(col("node_id"), col("nbr_id"), col("ncs"))
    val newEdges = fwd.union(fwd.select(col("nbr_id").as("node_id"),
      col("node_id").as("nbr_id"), col("ncs")))
    val touched = newEdges.select(col("node_id")).distinct()
    // stored graphs carry no scores: re-score the touched nodes'
    // existing edges once (O(touched × 2m) cosine pairs) so the re-cap
    // ranks old and new edges on the same key
    val vecs = asg.select(col("vec_id"), col("e"))
    val existingScored = graph.join(touched, Seq("node_id"), "left_semi")
      .join(vecs.as("va"), col("node_id") === col("va.vec_id"))
      .join(vecs.as("vb"), col("nbr_id") === col("vb.vec_id"))
      .select(col("node_id"), col("nbr_id"),
        cosineF(col("va.e"), col("vb.e")).as("ncs"))
    val recapped = existingScored.union(newEdges).distinct()
      .withColumn("_d", row_number().over(w))
      .filter(col("_d") <= 2 * m)
      .select(col("node_id"), col("nbr_id"))
    graph.join(touched, Seq("node_id"), "left_anti")
      .select(col("node_id"), col("nbr_id"))
      .union(recapped)
  }

  /** APPEND maintenance for a STORED [[writeNswGraph]] layout,
    * append-ONLY at the file level: edges for corpus vectors absent
    * from the stored graph — their top-`m` same-cell forward edges plus
    * the symmetric reverse edges — land in NEW range-partitioned files,
    * and the min/max manifest grows rows for just those files
    * ([[graft.operators.Layout.updateManifest]]); no existing data file
    * or manifest row is touched (spec pins bytes), so a daily ingest
    * pays new-node work with zero rewrite — the
    * [[updateIvfSq8Index]] discipline applied to the graph index.
    *
    * Contract vs [[updateNswGraph]] (the in-memory twin): the stored
    * form SKIPS the touched-node re-cap — re-capping an old node
    * rewrites its file, which is a partial rebuild — so an old node's
    * degree can exceed `2m` by up to `m` reverse edges per append
    * batch. Bounded degree creep between rebuilds is the accepted
    * lakehouse append/compact split (the graph analog of tombstones +
    * [[compactCellIndex]]); serving correctness is unaffected (extra
    * edges only widen expansion), and the periodic REBUILD is the
    * reclamation path. `cents` stays FROZEN and `corpus` must be the
    * GROWN corpus, both guarded as in [[updateNswGraph]]. Returns the
    * number of appended nodes (0 = no-op, nothing written). */
  def appendToStoredNswGraph(corpus: DataFrame, graphPath: String,
      cents: Array[(Long, Array[Float])], m: Int,
      numFiles: Int = 4): Long = {
    require(m >= 1, "m must be positive")
    require(numFiles >= 1, "numFiles must be positive")
    require(cents.nonEmpty, "need at least one centroid")
    val sp = corpus.sparkSession
    val asg = nswAssign(corpus, cents).localCheckpoint(true)
    try {
      val stored = sp.read.parquet(graphPath).select(col("node_id"))
      val sampleIds = stored.limit(8).collect().map(_.getLong(0)).distinct
      if (sampleIds.nonEmpty) {
        val resolved = asg.filter(col("vec_id").isin(sampleIds.toIndexedSeq: _*))
          .select(col("vec_id")).distinct().count()
        require(resolved == sampleIds.length,
          s"appendToStoredNswGraph: only $resolved of ${sampleIds.length} " +
            "sampled graph node ids resolve in `corpus` — pass the full " +
            "grown corpus (old + appended vectors), not the appended delta")
      }
      val known = stored.distinct()
      val newAsg = asg
        .join(known, asg("vec_id") === known("node_id"), "left_anti")
        .localCheckpoint(true)
      val appended = newAsg.count()
      if (appended > 0) {
        val w = Window.partitionBy(col("node_id"))
          .orderBy(col("ncs").desc, col("nbr_id"))
        val fwd = newAsg.as("a").join(asg.as("b"),
            col("a.cid") === col("b.cid") && col("a.vec_id") =!= col("b.vec_id"))
          .select(col("a.vec_id").as("node_id"), col("b.vec_id").as("nbr_id"),
            cosineF(col("a.e"), col("b.e")).as("ncs"))
          .withColumn("_r", row_number().over(w))
          .filter(col("_r") <= m)
          .select(col("node_id"), col("nbr_id"))
        fwd.unionAll(fwd.select(col("nbr_id").as("node_id"),
            col("node_id").as("nbr_id")))
          .distinct()
          .repartitionByRange(numFiles, col("node_id"))
          .sortWithinPartitions("node_id")
          .write.mode("append").parquet(graphPath)
        graft.operators.Layout.updateManifest(sp, graphPath, Seq("node_id"))
      }
      Iterate.release(newAsg)
      appended
    } finally Iterate.release(asg)
  }

  /** Per-group embedding centroids, fully relational: posexplode each
    * vector to (group, dim, x), aggregate per-dimension DECIMAL sums (so
    * the centroid is independent of partition merge order), divide by the
    * group count, round to 6. No group's vectors ever gather on one
    * machine — the same update-step shape as [[kmeansCodebook]], exposed
    * as a first-class operator (mean-pooled label/cluster/user
    * embeddings are a staple of training pipelines). Output: one row per
    * (groupCol, dim, centroid) — reassemble with collect_list over a dim
    * sort only when the consumer genuinely needs arrays. */
  def embeddingCentroids(df: DataFrame, groupCol: String, vecCol: String): DataFrame =
    df.filter(col(groupCol).isNotNull && col(vecCol).isNotNull)
      .select(col(groupCol), posexplode(col(vecCol)).as(Seq("dim", "x")))
      .groupBy(col(groupCol), col("dim"))
      .agg(round(
        sum(col("x").cast(org.apache.spark.sql.types.DecimalType(28, 10))).cast("double") /
          count(lit(1)).cast("double"), 6).as("centroid"))

  /** Spherical k-means codebook trainer for the IVF index. Assignment is
    * a broadcast-codebook argmax-cosine kernel (ties to the lower cluster
    * id); the update step is fully relational — posexplode to (cluster,
    * dim, x), aggregate per-dimension DECIMAL sums — so no step ever
    * materializes a cluster on one machine, and the exact-decimal sums
    * make the trained codebook independent of partition merge order. Only
    * the codebook itself (k × dim floats — small by definition) lives on
    * the driver. Initialization is deterministic: the k lowest-id
    * vectors. Empty clusters keep their previous centroid. */
  def kmeansCodebook(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int = 5): Array[Array[Float]] = {
    require(k >= 1 && iters >= 1, "k and iters must be positive")
    val sp = corpus.sparkSession
    import sp.implicits._
    val vecs = idVectors(corpus, idCol, vecCol)
    var cents: Array[Array[Float]] =
      vecs.orderBy(col(idCol)).limit(k).collect().map(_._2)
    require(cents.nonEmpty, "empty corpus")
    for (_ <- 0 until iters) {
      val bc = sp.sparkContext.broadcast(
        cents.zipWithIndex.map { case (c, i) => (i.toLong, c) })
      val assigned = vecs.mapPartitions { it =>
        val cs = bc.value
        it.map { case (_, v) => (nearestCell(v, cs), v) }
      }.toDF("cluster", "v")
      val sums = assigned
        .select(col("cluster"), posexplode(col("v")).as(Seq("dim", "x")))
        .groupBy(col("cluster"), col("dim"))
        .agg(sum(col("x").cast(org.apache.spark.sql.types.DecimalType(28, 10))).as("s"),
          count(lit(1)).as("n"))
        .collect()
      val next = cents.map(_.clone())
      sums.groupBy(_.getInt(0)).foreach { case (c, rows) =>
        val v = next(c)
        rows.foreach { r =>
          // a corpus vector longer than the centroid contributes dims the
          // codebook doesn't model — ignore them (assignment already
          // scores only the common prefix)
          val dim = r.getInt(1)
          if (dim < v.length)
            v(dim) = (r.getDecimal(2).doubleValue() / r.getLong(3)).toFloat
        }
      }
      bc.destroy()
      cents = next
    }
    cents
  }

  /** SEMANTIC dedup over an embedding column (the SemDeDup recipe,
    * Abbas et al. 2023, arXiv:2303.09540): cluster the corpus, then
    * drop near-duplicate members WITHIN each cluster — O(N²) pair work
    * shrinks to Σ|cell|², and the cross-cell pairs a global all-pairs
    * would score are exactly the distant ones a semantic dedup is
    * allowed to ignore.
    *
    * Deterministic formulation (engine-portable, DuckDB-oracled):
    * cells are the [[ivfKnn]] sampled centroids (every `centEvery`-th
    * id, capped at `maxCents`), assignment is argmax rounded-6 cosine
    * with ties to the lower centroid id, and a vector is DROPPED iff
    * some LOWER-id member of its cell has cosine ≥ `tau` with it — the
    * lowest id of every near-dup neighborhood always survives. Output:
    * `(vec_id, cid)` of the survivors.
    *
    * 100 TB posture: assignment is a broadcast-codebook map; the only
    * shuffles are the cell equi-join and a tiny per-cell count. Per-cell
    * pair work is Σ|cell|² by the SemDeDup definition, but no single
    * TASK ever owns a whole cell's pairs: each cell's members are
    * hash-split into blocks of ≤ `blockSize` and the pair work fans out
    * over the cell's block-pair grid (the [[cosinePairs]] shape, keyed
    * by cell) — so a HOT cell (the common case on a clustered corpus,
    * which is exactly the corpus you dedup) costs more tasks, never a
    * bigger task. Per-task state is ≤ 2·blockSize vectors regardless of
    * how skewed the clustering is; the output is identical for any
    * blockSize. No driver-side state beyond the codebook. */
  def semanticDedup(corpus: DataFrame, idCol: String, vecCol: String, tau: Double,
      centEvery: Int = 50, maxCents: Int = 65536, blockSize: Int = 4096): DataFrame = {
    require(blockSize >= 1, "blockSize must be positive")
    val sp = corpus.sparkSession
    import sp.implicits._
    val cb = sp.sparkContext.broadcast(
      sampledCells(corpus, idCol, vecCol, centEvery, maxCents))
    val cells = idVectors(corpus, idCol, vecCol)
      .mapPartitions { it =>
        val cs = cb.value
        it.map { case (id, v) => (id, v, cs(nearestCell(v, cs))._1) }
      }.toDF("vec_id", "v", "cid")
    // hot-cell guard: per-cell block grid. |cells| counts are one tiny
    // agg (≤ nCents rows — broadcastable by construction); each member
    // lands in block hash(id) % ceil(cnt/blockSize) of ITS cell and is
    // replicated to the cell's (i ≤ j) block-pair groups, exactly the
    // cosinePairs grid but keyed by (cid, i, j).
    val counts = cells.groupBy(col("cid")).agg(count(lit(1)).as("_cnt"))
    val gridded = cells.join(broadcast(counts), Seq("cid"))
      .withColumn("_nb", ceil(col("_cnt") / lit(blockSize.toDouble)).cast("int"))
      .withColumn("_b", pmod(hash(col("vec_id")), col("_nb")))
      .withColumn("_pk", explode(array_union(
        transform(sequence(col("_b"), col("_nb") - 1),
          j => struct(col("_b").as("i"), j.as("j"))),
        transform(sequence(lit(0), col("_b")),
          i => struct(i.as("i"), col("_b").as("j"))))))
      .select(col("cid"), col("_pk.i").as("pi"), col("_pk.j").as("pj"),
        col("_b").as("b"), col("vec_id"), col("v"))
      .as[(Long, Int, Int, Int, Long, Array[Float])]
    val dropped = gridded.groupByKey(r => (r._1, r._2, r._3))
      .flatMapGroups { (key: (Long, Int, Int), it: Iterator[(Long, Int, Int, Int, Long, Array[Float])]) =>
        val (_, pi, pj) = key
        val rows = it.toArray // ≤ 2·blockSize members (one or two blocks of one cell)
        CellTaskGauge.record(rows.length)
        val out = scala.collection.mutable.HashSet.empty[Long]
        def check(x: (Long, Int, Int, Int, Long, Array[Float]),
            y: (Long, Int, Int, Int, Long, Array[Float])): Unit =
          if (cosineKernel(x._6, y._6) >= tau)
            out += math.max(x._5, y._5) // the higher id of a near-dup pair drops
        if (pi == pj) {
          var i = 0
          while (i < rows.length) {
            var j = i + 1
            while (j < rows.length) {
              if (rows(i)._5 != rows(j)._5) check(rows(i), rows(j))
              j += 1
            }
            i += 1
          }
        } else {
          val a = rows.filter(_._4 == pi)
          val c = rows.filter(_._4 == pj)
          var i = 0
          while (i < a.length) {
            var j = 0
            while (j < c.length) { check(a(i), c(j)); j += 1 }
            i += 1
          }
        }
        out.iterator.map(Tuple1(_))
      }.toDF("vec_id").distinct()
    cells.join(dropped, Seq("vec_id"), "left_anti").select(col("vec_id"), col("cid"))
  }

  /** Test-visible gauge of the largest group a single [[semanticDedup]]
    * pair task materialized — meaningful in local mode, where executors
    * share the JVM (same contract as the streaming BucketMergeGauge).
    * The hot-cell spec pins that an adversarial all-one-cell corpus
    * never hands any task more than ~2·blockSize members. */
  private[operators] object CellTaskGauge {
    private val peakRows = new java.util.concurrent.atomic.AtomicLong(0)
    @annotation.tailrec def record(n: Long): Unit = {
      val p = peakRows.get()
      if (n > p && !peakRows.compareAndSet(p, n)) record(n)
    }
    def peak: Long = peakRows.get()
    def reset(): Unit = peakRows.set(0)
  }

  /** Kernel ANN: bucket both sides with the broadcast hyperplanes, score
    * candidates within `probeBits` bit flips of the query's bucket
    * (multi-probe — same candidate definition as [[annKnn]]), rank
    * relationally. The probe test is a popcount on the XOR of two bucket
    * ids — O(1) per (corpus row, query), no fan-out needed because the
    * queries are already broadcast. */
  def annKnnKernel(queries: DataFrame, corpus: DataFrame, k: Int,
      planes: Int = 6, dims: Int = 64, probeBits: Int = 2): DataFrame = {
    require(probeBits >= 0 && probeBits <= planes, "probeBits out of range")
    val sp = corpus.sparkSession
    import sp.implicits._
    val signs = signMatrix(planes, dims)
    val qb = sp.sparkContext.broadcast(collectQueryVectors(queries)
      .map { case (id, v) => (id, v, bucketOf(v, signs)) })
    val sb = sp.sparkContext.broadcast(signs)
    val pairs = idVectors(corpus)
      .mapPartitions { it =>
        val qs = qb.value
        val sg = sb.value
        it.flatMap { case (nid, v) =>
          val bkt = bucketOf(v, sg)
          qs.iterator.filter(q =>
            java.lang.Long.bitCount(q._3 ^ bkt) <= probeBits && q._1 != nid)
            .map { case (qid, qv, _) =>
              (qid, nid, cosineKernel(qv, v))
            }
        }
      }.toDF("query_id", "neighbor_id", "cs")
    rankTopK(pairs, k)
  }

  /** Unit-L2-normalize to doubles (in array order, like [[cosineKernel]]'s
    * accumulation); zero vectors stay zero. PQ distances are measured on
    * the normalized vectors so L2 ordering is monotone in cosine — the
    * ranking contract every index in this family shares. */
  def normalizeKernel(v: Array[Float]): Array[Double] = {
    var ss = 0.0; var i = 0
    while (i < v.length) { val x = v(i).toDouble; ss += x * x; i += 1 }
    val out = new Array[Double](v.length)
    if (ss != 0.0) {
      val nrm = math.sqrt(ss); i = 0
      while (i < v.length) { out(i) = v(i).toDouble / nrm; i += 1 }
    }
    out
  }

  /** Per-subspace PQ codebooks (Jégou et al. 2011, "Product Quantization
    * for Nearest Neighbor Search"): the UNIT-NORMALIZED vector splits
    * into `m` equal subspaces and each gets its own small codebook.
    * Deterministic, engine-portable codebook definition (the same
    * sampled-centroid contract as [[ivfKnn]]): the entries of subspace
    * `j` are the `j`-th normalized subvectors of every `centEvery`-th
    * corpus id. Only the codebooks (m × nCodes × dims/m doubles —
    * kilobytes) reach the driver. Requires dims % m == 0. */
  def pqCodebooks(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int, centEvery: Int = 50): Array[Array[(Long, Array[Double])]] = {
    require(m >= 1, "m must be positive")
    val sp = corpus.sparkSession
    import sp.implicits._
    val sampled = corpus
      .filter(col(idCol).isNotNull && col(vecCol).isNotNull
        && col(idCol) % centEvery === 0)
      .select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Array[Float])]
      .collect().sortBy(_._1)
    require(sampled.nonEmpty, "no sampled codebook vectors")
    val dims = sampled.head._2.length
    require(dims % m == 0, s"dims=$dims not divisible by m=$m")
    val sd = dims / m
    Array.tabulate(m) { j =>
      sampled.map { case (id, v) =>
        (id, java.util.Arrays.copyOfRange(normalizeKernel(v), j * sd, (j + 1) * sd))
      }
    }
  }

  /** MATERIALIZE the PQ code columns: `m` small integers per vector —
    * for each subspace, the codebook entry minimizing round-6 L2 to the
    * vector's subvector (ties to the lower code id). Map-only over a
    * broadcast codebook; at 100 TB this is the stored index column
    * (m × 1–2 bytes/vector vs 4·dims float32 — a 100×+ compression),
    * written once next to the corpus like [[sq8Encode]]'s codes.
    * Output: `(vec_id, codes array<bigint>)`. */
  def pqEncode(corpus: DataFrame, idCol: String, vecCol: String,
      books: Array[Array[(Long, Array[Double])]]): DataFrame = {
    val sp = corpus.sparkSession
    import sp.implicits._
    val sd = books(0)(0)._2.length
    val bb = sp.sparkContext.broadcast(books)
    idVectors(corpus, idCol, vecCol)
      .mapPartitions { it =>
        val bks = bb.value
        it.map { case (id, raw) =>
          require(raw.length == bks.length * sd,
            s"vector ${id} has ${raw.length} dims, codebook expects ${bks.length * sd}")
          (id, pqNearestCodes(normalizeKernel(raw), bks))
        }
      }.toDF("vec_id", "codes")
  }

  /** Product-quantization ANN (the FAISS `PQm` recipe): encode the
    * corpus to `m` per-subspace codebook ids, score candidates by
    * asymmetric distance (ADC — the exact query subvector against each
    * assigned codebook entry, summed across subspaces), keep the top
    * `k·candMult` per query, and rerank only those with the exact
    * cosine.
    *
    * The 100 TB story: the hot scan streams `m` small ints per vector
    * (vs 4·dims bytes of float32 — real deployments store 1 byte/code,
    * a 16× scan-byte cut at m=16 on 64-dim floats); each
    * task precomputes the per-query distance TABLES (m × nCodes doubles,
    * kilobytes) once from the broadcast queries + codebooks, so the
    * per-row work is m table lookups + an integer add — no float math on
    * the scan. Exact vectors are touched only for the candMult·k
    * survivors (equi-join on id, the [[sq8KnnFromCodes]] contract).
    *
    * All distances are measured on UNIT-NORMALIZED vectors (L2² on the
    * unit sphere = 2 − 2·cos, so ADC ordering is monotone in cosine —
    * without this, raw-norm spread dominates and recall collapses).
    * Determinism: per-subspace distances round to 6 and accumulate in
    * exact micro-units (Long), so the ADC ordering is independent of
    * engine and partition order; ties break to the lower neighbor id.
    * Output: `(query_id, rank, neighbor_id, cs)` — exact cosine of the
    * reranked survivors. */
  def pqKnn(queries: DataFrame, corpus: DataFrame, k: Int, m: Int = 16,
      centEvery: Int = 50, candMult: Int = 16,
      candFraction: Double = 0.2): DataFrame =
    pqKnnWithBooks(queries, corpus, k,
      pqCodebooks(corpus, "vec_id", "embedding", m, centEvery), candMult,
      candFraction)

  /** Per-subspace Lloyd-trained PQ codebooks — real PQ (the sampled
    * [[pqCodebooks]] is the engine-portable ORACLE definition; its
    * entries are arbitrary corpus subvectors, so quantization distortion
    * is high and recall caps out): [[lloydBooks]] over the
    * unit-normalized vectors. Only the m × kCodes × dims/m codebook
    * lives on the driver. */
  def pqCodebooksTrained(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int, kCodes: Int = 64, iters: Int = 3): Array[Array[(Long, Array[Double])]] = {
    require(m >= 1 && kCodes >= 1 && iters >= 0, "bad pq training params")
    lloydBooks(idVectors(corpus, idCol, vecCol), idCol, m, kCodes, iters,
      normalizeKernel)
  }

  /** [[pqKnn]] over Lloyd-trained codebooks (see [[pqCodebooksTrained]])
    * — the primary PQ path: same ADC scan and exact rerank, much lower
    * quantization distortion than the sampled oracle definition. */
  def pqKnnTrained(queries: DataFrame, corpus: DataFrame, k: Int,
      m: Int = 16, kCodes: Int = 256, iters: Int = 3, candMult: Int = 16): DataFrame =
    pqKnnWithBooks(queries, corpus, k,
      pqCodebooksTrained(corpus, "vec_id", "embedding", m, kCodes, iters), candMult)

  /** IVF-PQ composed ANN — the FAISS `IVFx,PQy` recipe and THE
    * billion-scale index shape: IVF cell probing bounds WHICH corpus
    * rows are scanned (probes/nCells of the corpus), PQ codes bound the
    * BYTES each scanned row costs (m code bytes vs 4·dims of float32);
    * multiplied, the hot scan touches a constant fraction of the corpus
    * at ~1/16 the bandwidth, and floats are read only for the rerank
    * survivors. (Classic IVFADC encodes the RESIDUAL v − centroid; this
    * variant encodes the normalized vector directly — simpler, engine-
    * portable, and the recall defect is absorbed by the exact rerank.)
    *
    * This wrapper is the engine-portable (DuckDB-oracled) definition:
    * sampled centroids with [[ivfKnn]]'s auto-probe rule, sampled
    * [[pqCodebooks]], ADC candidates within probed cells only (exact
    * micro-unit sums, id tiebreak), exact cosine rerank. The scale path
    * with trained cells AND trained codebooks is [[ivfPqKnnTrained]]. */
  def ivfPqKnn(queries: DataFrame, corpus: DataFrame, k: Int,
      probes: Int = 0, centEvery: Int = 50, maxCents: Int = 65536,
      m: Int = 16, candMult: Int = 16): DataFrame = {
    val cents = sampledCells(corpus, "vec_id", "embedding", centEvery, maxCents)
    ivfPqProbeScan(queries, corpus, k, autoProbes(probes, cents.length), cents,
      pqCodebooks(corpus, "vec_id", "embedding", m, centEvery), candMult)
  }

  /** [[ivfPqKnn]] with a TRAINED fixed-size cell codebook and TRAINED
    * per-subspace PQ codebooks — the primary scale path: `nCells` and
    * `kCodes` are parameters, so probed fraction AND quantization
    * distortion hold constant as the corpus grows. */
  def ivfPqKnnTrained(queries: DataFrame, corpus: DataFrame, k: Int,
      nCells: Int = 16, probes: Int = 4, iters: Int = 5,
      m: Int = 16, kCodes: Int = 256, candMult: Int = 16): DataFrame = {
    val cb = kmeansCodebook(corpus, "vec_id", "embedding", nCells, iters)
    ivfPqProbeScan(queries, corpus, k, probes,
      cb.zipWithIndex.map { case (c, i) => (i.toLong, c) },
      pqCodebooksTrained(corpus, "vec_id", "embedding", m, kCodes), candMult)
  }

  /** `raw`'s [[nearestCell]] and the residual of the NORMALIZED vector
    * against the normalized centroid — the IVFADC encoding primitive. */
  private def residualAgainst(raw: Array[Float],
      cells: Array[(Long, Array[Float])]): (Long, Array[Double]) = {
    val (cid, ce) = cells(nearestCell(raw, cells))
    (cid, residual(normalizeKernel(raw), normalizeKernel(ce)))
  }

  /** `v − c` over `v`'s length (missing centroid dims count as 0). */
  private def residual(v: Array[Double], c: Array[Double]): Array[Double] = {
    val r = new Array[Double](v.length)
    var i = 0
    while (i < v.length) { r(i) = v(i) - (if (i < c.length) c(i) else 0.0); i += 1 }
    r
  }

  /** TRUE IVFADC (Jégou et al. 2011 §IV): the PQ codebooks quantize the
    * RESIDUAL v − c(v) of each (normalized) vector against its assigned
    * cell centroid, and the query scores a probed cell's members by
    * ‖(q − c) − r̂‖ with per-(query, cell) lookup tables. Residuals are
    * far more concentrated than raw vectors, so the same code budget
    * buys less distortion — the reason every production FAISS index is
    * `IVFx,PQy` over residuals. [[ivfPqKnnTrained]] (no residuals) stays
    * as the simpler spec'd variant; this is the faithful recipe.
    *
    * Training: [[lloydBooks]] over the residual stream (map-only
    * against broadcast cells), as [[pqCodebooksTrained]] does over
    * normalized vectors. Scan: one
    * corpus pass assigns + encodes; per-task ADC tables are
    * |Q| × probes × m × kCodes micro-unit Longs (kilobytes). Exact
    * cosine rerank of the candMult·k survivors as everywhere. */
  def ivfAdcKnnTrained(queries: DataFrame, corpus: DataFrame, k: Int,
      nCells: Int = 16, probes: Int = 4, iters: Int = 5,
      m: Int = 16, kCodes: Int = 256, pqIters: Int = 3,
      candMult: Int = 16): DataFrame = {
    val sp = corpus.sparkSession
    import sp.implicits._
    val cellArr = kmeansCodebook(corpus, "vec_id", "embedding", nCells, iters)
      .zipWithIndex.map { case (c, i) => (i.toLong, c) }
    val cb = sp.sparkContext.broadcast(cellArr)
    val vecs = idVectors(corpus)
    // residual PQ books: seeded from the kCodes lowest-id residuals
    val books = lloydBooks(vecs, "vec_id", m, kCodes, pqIters,
      raw => residualAgainst(raw, cb.value)._2)
    val sd = books(0)(0)._2.length
    val fb = sp.sparkContext.broadcast(books.map(_.map(_._2)))
    // per-query: probed cells + per-cell ADC tables over (q − c) vs book
    val qMeta: Array[(Long, Map[Long, Array[Map[Long, Long]]])] =
      collectQueryVectors(queries).map { case (qid, qraw) =>
        val qv = normalizeKernel(qraw)
        (qid, probeCells(qraw, cellArr, probes).map { cid =>
          cid -> adcTables(residual(qv, normalizeKernel(cellArr(cid.toInt)._2)), books)
        }.toMap)
      }
    val qb = sp.sparkContext.broadcast(qMeta)
    val approx = vecs.mapPartitions { it =>
        val bks = fb.value; val qs = qb.value
        val cells = cb.value
        it.flatMap { case (nid, raw) =>
          val (cid, r) = residualAgainst(raw, cells)
          val codes = new Array[Long](bks.length)
          var j = 0
          while (j < bks.length) { codes(j) = lloydNearest(r, j * sd, bks(j)); j += 1 }
          qs.iterator.filter { case (qid, tables) =>
            qid != nid && tables.contains(cid)
          }.map { case (qid, tables) => (qid, nid, adcScore(tables(cid), codes)) }
        }
      }.toDF("query_id", "neighbor_id", "adc")
    exactRerank(topCandidates(approx, k * candMult, "adc", ascending = true),
      queries, corpus, k)
  }

  private def ivfPqProbeScan(queries: DataFrame, corpus: DataFrame, k: Int,
      probes: Int, cents: Array[(Long, Array[Float])],
      books: Array[Array[(Long, Array[Double])]], candMult: Int): DataFrame = {
    require(k >= 1 && candMult >= 1, "k and candMult must be positive")
    val sp = corpus.sparkSession
    import sp.implicits._
    val cc = sp.sparkContext.broadcast(cents)
    val bb = sp.sparkContext.broadcast(books)
    // per-query probe set + ADC tables, computed once on the driver
    // (|Q| × probes cells and |Q| × m × nCodes table entries — small
    // side by contract, like every query broadcast in this family)
    val qMeta: Array[(Long, Set[Long], Array[Map[Long, Long]])] =
      collectQueryVectors(queries).map { case (qid, qraw) =>
        (qid, probeCells(qraw, cents, probes).toSet,
          adcTables(normalizeKernel(qraw), books))
      }
    val qb = sp.sparkContext.broadcast(qMeta)
    // one corpus pass: assign cell + PQ-encode, score only the queries
    // probing that cell — the scan's real 100 TB shape reads a STORED
    // (cid, codes) index instead (the ivfSq8Index contract); recomputing
    // here keeps the oracle definition self-contained
    val approx = idVectors(corpus)
      .mapPartitions { it =>
        val cs = cc.value; val bks = bb.value; val qs = qb.value
        it.flatMap { case (nid, raw) =>
          val cid = cs(nearestCell(raw, cs))._1
          val codes = pqNearestCodes(normalizeKernel(raw), bks)
          qs.iterator.filter { case (qid, probed, _) =>
            qid != nid && probed.contains(cid)
          }.map { case (qid, _, tables) => (qid, nid, adcScore(tables, codes)) }
        }
      }.toDF("query_id", "neighbor_id", "adc")
    exactRerank(topCandidates(approx, k * candMult, "adc", ascending = true),
      queries, corpus, k)
  }

  private def pqKnnWithBooks(queries: DataFrame, corpus: DataFrame, k: Int,
      books: Array[Array[(Long, Array[Double])]], candMult: Int,
      candFraction: Double = 0.0): DataFrame =
    pqKnnFromCodes(queries, pqEncode(corpus, "vec_id", "embedding", books),
      corpus, books, k, candMult, candFraction)

  /** Append NEW vectors to a stored PQ code table without re-encoding
    * the corpus — the [[updateIvfSq8Index]] discipline applied to PQ:
    * one anti-join finds the vectors absent from the stored codes, only
    * those encode (against the SAME frozen codebooks — cells and codes
    * are part of the index contract, retraining means rebuilding), and
    * the result unions onto the existing rows untouched. Two appends
    * compose to the same table as a full rebuild. */
  def updatePqCodes(corpus: DataFrame, codes: DataFrame,
      books: Array[Array[(Long, Array[Double])]]): DataFrame = {
    val existing = codes.select(col("vec_id").cast("long").as("vec_id"),
      col("codes"))
    val fresh = corpus
      .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
      .filter(col("vec_id").isNotNull && col("embedding").isNotNull)
      .join(existing.select(col("vec_id")), Seq("vec_id"), "left_anti")
    existing.unionAll(pqEncode(fresh, "vec_id", "embedding", books))
  }

  /** PQ ANN over a MATERIALIZED code column (see [[pqEncode]]) — the
    * deployment shape: write `(vec_id, codes)` next to the corpus once,
    * then every query batch's ADC scan streams the m-id code column
    * ONLY (never the float embeddings — spec-pinned like SQ8's), and
    * the floats are read just for the candMult·k rerank survivors.
    * Results are identical to the recompute-from-floats wrappers. */
  def pqKnnFromCodes(queries: DataFrame, codes: DataFrame, corpus: DataFrame,
      books: Array[Array[(Long, Array[Double])]], k: Int, candMult: Int,
      candFraction: Double = 0.0): DataFrame = {
    require(k >= 1 && candMult >= 1, "k and candMult must be positive")
    require(candFraction >= 0.0 && candFraction <= 1.0, "candFraction in [0,1]")
    val sp = corpus.sparkSession
    import sp.implicits._
    // SAMPLED codebooks are high-distortion by construction (entries
    // are arbitrary corpus subvectors), so a fixed k·candMult rerank
    // budget decays with corpus growth exactly like binaryKnn's fixed
    // 24 did (measured recall@3 0.833 at sf0.01 → 0.633 at sf0.1 with
    // the fixed 48). candFraction > 0 applies the [[rerankBudget]]
    // corpus fraction (20% measures 0.900/0.967 at sf0.01/sf0.1). The
    // Lloyd-TRAINED paths keep candFraction = 0 (pure k·candMult, no
    // count job): their codebooks are low-distortion and recall is
    // already 1.0.
    val budget = rerankBudget(k, candMult, candFraction, codes.count())
    val qb = sp.sparkContext.broadcast(collectQueryVectors(queries))
    val bb = sp.sparkContext.broadcast(books)
    // ADC scan: codes only; per-partition distance tables in micro-units
    val approx = codes.select(col("vec_id").cast("long"), col("codes"))
      .as[(Long, Array[Long])]
      .mapPartitions { it =>
        val qs = qb.value
        val tables = qs.map { case (_, qraw) => adcTables(normalizeKernel(qraw), bb.value) }
        it.flatMap { case (nid, cds) =>
          qs.iterator.zipWithIndex.filter(_._1._1 != nid)
            .map { case ((qid, _), qi) => (qid, nid, adcScore(tables(qi), cds)) }
        }
      }.toDF("query_id", "neighbor_id", "adc")
    exactRerank(topCandidates(approx, budget, "adc", ascending = true),
      queries, corpus, k)
  }
}
