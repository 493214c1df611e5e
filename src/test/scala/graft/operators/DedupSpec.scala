package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The kernel implementations must stay bit-identical to their Column
  * (expression) formulations — the oracle SQL mirrors the latter. */
class DedupSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    spark = SparkSession.builder().master("local[2]")
      .appName("dedup-spec")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def docs = spark.createDataFrame(Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again"),
    (2L, "the quick brown fox jumps over the lazy dog again and again"),
    (3L, "Quick BROWN foxes 42 jump; over! lazy dogs 42 and cats too"),
    (4L, "completely different words entirely unrelated content here now"),
    (5L, "xy"))).toDF("doc_id", "text")

  test("kernel minhash signatures equal the Column formulation") {
    val kernel = Dedup.minhashSignatures(docs, "doc_id", "text", 16)
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val expr = docs
      .select(col("doc_id"), Dedup.shingles3(col("text")).as("sh"))
      .filter(size(col("sh")) >= 1)
      .select(col("doc_id"), Dedup.minhash(col("sh"), 16).as("mh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(kernel == expr)
    assert(!kernel.contains(5L)) // under 3 tokens → no signature
    assert(kernel(1L) == kernel(2L)) // identical docs → identical signature
  }

  test("kernel n-gram shingles generalize shingles3 and respect the length floor") {
    val text = "the quick brown fox jumps over the lazy dog"
    assert(Dedup.Kernel.shingles(text, 3) === Dedup.Kernel.shingles3(text))
    // 9 tokens → 2 distinct 8-grams, each 8 words long
    val g8 = Dedup.Kernel.shingles(text, 8)
    assert(g8.length === 2 && g8.forall(_.split(" ").length === 8))
    assert(g8.head === "the quick brown fox jumps over the lazy")
    assert(Dedup.Kernel.shingles(text, 9) === IndexedSeq(text))
    assert(Dedup.Kernel.shingles(text, 10).isEmpty)
    // duplicates collapse (distinct), matching the Column/oracle form
    assert(Dedup.Kernel.shingles("a b a b a b", 2) === IndexedSeq("a b", "b a"))
    // postings ride the same kernel
    val p8 = Dedup.shinglePostings(docs, "doc_id", "text", 8)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(p8.count(_._1 == 1L) === Dedup.Kernel.shingles(
      "the quick brown fox jumps over the lazy dog again and again", 8).length)
    assert(!p8.exists(_._1 == 5L))
  }

  test("contaminationPairs maxDf drops hot shingles whole; uncapped equals capped-at-infinity") {
    val sp2 = spark
    val train = sp2.createDataFrame(Seq(
      (10L, "alpha beta gamma delta shared tail here"),
      (11L, "epsilon zeta eta theta shared tail here"),
      (12L, "iota kappa lambda mu shared tail here"),
      (13L, "alpha beta gamma delta unique ending one"))).toDF("doc_id", "text")
    val test = sp2.createDataFrame(Seq(
      (20L, "alpha beta gamma delta"),
      (21L, "shared tail here"))).toDF("doc_id", "text")
    val un = TextAnalysis.contaminationPairs(train, test, "doc_id", "text", 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // doc 21's only shingle "shared tail here" appears in 3 train docs;
    // doc 20 matches the "alpha beta gamma delta" prefix docs
    assert(un === Set((20L, 10L), (20L, 13L), (21L, 10L), (21L, 11L), (21L, 12L)))
    // maxDf=2 drops the df-3 boilerplate shingle whole → 21 loses all pairs
    val capped = TextAnalysis.contaminationPairs(train, test, "doc_id", "text", 0.5,
        ngram = 3, maxDf = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped === Set((20L, 10L), (20L, 13L)))
  }

  test("kernel simhash equals the Column formulation") {
    val kernel = Dedup.simhashKernel(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val expr = docs
      .filter(size(TextAnalysis.tokens(col("text"))) >= 1)
      .select(col("doc_id"), Dedup.simhash32(col("text")).as("s"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(kernel == expr)
    assert(kernel(1L) == kernel(2L))
  }

  test("kernel cosine equals the Column cosine") {
    val vecs = spark.createDataFrame(Seq(
      (1L, Array(0.1f, -0.2f, 0.3f, 0.4f)),
      (2L, Array(0.4f, 0.3f, -0.2f, 0.1f)),
      (3L, Array(0.1f, -0.2f, 0.3f, 0.4f)))).toDF("vec_id", "embedding")
    val kernel = Similarity.cosinePairsExact(vecs, "vec_id", "embedding", -1.0)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val a = vecs.select(col("vec_id").as("id1"), col("embedding").as("e1"))
    val b = vecs.select(col("vec_id").as("id2"), col("embedding").as("e2"))
    val expr = a.join(b, col("id1") < col("id2"))
      .select(col("id1"), col("id2"), Similarity.cosine(col("e1"), col("e2")).as("cs"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(kernel == expr)
    assert(kernel((1L, 3L)) == 1.0)
  }

  test("cosine pairs are invariant to block-grid size") {
    val vecs = spark.createDataFrame(
      (1L to 40L).map(i => (i, Array.tabulate(8)(d => ((i * 13 + d * 7) % 19 - 9) / 10.0f)))
    ).toDF("vec_id", "embedding")
    val whole = Similarity.cosinePairsExact(vecs, "vec_id", "embedding", 0.2)
      .collect().map(_.toString).sorted.toSeq
    val blocked = Similarity.cosinePairsBlocked(vecs, "vec_id", "embedding", 0.2, blockSize = 7)
      .collect().map(_.toString).sorted.toSeq
    assert(blocked == whole)
    assert(whole.nonEmpty)
  }

  test("cosine pairs: empty corpus and duplicate ids") {
    val empty = spark.createDataFrame(Seq.empty[(Long, Array[Float])])
      .toDF("vec_id", "embedding")
    assert(Similarity.cosinePairsBlocked(empty, "vec_id", "embedding", 0.0).count() == 0)
    // ids [1,2,2,3] with blockSize=2: duplicate id 2 hashes to one block,
    // so its two rows never pair with each other and (1,2)/(2,3) pairs
    // appear once per id-2 row — identical to the exact path
    val dup = spark.createDataFrame(Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.9f, 0.1f)),
      (2L, Array(0.8f, 0.2f)), (3L, Array(0.7f, 0.3f)))).toDF("vec_id", "embedding")
    val whole = Similarity.cosinePairsExact(dup, "vec_id", "embedding", -1.0)
      .collect().map(_.toString).sorted.toSeq
    val blocked = Similarity.cosinePairsBlocked(dup, "vec_id", "embedding", -1.0, blockSize = 2)
      .collect().map(_.toString).sorted.toSeq
    assert(blocked == whole)
  }

  test("nearDupPairs routes by corpus size; both routes agree on the near-dups") {
    // 10 near-orthogonal base directions (one dominant dim each) + 5
    // scaled duplicates: every pair at tau=0.95 is an identical-direction
    // pair (cs = 1.0), which the LSH route can never split across buckets
    // (same signs on every hyperplane); cross pairs score « tau either way
    val base = (0 until 10).map { i =>
      (i.toLong, Array.tabulate(16)(d =>
        if (d == i) 10.0f else ((i * 7 + d * 3) % 5 - 2) * 0.1f))
    }
    val dups = (0 until 5).map { i =>
      ((100 + i).toLong, base(i)._2.map(_ * 1.5f))
    }
    val vecs = spark.createDataFrame(base ++ dups).toDF("vec_id", "embedding")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val exact = pairs(Similarity.cosinePairsExact(vecs, "vec_id", "embedding", 0.95))
    assert(exact.size == 5 && exact.values.forall(_ == 1.0))
    // small corpus → exact route
    val small = pairs(Similarity.nearDupPairs(vecs, "vec_id", "embedding", 0.95))
    assert(small == exact)
    // force the "large corpus" LSH route (threshold 0) → same pairs
    val large = pairs(Similarity.nearDupPairs(vecs, "vec_id", "embedding", 0.95,
      exactMaxRows = 0, dims = 16))
    assert(large == exact)
  }

  test("containmentPairs catches a doc contained in a longer one that Jaccard misses") {
    val quoted = "alpha beta gamma delta epsilon zeta eta theta"
    val filler = (1 to 60).map(i => s"pad$i").mkString(" ")
    val docs = spark.createDataFrame(Seq(
      (1L, quoted),                      // the short original
      (2L, s"$filler $quoted"),          // quotes doc 1 whole inside 60 pad tokens
      (3L, "totally unrelated words about completely different topics here")
    )).toDF("doc_id", "text")
    // doc 1's shingles are ALL in doc 2 → containment 1.0
    val cont = Dedup.containmentPairs(docs, "doc_id", "text", 0.9)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(cont.keySet === Set((1L, 2L)) && cont((1L, 2L)) === 1.0)
    // Jaccard dilutes the same pair far below any usable tau
    val jac = Dedup.jaccardPairs(docs, "doc_id", "text", 0.5).collect()
    assert(jac.isEmpty)
    // brute-force equality on a varied corpus, any tau
    val varied = spark.createDataFrame((1L to 20L).map { i =>
      (i, ((0 until 10).map(j => s"w${(i + j) % 13}") :+ s"u$i").mkString(" "))
    }).toDF("doc_id", "text")
    def shingles(t: String): Set[String] = {
      val tk = "[a-z0-9]+".r.findAllIn(t.toLowerCase).toIndexedSeq
      (0 to tk.length - 3).map(i => s"${tk(i)} ${tk(i + 1)} ${tk(i + 2)}").toSet
    }
    val texts = varied.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val brute = (for {
      a <- texts.keys; b <- texts.keys if a < b
      sa = shingles(texts(a)); sb = shingles(texts(b))
      common = (sa intersect sb).size
      c = common.toDouble / math.min(sa.size, sb.size)
      if c >= 0.3
    } yield (a, b) -> c).toMap
    val got = Dedup.containmentPairs(varied, "doc_id", "text", 0.3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(got === brute)
  }

  test("df cap bounds the jaccard join; bucket cap bounds the LSH join") {
    val boiler = "the quick brown fox jumps over"
    // 22 docs sharing only boilerplate shingles + one true near-dup pair
    val hotDocs = (1L to 22L).map(i =>
      (i, s"$boiler unique$i tail$i words$i end$i more$i last$i"))
    val nearDup = Seq(
      (100L, "completely distinct content alpha beta gamma delta epsilon"),
      (101L, "completely distinct content alpha beta gamma delta epsilon"))
    val corpus = spark.createDataFrame(hotDocs ++ nearDup).toDF("doc_id", "text")
    // uncapped: boilerplate makes the 22 docs pair up quadratically
    assert(Dedup.jaccardPairs(corpus, "doc_id", "text", 0.1, maxDf = 10000)
      .count() > 200)
    // capped: boilerplate-only overlap vanishes, the true near-dup survives
    val capped = Dedup.jaccardPairs(corpus, "doc_id", "text", 0.1, maxDf = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(capped == Seq((100L, 101L)))

    // 22 identical docs → identical signatures → one hot bucket per band
    val ident = (1L to 22L).map(i => (i, s"$boiler same tail here")) ++ nearDup
    val corpus2 = spark.createDataFrame(ident).toDF("doc_id", "text")
    assert(Dedup.minhashCandidates(corpus2, "doc_id", "text").count() > 200)
    val cappedLsh = Dedup.minhashCandidates(corpus2, "doc_id", "text", bucketCap = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(cappedLsh == Seq((100L, 101L)))
  }

  test("null text/ids/embeddings are dropped by kernels, not crashed on") {
    val withNulls = spark.createDataFrame(Seq(
      (java.lang.Long.valueOf(1L), "the quick brown fox jumps over lazy dogs"),
      (java.lang.Long.valueOf(2L), null.asInstanceOf[String]),
      (null.asInstanceOf[java.lang.Long], "some text that has an id of null here"),
      (java.lang.Long.valueOf(4L), "the quick brown fox jumps over lazy dogs")))
      .toDF("doc_id", "text")
    assert(Dedup.minhashSignatures(withNulls, "doc_id", "text", 8)
      .collect().map(_.getLong(0)).toSet == Set(1L, 4L))
    assert(Dedup.simhashKernel(withNulls, "doc_id", "text")
      .collect().map(_.getLong(0)).toSet == Set(1L, 4L))
    assert(Dedup.jaccardPairs(withNulls, "doc_id", "text", 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 4L)))

    val vecsWithNulls = spark.createDataFrame(Seq(
      (java.lang.Long.valueOf(1L), Array(1.0f, 0.0f)),
      (java.lang.Long.valueOf(2L), null.asInstanceOf[Array[Float]]),
      (java.lang.Long.valueOf(3L), Array(1.0f, 0.1f)))).toDF("vec_id", "embedding")
    assert(Similarity.cosinePairsExact(vecsWithNulls, "vec_id", "embedding", 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 3L)))
    assert(Similarity.knnKernel(vecsWithNulls.filter(col("vec_id") === 1), vecsWithNulls, 5)
      .collect().map(_.getLong(2)).toSet == Set(3L))
  }

  test("repetition kernel equals the Column dupBigramFraction") {
    val df = spark.createDataFrame(Seq(
      (1L, "the cat the cat the cat sat"),     // heavy repetition
      (2L, "all distinct words here now ok"),  // none
      (3L, "x"),                               // under 2 tokens -> absent
      (4L, "a b a b c a b"))).toDF("doc_id", "text")
    val kernel = TextAnalysis.repetitionStats(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getDouble(2))).toMap
    val expr = df
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("tk"))
      .select(col("doc_id"), size(col("tk")).as("n"),
        TextAnalysis.dupBigramFraction(col("tk")).as("f"))
      .filter(col("n") >= 2)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getDouble(2))).toMap
    assert(kernel == expr)
    assert(!kernel.contains(3L))
    assert(kernel(2L)._2 == 0.0 && kernel(1L)._2 >= 0.5)
  }

  test("duplicateSpans finds planted verbatim spans at exact positions, nothing else") {
    val sp = spark; import sp.implicits._
    // planted verbatim (case-folded): both docs flank "shared span here"
    // with spaces, so the MAXIMAL shared span is " shared span here "
    // (18 chars) — doc 1 from position 5 (after "aaaa"), doc 2 from
    // position 3 (after "cc"). Maximality is the point: the run must
    // extend to the flanking matches, not stop at what was "planted".
    val docs = Seq(
      (1L, "aaaa SHARED SPAN HERE bbbb"),
      (2L, "cc shared span here dd"),
      (3L, "totally unrelated text with zero overlap qq"))
      .toDF("doc_id", "text")
    val got = Dedup.duplicateSpans(docs, "doc_id", "text", k = 8, minLen = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getInt(3), r.getInt(4))).toSet
    assert(got === Set((1L, 2L, 5, 3, 18)), s"span mismatch: $got")
    // minLen above the maximal span: silence
    assert(Dedup.duplicateSpans(docs, "doc_id", "text", k = 8, minLen = 19)
      .count() === 0)
    // a WITHIN-document repeat never pairs a doc with itself
    val selfRep = Seq((7L, "zzz motif repeats motif repeats zzz"))
      .toDF("doc_id", "text")
    assert(Dedup.duplicateSpans(selfRep, "doc_id", "text", k = 8, minLen = 10)
      .count() === 0)
    // dfCap drops a gram present in too many docs: with every doc sharing
    // the hot span, dfCap=2 silences what an uncapped run reports
    val hot = Seq((1L, "xx common motif block aa"), (2L, "yy common motif block bb"),
      (3L, "zz common motif block cc")).toDF("doc_id", "text")
    assert(Dedup.duplicateSpans(hot, "doc_id", "text", k = 8, minLen = 16).count() > 0)
    assert(Dedup.duplicateSpans(hot, "doc_id", "text", k = 8, minLen = 16, dfCap = 2)
      .count() === 0)
  }

  test("dedupImpact counts representative-kept vs dropped chars exactly") {
    val sp = spark; import sp.implicits._
    val docs = Seq((1L, "aaaa"), (2L, "bbbbbb"), (5L, "cc"), (9L, "unclustered"))
      .toDF("doc_id", "text")
    val clusters = Seq((1L, 1L), (2L, 1L), (5L, 5L)).toDF("doc_id", "cluster_id")
    val out = Dedup.dedupImpact(docs, "doc_id", "text", clusters)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // cluster 1: reps keep doc 1's 4 chars, doc 2's 6 drop
    assert(out(1L) === ((2L, 10L, 4L, 6L)))
    // singleton cluster: nothing drops
    assert(out(5L) === ((1L, 2L, 2L, 0L)))
    // docs outside every cluster don't appear (they are not dedup work)
    assert(!out.contains(9L) && out.size === 2)
  }

  test("contaminationSpans locates test-in-train leaks; corpus sides never self-pair") {
    val sp = spark; import sp.implicits._
    // the benchmark item's text appears verbatim inside a train doc;
    // two TRAIN docs also share a span with each other (must NOT appear:
    // the join is test x train, never train²), as do two TEST docs
    val train = Seq(
      (1L, "prefix THE BENCHMARK QUESTION TEXT suffix"),
      (2L, "train twins share this long sentence one"),
      (3L, "train twins share this long sentence two"))
      .toDF("doc_id", "text")
    val test = Seq(
      (10L, "the benchmark question text"),
      (11L, "test twins also share phrasing entirely"),
      (12L, "test twins also share phrasing as well"))
      .toDF("doc_id", "text")
    val got = Dedup.contaminationSpans(train, test, "doc_id", "text",
        k = 8, minLen = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getInt(3), r.getInt(4))).toSet
    // test doc 10 found at train doc 1 position 8 (after "prefix "),
    // full 27-char item; train-train and test-test leaks are invisible
    assert(got === Set((10L, 1L, 1, 8, 27)), s"span mismatch: $got")
    // maxDf drops train-side stop-grams: 81 noisy train docs make every
    // 8-gram inside "the benchmark " (trailing space included — noisy
    // docs continue "benchmark padding") hot, which SPLITS the evidence
    // span down to the "chmark question text" tail (20 chars from test
    // position 8) — capped grams shorten spans, never invent them
    val noisy = train.unionAll(
      (100L to 180L).map(i => (i, s"prefix THE BENCHMARK padding $i"))
        .toDF("doc_id", "text"))
    val capped = Dedup.contaminationSpans(noisy, test, "doc_id", "text",
        k = 8, minLen = 16, maxDf = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getInt(3), r.getInt(4))).toSet
    assert(capped === Set((10L, 1L, 8, 15, 20)),
      s"hot-gram cap did not shorten the span as expected: $capped")
  }

  test("duplicateSpansWithin examines ONLY the given candidate pairs") {
    val sp = spark; import sp.implicits._
    // two independent duplicated pairs; the candidate set names only one
    val docs = Seq(
      (1L, "aaaa SHARED SPAN HERE bbbb"), (2L, "cc shared span here dd"),
      (3L, "xx other duplicate run yy"), (4L, "qq other duplicate run ww"))
      .toDF("doc_id", "text")
    val onlyOne = Seq((1L, 2L)).toDF("id1", "id2")
    val got = Dedup.duplicateSpansWithin(docs, onlyOne, "doc_id", "text",
        k = 8, minLen = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((1L, 2L)),
      s"pair (3,4) shares a span but is not a candidate — must be absent: $got")
    // reversed / self pairs are normalized away, never trusted
    val junk = Seq((2L, 1L), (3L, 3L)).toDF("id1", "id2")
    assert(Dedup.duplicateSpansWithin(docs, junk, "doc_id", "text",
      k = 8, minLen = 16).count() === 0)
  }

  test("duplicateSpansCandidates equals uncapped duplicateSpans (winnow guarantee)") {
    val sp = spark; import sp.implicits._
    // planted spans at several lengths + unrelated docs + a repeated
    // motif: everything the full gram self-join finds, the screened
    // composition must find identically
    val docs = Seq(
      (1L, "aaaa SHARED SPAN HERE bbbb and more prose follows it"),
      (2L, "cc shared span here dd completely different tail"),
      (3L, "xx the quick brown fox jumps over the lazy dog yy"),
      (4L, "qq the quick brown fox jumps over the lazy dog ww"),
      (5L, "totally unrelated text with zero overlap whatsoever"),
      (6L, "another loner document that matches absolutely nobody"),
      (7L, "prefix then the quick brown fox jumps over the lazy dog end"))
      .toDF("doc_id", "text")
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3), r.getInt(4))
    val full = Dedup.duplicateSpans(docs, "doc_id", "text", k = 8, minLen = 16)
      .collect().map(key).toSet
    val screened = Dedup.duplicateSpansCandidates(docs, "doc_id", "text",
        k = 8, minLen = 16)
      .collect().map(key).toSet
    assert(full.nonEmpty, "harness broken: no spans planted")
    assert(screened === full, s"screened composition diverged:\n full=$full\n scr=$screened")
    // minLen below the winnow guarantee length is a contract error
    assertThrows[IllegalArgumentException] {
      Dedup.duplicateSpansCandidates(docs, "doc_id", "text", k = 4,
        minLen = 6, winnowKgram = 5, winnowWindow = 4)
    }
  }

  test("winnow screen on a realistic-sparsity corpus admits ~true pairs, not the cross product") {
    val sp = spark; import sp.implicits._
    // 300 mostly-unique docs + 4 planted clone pairs sharing a long
    // span — the REAL corpus shape (the bench documents table is
    // worst-case dense: most docs share spans, so the screen's
    // admitted-pair count there says nothing about its selectivity)
    val span = "this exact long shared sentence appears verbatim in both members"
    val base = (0 until 300).map { i =>
      (i.toLong, s"u${i}q alpha${i}z unique${i}x filler${i}y words${i}w tail${i}v " +
        s"more${i}t prose${i}s goes${i}r here${i}p")
    }
    val clones = (0 until 4).flatMap { j =>
      Seq((1000L + j, s"left${j} padding then $span and a j${j} suffix"),
        (2000L + j, s"other${j} intro also containing $span plus j${j} ending"))
    }
    val docs = (base ++ clones).toDF("doc_id", "text")
    val kg = 16 - 4 + 1 // the auto tightest winnow k-gram for minLen=16, window=4
    val fps = TextAnalysis.winnowFingerprints(docs, "doc_id", "text", kg, 4)
    val candidates = fps.as("a").join(fps.as("b"),
        $"a.fingerprint" === $"b.fingerprint" && $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id", $"b.doc_id").distinct().count()
    val truePairs = Dedup.duplicateSpans(docs, "doc_id", "text", k = 8, minLen = 16)
      .select($"id1", $"id2").distinct().count()
    assert(truePairs >= 4L, s"harness broken: planted pairs missing ($truePairs)")
    // the screen's selectivity claim: candidates ≈ true pairs, nowhere
    // near the 308·307/2 ≈ 47k cross product the dense corpus admits
    assert(candidates <= truePairs * 3,
      s"screen admitted $candidates pairs for $truePairs true pairs")
    // and the screened composition still finds exactly the full answer
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3), r.getInt(4))
    val full = Dedup.duplicateSpans(docs, "doc_id", "text", k = 8, minLen = 16)
      .collect().map(key).toSet
    val screened = Dedup.duplicateSpansCandidates(docs, "doc_id", "text",
        k = 8, minLen = 16)
      .collect().map(key).toSet
    assert(screened === full)
  }

  test("duplicate clusters: transitive pairs become one component") {
    // components: {1,2,3,4} via chain, {10,11} direct, {20,21,22} triangle
    val pairs = spark.createDataFrame(Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L))).toDF("id1", "id2")
    val got = Dedup.duplicateClusters(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L))
    // empty input: no clusters, no crash
    val empty = spark.createDataFrame(Seq.empty[(Long, Long)]).toDF("id1", "id2")
    assert(Dedup.duplicateClusters(empty).count() == 0)
    // long chain needs multiple propagation rounds
    val chain = spark.createDataFrame((1L until 12L).map(i => (i, i + 1))).toDF("id1", "id2")
    val labels = Dedup.duplicateClusters(chain).collect().map(_.getLong(1)).toSet
    assert(labels == Set(1L))
  }

  test("kernel LSH buckets equal the Column lshBucket") {
    val vecs = spark.createDataFrame(
      (1L to 20L).map(i => (i, Array.tabulate(64)(d => ((i * 13 + d * 7) % 19 - 9) / 10.0f)))
    ).toDF("vec_id", "embedding")
    val signs = Similarity.signMatrix(4, 64)
    val kernel = vecs.collect().map { r =>
      r.getLong(0) -> Similarity.bucketOf(r.getSeq[Float](1).toArray, signs)
    }.toMap
    val expr = vecs.select(col("vec_id"),
        Similarity.lshBucket(col("embedding"), 4, 64).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(kernel == expr)
  }

  test("editDistancePairs finds planted typos and matches brute force exactly") {
    val sp = spark; import sp.implicits._
    val names = Seq(
      (1L, "jonathan smith"),   // base
      (2L, "jonathon smith"),   // substitution, dist 1
      (3L, "jonathan smyth"),   // substitution, dist 1 (of 1)
      (4L, "jonathan smiths"),  // insertion, dist 1
      (5L, "jonathan smit"),    // deletion, dist 1
      (6L, "jonathon smyth"),   // dist 2 from base
      (7L, "maria garcia"),     // unrelated
      (8L, "jonathan smith"))   // exact dup, dist 0
      .toDF("id", "name")
    def run(d: Int) = Dedup.editDistancePairs(names, "id", "name", maxDist = d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    // brute force over the same strings with a plain DP levenshtein
    def lev(a: String, b: String): Int = {
      val dp = Array.tabulate(a.length + 1)(i => Array.tabulate(b.length + 1) {
        j => if (i == 0) j else if (j == 0) i else 0 })
      for (i <- 1 to a.length; j <- 1 to b.length)
        dp(i)(j) = math.min(math.min(dp(i - 1)(j) + 1, dp(i)(j - 1) + 1),
          dp(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      dp(a.length)(b.length)
    }
    val raw = names.collect().map(r => (r.getLong(0), r.getString(1)))
    def brute(d: Int) = (for {
      (i1, s1) <- raw; (i2, s2) <- raw if i1 < i2
      dist = lev(s1, s2) if dist <= d
    } yield (i1, i2, dist)).sorted.toSeq
    val d1 = run(1)
    assert(d1 === brute(1), "maxDist=1 diverged from brute force")
    // every planted distance-1 edit (and the exact dup) pairs with base
    assert(Set((1L, 2L), (1L, 4L), (1L, 5L), (1L, 8L))
      .subsetOf(d1.map(t => (t._1, t._2)).toSet))
    assert(!d1.exists(t => t._1 == 1L && t._2 == 6L), "dist-2 leaked into maxDist=1")
    val d2 = run(2)
    assert(d2 === brute(2), "maxDist=2 diverged from brute force")
    assert(d2.contains((1L, 6L, 2)))
  }

  test("editDistancePairs: completeness vs brute force on random strings; dfCap drops hot keys whole") {
    val sp = spark; import sp.implicits._
    val rnd = new scala.util.Random(17)
    // random short strings over a tiny alphabet — lots of accidental
    // near-matches, exercising every edit kind the screen must catch
    val strs = (1L to 60L).map(i =>
      (i, (0 until 4 + rnd.nextInt(4)).map(_ => ('a' + rnd.nextInt(3)).toChar).mkString))
    def lev(a: String, b: String): Int = {
      val dp = Array.tabulate(a.length + 1)(i => Array.tabulate(b.length + 1) {
        j => if (i == 0) j else if (j == 0) i else 0 })
      for (i <- 1 to a.length; j <- 1 to b.length)
        dp(i)(j) = math.min(math.min(dp(i - 1)(j) + 1, dp(i)(j - 1) + 1),
          dp(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      dp(a.length)(b.length)
    }
    val brute = (for {
      (i1, s1) <- strs; (i2, s2) <- strs if i1 < i2
      d = lev(s1, s2) if d <= 2
    } yield (i1, i2, d)).sorted.toSeq
    val got = Dedup.editDistancePairs(strs.toDF("id", "s"), "id", "s", maxDist = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    assert(got === brute, "deletion-neighborhood screen missed a true pair")
    // dfCap: a mass-duplicated string makes its variants hot; capping
    // drops those keys whole (deterministic recall loss), never partially
    val dup = ((1L to 20L).map(i => (i, "aaaa")) :+ (21L, "zzzz") :+ (22L, "zzzz"))
      .toDF("id", "s")
    val capped = Dedup.editDistancePairs(dup, "id", "s", maxDist = 1, dfCap = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped === Set((21L, 22L)),
      s"hot 'aaaa' keys should drop whole, cool 'zzzz' pair survives: $capped")
  }

  test("duplicateClusters survives a deep-diameter graph without planner stats blowup") {
    val sp = spark; import sp.implicits._
    // a 100k-node PATH needs ~17 pointer-jump rounds. Before the
    // stats-flat leaf fix, the label⋈label step SQUARED the carried
    // sizeInBytes estimate each round — by round ~17 the planner ground
    // through 100k-digit BigInteger multiplies (the q95 bench hang,
    // reproduced: minutes of driver CPU on kilobytes of data). With the
    // fix this is ~20 small shuffle rounds.
    val n = 100000
    val path = sp.range(n - 1).select($"id".as("id1"), ($"id" + 1).as("id2"))
    val labels = Dedup.duplicateClusters(path, "id1", "id2", maxIter = 25)
    val agg = labels.agg(
      count(lit(1)), countDistinct($"cluster_id"), min($"cluster_id"))
      .collect().head
    assert(agg.getLong(0) === n.toLong, "every path node labeled")
    assert(agg.getLong(1) === 1L && agg.getLong(2) === 0L,
      "one component rooted at node 0")
    Iterate.release(labels)
    ()
  }

  test("normalizedExactGroups collapses case/punctuation variants; byte-exact dedup doesn't") {
    val sp = spark; import sp.implicits._
    val docs = Seq(
      (1L, "Hello,   World!"),
      (2L, "hello world"),
      (3L, "HELLO-WORLD"),
      (4L, "hello worlds")).toDF("doc_id", "text")
    val norm = Dedup.normalizedExactGroups(docs, "text", "doc_id")
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(norm === Map(1L -> 3L, 4L -> 1L),
      s"three variants must collapse to keep_id 1: $norm")
    // the byte-exact pass sees four distinct documents
    assert(Dedup.exactGroups(docs, "text", "doc_id").count() === 4L)
    // leading/trailing punctuation trims away entirely
    val t = Seq((1L, "  ...a b...  "), (2L, "a b")).toDF("doc_id", "text")
    assert(Dedup.normalizedExactGroups(t, "text", "doc_id").count() === 1L)
  }

  test("prefixJaccardPairs equals the full inverted-index join at several taus") {
    val sp = spark; import sp.implicits._
    val real = sp.read.parquet("/root/testdata/sf0.001/documents.parquet")
    Seq(0.3, 0.5, 0.8).foreach { tau =>
      val full = Dedup.jaccardPairs(real, "doc_id", "text", tau)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
      val pfx = Dedup.prefixJaccardPairs(real, "doc_id", "text", tau)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
      assert(pfx === full, s"prefix screen lost or invented pairs at tau=$tau")
      if (tau == 0.3)
        assert(full.nonEmpty, "vacuous: no pairs at the loosest tau")
    }
  }

  test("prefix candidate set is measurably smaller than the full self-join's") {
    val sp = spark; import sp.implicits._
    val real = sp.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val inv = Dedup.shinglePostings(real, "doc_id", "text").localCheckpoint(true)
    val sizes = inv.groupBy($"doc_id").agg(count(lit(1)).as("n"))
    val (lazyCands, prefix) = Dedup.prefixCandidates(inv, sizes, 0.8)
    val nPrefix = lazyCands.count()
    val nFull = inv.as("a").join(inv.as("b"),
        $"a.s" === $"b.s" && $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id", $"b.doc_id").distinct().count()
    Iterate.release(prefix, inv)
    assert(nPrefix < nFull / 5,
      s"prefix filtering should cut candidates hard at tau=0.8: $nPrefix vs $nFull")
    assert(nPrefix > 0, "vacuous: no candidates at all")
  }

  test("prefixJaccardPairs: a hot shingle shared by every doc never creates candidates") {
    val sp = spark; import sp.implicits._
    // every doc contains the same boilerplate 3-gram ("one two three")
    // plus a unique tail — pairwise Jaccard is far below tau, and the
    // prefix (rarest shingles first) consists of the UNIQUE tails, so
    // the hot shingle builds no candidate group at all
    val boiler = (1L to 30L).map(i =>
      (i, s"one two three unique$i tail$i word$i ending$i"))
      .toDF("doc_id", "text")
    val inv = Dedup.shinglePostings(boiler, "doc_id", "text").localCheckpoint(true)
    val sizes = inv.groupBy($"doc_id").agg(count(lit(1)).as("n"))
    val (lazyCands, prefix) = Dedup.prefixCandidates(inv, sizes, 0.5)
    assert(lazyCands.count() === 0L,
      "boilerplate-only overlap must not reach the candidate join")
    Iterate.release(prefix, inv)
    assert(Dedup.prefixJaccardPairs(boiler, "doc_id", "text", 0.5).count() === 0L)
  }

  test("minhashCalibration: identical docs estimate 1.0 exactly; " +
      "estimates track exact Jaccard") {
    val sp = spark; import sp.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (1L, base), (2L, base),                       // byte-identical pair
      (3L, base + " lambda mu nu xi"),              // near-dup of 1/2
      (4L, "one two three four five six seven")     // unrelated
    ).toDF("doc_id", "text")
    val out = Dedup.minhashCalibration(docs, "doc_id", "text")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))))
      .toMap
    // identical docs: every slot matches, est = jac = 1.0, error 0
    val (m12, e12, j12, err12) = out((1L, 2L))
    assert(m12 === 16L && e12 === 1.0 && j12 === 1.0 && err12 === 0.0)
    // every audited pair: est = matches/16 exactly, err = |est - jac|
    out.foreach { case (_, (m, e, j, err)) =>
      assert(e === m.toDouble / 16.0)
      assert(math.abs(err - math.abs(e - j)) < 1e-9)
    }
    // the unrelated doc shares no band with anyone
    assert(!out.keys.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("duplicateClusters releases every block except the ones its result holds") {
    val sc = spark.sparkContext
    // a chain needs several rounds, so each round's checkpoint is superseded
    val chain = spark.createDataFrame((1L until 12L).map(i => (i, i + 1)))
      .toDF("id1", "id2")
    ReleaseCheck.check(sc, "duplicateClusters")(Dedup.duplicateClusters(chain))
    val empty = spark.createDataFrame(Seq.empty[(Long, Long)]).toDF("id1", "id2")
    ReleaseCheck.check(sc, "duplicateClusters empty")(Dedup.duplicateClusters(empty))
  }
}
