package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The round-3 pipeline additions: simhash-banded near-dup pairs,
  * train/test decontamination, TF-IDF top terms. */
class TextPipelineSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    spark = SparkSession.builder().master("local[2]")
      .appName("text-pipeline-spec")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      // ReleaseCheck counts stored blocks: the context cleaner must not
      // free a leaked checkpoint's blocks before the check reads them
      .config("spark.cleaner.referenceTracking", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ReleaseCheck.track(spark.sparkContext)
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("simhashPairs equals brute-force hamming pairs (recall 1.0 by pigeonhole)") {
    // varied docs + a near-identical pair (one token changed out of many)
    val docs = spark.createDataFrame(
      (1L to 30L).map(i => (i, s"doc $i talks about topic${i % 7} and " +
        s"subject${i % 5} with extra${i % 3} words number$i here")) :+
        (100L, "the quick brown fox jumps over the lazy dog every single day") :+
        (101L, "the quick brown fox jumps over the lazy cat every single day")
    ).toDF("doc_id", "text")
    val banded = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3, bands = 4)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    // brute force: all pairs of kernel simhashes within hamming 3
    val hs = Dedup.simhashKernel(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val brute = (for {
      (i1, h1) <- hs; (i2, h2) <- hs if i1 < i2
      d = java.lang.Long.bitCount(h1 ^ h2) if d <= 3
    } yield ((i1, i2), d)).toMap
    assert(banded == brute)
    // bands that can't guarantee recall are rejected loudly
    assertThrows[IllegalArgumentException](
      Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 4, bands = 4))
  }

  test("contaminationPairs finds planted test-in-train leakage, containment exact") {
    val benchmark = "which planet is closest to the sun mercury of course"
    val train = spark.createDataFrame(Seq(
      (1L, s"some long crawl document that quotes a benchmark $benchmark and continues talking"),
      (2L, "completely unrelated training text about cooking pasta and olive oil recipes"),
      (3L, "another clean document describing mountain hiking routes in detail"))
    ).toDF("doc_id", "text")
    val test = spark.createDataFrame(Seq(
      (100L, benchmark),
      (101L, "what is the boiling point of water at sea level altitude"))
    ).toDF("doc_id", "text")
    val pairs = TextAnalysis.contaminationPairs(train, test, "doc_id", "text", 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // the benchmark item is fully embedded in train doc 1 → containment 1.0
    assert(pairs.toSeq == Seq((100L, 1L, 1.0)))
    // below tau nothing else surfaces; raising the bar to impossible → empty
    assert(TextAnalysis.contaminationPairs(train, test, "doc_id", "text", 1.1).count() == 0)
  }

  test("tfidfTopTerms ranks a document's distinctive rare term first") {
    val docs = spark.createDataFrame(Seq(
      (1L, "common words common words xylophone"),
      (2L, "common words common words different"),
      (3L, "common words common words another"))
    ).toDF("doc_id", "text")
    val top = TextAnalysis.tfidfTopTerms(docs, "doc_id", "text", 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getDouble(3)))
    val byDoc = top.groupBy(_._1)
    // each doc's unique term (df=1, idf=ln 3) outranks the shared ones (idf=0)
    assert(byDoc(1L).head._3 == "xylophone")
    assert(byDoc(2L).head._3 == "different")
    assert(byDoc(3L).head._3 == "another")
    // shared terms score exactly 0 (ln(3/3)) and tie-break alphabetically
    assert(byDoc(1L)(1)._3 == "common" && byDoc(1L)(1)._4 == 0.0)
    // per-doc ranks are 1..k
    assert(byDoc.values.forall(_.map(_._2).sorted.toSeq == Seq(1, 2)))
    // score math: unique term tf = 1/5, idf = ln(3) → round 6
    val expected = BigDecimal(math.log(3.0) / 5.0)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(byDoc(1L).head._4 == expected)
  }

  test("weightedSample: deterministic, weight-dominant rows always win, k-bounded") {
    val sp = spark; import sp.implicits._
    // two groups of 50 rows; in group "a" one row carries overwhelming
    // weight — u^(1/w) → 1 as w grows, so it MUST be sampled
    val rows = (1L to 50L).map(i => (i, "a", if (i == 17L) 1.0e6 else 0.001)) ++
      (101L to 150L).map(i => (i, "b", 1.0))
    val df = rows.toDF("id", "g", "w")
    val got = TextAnalysis.weightedSample(df, "g", "id", "w", k = 3)
      .collect().map(r => (r.getString(1), r.getLong(0))).toSet
    assert(got.count(_._1 == "a") === 3 && got.count(_._1 == "b") === 3)
    assert(got.contains(("a", 17L)), s"dominant-weight row not sampled: $got")
    // repartition-invariant (hash-derived u, not RNG)
    val again = TextAnalysis.weightedSample(df.repartition(13), "g", "id", "w", k = 3)
      .collect().map(r => (r.getString(1), r.getLong(0))).toSet
    assert(again === got)
    // null / non-positive weights are excluded, never crash the key math
    val dirty = Seq((1L, "a", Some(2.0)), (2L, "a", Some(0.0)),
      (3L, "a", Some(-1.0)), (4L, "a", None)).toDF("id", "g", "w")
    val clean = TextAnalysis.weightedSample(dirty, "g", "id", "w", k = 10)
      .collect().map(_.getLong(0)).toSet
    assert(clean === Set(1L))
  }

  test("weightedSample large equal weights stay u-ranked, not id-ascending (key saturation)") {
    val sp = spark; import sp.implicits._
    // 40 rows, all weight 50000 — the old u^(1/w) key rounds every row
    // to 1.000000 at this magnitude, degenerating the "sample" to the k
    // lowest ids; the double-log key must still rank by u. Equal
    // weights ⇒ the winners are exactly the k smallest ln(−ln(u)), i.e.
    // the k largest u — computed here independently from the same md5
    // formula the operator pins.
    val ids = (1L to 40L)
    val df = ids.map(i => (i, "g", 50000.0)).toDF("id", "g", "w")
    def u(id: Long): Double = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(7)
      (java.lang.Long.parseLong(hex, 16).toDouble + 0.5) / (1L << 28).toDouble
    }
    val expect = ids.sortBy(i => (-u(i), i)).take(3).toSet
    val got = TextAnalysis.weightedSample(df, "g", "id", "w", k = 3)
      .collect().map(_.getLong(0)).toSet
    assert(got === expect, s"large-weight sample not u-ranked: got $got expected $expect")
    // and the independently-computed winners are NOT the ascending-id
    // degenerate answer the saturated key produced
    assert(expect !== ids.take(3).toSet, "test corpus does not discriminate")
  }

  test("bm25TopK ranks rare-term matches over common-term matches and honors excludeSelf") {
    val sp = spark; import sp.implicits._
    // "zebra" appears in docs 1 and 10 only (rare); "the" in every doc
    // (common). Query 1 contains both; BM25's idf must put the zebra
    // match (doc 10) above the the-only matches regardless of length.
    val docs = Seq(
      (1L, "the zebra grazes"),
      (10L, "a zebra runs far"),
      (11L, "the cat sat on the mat"),
      (12L, "the dog barks at the moon"),
      (13L, "the bird sings")).toDF("doc_id", "text")
    val got = TextAnalysis.bm25TopK(docs, docs.filter($"doc_id" === 1L),
      "doc_id", "text", "doc_id", "text", k = 4, excludeSelf = true)
      .collect().map(r => (r.getInt(1), r.getLong(2))).toMap
    assert(got(1) === 10L, s"rare-term match must rank first: $got")
    assert(!got.values.toSet.contains(1L), "excludeSelf leaked the query doc")
    // repeating a query term must not multiply its weight (distinct terms)
    val rep = Seq((1L, "zebra zebra zebra the")).toDF("doc_id", "text")
    val one = Seq((1L, "zebra the")).toDF("doc_id", "text")
    def scores(q: org.apache.spark.sql.DataFrame) =
      TextAnalysis.bm25TopK(docs, q, "doc_id", "text", "doc_id", "text", k = 5)
        .collect().map(r => (r.getLong(2), r.getDouble(3))).toMap
    assert(scores(rep) === scores(one), "query term repetition changed scores")
    // partition-order independence of the DECIMAL-addend sum
    val again = TextAnalysis.bm25TopK(docs.repartition(7),
      docs.filter($"doc_id" === 1L), "doc_id", "text", "doc_id", "text",
      k = 4, excludeSelf = true)
      .collect().map(r => (r.getInt(1), r.getLong(2))).toMap
    assert(again === got)
  }

  test("bpeMerges learns the hand-computed merge sequence and stops when pairs run out") {
    val sp = spark; import sp.implicits._
    // vocab: aaab x2, aab x1. Round 1: (a,a) appears 2*2+1=5 times ->
    // merge; greedy left-to-right resegments aaab=[aa,a,b], aab=[aa,b].
    // Round 2: (aa,a)=2 ties (a,b)=2 -> lexicographic tiebreak picks
    // (a,b) -> aaab=[aa,ab]. Round 3: (aa,ab)=2 beats (aa,b)=1.
    val docs = Seq((1L, "aaab aaab"), (2L, "aab")).toDF("doc_id", "text")
    val got = TextAnalysis.bpeMerges(docs, "text", nMerges = 3)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(got.toSeq === Seq((1, "a", "a", 5L), (2, "a", "b", 2L), (3, "aa", "ab", 2L)))
    // exhaustion: a fully merged vocab ends training early, no error
    val tiny = Seq((1L, "ab")).toDF("doc_id", "text")
    val ex = TextAnalysis.bpeMerges(tiny, "text", nMerges = 50)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(ex.toSeq === Seq((1, "a", "b", 1L)))
    // deterministic under repartitioning (pair counts are exact integers)
    val again = TextAnalysis.bpeMerges(docs.repartition(7), "text", nMerges = 3)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(again.toSeq === got.toSeq)
  }

  test("bpeEncodeCounts applies merges in rank order with training's greedy semantics") {
    val sp = spark; import sp.implicits._
    val docs = Seq((1L, "aaab aaab"), (2L, "aab")).toDF("doc_id", "text")
    // merges learned above: (a,a), (a,b), (aa,ab).
    // aaab: [a,a,a,b] -> [aa,a,b] -> [aa,ab] -> [aaab] = 1 token;
    // aab: [a,a,b] -> [aa,b] -> (a,b) doesn't apply to [aa,b] -> 2 tokens.
    val merges = Seq(("a", "a"), ("a", "b"), ("aa", "ab"))
    val got = TextAnalysis.bpeEncodeCounts(docs, "doc_id", "text", merges)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === Set((1L, 2L, 2L), (2L, 1L, 2L)),
      s"encode mismatch: $got")
    // no merges: token count equals character count
    val none = TextAnalysis.bpeEncodeCounts(docs, "doc_id", "text", Seq.empty)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(none === Set((1L, 8L), (2L, 3L)))
  }

  test("bpeMergesBatched at batch=1 IS classic bpeMerges; batches are symbol-disjoint") {
    val sp = spark; import sp.implicits._
    // realistic-ish vocab: repeated words with shared structure
    val docs = Seq((1L, "banana bandana analog analog banana log bandana dana"),
      (2L, "banana analog anagram grammar program dana dana")).toDF("doc_id", "text")
    // batch=1 -> the greedy walk accepts exactly the global best pair
    // each round: the trainer degenerates to classic BPE rank-for-rank
    val classic = TextAnalysis.bpeMerges(docs, "text", nMerges = 8)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    val batched1 = TextAnalysis.bpeMergesBatched(docs, "text", rounds = 8, batch = 1)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(batched1 === classic, "batch=1 must equal classic BPE")
    // wider batches: within every round the accepted pairs share no
    // symbol (the property that makes the batch rewrite order-free),
    // counts are positive, ranks are 1..n
    val b4 = TextAnalysis.bpeMergesBatched(docs, "text", rounds = 3, batch = 4)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(b4.map(_._1) === (1 to b4.length).toSeq)
    assert(b4.forall(_._4 > 0))
    // reconstruct round boundaries by replaying the trainer's greedy
    // walk: counts within a round are non-increasing only per round, so
    // check pairwise disjointness on every window where counts could
    // belong to one round — conservatively, consecutive entries sharing
    // a symbol must have come from different rounds, i.e. a merge using
    // a symbol CREATED by an earlier merge must appear strictly later
    b4.zipWithIndex.foreach { case ((_, l, r, _), i) =>
      val createdAt = b4.indexWhere { case (_, pl, pr, _) => pl + pr == l || pl + pr == r }
      if (createdAt >= 0)
        assert(createdAt < i, s"merge $i uses symbol created at $createdAt")
    }
    // determinism under repartitioning
    val again = TextAnalysis.bpeMergesBatched(docs.repartition(5), "text",
        rounds = 3, batch = 4)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(again === b4)
    // 2-hex seeding: symbols are 2-char units, so every learned lhs/rhs
    // has even length
    val hexDocs = docs.select(md5($"text").as("w"))
    val hx = TextAnalysis.bpeMergesBatched(hexDocs, "w", rounds = 2, batch = 8,
        seedSymbolLen = 2)
      .collect().map(r => (r.getString(1), r.getString(2)))
    assert(hx.nonEmpty && hx.forall { case (l, r) => l.length % 2 == 0 && r.length % 2 == 0 })
  }

  test("bpeMerges maxVocab: identity when the vocab fits, deterministic top-N cap when it doesn't") {
    val sp = spark; import sp.implicits._
    val docs = Seq((1L, "aaab aaab"), (2L, "aab")).toDF("doc_id", "text")
    def train(cap: Int) = TextAnalysis.bpeMerges(docs, "text", nMerges = 3, maxVocab = cap)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    // 2 distinct words: a cap of 2 (or more) is the identity
    assert(train(2) === train(1000))
    assert(train(2) === Seq((1, "a", "a", 5L), (2, "a", "b", 2L), (3, "aa", "ab", 2L)))
    // cap of 1 keeps only aaab (cnt 2 beats aab's 1): (a,a) now counts 4,
    // and aab's contribution is gone from every round
    assert(train(1) === Seq((1, "a", "a", 4L), (2, "a", "b", 2L), (3, "aa", "ab", 2L)))
  }

  test("bpeEncodeCounts kernel is row-for-row equal to the Column twin on trained merges") {
    val sp = spark; import sp.implicits._
    val docs = Seq(
      (1L, "the cat sat on the mat"), (2L, "the bat and the cat chat"),
      (3L, "concatenate the catalogue"), (4L, "aaab aab abab banana"),
      (5L, "mississippi missive"), (6L, "zzz zz z")).toDF("doc_id", "text")
    val merges = TextAnalysis.bpeMerges(docs, "text", nMerges = 32)
      .orderBy($"rank").collect().map(r => (r.getString(1), r.getString(2))).toSeq
    assert(merges.nonEmpty)
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val kernel = rows(TextAnalysis.bpeEncodeCounts(docs, "doc_id", "text", merges))
    val column = rows(TextAnalysis.bpeEncodeCountsColumn(docs, "doc_id", "text", merges))
    assert(kernel === column, "kernel and Column encoder disagree")
  }

  test("bpeEncodeCounts is rank-order single-pass, not min-rank-first iteration") {
    val sp = spark; import sp.implicits._
    // merge 1 = (ab, c) cannot apply until merge 2 = (a, b) creates the
    // "ab" symbol; rank-order single-pass (training's semantics) never
    // revisits merge 1, so "abc" must encode to [ab, c] = 2 tokens.
    // A min-rank-first loop would re-apply merge 1 and emit 1 token.
    val docs = Seq((1L, "abc")).toDF("doc_id", "text")
    val merges = Seq(("ab", "c"), ("a", "b"))
    val kernel = TextAnalysis.bpeEncodeCounts(docs, "doc_id", "text", merges)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(kernel === Set((1L, 2L)), s"not rank-order single-pass: $kernel")
    val column = TextAnalysis.bpeEncodeCountsColumn(docs, "doc_id", "text", merges)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(column === kernel)
  }

  test("bpeEncodeCounts applies a 5000-merge table (production scale) without blowup") {
    val sp = spark; import sp.implicits._
    // a deep applicable chain (a+a doubling, then suffix growth) mixed
    // into thousands of never-matching merges: the kernel must stay a
    // cheap prefilter loop where the Column fold would build a
    // 5000-deep expression tree.
    val chain = Seq(("a", "a"), ("aa", "aa"), ("aaaa", "aaaa"), ("aaaaaaaa", "b"))
    val noise = (0 until 4996).map(i => (s"q${i}x", s"q${i}y"))
    val merges = chain ++ noise
    val docs = Seq((1L, "aaaaaaaab aab"), (2L, "aaaa")).toDF("doc_id", "text")
    val got = TextAnalysis.bpeEncodeCounts(docs, "doc_id", "text", merges)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // aaaaaaaab: [a*8,b] -> [aa*4,b] -> [aaaa*2,b] -> [a8,b] -> [a8b] = 1
    // aab: [a,a,b] -> [aa,b] = 2 ; aaaa: -> [aa,aa] -> [aaaa] = 1
    assert(got === Set((1L, 2L, 3L), (2L, 1L, 1L)), s"5k-merge encode wrong: $got")
  }

  test("charEntropy: zero for repeated chars, ln(k) for uniform alphabets, case-folded") {
    val sp = spark; import sp.implicits._
    val docs = Seq(
      (1L, "aaaaaaaa"), // degenerate: entropy 0
      (2L, "abababab"), // two uniform symbols: ln 2
      (3L, "abcd"), // four uniform symbols: ln 4
      (4L, "AaAa")) // case-folded -> one symbol: 0
      .toDF("doc_id", "text")
    val got = TextAnalysis.charEntropy(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getDouble(2)))).toMap
    assert(got(1L) === ((8, 0.0)))
    assert(got(2L)._2 === math.rint(math.log(2) * 1e6) / 1e6)
    assert(got(3L)._2 === math.rint(math.log(4) * 1e6) / 1e6)
    assert(got(4L) === ((4, 0.0)))
    // repetition-heavy text scores strictly below varied text of equal length
    val cmp = TextAnalysis.charEntropy(Seq(
      (10L, "spam spam spam spam spam"), (11L, "the quick brown fox dove"))
      .toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(cmp(10L) < cmp(11L), s"repetition not penalized: $cmp")
  }

  test("gopherQuality: prose passes; short, numeric, and stopword-free docs fail with the right signal") {
    val sp = spark; import sp.implicits._
    val prose = (("the quick brown fox jumps over that lazy dog with " * 6) +
      "plenty of normal prose words have been added here today").trim
    val docs = Seq(
      (1L, prose), // >= 50 words, stopwords, alpha
      (2L, "too short to pass the gate"), // n_words < 50
      (3L, ("12345 67890 " * 30).trim), // alpha fraction 0, no stopwords
      (4L, null.asInstanceOf[String])) // dropped, not crashed
      .toDF("doc_id", "text")
    val got = TextAnalysis.gopherQuality(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(4), r.getBoolean(5)))).toMap
    assert(got.keySet === Set(1L, 2L, 3L))
    assert(got(1L)._3, s"prose doc should pass: ${got(1L)}")
    assert(got(1L)._2 >= 2, "prose doc should hit stopwords")
    assert(!got(2L)._3 && got(2L)._1 < 50, "short doc must fail on word count")
    assert(!got(3L)._3 && got(3L)._2 === 0, "numeric doc must fail with zero stop hits")
    // frac_alpha of the numeric doc is exactly 0
    val fa = TextAnalysis.gopherQuality(docs, "doc_id", "text")
      .filter($"doc_id" === 3L).collect().head.getDouble(3)
    assert(fa === 0.0)
  }

  test("winnowFingerprints: shared long substrings share a fingerprint; disjoint texts do not") {
    val sp = spark; import sp.implicits._
    val shared = "abcdefghijklmnopqrstuvwxyz" // 26 chars >= window+kgram-1 = 8
    val docs = Seq(
      (1L, s"prefix one $shared suffix alpha"),
      (2L, s"completely different lead-in $shared and tail"),
      (3L, "zzz qqq 0101010101 totally unrelated content vvv"),
      (4L, "short")) // below kgram+window-1: excluded entirely
      .toDF("doc_id", "text")
    val fp = TextAnalysis.winnowFingerprints(docs, "doc_id", "text")
    val byDoc = fp.collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(!byDoc.contains(4L), "sub-threshold doc should emit nothing")
    // the winnowing guarantee: a shared substring of length >= w+k-1
    // yields at least one shared fingerprint
    assert((byDoc(1L) & byDoc(2L)).nonEmpty, "shared 26-char substring not detected")
    assert((byDoc(1L) & byDoc(3L)).isEmpty, "unrelated docs share a fingerprint")
    // deterministic under repartitioning
    val again = TextAnalysis.winnowFingerprints(docs.repartition(7), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(again === fp.collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    // density: ~2/(window+1) of the k-gram count, never more than windows
    val n1 = docs.filter($"doc_id" === 1L).collect().head.getString(1).length
    assert(byDoc(1L).size <= n1 - 5 - 4 + 2, "more fingerprints than windows")
  }

  test("crossLogProb: in-vocabulary targets outscore OOV ones under the reference LM") {
    val sp = spark; import sp.implicits._
    val reference = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the dog sleeps and the fox runs"),
      (3L, "a quick brown dog")).toDF("doc_id", "text")
    val target = Seq(
      (10L, "the quick dog"), // every token in the reference
      (11L, "zzyzx qwfp vvkk"), // fully out-of-vocabulary
      (12L, "")).toDF("doc_id", "text") // no tokens → no row
    val got = TextAnalysis.crossLogProb(target, reference, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getDouble(2))).toMap
    assert(got.keySet === Set(10L, 11L), s"tokenless doc leaked: ${got.keySet}")
    assert(got(10L)._1 === 3 && got(11L)._1 === 3)
    assert(got(10L)._2 > got(11L)._2,
      s"OOV doc did not score lower: ${got(10L)._2} vs ${got(11L)._2}")
    // OOV floor: every OOV token contributes ln(1/(N+V)) exactly
    val refToks = reference.select(explode(TextAnalysis.tokens($"text")).as("t"))
    val refTokens = refToks.count()
    val vocab = refToks.distinct().count()
    val floor = BigDecimal(math.log(1.0 / (refTokens + vocab)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(math.abs(got(11L)._2 - floor) < 2e-6, s"${got(11L)._2} vs $floor")
  }

  test("contaminationPairs and tfidfTopTerms handle empty inputs") {
    val empty = spark.createDataFrame(Seq.empty[(Long, String)]).toDF("doc_id", "text")
    assert(TextAnalysis.contaminationPairs(empty, empty, "doc_id", "text", 0.5).count() == 0)
    assert(TextAnalysis.tfidfTopTerms(empty, "doc_id", "text", 3).count() == 0)
    assert(Dedup.simhashPairs(empty, "doc_id", "text").count() == 0)
  }

  test("knBigramLogProb matches a local Kneser-Ney reference; continuation counts matter") {
    val sp = spark; import sp.implicits._
    // "york" always follows "new" (one context); "run" follows four
    // different words (four contexts) at the same total frequency —
    // the continuation term must separate them where raw counts can't
    val docs = Seq(
      (1L, "new york new york new york new york"),
      (2L, "dogs run cats run kids run horses run"),
      (3L, "new york dogs run"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.knBigramLogProb(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getDouble(2)))).toMap
    // local reference over the same corpus stats
    val toks = Seq(
      1L -> "new york new york new york new york".split(" ").toSeq,
      2L -> "dogs run cats run kids run horses run".split(" ").toSeq,
      3L -> "new york dogs run".split(" ").toSeq)
    val allBg = toks.flatMap { case (id, tk) =>
      tk.sliding(2).map(p => (id, p.mkString(" "))).toSeq }
    val bf = allBg.groupBy(_._2).map { case (bg, xs) => bg -> xs.size.toLong }
    val w1f = bf.groupBy(_._1.split(" ")(0)).map { case (w, xs) => w -> xs.values.sum }
    val n1r = bf.groupBy(_._1.split(" ")(0)).map { case (w, xs) => w -> xs.size.toLong }
    val n1l = bf.groupBy(_._1.split(" ")(1)).map { case (w, xs) => w -> xs.size.toLong }
    val tt = bf.size.toDouble
    def p(bg: String): Double = {
      val Array(a, b) = bg.split(" ")
      math.max(bf(bg) - 0.75, 0.0) / w1f(a) +
        0.75 * n1r(a) / w1f(a) * (n1l(b) / tt)
    }
    toks.foreach { case (id, tk) =>
      val perDoc = tk.sliding(2).map(_.mkString(" ")).toSeq
        .groupBy(identity).map { case (bg, xs) => bg -> xs.size }
      val sl = perDoc.map { case (bg, cnt) =>
        java.math.BigDecimal.valueOf(cnt * math.log(p(bg)))
          .setScale(12, java.math.RoundingMode.HALF_UP) }
        .reduce(_ add _)
      val n = perDoc.values.sum
      val expect = java.math.BigDecimal
        .valueOf(sl.doubleValue() / n)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
      assert(got(id)._1 === n, s"doc $id bigram count")
      assert(got(id)._2 === expect, s"doc $id mean logprob")
    }
    // the repeated-context doc must score higher than the diverse one is
    // NOT required — but "new york" must be more probable than any
    // single "X run" bigram: same count ratio, richer continuation is
    // offset by york's single left context
    assert(p("new york") > p("dogs run"),
      "high-count bigram must outscore a low-count one")
  }

  test("knTrigramLogProb matches a local three-level Kneser-Ney reference") {
    val sp = spark; import sp.implicits._
    val docs = Seq(
      (1L, "the cat sat on the mat the cat sat again"),
      (2L, "a dog ran and a dog sat and a dog barked"),
      (3L, "the cat ran on a mat"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.knTrigramLogProb(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getDouble(2)))).toMap
    val toks = Seq(
      1L -> "the cat sat on the mat the cat sat again".split(" ").toSeq,
      2L -> "a dog ran and a dog sat and a dog barked".split(" ").toSeq,
      3L -> "the cat ran on a mat".split(" ").toSeq)
    // corpus trigram type inventory and the five derived stats
    val allTg = toks.flatMap { case (id, tk) =>
      tk.sliding(3).map(p => (id, p.mkString(" "))).toSeq }
    val tf = allTg.groupBy(_._2).map { case (g, xs) => g -> xs.size.toLong }
    def w(g: String, i: Int) = g.split(" ")(i)
    val c12f = tf.groupBy { case (g, _) => w(g, 0) + " " + w(g, 1) }
      .map { case (h, xs) => h -> xs.values.sum }
    val n1r12 = tf.groupBy { case (g, _) => w(g, 0) + " " + w(g, 1) }
      .map { case (h, xs) => h -> xs.size.toLong }
    val n1l23 = tf.groupBy { case (g, _) => w(g, 1) + " " + w(g, 2) }
      .map { case (t, xs) => t -> xs.size.toLong }
    val nMid = tf.groupBy { case (g, _) => w(g, 1) }
      .map { case (m, xs) => m -> xs.size.toLong }
    val n1rMid = tf.groupBy { case (g, _) => w(g, 1) }
      .map { case (m, xs) => m -> xs.keys.map(w(_, 2)).toSet.size.toLong }
    val n1lUni = tf.keys.map(g => (w(g, 1), w(g, 2))).toSet
      .groupBy((mu: (String, String)) => mu._2)
      .map { case (u, xs) => u -> xs.size.toLong }
    val tt = tf.keys.map(g => w(g, 1) + " " + w(g, 2)).toSet.size.toDouble
    def p(g: String): Double = {
      val (h, t, m, u) = (w(g, 0) + " " + w(g, 1), w(g, 1) + " " + w(g, 2),
        w(g, 1), w(g, 2))
      val pBi = math.max(n1l23(t) - 0.75, 0.0) / nMid(m) +
        0.75 * n1rMid(m) / nMid(m) * (n1lUni(u) / tt)
      math.max(tf(g) - 0.75, 0.0) / c12f(h) +
        0.75 * n1r12(h) / c12f(h) * pBi
    }
    toks.foreach { case (id, tk) =>
      val perDoc = tk.sliding(3).map(_.mkString(" ")).toSeq
        .groupBy(identity).map { case (g, xs) => g -> xs.size }
      val sl = perDoc.map { case (g, cnt) =>
        java.math.BigDecimal.valueOf(cnt * math.log(p(g)))
          .setScale(12, java.math.RoundingMode.HALF_UP) }
        .reduce(_ add _)
      val n = perDoc.values.sum
      val expect = java.math.BigDecimal
        .valueOf(sl.doubleValue() / n)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
      assert(got(id)._1 === n, s"doc $id trigram count")
      assert(got(id)._2 === expect, s"doc $id mean logprob")
    }
    // a twice-seen trigram with a fixed history must outscore a
    // once-seen one under the same middle mass
    assert(p("the cat sat") > p("the cat ran"))
    // sub-trigram docs are dropped
    val short = Seq((9L, "just two")).toDF("doc_id", "text")
    assert(TextAnalysis.knTrigramLogProb(short, "doc_id", "text").count() === 0)
  }

  test("knBigramLogProb is repartition-deterministic on real docs") {
    val sp = spark; import sp.implicits._
    val docs = sp.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def run(parts: Int) = TextAnalysis.knBigramLogProb(
        docs.repartition(parts), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
      .sortBy(_._1)
    val a = run(1)
    assert(a.nonEmpty && a.toSeq === run(7).toSeq)
    assert(a.map(_._3).distinct.length > 1, "scores must vary across docs")
  }

  test("textRankKeywords ranks the co-occurrence hub first; tiny docs emit nothing") {
    val sp = spark; import sp.implicits._
    // "pivot" neighbors every other word; satellites only touch pivot +
    // one neighbor — the hub must win. Doc 2 has a single token (no
    // edges), doc 3 is empty: neither emits rows.
    val docs = Seq(
      (1L, "pivot alpha pivot beta pivot gamma pivot delta"),
      (2L, "lonely"),
      (3L, "")).toDF("doc_id", "text")
    val got = TextAnalysis.textRankKeywords(docs, "doc_id", "text", k = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getDouble(3)))
    assert(got.forall(_._1 == 1L), "edge-less docs must emit nothing")
    assert(got.length === 2)
    assert(got.find(_._2 == 1).get._3 === "pivot", s"hub word must rank 1: ${got.toSeq}")
    val scores = got.map(_._4)
    assert(scores(0) > scores(1), "rank order must follow score order")
  }

  test("textRankKeywords is deterministic under repartitioning on real docs") {
    val sp = spark; import sp.implicits._
    val docs = sp.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def run(parts: Int) = TextAnalysis.textRankKeywords(
        docs.repartition(parts), "doc_id", "text", k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getDouble(3)))
      .sortBy(x => (x._1, x._2))
    val a = run(1)
    assert(a.nonEmpty && a.toSeq === run(7).toSeq)
    // every emitting doc yields exactly k=3 ranked words with distinct ranks
    a.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.map(_._2).sorted.toSeq === (1 to rows.length).toSeq)
    }
    // keywords vary across docs (not one global winner — graphs are per doc)
    assert(a.filter(_._2 == 1).map(_._3).distinct.length > 1)
  }

  test("leakageSafeSplit keeps every near-dup cluster on its representative's side") {
    val sp = spark; import sp.implicits._
    val docs = (1L to 200L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    // fixture chosen so the naive per-doc splits DIFFER inside each
    // cluster (md5 buckets: 5→train, 8→test, 16→val; 30→test, 42→val)
    val clusters = Seq((5L, 5L), (8L, 5L), (16L, 5L), (30L, 30L), (42L, 30L))
      .toDF("doc_id", "cluster_id")
    val out = TextAnalysis
      .leakageSafeSplit(docs.select(col("doc_id")), "doc_id", clusters)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    def naive(id: Long): String = docs.filter(col("doc_id") === id)
      .select(TextAnalysis.splitAssign(col("doc_id"))).head.getString(0)
    // the guard is non-vacuous: members' naive splits straddle
    assert(Set(naive(5L), naive(8L), naive(16L)).size > 1,
      "fixture vacuous: cluster members' naive splits all agree")
    // every member takes the REPRESENTATIVE's split
    assert(out(5L) === naive(5L) && out(8L) === out(5L) && out(16L) === out(5L))
    assert(out(30L) === naive(30L) && out(42L) === out(30L))
    // unclustered docs are untouched — identical to plain splitAssign
    val clustered = Set(5L, 8L, 16L, 30L, 42L)
    docs.filter(!col("doc_id").isin(clustered.toSeq: _*))
      .select(col("doc_id"), TextAnalysis.splitAssign(col("doc_id")).as("s"))
      .collect().foreach(r =>
        assert(out(r.getLong(0)) === r.getString(1)))
    // all three splits appear
    assert(out.values.toSet === Set("train", "val", "test"))
  }

  test("leakageSafeKFold folds every near-dup cluster with its representative") {
    val sp = spark; import sp.implicits._
    val docs = (1L to 200L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val clusters = Seq((5L, 5L), (8L, 5L), (16L, 5L), (30L, 30L), (42L, 30L))
      .toDF("doc_id", "cluster_id")
    val k = 5
    val out = TextAnalysis
      .leakageSafeKFold(docs.select(col("doc_id")), "doc_id", clusters, k)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    def naive(id: Long): Int = docs.filter(col("doc_id") === id)
      .select((conv(substring(md5(col("doc_id").cast("string")), 1, 8),
        16, 10) % k).cast("int")).head.getInt(0)
    // non-vacuous: members' own-id folds straddle
    assert(Set(naive(5L), naive(8L), naive(16L)).size > 1,
      "fixture vacuous: cluster members' naive folds all agree")
    // every member takes the REPRESENTATIVE's fold
    assert(out(5L) === naive(5L) && out(8L) === out(5L) && out(16L) === out(5L))
    assert(out(30L) === naive(30L) && out(42L) === out(30L))
    // unclustered docs fold by their own id; every fold is in [0, k)
    val clustered = Set(5L, 8L, 16L, 30L, 42L)
    docs.filter(!col("doc_id").isin(clustered.toSeq: _*)).collect()
      .foreach(r => assert(out(r.getLong(0)) === naive(r.getLong(0))))
    assert(out.values.forall(f => f >= 0 && f < k))
    assert(out.values.toSet.size === k, "some fold never appears over 200 ids")
    intercept[IllegalArgumentException] {
      TextAnalysis.leakageSafeKFold(docs.select(col("doc_id")), "doc_id",
        clusters, 1)
    }
  }

  test("packSequences fills every non-final window exactly and reassembles each doc") {
    val sp = spark; import sp.implicits._
    // two sources; doc lengths chosen so windows split mid-doc, hit the
    // boundary exactly, and span multiple windows (len 11 incl. EOS > L=8)
    val docs = Seq(
      (1L, "a", ("w " * 5).trim),   // len 6
      (2L, "a", ("w " * 1).trim),   // len 2  -> off 6, fills w0 to the cut
      (3L, "a", ("w " * 10).trim),  // len 11 -> spans windows 1..2
      (4L, "a", ""),                // len 1 (EOS only)
      (5L, "b", ("w " * 7).trim),   // len 8 -> exactly one full window
      (6L, "b", ("w " * 2).trim)    // len 3
    ).toDF("doc_id", "source", "text")
    val out = TextAnalysis.packSequences(docs, windowLen = 8L)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    // per-doc slices reassemble the doc: contiguous offsets, sum = len
    val lens = Map(1L -> 6L, 2L -> 2L, 3L -> 11L, 4L -> 1L, 5L -> 8L, 6L -> 3L)
    out.groupBy(_._2).foreach { case (doc, slices) =>
      val sorted = slices.sortBy(_._3)
      assert(sorted.map(_._5).sum === lens(doc), s"doc $doc token count")
      var expectStart = 0L
      sorted.foreach { s =>
        assert(s._4 === expectStart, s"doc $doc slice gap at ${s._4}")
        expectStart += s._5
      }
    }
    // every window except each source's last holds exactly windowLen tokens
    val bySrcWin = out.groupBy(t => (t._1, t._3))
      .view.mapValues(_.map(_._5).sum).toMap
    val lastWin = out.groupBy(_._1).view.mapValues(_.map(_._3).max).toMap
    bySrcWin.foreach { case ((src, win), total) =>
      if (win != lastWin(src))
        assert(total === 8L, s"window ($src, $win) not full: $total")
      else assert(total <= 8L, s"window ($src, $win) overfull: $total")
    }
    // doc 3 (len 11) spans two windows; sources never share a stream
    assert(out.count(_._2 == 3L) === 2)
    assert(out.filter(_._1 == "b").map(_._3).min === 0L)
  }

  /** Brute-force Viterbi segmentation under exact BigDecimal log-probs
    * with the operator's start-asc backward tie-break; empty when the
    * word end is unreachable (an out-of-vocab char). */
  private def refSegment(w: String, lp: Map[String, BigDecimal],
      maxPieceLen: Int): Seq[String] = {
    val L = w.length
    val best = Array.fill[Option[BigDecimal]](L + 1)(None)
    best(0) = Some(BigDecimal(0))
    for (pos <- 1 to L) {
      var b: Option[BigDecimal] = None
      for (s <- math.max(0, pos - maxPieceLen) until pos) {
        val p = w.substring(s, pos)
        (best(s), lp.get(p)) match {
          case (Some(bs), Some(l)) =>
            val cand = bs + l
            if (b.forall(cand > _)) b = Some(cand)
          case _ =>
        }
      }
      best(pos) = b
    }
    if (best(L).isEmpty) return Seq.empty
    val out = scala.collection.mutable.ListBuffer[String]()
    var pos = L
    while (pos > 0) {
      val s = (math.max(0, pos - maxPieceLen) until pos).find { s =>
        val p = w.substring(s, pos)
        best(s).isDefined && lp.contains(p) &&
          best(s).get + lp(p) == best(pos).get
      }.get
      out += w.substring(s, pos)
      pos = s
    }
    out.toSeq
  }

  /** Scala brute-force reference for [[TextAnalysis.unigramLmVocab]]:
    * same seed / Viterbi-EM / prune rules with BigDecimal DP scores
    * (exact, like the operator's DECIMAL columns) and the start-asc
    * backward tie-break. */
  private def refUnigram(wordsCnt: Map[String, Long], vocabMulti: Int,
      maxPieceLen: Int, emRounds: Int): Map[String, (Long, Double)] = {
    import scala.math.BigDecimal.RoundingMode
    def logp6(f: Long, tv: Long): BigDecimal =
      BigDecimal.valueOf(math.log((f + 1).toDouble / tv.toDouble))
        .setScale(6, RoundingMode.HALF_UP)
    val occ = for {
      (w, c) <- wordsCnt.toSeq
      s <- 0 until w.length
      l <- 1 to maxPieceLen if s + l <= w.length
    } yield (w.substring(s, s + l), c)
    val f0 = occ.groupBy(_._1).map { case (p, xs) => p -> xs.map(_._2).sum }
    var vocab: Map[String, Long] = f0.filter(_._1.length == 1) ++
      f0.filter(_._1.length > 1).toSeq
        .sortBy { case (p, f) => (-f, p) }.take(vocabMulti)
    for (_ <- 1 to emRounds) {
      val tv = vocab.values.sum + vocab.size
      val lp = vocab.map { case (p, f) => p -> logp6(f, tv) }
      val counts = scala.collection.mutable.Map.empty[String, Long]
        .withDefaultValue(0L)
      for ((w, c) <- wordsCnt; p <- refSegment(w, lp, maxPieceLen))
        counts(p) += c
      vocab = vocab.keysIterator.collect {
        case p if p.length == 1 => p -> counts(p)
        case p if counts(p) > 0 => p -> counts(p)
      }.toMap
    }
    val tv = vocab.values.sum + vocab.size
    vocab.map { case (p, f) => p -> (f, logp6(f, tv).toDouble) }
  }

  test("unigramLmVocab matches the brute-force Viterbi-EM reference and covers every char") {
    val sp = spark; import sp.implicits._
    val texts = Seq(
      "the cat sat on the mat the cat ran",
      "banana bandana banana cabana",
      "running runner run runs running",
      "aaa aaaa aa aaa abab ababab",
      "internationalization is a very long word", // >12 chars: excluded
      "the the the cat cat mat")
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val wordsCnt = texts.flatMap(_.toLowerCase.split("[^a-z0-9]+"))
      .filter(w => w.nonEmpty && w.length <= 12)
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    for (em <- Seq(1, 2)) {
      val expected = refUnigram(wordsCnt, vocabMulti = 16,
        maxPieceLen = 4, emRounds = em)
      val got = TextAnalysis.unigramLmVocab(docs, "text", vocabMulti = 16,
          maxPieceLen = 4, maxWordLen = 12, emRounds = em)
        .collect()
        .map(r => r.getString(0) -> (r.getInt(1), r.getLong(2), r.getDouble(3)))
        .toMap
      assert(got.keySet === expected.keySet, s"emRounds=$em vocab diverged")
      got.foreach { case (p, (plen, f, l)) =>
        assert(plen === p.length)
        assert((f, l) === expected(p), s"emRounds=$em piece '$p'")
      }
      // every char of every kept word is covered exactly once:
      // sum(freq x piece_len) == sum(cnt x word_len)
      val charTotal = wordsCnt.map { case (w, c) => c * w.length }.sum
      assert(got.map { case (p, (_, f, _)) => f * p.length }.sum === charTotal,
        s"emRounds=$em char coverage broke")
    }
    // deterministic under partitioning
    val a = TextAnalysis.unigramLmVocab(docs.repartition(1), "text", 16, 4, 12, 2)
      .collect().map(r => (r.getString(0), r.getLong(2), r.getDouble(3))).sortBy(_._1)
    val b = TextAnalysis.unigramLmVocab(docs.repartition(8), "text", 16, 4, 12, 2)
      .collect().map(r => (r.getString(0), r.getLong(2), r.getDouble(3))).sortBy(_._1)
    assert(a === b)
  }

  test("unigramEncodeCounts tokenizes with the trained vocab; long/unseen words fall back per-char") {
    val sp = spark; import sp.implicits._
    val trainTexts = Seq(
      "the cat sat on the mat the cat ran",
      "banana bandana banana cabana",
      "running runner run runs running")
    val trainDocs = trainTexts.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val vocab = TextAnalysis.unigramLmVocab(trainDocs, "text",
      vocabMulti = 16, maxPieceLen = 4, maxWordLen = 12, emRounds = 1)
    val lp = vocab.collect()
      .map(r => r.getString(0) -> BigDecimal(r.getDouble(3))
        .setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP)).toMap
    // encode a DIFFERENT corpus: seen words, a word with an unseen
    // char (z/7 never occur in training), and a >12-char word
    val encTexts = Seq(
      (10L, "the cat ran"),
      (11L, "banana zebra77"),          // zebra77 has unseen chars
      (12L, "internationalization cat")) // 20 chars: over the DP cap
    val encDocs = encTexts.toDF("doc_id", "text")
    val got = TextAnalysis.unigramEncodeCounts(encDocs, "doc_id", "text",
        vocab.select(col("piece"), col("logp")))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    def np(w: String): Long = {
      val seg = refSegment(w, lp, 4)
      if (w.length > 12 || seg.isEmpty) w.length.toLong else seg.length.toLong
    }
    val expected = encTexts.map { case (id, text) =>
      val ws = text.split(" ").toSeq
      id -> (ws.length.toLong, ws.map(np).sum)
    }.toMap
    assert(got === expected)
    // sanity on the fallbacks: zebra77 counted 7 (unseen chars),
    // the 20-char word counted 20
    assert(np("zebra77") === 7L && np("internationalization") === 20L)
  }

  test("wordpieceMerges picks the likelihood argmax, not the raw-frequency one") {
    val sp = spark; import sp.implicits._
    // xy x5, qz x2. Pair counts: (x,y)=5, (q,z)=2 — BPE would merge
    // (x,y) first. Scores: (x,y) 5/(5*5)=0.2, (q,z) 2/(2*2)=0.5 —
    // WordPiece merges (q,z) first.
    val docs = Seq((1L, "xy xy xy xy xy"), (2L, "qz qz")).toDF("doc_id", "text")
    val got = TextAnalysis.wordpieceMerges(docs, "text", nMerges = 5)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getDouble(4)))
    assert(got.toSeq === Seq((1, "q", "z", 2L, 0.5), (2, "x", "y", 5L, 0.2)),
      s"merge order mismatch: ${got.toSeq}")
    // and BPE on the same corpus indeed starts with the frequency argmax
    val bpe = TextAnalysis.bpeMerges(docs, "text", nMerges = 1)
      .collect().map(r => (r.getString(1), r.getString(2)))
    assert(bpe.head === ("x", "y"))
    // deterministic under repartitioning (IEEE score over exact ints)
    val again = TextAnalysis.wordpieceMerges(docs.repartition(7), "text", 5)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getDouble(4)))
    assert(again.toSeq === got.toSeq)
  }

  test("wordpiece greedy kernel: longest-match-first, UNK on uncovered positions") {
    val pieces = Set("un", "aff", "able", "u", "n", "a", "f", "b", "l", "e")
    // greedy: un | aff | able
    assert(TextAnalysis.wordpieceTokenCount("unaffable", pieces, 4) === 3)
    // longest-first beats left-to-right shortest: abc -> ab|c not a|bc
    assert(TextAnalysis.wordpieceTokenCount("abcd",
      Set("a", "ab", "abc", "d", "c", "b"), 3) === 2) // abc|d
    // uncovered char anywhere sinks the word to UNK (-1)
    assert(TextAnalysis.wordpieceTokenCount("az", Set("a"), 1) === -1)
    assert(TextAnalysis.wordpieceTokenCount("", Set("a"), 1) === 0)
  }

  test("wordpieceEncodeCounts: trained pieces shrink token counts; UNK words count 1") {
    val sp = spark; import sp.implicits._
    val docs = Seq((1L, "unaffable unaffable"), (2L, "zzz unaffable")).toDF("doc_id", "text")
    val pieces = Seq("un", "aff", "able", "u", "n", "a", "f", "b", "l", "e")
    val got = TextAnalysis.wordpieceEncodeCounts(docs, "doc_id", "text", pieces)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    // doc1: 2 words x 3 pieces; doc2: zzz is UNK (1 token, 1 unk word) + 3
    assert(got === Set((1L, 2L, 6L, 0L), (2L, 2L, 4L, 1L)), s"got $got")
    // alphabet-only inventory degrades to character count
    val alpha = Seq("u", "n", "a", "f", "b", "l", "e", "z")
    val chars = TextAnalysis.wordpieceEncodeCounts(docs, "doc_id", "text", alpha)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(chars === Set((1L, 18L), (2L, 12L)))
  }

  test("cdcChunks: chunks partition the token stream; boundaries are " +
      "content-defined (prefix edits cannot shift later chunks)") {
    val sp = spark; import sp.implicits._
    val words = (1 to 60).map(i => s"tok$i")
    val base = words.mkString(" ")
    val docs = Seq((1L, base), (2L, "extraword " + base))
      .toDF("doc_id", "text")
    val ch = TextAnalysis.cdcChunks(docs, "doc_id", "text")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3),
        r.getString(4)))
    // chunks tile each doc exactly: token counts sum to the doc total,
    // the first chunk starts at 0, and first_pos values chain
    for ((id, total) <- Seq((1L, 60L), (2L, 61L))) {
      val mine = ch.filter(_._1 == id).sortBy(_._2)
      assert(mine.map(_._3).sum === total)
      assert(mine.head._4 === 0)
      assert(mine.map(c => c._4.toLong + c._3).toSeq ===
        (mine.drop(1).map(_._4.toLong) :+ total).toSeq,
        s"chunks of doc $id must chain")
    }
    // content-defined resistance: doc 2 is doc 1 with one PREPENDED
    // token, so every doc-1 chunk after the first cut must reappear in
    // doc 2 byte-identically (only the chunk containing the edit moves)
    val h1 = ch.filter(c => c._1 == 1L && c._2 >= 1L).map(_._5).toSet
    val h2 = ch.filter(_._1 == 2L).map(_._5).toSet
    assert(h1.nonEmpty, "need at least two chunks for the shift test")
    assert(h1.subsetOf(h2),
      s"later chunks shifted under a prefix edit: ${h1 -- h2}")
  }

  test("ngramNovelty scores the unseen-shingle fraction per doc") {
    val sp = spark; import sp.implicits._
    val docs = Seq(
      (1L, "a b c d"),      // shingles: "a b c", "b c d"
      (2L, "x y z"),        // "x y z" — fully novel
      (3L, "a b")           // < 3 tokens: no shingles, no row
    ).toDF("doc_id", "text")
    val ref = Seq((10L, "a b c x")).toDF("doc_id", "text") // {"a b c","b c x"}
    val out = TextAnalysis.ngramNovelty(docs, ref, "doc_id", "text")
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))))
      .toMap
    assert(out === Map(
      1L -> ((2L, 1L, 1L, 0.5)),   // "a b c" seen, "b c d" novel
      2L -> ((1L, 0L, 1L, 1.0))))  // nothing shared with the reference
    // duplicate shingles inside a doc count once (per-doc distinct set)
    val dup = Seq((4L, "a b c a b c")).toDF("doc_id", "text")
    val d = TextAnalysis.ngramNovelty(dup, ref, "doc_id", "text")
      .collect().head
    // distinct shingles: "a b c", "b c a", "c a b" — one seen
    assert(d.getLong(1) === 3L && d.getLong(2) === 1L)
  }

  test("viterbiPiecesKernel: exact DP, min-start tie-break, unreachable word -> empty") {
    import org.apache.spark.sql.Row
    def d(v: String) = new java.math.BigDecimal(v).setScale(6)
    def lat(es: (Int, Int, String, String)*): Seq[Row] =
      es.map { case (st, en, pc, lp) => Row(st, en, pc, d(lp)) }
    // "abab" with {a:-1, b:-1.5, ab:-2}: best(4) = ab+ab = -4 (not a,b chains)
    assert(TextAnalysis.viterbiPiecesKernel("abab", lat(
      (0, 1, "a", "-1"), (1, 2, "b", "-1.5"), (0, 2, "ab", "-2"),
      (2, 3, "a", "-1"), (3, 4, "b", "-1.5"), (2, 4, "ab", "-2")))
      === Seq("ab", "ab"))
    // "aa" with {a:-1, aa:-2}: a+a and aa TIE at -2; backward picks the
    // SMALLEST start (0), i.e. the single piece "aa" — the relational
    // form's (start asc) window order
    assert(TextAnalysis.viterbiPiecesKernel("aa", lat(
      (0, 1, "a", "-1"), (1, 2, "a", "-1"), (0, 2, "aa", "-2")))
      === Seq("aa"))
    // unreachable end position (no piece covers the last char): empty,
    // exactly like the old missing pos=len join row
    assert(TextAnalysis.viterbiPiecesKernel("ab", lat((0, 1, "a", "-1")))
      === Seq.empty)
    assert(TextAnalysis.viterbiPiecesKernel("", Nil) === Seq.empty)
  }

  private def releaseDocs = {
    val sp = spark; import sp.implicits._
    Seq(
      (1L, "pivot alpha pivot beta pivot gamma pivot delta"),
      (2L, "banana bandana banana cabana the cat sat on the mat"),
      (3L, "running runner run runs running")).toDF("doc_id", "text")
  }

  test("textRankKeywords releases every block except the ones its result holds") {
    // 7 iterations: checkpoints after rounds 3 and 6, then the final one
    ReleaseCheck.check(spark.sparkContext, "textRankKeywords")(
      TextAnalysis.textRankKeywords(releaseDocs, "doc_id", "text", k = 2,
        iterations = 7))
  }

  test("unigramLmVocab releases every block except the ones its result holds") {
    val sc = spark.sparkContext
    val docs = releaseDocs
    for (em <- Seq(1, 3))
      ReleaseCheck.check(sc, s"unigramLmVocab emRounds=$em")(
        TextAnalysis.unigramLmVocab(docs, "text", vocabMulti = 8, emRounds = em))
    val init = TextAnalysis.unigramLmVocab(docs, "text", vocabMulti = 8, emRounds = 1)
    ReleaseCheck.check(sc, "unigramLmVocab initVocab")(
      TextAnalysis.unigramLmVocab(docs, "text", vocabMulti = 8, emRounds = 1,
        initVocab = Some(init)))
    // the caller's initVocab frame is never released by the operator
    assert(ReleaseCheck.heldBy(init).subsetOf(ReleaseCheck.storedBlocks(sc).keySet))
    Iterate.release(init)
  }
}
