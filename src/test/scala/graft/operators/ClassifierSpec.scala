package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class ClassifierSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    spark = SparkSession.builder().master("local[4]")
      .appName("classifier-spec")
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

  // separable corpus: positives carry "excellent wonderful", negatives
  // "terrible awful"; shared filler words appear in both classes
  private def corpus = {
    val sp = spark; import sp.implicits._
    ((1L to 20L).map(i => (i, s"the quick item excellent wonderful number $i", 1.0)) ++
      (21L to 40L).map(i => (i, s"the quick item terrible awful number $i", 0.0)))
      .toDF("doc_id", "text", "y")
  }

  test("gradient descent separates a separable corpus; scores order by class") {
    val w = Classifier.trainTextClassifier(corpus, "doc_id", "text", "y",
      nBuckets = 64, rounds = 20, lr = 1.0)
    val scored = Classifier.scoreTextClassifier(corpus, "doc_id", "text", w)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getBoolean(2))).toMap
    val pos = (1L to 20L).map(scored(_))
    val neg = (21L to 40L).map(scored(_))
    assert(pos.map(_._1).min > neg.map(_._1).max,
      s"positive scores must dominate: pos=${pos.map(_._1).min} neg=${neg.map(_._1).max}")
    assert(pos.forall(_._2) && neg.forall(p => !p._2),
      "preds wrong on a separable corpus")
  }

  test("training is deterministic under repartitioning (decimal-sum lockstep)") {
    def weights(parts: Int) =
      Classifier.trainTextClassifier(corpus.repartition(parts),
          "doc_id", "text", "y", nBuckets = 64, rounds = 5, lr = 0.5)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
    assert(weights(1) === weights(7), "partitioning changed the trained weights")
  }

  test("weight table shape: present buckets plus one bias row; absent buckets score as zero") {
    val w = Classifier.trainTextClassifier(corpus, "doc_id", "text", "y",
      nBuckets = 64, rounds = 2, lr = 0.5)
    val rows = w.collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(rows.count(_._1 == -1L) === 1, "exactly one bias row at bucket -1")
    assert(rows.forall { case (b, _) => b >= -1 && b < 64 })
    // scoring a doc of entirely unseen tokens = σ̃(bias) — no crash, no null
    val sp = spark; import sp.implicits._
    val oov = Seq((99L, "zzz qqq www")).toDF("doc_id", "text")
    val got = Classifier.scoreTextClassifier(oov, "doc_id", "text", w).collect()
    assert(got.length === 1 && !got.head.isNullAt(1))
  }

  test("calibrationTable: hand-checked bins, ECE weighting, 1.0 folds into the top bin") {
    val sp = spark; import sp.implicits._
    // bin 2 (scores .21/.29 -> mean .25) with labels 1,0 -> obs .5,
    // gap .25; bin 9: scores .95 and the boundary 1.0 fold together ->
    // mean .975, labels 1,1 -> obs 1.0, gap .025;
    // ECE = (2*.25 + 2*.025)/4 = .1375. Mid-bin scores on purpose:
    // bin EDGES follow IEEE (0.30*10 rounds to exactly 3.0, so .30
    // would land in bin 3 — identically in every engine, but not where
    // base-10 intuition says)
    val rows = Seq((0.21, 1.0), (0.29, 0.0), (0.95, 1.0), (1.0, 1.0))
      .toDF("score", "y")
    val out = Classifier.calibrationTable(rows, "score", "y")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4),
          r.getDouble(5))).toMap
    assert(out.keySet === Set(2L, 9L))
    assert(out(2L) === ((2L, 0.25, 0.5, 0.25, 0.1375)))
    assert(out(9L) === ((2L, 0.975, 1.0, 0.025, 0.1375)))
    // null scores/labels are excluded, not binned
    val dirty = rows.unionByName(Seq((null.asInstanceOf[java.lang.Double],
      java.lang.Double.valueOf(1.0))).toDF("score", "y"))
    assert(Classifier.calibrationTable(dirty, "score", "y")
      .agg(org.apache.spark.sql.functions.sum($"n")).collect()
      .head.getLong(0) === 4L)
  }

  test("groupRateAudit: four-fifths flags, NULL group row, all-negative NULL ratios") {
    val sp = spark; import sp.implicits._
    // a: 8/10 kept; b: 3/10 kept (fails 4/5 vs a); null group: 4/5
    val rows = (1 to 10).map(i => ("a", i <= 8)) ++
      (1 to 10).map(i => ("b", i <= 3)) ++
      (1 to 5).map(i => (null.asInstanceOf[String], i <= 4))
    val out = Classifier.groupRateAudit(rows.toDF("g", "keep"), "g", "keep")
      .collect().map(r => Option(r.getString(0)).getOrElse("∅") ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4),
          r.getBoolean(5))).toMap
    assert(out("a") === ((10L, 8L, 0.8, 1.0, true)))
    assert(out("b")._4 === 0.375 && !out("b")._5)
    assert(out("∅")._3 === 0.8 && out("∅")._5)
    // all-negative corpus: max rate 0 -> NULL ratio and flag
    val neg = Classifier.groupRateAudit(
      Seq(("a", false), ("b", false)).toDF("g", "keep"), "g", "keep")
      .collect()
    assert(neg.forall(r => r.isNullAt(4) && r.isNullAt(5)))
  }

  // disjoint-vocabulary languages: NB must separate them perfectly
  private def langCorpus = {
    val sp = spark; import sp.implicits._
    ((1L to 20L).map(i => (i, s"apple banana cherry fruit $i", "aa")) ++
      (21L to 40L).map(i => (i, s"wolf bear tiger animal $i", "bb")))
      .toDF("doc_id", "text", "lang")
  }

  test("trained langid: disjoint vocab gives a diagonal confusion matrix") {
    val train = langCorpus.filter(col("doc_id") % 2 === 0)
    val eval = langCorpus.filter(col("doc_id") % 2 === 1)
    val conf = Classifier.langIdConfusion(train, eval, "doc_id", "text", "lang")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(conf === Map(("aa", "aa") -> 10L, ("bb", "bb") -> 10L))
  }

  test("trained langid model: bias rows present, unseen logp below every seen logp") {
    val m = Classifier.trainLangId(langCorpus, "doc_id", "text", "lang")
    val rows = m.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getDouble(2)))
    val langs = rows.map(_._1).distinct.sorted
    assert(langs === Seq("aa", "bb"))
    for (l <- langs) {
      val prior = rows.filter(r => r._1 == l && r._2 == -1L)
      val unseen = rows.filter(r => r._1 == l && r._2 == -2L)
      assert(prior.length == 1 && unseen.length == 1)
      // equal class sizes -> prior = round(ln(0.5), 9)
      assert(prior.head._3 === BigDecimal(math.log(0.5))
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble)
      val seen = rows.filter(r => r._1 == l && r._2 >= 0L).map(_._3)
      assert(seen.nonEmpty && seen.forall(_ > unseen.head._3),
        "add-one smoothing must score any seen bucket above an unseen one")
    }
  }

  test("trained langid: every eval doc predicted exactly once; empty text falls to the prior argmax") {
    val sp = spark; import sp.implicits._
    // skewed priors: 3 docs of 'aa', 1 of 'bb' -> empty doc predicts 'aa'
    val train = Seq((1L, "apple banana", "aa"), (2L, "apple cherry", "aa"),
      (3L, "apple fruit", "aa"), (4L, "wolf bear", "bb"))
      .toDF("doc_id", "text", "lang")
    val eval = Seq((10L, "", "bb"), (11L, "wolf bear", "bb"),
      (12L, "apple banana", "aa")).toDF("doc_id", "text", "lang")
    val m = Classifier.trainLangId(train, "doc_id", "text", "lang")
    val pred = Classifier.langIdPredict(eval, "doc_id", "text", m)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(pred.size === 3, "one prediction per eval doc, token-free included")
    assert(pred(10L) === "aa", "token-free doc must fall to the prior argmax")
    assert(pred(11L) === "bb" && pred(12L) === "aa")
    val conf = Classifier.langIdConfusion(train, eval, "doc_id", "text", "lang")
      .agg(sum(col("n_docs"))).collect().head.getLong(0)
    assert(conf === 3L, "confusion matrix counts must cover every eval doc")
  }

  test("trainTextClassifier releases every block except the ones its result holds") {
    ReleaseCheck.check(spark.sparkContext, "trainTextClassifier")(
      Classifier.trainTextClassifier(corpus, "doc_id", "text", "y",
        nBuckets = 16, rounds = 3))
  }
}
