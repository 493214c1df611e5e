package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Trainable linear text classifier over hashed bag-of-words features —
  * the fastText-style "target domain vs rest" filter real pipelines
  * train to score crawl text against a trusted corpus (the GPT-3 /
  * LLaMA data-selection recipe), expressed entirely as relational
  * aggregations so training runs WHERE THE DATA IS.
  *
  * Model: `p(doc) = σ̃(bias + Σ_{b ∈ features(doc)} w_b)` with the
  * RATIONAL sigmoid `σ̃(m) = 0.5 + 0.5·m/(1+|m|)` instead of the
  * logistic `1/(1+e^-m)`. That choice is deliberate: `exp` is a libm
  * call whose last-ulp behavior differs across engines, while add /
  * multiply / divide / abs are all IEEE-exact — so gradient descent
  * stays in bit-identical lockstep with a DuckDB replay at every round
  * (the [[Graph.pageRank]] determinism contract applied to model
  * training). σ̃ is a proper sigmoid (monotone, symmetric, (0,1)), and
  * `σ̃' > 0` everywhere, so full-batch gradient descent on squared-ish
  * residuals `err = σ̃(m) − y` converges the same way in practice.
  *
  * Scale shape per round: one broadcast join of features against the
  * weight table + a doc-keyed partial agg (margins), one join back +
  * a bucket-keyed partial agg (gradients) — both DECIMAL(28,12)
  * addends, so partition merge order can never perturb a weight.
  * Weights live in a DataFrame keyed by bucket (vocab-bounded, never
  * larger than `nBuckets` rows — broadcastable by construction for the
  * hashed-feature sizes that matter); only the 1-row bias crosses to
  * the driver each round. Rounds are sequential driver-launched jobs
  * (inherent to full-batch GD, same cost frame as
  * [[TextAnalysis.bpeMerges]] / [[Similarity.kmeansCodebook]]).
  */
object Classifier {

  /** Deterministic md5 feature bucket for a token — engine-portable
    * (same recipe as [[Dedup.hash32]]; DuckDB replays it as
    * `CAST(('0x'||substr(md5(t),1,8)) AS UBIGINT) % nBuckets`). */
  def hashBucket(tok: Column, nBuckets: Int): Column =
    conv(substring(md5(tok), 1, 8), 16, 10).cast("long") % nBuckets

  /** Binary presence features: one `(doc_id, bucket)` row per distinct
    * feature bucket of each doc. The per-doc dedup happens ROW-LOCALLY
    * (`array_distinct` over the hashed token array before the explode),
    * so this is map-only — no distinct shuffle, and therefore STATELESS
    * under Structured Streaming, which is what lets
    * [[scoreTextClassifier]] run on a stream as a single aggregation.
    * A doc with no tokens keeps one `(doc_id, null)` row
    * (`explode_outer`) so every doc survives to the margin aggregation
    * without a join back to the input. */
  def features(docs: DataFrame, idCol: String, textCol: String,
      nBuckets: Int): DataFrame =
    docs.select(col(idCol).cast("long").as("doc_id"),
      explode_outer(array_distinct(transform(TextAnalysis.tokens(col(textCol)),
        t => hashBucket(t, nBuckets)))).as("bucket"))

  /** The rational sigmoid σ̃(m) = 0.5 + 0.5·m/(1+|m|) (see header). */
  def fastSigmoid(m: Column): Column =
    lit(0.5) + lit(0.5) * m / (lit(1.0) + abs(m))

  /** Train `rounds` full-batch gradient-descent rounds from zero
    * weights: `w ← round(w − lr·(Σ_d err_d)/N, 12)` per bucket, where
    * `err_d = σ̃(margin_d) − y_d`. Output: `(bucket, weight)` for every
    * bucket PRESENT in the corpus plus the bias as bucket −1 (absent
    * buckets are implicitly 0 — score-time left joins coalesce them).
    * `labelCol` must cast to 0.0/1.0 doubles. */
  def trainTextClassifier(docs: DataFrame, idCol: String, textCol: String,
      labelCol: String, nBuckets: Int = 64, rounds: Int = 3,
      lr: Double = 0.5): DataFrame = {
    require(nBuckets >= 2, "need at least two feature buckets")
    require(rounds >= 1, "need at least one round")
    require(lr > 0.0, "learning rate must be positive")
    // training never needs the null-bucket placeholder rows (empty docs
    // influence only the bias, via the labels left join below)
    val feats = features(docs, idCol, textCol, nBuckets)
      .filter(col("bucket").isNotNull).localCheckpoint(true)
    val labels = docs.select(col(idCol).cast("long").as("doc_id"),
      col(labelCol).cast(DoubleType).as("y")).localCheckpoint(true)
    val nDocs = labels.count()
    require(nDocs > 0, "cannot train on an empty corpus")
    def round12(x: Double): Double = java.math.BigDecimal.valueOf(x)
      .setScale(12, java.math.RoundingMode.HALF_UP).doubleValue()
    // weights start at zero over the buckets that actually occur; each
    // round references w twice (margin join + update join) so every
    // round's weight table materializes eagerly (vocab-sized, cheap —
    // the kCore discipline, not pageRank's lazy chaining)
    val w0 = feats.select(col("bucket")).distinct()
      .withColumn("w", lit(0.0)).localCheckpoint(true)
    var bias = 0.0
    val sp = docs.sparkSession
    import sp.implicits._
    val out = Iterate.eager(w0, rounds, Some(w0), identity) { (w, _) =>
      val margins = feats.join(broadcast(w), Seq("bucket"))
        .groupBy(col("doc_id"))
        .agg(sum(col("w").cast(DecimalType(28, 12))).as("_graft_ms"))
      // errs feeds TWO consumers (bucket gradients + the bias gradient):
      // left lazy, the margins join + aggregation above would execute
      // twice per round — materialize the per-doc residuals once (round
      // scratch: freed once the next weight table has materialized)
      val errs = Iterate.scratch(labels.join(margins, Seq("doc_id"), "left_outer")
        .withColumn("_graft_m",
          lit(bias) + coalesce(col("_graft_ms").cast(DoubleType), lit(0.0)))
        .select(col("doc_id"),
          (fastSigmoid(col("_graft_m")) - col("y")).as("_graft_err"))
        .localCheckpoint(true))
      val grads = feats.join(errs, Seq("doc_id"))
        .groupBy(col("bucket"))
        .agg(sum(col("_graft_err").cast(DecimalType(28, 12))).as("_graft_g"))
      val gBias = errs
        .agg(sum(col("_graft_err").cast(DecimalType(28, 12)))
          .cast(DoubleType).as("g"))
        .collect().head.getDouble(0)
      bias = round12(bias - lr * gBias / nDocs.toDouble)
      w.join(grads, Seq("bucket"), "left_outer")
        .select(col("bucket"),
          round(col("w") - lit(lr) *
            coalesce(col("_graft_g").cast(DoubleType), lit(0.0)) /
            lit(nDocs.toDouble), 12).as("w"))
    }.finish(_.select(col("bucket"), col("w").as("weight"))
      .unionAll(Seq((-1L, bias)).toDF("bucket", "weight")))
    Iterate.release(feats, labels)
    out
  }

  /** Score docs under a trained weight table (the [[trainTextClassifier]]
    * output, bias at bucket −1): `(doc_id, score, pred)` with
    * `score = round(σ̃(margin), 6)` and `pred = score ≥ 0.5`. Stateless —
    * one broadcast join + one doc-keyed agg, so the SAME operator scores
    * a batch or a structured stream (the [[TextAnalysis.dsirScore]]
    * deployment shape). */
  def scoreTextClassifier(docs: DataFrame, idCol: String, textCol: String,
      weights: DataFrame, nBuckets: Int = 64): DataFrame = {
    val w = weights.filter(col("bucket") >= 0)
      .select(col("bucket"), col("weight"))
    // the bias is one row of the (static, trained) weight table — read
    // it at plan-construction time like [[TextAnalysis.dsirScore]]'s
    // wOov scalar, so the streaming plan stays join+agg only
    val bias = weights.filter(col("bucket") === -1)
      .select(col("weight")).collect().headOption
      .map(_.getDouble(0))
      .getOrElse(throw new IllegalArgumentException(
        "weight table has no bias row (bucket -1) — not a trainTextClassifier output"))
    // every doc reaches the aggregation (explode_outer keeps a null-
    // bucket row for token-free docs, which matches no weight and sums
    // as 0), so no join back onto the input is needed — the whole
    // scorer is one broadcast join + one aggregation, the only shape a
    // structured stream can run statefully
    val margins = features(docs, idCol, textCol, nBuckets)
      .join(broadcast(w), Seq("bucket"), "left_outer")
      .groupBy(col("doc_id"))
      .agg(sum(coalesce(col("weight"), lit(0.0)).cast(DecimalType(28, 12)))
        .as("_graft_ms"))
    val score = round(fastSigmoid(lit(bias) +
      coalesce(col("_graft_ms").cast(DoubleType), lit(0.0))), 6)
    margins
      .select(col("doc_id"), score.as("score"),
        (score >= 0.5).as("pred"))
  }

  /** CALIBRATION / reliability table + ECE for any scored frame — the
    * "can I trust 0.9 to mean 90%" audit every learned filter
    * ([[trainTextClassifier]], a quality model, a reward model) owes
    * its thresholds: scores bucket into `nBuckets` equal-width bins
    * (scores at 1.0 fold into the top bin), and each bin reports its
    * mean score vs observed positive rate with the absolute gap; every
    * row also carries the corpus ECE (Σ n_b/N · gap_b — the
    * expected-calibration-error headline a dataset card quotes). A
    * threshold chosen off an uncalibrated score silently shifts the
    * kept-data distribution — this table is how that is caught before
    * 100 TB is filtered with it.
    *
    * Determinism: bin means go through DECIMAL(28,12) addend sums with
    * one IEEE division rounded to 6 (the [[graft.operators.TextAnalysis
    * .zipfFit]] discipline); the ECE combines the ROUNDED gaps so both
    * engines agree at every boundary. One hash agg + a broadcast
    * one-row total. Output: `(bucket, n, mean_score, obs_rate,
    * abs_gap, ece)`, one row per non-empty bin. */
  def calibrationTable(scored: DataFrame, scoreCol: String,
      labelCol: String, nBuckets: Int = 10): DataFrame = {
    require(nBuckets >= 2, "need at least two calibration bins")
    val dt = DecimalType(28, 12)
    // the per-bin frame feeds TWO consumers (the output and the ECE
    // total) and Spark does not reuse the exchange across them — an
    // unmaterialized `per` would re-run the corpus-wide aggregation
    // twice (the round-10 shared-subtree lesson). It is bin-count-sized:
    // materialize once.
    val per = scored
      .filter(col(scoreCol).isNotNull && col(labelCol).isNotNull)
      .withColumn("_graft_b", least(lit((nBuckets - 1).toLong),
        floor(col(scoreCol).cast(DoubleType) * nBuckets).cast("long")))
      .groupBy(col("_graft_b").as("bucket"))
      .agg(count(lit(1)).as("n"),
        sum(col(scoreCol).cast(dt)).as("_graft_ss"),
        sum(col(labelCol).cast(DoubleType).cast(dt)).as("_graft_sy"))
      .withColumn("mean_score", round(col("_graft_ss").cast(DoubleType) /
        col("n").cast(DoubleType), 6))
      .withColumn("obs_rate", round(col("_graft_sy").cast(DoubleType) /
        col("n").cast(DoubleType), 6))
      .withColumn("abs_gap",
        round(abs(col("mean_score") - col("obs_rate")), 6))
      .localCheckpoint(true)
    val tot = per.agg(
      sum(col("n")).as("_graft_nn"),
      sum((col("n").cast(DoubleType) * col("abs_gap")).cast(dt))
        .as("_graft_ge"))
    val out = per.crossJoin(broadcast(tot))
      .withColumn("ece", round(col("_graft_ge").cast(DoubleType) /
        col("_graft_nn").cast(DoubleType), 6))
      .select(col("bucket"), col("n"), col("mean_score"),
        col("obs_rate"), col("abs_gap"), col("ece"))
      .localCheckpoint(true)
    Iterate.release(per)
    out
  }

  /** GROUP-RATE / disparate-impact audit — the four-fifths-rule readout
    * run over any binary outcome per group (a quality filter's keep
    * rate per language, a classifier's positive rate per source): per
    * group, the positive rate, its ratio to the HIGHEST group rate,
    * and the standard `ratio ≥ 0.8` flag (US EEOC four-fifths rule —
    * here the data-pipeline analog: a quality model keeping 80% of
    * English but 30% of another language is reshaping the corpus, a
    * bias the Gopher/Dolma dataset reports audit explicitly). NULL
    * groups form their own audited row. One hash agg + a broadcast
    * one-row max; rates round-6 with the ratio computed from the
    * ROUNDED rates (engine-agreed at boundaries). An all-negative
    * corpus (max rate 0) emits NULL ratios/flags. Output:
    * `(group, n, positives, rate, impact_ratio, passes_four_fifths)`. */
  def groupRateAudit(df: DataFrame, groupCol: String,
      positiveCol: String): DataFrame = {
    // per-group frame feeds two consumers (output + max) with no
    // exchange reuse between them — materialize the group-count-sized
    // frame once so the corpus aggregates exactly one time
    val per = df
      .groupBy(col(groupCol).as("group"))
      .agg(count(lit(1)).as("n"),
        coalesce(sum(col(positiveCol).cast("long")), lit(0L))
          .as("positives"))
      .withColumn("rate", round(col("positives").cast(DoubleType) /
        col("n").cast(DoubleType), 6))
      .localCheckpoint(true)
    val mx = per.agg(max(col("rate")).as("_graft_mx"))
    val out = per.crossJoin(broadcast(mx))
      .withColumn("impact_ratio",
        when(col("_graft_mx") === 0.0 || col("_graft_mx").isNull,
          lit(null).cast(DoubleType))
          .otherwise(round(col("rate") / col("_graft_mx"), 6)))
      .withColumn("passes_four_fifths",
        when(col("impact_ratio").isNull, lit(null).cast("boolean"))
          .otherwise(col("impact_ratio") >= 0.8))
      .select(col("group"), col("n"), col("positives"), col("rate"),
        col("impact_ratio"), col("passes_four_fifths"))
      .localCheckpoint(true)
    Iterate.release(per)
    out
  }

  /** TRAINED language-ID model — hashed word-n-gram multinomial Naive
    * Bayes, the supervised fastText-style screen a Common-Crawl-scale
    * pipeline runs before any quality filter (the heuristic cousin is
    * [[TextAnalysis.langId]]; this one LEARNS its evidence from a
    * labeled split instead of shipping stopword lists).
    *
    * Features are md5-hashed unigrams + word bigrams (multiplicity
    * kept — multinomial, not Bernoulli), so the model size is bounded
    * by `langs × nBuckets` REGARDLESS of corpus vocabulary — the
    * hashing-trick property that lets the same operator train on a
    * 100 TB corpus with an unbounded token set. Training is ONE
    * explode + hash-aggregate pass (map-side combined, no iteration).
    *
    * Output — the stored-model artifact, one frame keyed like
    * [[trainTextClassifier]]'s bias-at-−1 weight table:
    *   - `(lang, bucket ≥ 0, logp)` for every bucket seen in `lang`:
    *     `round(ln((cnt+1)/(tot_lang+nBuckets)), 9)` (add-one
    *     smoothing);
    *   - `(lang, −1, logp)` the class log-prior `round(ln(n_lang/N), 9)`;
    *   - `(lang, −2, logp)` the UNSEEN-bucket evidence
    *     `round(ln(1/(tot_lang+nBuckets)), 9)` — scoring needs it for
    *     eval features absent from this lang's training rows.
    *
    * Determinism: each `ln` is rounded to 9 BEFORE any arithmetic (the
    * [[TextAnalysis.heapsLawFit]] round-14 libm discipline) and scoring
    * sums exact DECIMAL products, so the DuckDB oracle replays the
    * model bit-for-bit. */
  def trainLangId(docs: DataFrame, idCol: String, textCol: String,
      langCol: String, nBuckets: Int = 2048): DataFrame = {
    require(nBuckets >= 2, "need at least two feature buckets")
    val feats = langIdFeatures(docs, idCol, textCol, nBuckets)
      .join(docs.select(col(idCol).cast("long").as("doc_id"),
        col(langCol).as("lang")), Seq("doc_id"))
      .groupBy(col("lang"), col("bucket"))
      .agg(sum(col("c")).as("cnt"))
      .localCheckpoint(true) // feeds per-bucket logps AND per-lang totals
    val langTot = feats.groupBy(col("lang"))
      .agg(sum(col("cnt")).as("tot"))
    val nDocs = docs.select(col(langCol).as("lang")).groupBy(col("lang"))
      .agg(count(lit(1)).as("nd"))
    val total = docs.count().toDouble
    require(total > 0, "cannot train on an empty corpus")
    val seen = feats.join(broadcast(langTot), Seq("lang"))
      .select(col("lang"), col("bucket"),
        round(log((col("cnt") + lit(1)).cast(DoubleType) /
          (col("tot") + lit(nBuckets)).cast(DoubleType)), 9).as("logp"))
    val prior = nDocs.select(col("lang"), lit(-1L).as("bucket"),
      round(log(col("nd").cast(DoubleType) / lit(total)), 9).as("logp"))
    // a lang whose docs are all token-free never reaches `feats`; its
    // unseen evidence is ln(1/nBuckets) (tot = 0), via the left join
    val unseen = nDocs.select(col("lang"))
      .join(langTot, Seq("lang"), "left_outer")
      .select(col("lang"), lit(-2L).as("bucket"),
        round(log(lit(1.0) /
          (coalesce(col("tot"), lit(0L)) + lit(nBuckets)).cast(DoubleType)),
          9).as("logp"))
    val out = seen.unionAll(prior).unionAll(unseen).localCheckpoint(true)
    Iterate.release(feats)
    out
  }

  /** Multinomial feature counts: `(doc_id, bucket, c)` — md5-hashed
    * unigrams + word bigrams WITH multiplicity (contrast [[features]]'
    * distinct presence bits). Map-only: tokenize, build bigrams
    * row-locally, hash, count within the explode aggregation. */
  def langIdFeatures(docs: DataFrame, idCol: String, textCol: String,
      nBuckets: Int): DataFrame = {
    val tk = TextAnalysis.tokens(col(textCol))
    val bigrams = when(size(tk) >= 2,
      zip_with(slice(tk, lit(1), size(tk) - 1), slice(tk, lit(2), size(tk) - 1),
        (a, b) => concat(a, lit(" "), b)))
      .otherwise(array().cast("array<string>"))
    // spread before the explode: the per-token md5 hashing otherwise
    // runs inside the single-task scan stage (guide §2.5; see Spread)
    Spread.spread(docs.select(col(idCol).cast("long").as("doc_id"),
        concat(tk, bigrams).as("_graft_ts")), col("doc_id"))
      .select(col("doc_id"), explode(col("_graft_ts")).as("t"))
      .select(col("doc_id"), hashBucket(col("t"), nBuckets).as("bucket"))
      .groupBy(col("doc_id"), col("bucket"))
      .agg(count(lit(1)).as("c"))
  }

  /** Score + predict under a trained [[trainLangId]] model:
    * `(doc_id, pred_lang, score)` — per (doc, lang),
    * `score = prior + Σ_matched c·logp + (ct − matched)·unseen`, all
    * DECIMAL-exact (counts × round-9 logps), argmax with ties to the
    * lexicographically first lang. Token-free docs keep the prior-only
    * score (the majority lang wins), so every eval doc gets a row.
    *
    * Scale shape: the model is `langs × nBuckets` rows — broadcast by
    * construction; eval features shuffle once for the per-doc count agg
    * and once for the (doc, lang) score agg. Nothing corpus-sized
    * crosses the driver. */
  def langIdPredict(docs: DataFrame, idCol: String, textCol: String,
      model: DataFrame, nBuckets: Int = 2048): DataFrame = {
    val dt = DecimalType(12, 9)
    val feats = langIdFeatures(docs, idCol, textCol, nBuckets)
      .localCheckpoint(true) // feeds matched sums AND per-doc totals
    val docTot = docs.select(col(idCol).cast("long").as("doc_id"))
      .join(feats.groupBy(col("doc_id")).agg(sum(col("c")).as("ct")),
        Seq("doc_id"), "left_outer")
      .select(col("doc_id"), coalesce(col("ct"), lit(0L)).as("ct"))
    val langRows = model.filter(col("bucket") < 0)
      .groupBy(col("lang"))
      .agg(sum(when(col("bucket") === -1, col("logp"))).as("prior"),
        sum(when(col("bucket") === -2, col("logp"))).as("unseen"))
    val matched = feats
      .join(broadcast(model.filter(col("bucket") >= 0)), Seq("bucket"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(sum(col("c").cast(DecimalType(18, 0)) * col("logp").cast(dt))
          .as("ms"),
        sum(col("c")).as("mc"))
    val scores = docTot.crossJoin(broadcast(langRows))
      .join(matched, Seq("doc_id", "lang"), "left_outer")
      .select(col("doc_id"), col("lang"),
        (col("prior").cast(dt) +
          coalesce(col("ms"), lit(0).cast(dt)) +
          (col("ct") - coalesce(col("mc"), lit(0L))).cast(DecimalType(18, 0)) *
            col("unseen").cast(dt)).as("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("lang"))
    scores.withColumn("_graft_rn", row_number().over(w))
      .filter(col("_graft_rn") === 1)
      .select(col("doc_id"), col("lang").as("pred_lang"),
        col("score").cast(DoubleType).as("score"))
  }

  /** End-to-end language-ID CONFUSION MATRIX: train on one deterministic
    * split, predict the other, count `(lang, pred_lang, n_docs)` — the
    * [[t02-style]] evaluation frame for the TRAINED model. Training
    * materializes its model and frees its own feature blocks
    * ([[trainLangId]]). */
  def langIdConfusion(train: DataFrame, eval: DataFrame, idCol: String,
      textCol: String, langCol: String, nBuckets: Int = 2048): DataFrame = {
    val model = trainLangId(train, idCol, textCol, langCol, nBuckets)
    langIdPredict(eval, idCol, textCol, model, nBuckets)
      .join(eval.select(col(idCol).cast("long").as("doc_id"),
        col(langCol).as("lang")), Seq("doc_id"))
      .groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n_docs"))
  }
}
