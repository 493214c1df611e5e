package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis primitives for a training-data pipeline: tokenization,
  * language ID, quality scoring, fingerprinting. All pure `Column`
  * expressions (codegen-friendly, no UDFs) so they compose into any query
  * and keep the scan→project pipeline columnar at scale.
  */
object TextAnalysis {

  /** Lowercased alphanumeric tokens (the one tokenizer every op shares). */
  def tokens(text: Column): Column =
    regexp_extract_all(lower(text), lit("[a-z0-9]+"), lit(0))

  /** Round-15 (optimization guide §1.2 step 3, measured): run `body`
    * with AQE disabled. For DRIVER-SEQUENTIAL trainer loops over a
    * vocab-BOUNDED frame (`maxVocab`-capped by construction at any
    * corpus scale), AQE's per-Exchange stage jobs are pure driver
    * round-trips — profiled: t39 8.5 s AQE-on vs 4.8 s AQE-off,
    * t52/t53 56-61 jobs for ≈0.5-1 s of task time — while the frames
    * are far too small for adaptive planning to ever change a decision.
    * Results are partition-layout-independent (stability-gated across
    * cpus/AQE), so this changes time, never values. Corpus-sized passes
    * stay OUTSIDE the wrap.
    *
    * Round-16 (verdict item 6, MEASURED AND REJECTED): running the loop
    * in a CLONED session (PlanBridge.cloneSession with AQE off, loop
    * state re-rooted once via Dataset.ofRows) removes the shared-conf
    * mutation — but the clone consistently DOUBLED executor task time
    * on identical stage structure (isolated Profile min-of-4 at sf0.1
    * local[32]: t39 taskT 7.9→16.7 s / wall 7.3→8.4, t21 1.1→1.8,
    * t22 0.9→2.2, t52 1.1→2.7, t53 2.2→3.2 — ≈0.3-1 s of wall per
    * trainer query, reproduced across two runs each way). The mutate-
    * and-restore form below is kept as the measured optimum, with the
    * documented SINGLE-THREADED CONTRACT: queries in this engine run
    * sequentially per session (Bench/Verify/Profile drivers all do); a
    * caller that runs queries concurrently in ONE session must not
    * overlap them with these trainer loops, or a concurrent query
    * could plan without AQE for the loop's duration (time, never
    * values — all results are AQE-independent, stability-gated). */
  private[graft] def withAqeOff[T](sp: org.apache.spark.sql.SparkSession)(
      body: => T): T = withTrainerConf(sp, None)(body)

  /** [[withAqeOff]] plus a SCALE-ADAPTIVE shuffle width for the loop:
    * with AQE off every loop stage runs `spark.sql.shuffle.partitions`
    * tasks — at bench scale 32 tasks over a few hundred vocab rows,
    * pure per-task scheduling/codegen overhead (t39 profiled 467 tasks
    * for 7.9 s of task time over kilobytes). Callers pass the
    * checkpointed working frame's OWN partition count (what AQE sized
    * the frame to at the seeding pass — grows with the data, never a
    * constant), so loop stages match the working set at any scale.
    * Round-16; same single-threaded contract as [[withAqeOff]]. */
  private[graft] def withTrainerConf[T](sp: org.apache.spark.sql.SparkSession,
      parts: Option[Int])(body: => T): T = {
    val kA = "spark.sql.adaptive.enabled"
    val kP = "spark.sql.shuffle.partitions"
    val prevA = sp.conf.getOption(kA)
    val prevP = sp.conf.getOption(kP)
    sp.conf.set(kA, "false")
    parts.foreach(n => sp.conf.set(kP, math.max(1, n).toString))
    def restore(k: String, prev: Option[String]): Unit = prev match {
      case Some(v) => sp.conf.set(k, v)
      case None => sp.conf.unset(k)
    }
    try body finally { restore(kA, prevA); restore(kP, prevP) }
  }

  /** Number of tokens matching a word list (with multiplicity). */
  def hits(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isin(words: _*)))

  // Small deterministic stopword inventories per language.
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "that"),
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "ein"),
    "es" -> Seq("el", "la", "de", "que", "y", "los", "una"),
    "fr" -> Seq("le", "la", "les", "et", "des", "une", "est"))

  /** Stopword-heuristic language ID: hit counts per language,
    * deterministic priority tie-break (en > de > es > fr), 'und'
    * (undetermined) when nothing hits.
    *
    * Prefer [[langIdFromTokens]] over a staged token column when scoring a
    * whole table: this overload embeds the tokenizer in each of the four
    * hit counters, and Catalyst re-evaluates it per counter.
    */
  def langId(text: Column): Column = langIdFromTokens(tokens(text))

  /** [[langId]] over an already-tokenized column (stage `tokens(text)` as
    * a projection first so the tokenizer runs once per row). */
  def langIdFromTokens(tk: Column): Column = {
    val en = hits(tk, stopwords("en"))
    val de = hits(tk, stopwords("de"))
    val es = hits(tk, stopwords("es"))
    val fr = hits(tk, stopwords("fr"))
    when(en + de + es + fr === 0, lit("und"))
      .when(en >= de && en >= es && en >= fr, lit("en"))
      .when(de >= es && de >= fr, lit("de"))
      .when(es >= fr, lit("es"))
      .otherwise(lit("fr"))
  }

  /** Quality features: token count, mean token length, stopword ratio,
    * alpha ratio — plus a weighted score. Pure double arithmetic
    * (deterministic, mirrors 1:1 into SQL for the oracle).
    */
  def withQuality(df: DataFrame, textCol: String): DataFrame = {
    require(!df.columns.contains("_graft_tk"),
      "input already has a _graft_tk column (reserved staging name)")
    val text = col(textCol)
    // stage the token array once — each feature below references the
    // attribute, not the tokenizer expression (which Catalyst would
    // otherwise re-evaluate per feature)
    val tk = col("_graft_tk")
    val nTok = size(tk).cast("double")
    val charLen = length(text).cast("double")
    val sw = hits(tk, stopwords("en")).cast("double")
    // divisions are guarded: ANSI mode (Spark 4 default) throws on
    // divide-by-zero, so token-less or empty documents get null features
    df.withColumn("_graft_tk", tokens(text))
      .withColumn("n_tokens", size(tk))
      .withColumn("mean_token_len",
        when(nTok > 0, length(concat_ws("", tk)).cast("double") / nTok))
      .withColumn("stopword_ratio", when(nTok > 0, sw / nTok))
      .withColumn("alpha_ratio",
        when(charLen > 0,
          length(regexp_replace(text, "[^A-Za-z]", "")).cast("double") / charLen))
      .withColumn("quality_score",
        col("stopword_ratio") * 2.0 + col("alpha_ratio") +
          when(col("n_tokens") >= 20, 1.0).otherwise(0.0))
      .drop("_graft_tk")
  }

  /** Canonical content fingerprint: md5 over the sorted distinct token
    * set. Robust to token order / repetition — the standard cheap
    * "same bag of words" dedup key.
    */
  def fingerprint(text: Column): Column =
    md5(concat_ws(" ", array_sort(array_distinct(tokens(text)))))

  /** Overlapping token windows for LLM context chunking: windows of
    * `chunk` tokens starting every `stride` tokens (stride < chunk =
    * overlap), the last window clamped. Takes a STAGED token column —
    * pass an attribute, not `tokens(text)` (HOF lambdas re-evaluate
    * embedded expressions per element). */
  def chunkWindows(tk: Column, chunk: Int, stride: Int): Column = {
    require(chunk >= 1 && stride >= 1, "chunk and stride must be positive")
    // stride > chunk would leave token gaps AND the coverage-based window
    // count would emit a trailing empty window — fail loud instead
    require(stride <= chunk, s"stride $stride > chunk $chunk would skip tokens")
    val n = size(tk)
    // window count: 1 + ceil(max(n - chunk, 0) / stride), integer math
    val k = lit(1) + floor((greatest(n - chunk, lit(0)) + stride - 1) / lit(stride))
      .cast("int")
    when(n >= 1,
      transform(sequence(lit(0), k - 1),
        i => concat_ws(" ", slice(tk, i * stride + 1, lit(chunk)))))
      .otherwise(array().cast("array<string>"))
  }

  /** PII-style scrubbing: emails → <EMAIL>, long digit runs → <NUM>.
    * Pure regexp Columns — deterministic, engine-portable (RE2-safe
    * patterns). */
  val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val longNumRe = "[0-9]{4,}"
  def redact(text: Column): Column =
    regexp_replace(regexp_replace(text, emailRe, "<EMAIL>"), longNumRe, "<NUM>")

  /** Deterministic dataset split for training pipelines: a stable md5
    * hash of the id maps each row to train/val/test with the given
    * percentages (must sum to 100). Engine-portable and reshuffle-proof —
    * the same row lands in the same split on any cluster, any engine,
    * any day; no sampling RNG state. */
  def splitAssign(id: Column, trainPct: Int = 80, valPct: Int = 10): Column = {
    require(trainPct + valPct < 100 && trainPct > 0 && valPct > 0,
      "train + val must leave room for test")
    val bucket = conv(substring(md5(id.cast("string")), 1, 8), 16, 10) % 100
    when(bucket < trainPct, lit("train"))
      .when(bucket < trainPct + valPct, lit("val"))
      .otherwise(lit("test"))
  }

  /** Leakage-safe train/val/test split (t45): assign each document the
    * split of its DUPLICATE-CLUSTER representative, so near-duplicates
    * can never straddle train and test — the contamination vector a
    * doc-keyed [[splitAssign]] leaves open (one near-dup lands in
    * train, its twin in test, and the eval is polluted). `clusters` is
    * any `(doc_id, cluster_id)` frame
    * ([[graft.operators.Dedup.duplicateClusters]] — cluster_id is the
    * cluster's minimum member id); docs outside every cluster key on
    * their own id. Stateless: ONE left join against the cluster map
    * (duplicate clusters are a vanishing fraction of a deduped corpus,
    * so the map is broadcast-sized in practice; the join stays an
    * equi-join either way) plus the md5 bucket — the same operator
    * splits a batch or a stream. */
  def leakageSafeSplit(docs: DataFrame, idCol: String, clusters: DataFrame,
      trainPct: Int = 80, valPct: Int = 10): DataFrame = {
    require(!docs.columns.contains("split"),
      "input already has a split column")
    val cl = clusters.select(col("doc_id").as(idCol), col("cluster_id"))
    docs.join(cl, Seq(idCol), "left_outer")
      .withColumn("split",
        splitAssign(coalesce(col("cluster_id"), col(idCol)), trainPct, valPct))
      .drop("cluster_id")
  }

  /** Leakage-safe GROUP k-fold (t46): the cross-validation twin of
    * [[leakageSafeSplit]] — each document folds by its duplicate-cluster
    * REPRESENTATIVE (unclustered docs by their own id), so near-dup
    * twins can never land in different folds and inflate every
    * cross-validation score. Same md5 bucket as [[splitAssign]]
    * (engine-portable, reshuffle-proof), same single left equi-join
    * against the cluster map; `fold` ∈ [0, k). */
  def leakageSafeKFold(docs: DataFrame, idCol: String, clusters: DataFrame,
      k: Int): DataFrame = {
    require(k >= 2, "need at least two folds")
    require(!docs.columns.contains("fold"),
      "input already has a fold column")
    val cl = clusters.select(col("doc_id").as(idCol), col("cluster_id"))
    docs.join(cl, Seq(idCol), "left_outer")
      .withColumn("fold",
        (conv(substring(md5(coalesce(col("cluster_id"), col(idCol))
          .cast("string")), 1, 8), 16, 10) % k).cast("int"))
      .drop("cluster_id")
  }

  /** Duplicate n-gram fraction (Gopher-style repetition signal): the
    * share of bigrams that are repeats — 0 for clean prose, → 1 for
    * degenerate repetition. Null under 2 tokens. Takes a STAGED token
    * column (see [[chunkWindows]]). */
  def dupBigramFraction(tk: Column): Column = {
    val bg = transform(sequence(lit(1), size(tk) - 1),
      i => concat_ws(" ", element_at(tk, i), element_at(tk, i + 1)))
    when(size(tk) >= 2,
      lit(1.0) - size(array_distinct(bg)).cast("double") / size(bg).cast("double"))
  }

  /** Train/test DECONTAMINATION: (test doc, train doc) pairs whose 3-gram
    * shingle CONTAINMENT — |shingles(test) ∩ shingles(train)| /
    * |shingles(test)| — reaches `tau`. Containment (not Jaccard) is the
    * standard leakage test: a short benchmark item fully embedded in a
    * long training document scores 1.0 regardless of the train doc's
    * size. Computed with the same inverted-index equi-join as
    * [[Dedup.jaccardPairs]]: shuffle ∝ shingle postings, never
    * |test|×|train|. Output: (test_id, train_id, containment).
    *
    * At 100 TB the test side is a benchmark suite (thousands of docs, not
    * billions) while train is the crawl — the postings join handles that
    * asymmetry natively, and a broadcast of the test postings is the
    * planner's own call when the side is small enough. */
  def contaminationPairs(train: DataFrame, test: DataFrame,
      idCol: String, textCol: String, tau: Double,
      ngram: Int = 3, maxDf: Int = Int.MaxValue): DataFrame = {
    val trainInv = Dedup.shinglePostings(train, idCol, textCol, ngram)
      .toDF("train_id", "s")
    val testInv = Dedup.shinglePostings(test, idCol, textCol, ngram)
      .toDF("test_id", "s")
    val testSizes = testInv.groupBy(col("test_id")).agg(count(lit(1)).as("n_test"))
    // `maxDf` caps TRAIN-side shingle document frequency: one stop-shingle
    // ("one of the") present in most of a 100 TB crawl makes the postings
    // join hot-key-bound (|test postings| × |train postings| rows on a
    // single key). Shingles with train-df > maxDf are dropped WHOLE
    // before the join — same discipline as [[Dedup.jaccardPairs]]'s
    // dfCap. Containment denominators stay the full test shingle counts,
    // so scores are exact unless a capped (ubiquitous) shingle was
    // shared; with real decontam n-grams (8–13 words, near-unique) the
    // cap almost never fires. Default uncapped; uncapped calls skip the
    // df-count + anti-join stages entirely.
    val keptTrain =
      if (maxDf == Int.MaxValue) trainInv
      else {
        val hot = trainInv.groupBy(col("s")).agg(count(lit(1)).as("df"))
          .filter(col("df") > maxDf).select(col("s"))
        trainInv.join(hot, Seq("s"), "left_anti")
      }
    testInv.join(keptTrain, Seq("s"))
      .groupBy(col("test_id"), col("train_id"))
      .agg(count(lit(1)).as("common"))
      .join(testSizes, Seq("test_id"))
      .withColumn("containment", col("common").cast("double") / col("n_test"))
      .filter(col("containment") >= tau)
      .select(col("test_id"), col("train_id"), col("containment"))
  }

  /** Train/test decontamination as the corpus FILTER (the step
    * pipelines actually run after the [[contaminationPairs]]
    * diagnostic): drop every train document whose 3-gram-shingle
    * containment against ANY test document reaches `tau`, keep the rest
    * with their original columns — one distinct + one anti-join on top
    * of the pairs join. */
  def decontamFilter(train: DataFrame, test: DataFrame,
      idCol: String, textCol: String, tau: Double,
      ngram: Int = 3, maxDf: Int = Int.MaxValue): DataFrame = {
    val flagged = contaminationPairs(train, test, idCol, textCol, tau, ngram, maxDf)
      .select(col("train_id").as("_graft_drop")).distinct()
    train.join(flagged, col(idCol) === col("_graft_drop"), "left_anti")
  }

  /** Per-document N-GRAM NOVELTY against a reference corpus — the
    * eval-set-freshness / memorization-risk score (how much of a
    * benchmark item's n-gram mass already exists verbatim in the
    * training crawl): for each doc, the fraction of its DISTINCT
    * `ngram`-shingles absent from the reference's shingle set.
    * [[contaminationPairs]] answers "WHICH train doc leaked"; this
    * answers "how novel is each doc overall" — the score eval curators
    * threshold before trusting a benchmark number.
    *
    * Shape: two shingle-postings scans (per-doc distinct shingles, the
    * [[Dedup.shinglePostings]] kernel), one distinct over the reference
    * grams, one left-semi equi-join on the gram + two hash aggs —
    * shuffle ∝ postings, never |docs|×|ref|; at 100 TB the doc side is
    * a benchmark suite and the reference-gram set is the big side of a
    * standard semi-join. Docs with fewer than `ngram` tokens have no
    * shingles and emit no row. Output:
    * `(doc_id, n_grams, seen_grams, novel_grams, novelty)`. */
  def ngramNovelty(docs: DataFrame, reference: DataFrame, idCol: String,
      textCol: String, ngram: Int = 3): DataFrame = {
    val docInv = Dedup.shinglePostings(docs, idCol, textCol, ngram)
    val refSet = Dedup.shinglePostings(reference, idCol, textCol, ngram)
      .select(col("s")).distinct()
    val totals = docInv.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"))
    val seen = docInv.join(refSet, Seq("s"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("seen_grams"))
    totals.join(seen, Seq("doc_id"), "left_outer")
      .withColumn("seen_grams", coalesce(col("seen_grams"), lit(0L)))
      .withColumn("novel_grams", col("n_grams") - col("seen_grams"))
      .withColumn("novelty", round(col("novel_grams").cast("double") /
        col("n_grams").cast("double"), 6))
  }

  /** Top-`k` TF-IDF terms per document: tf = term count / doc length,
    * idf = ln(N / df) over the corpus, score rounded to 6 decimals
    * (cross-engine reproducible), rank ties broken alphabetically. The
    * shape is two hash aggregations (term counts, document frequencies)
    * + a broadcast-able N + a bounded per-doc ranking window — every
    * stage partial-aggregates map-side, nothing is ever per-corpus on
    * one machine. Output: (doc_id, rank, term, tfidf). */
  def tfidfTopTerms(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val (lazyOut, termCounts) = tfidfTopTermsLazy(df, idCol, textCol, k)
    val out = lazyOut.localCheckpoint(true) // output-sized (k rows per doc)
    Iterate.release(termCounts)
    out
  }

  /** [[tfidfTopTerms]] before its final eager materialization: returns
    * (result with full lineage, the checkpointed term-count frame the
    * caller frees with [[Iterate.release]] once the result has
    * materialized) so plan-quality specs can assert the
    * partial-aggregation shapes — `localCheckpoint` truncates lineage
    * to a `Scan ExistingRDD`, hiding them. */
  private[graft] def tfidfTopTermsLazy(df: DataFrame, idCol: String,
      textCol: String, k: Int): (DataFrame, DataFrame) = {
    require(k >= 1, "k must be positive")
    val toks = df.select(col(idCol).cast("long").as("doc_id"),
        explode(tokens(col(textCol))).as("term"))
    // (doc, term) counts feed FOUR consumers (doc lengths, document
    // frequencies, the corpus doc count, the scored join) — Catalyst
    // evaluates a shared subtree once PER consumer, so without an eager
    // materialization the regex tokenizer + first aggregation run four
    // times over the corpus (measured ~1.9s → ~1.1s at sf0.1). The
    // frame is vocab-per-doc-sized: far smaller than the text it
    // indexes. Same discipline as [[Dedup.jaccardPairs]]'s postings.
    val termCounts = toks.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint(true)
    val docLens = termCounts.groupBy(col("doc_id")).agg(sum(col("cnt")).as("len"))
    val docFreq = termCounts.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nDocs = termCounts.select(col("doc_id")).distinct().count()
    val scored = termCounts
      .join(docLens, Seq("doc_id"))
      .join(docFreq, Seq("term"))
      .withColumn("tfidf", round(
        (col("cnt").cast("double") / col("len").cast("double")) *
          log(lit(nDocs.toDouble) / col("df").cast("double")), 6))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("term"))
    val out = scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("term"), col("tfidf"))
    (out, termCounts)
  }

  /** Gopher-style quality rules (Rae et al. 2021, arXiv:2112.11446 §A1.1
    * — the repetition-free subset): the standard web-scrape quality gate
    * expressed as one map-only Column projection. Per document:
    * word count in [minWords, maxWords], mean word length in
    * [minMeanLen, maxMeanLen], fraction of words containing an
    * alphabetic character ≥ minAlphaFrac, and at least minStopHits
    * distinct hits from a fixed 8-stopword inventory (the "is this
    * prose at all" test). Emits every signal plus the composite
    * `passes` flag so a pipeline can either filter or stratify on the
    * failure reason. Ratios round to 6 (engine-portable); stopword
    * hits count CONTAINMENT (once per distinct stopword), mirroring
    * the published rule. Tokens are staged once; no shuffle. */
  def gopherQuality(df: DataFrame, idCol: String, textCol: String,
      minWords: Int = 50, maxWords: Int = 100000,
      minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
      minAlphaFrac: Double = 0.8, minStopHits: Int = 2): DataFrame = {
    val stops = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    val staged = df
      .filter(col(idCol).isNotNull && col(textCol).isNotNull)
      .select(col(idCol).cast("long").as("doc_id"),
        tokens(col(textCol)).as("tk"))
      .filter(size(col("tk")) >= 1)
    val nWords = size(col("tk"))
    val meanLen = round(
      aggregate(transform(col("tk"), t => length(t).cast("long")),
        lit(0L), (s, v) => s + v).cast("double") / nWords.cast("double"), 6)
    val alphaFrac = round(
      size(filter(col("tk"), t => t.rlike("[a-z]"))).cast("double") /
        nWords.cast("double"), 6)
    val stopHits = stops.map(w =>
      when(array_contains(col("tk"), w), 1).otherwise(0))
      .reduce(_ + _)
    staged.select(col("doc_id"), nWords.as("n_words"), meanLen.as("mean_word_len"),
        alphaFrac.as("frac_alpha"), stopHits.as("stop_hits"))
      .withColumn("passes",
        col("n_words").between(minWords, maxWords) &&
          col("mean_word_len").between(minMeanLen, maxMeanLen) &&
          col("frac_alpha") >= minAlphaFrac &&
          col("stop_hits") >= minStopHits)
  }

  /** Winnowing document fingerprints (Schleimer et al., SIGMOD 2003 —
    * the MOSS recipe): hash every `kgram`-character window of the
    * lowercased text, slide a `window`-wide window over the hash
    * sequence, and keep each window's MINIMUM hash (ties → leftmost
    * position). Winnowing guarantees any shared substring of length ≥
    * `window + kgram − 1` between two documents yields at least one
    * shared fingerprint, at ~2/(window+1) the density of full k-gram
    * hashing — the partial-overlap / clone-detection complement to
    * whole-document MinHash. The k-gram hash is the 28-bit md5 prefix
    * (engine-portable; a true polynomial rolling hash would be faster
    * per byte but unreproducible in SQL — same hash-vs-rolling trade
    * every op here makes). Output: one row per distinct (doc_id,
    * fingerprint) — join fingerprints to find overlapping docs.
    * Map-only; fingerprints per doc ≈ 2·len/(window+1). */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
      kgram: Int = 5, window: Int = 4): DataFrame = {
    require(kgram >= 1, "kgram must be positive")
    require(window >= 1, "window must be positive")
    val txt = lower(col("_graft_t"))
    val nGrams = length(txt) - kgram + 1
    val hashes = transform(sequence(lit(1), nGrams),
      i => conv(substring(md5(substring(txt, i, lit(kgram))), 1, 7), 16, 10).cast("long"))
    // spread BEFORE the per-k-gram md5 transform (one md5 per character
    // of the corpus) — on an unsplittable scan it was single-task
    Spread.spread(
      df.filter(col(idCol).isNotNull && col(textCol).isNotNull &&
          length(col(textCol)) >= kgram + window - 1)
        .select(col(idCol).cast("long").as("doc_id"),
          col(textCol).as("_graft_t")), col("doc_id"))
      .select(col("doc_id"), hashes.as("hs"))
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), size(col("hs")) - window + 1),
          w => array_min(slice(col("hs"), w, lit(window))))).as("fingerprint"))
      .distinct()
  }

  /** Character-level Shannon entropy per document (nats): the standard
    * degenerate-content screen — repeated-character/boilerplate spam
    * scores near 0, natural prose sits in a narrow band, and uniform
    * noise maxes out at ln(alphabet). Relational shape: one hash agg
    * keyed (doc, char) + one keyed (doc), both map-side partial;
    * `−Σ p·ln p` sums DECIMAL addends (partition-merge-order
    * independent) and rounds to 6, engine-portable. Case-folded.
    * Output: `(doc_id, n_chars, entropy)`. */
  def charEntropy(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val sp = df.sparkSession
    import sp.implicits._
    // per-partition counting kernel instead of exploding one row per
    // character: the explode forms a corpus-length intermediate (50M
    // rows at sf0.1, measured 6.0 s) while the kernel emits only the
    // ~alphabet-sized (doc, char, count) rows. Code-point iteration so
    // astral-plane characters count once, Locale.ROOT fold.
    val counts = df
      .filter(col(idCol).isNotNull && col(textCol).isNotNull &&
        length(col(textCol)) >= 1)
      .select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        val m = scala.collection.mutable.HashMap.empty[Int, Long]
        val lo = text.toLowerCase(java.util.Locale.ROOT)
        var i = 0
        while (i < lo.length) {
          val cp = lo.codePointAt(i)
          m.update(cp, m.getOrElse(cp, 0L) + 1L)
          i += Character.charCount(cp)
        }
        (id, m.iterator.map { case (cp, cnt) =>
          (new String(Character.toChars(cp)), cnt)
        }.toSeq)
      })
      .toDF("doc_id", "chs")
      .select(col("doc_id"), explode(col("chs")).as("c"))
      .select(col("doc_id"), col("c._1").as("ch"), col("c._2").as("cnt0"))
      // duplicate doc_ids across input rows merge exactly as the
      // original per-character groupBy did
      .groupBy(col("doc_id"), col("ch")).agg(sum(col("cnt0")).as("cnt"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
    val p = col("cnt").cast("double") / col("n").cast("double")
    counts.withColumn("n", sum(col("cnt")).over(w))
      .groupBy(col("doc_id"))
      .agg(max(col("n")).cast("int").as("n_chars"),
        round(-sum((p * log(p))
          .cast(org.apache.spark.sql.types.DecimalType(28, 12)))
          .cast("double"), 6).as("entropy"))
  }

  /** BPE merge training (Sennrich et al. 2016): learn the `nMerges`
    * most frequent adjacent-symbol merges over the corpus vocabulary —
    * the tokenizer-training primitive. Classic algorithm, distributed
    * the way it scales: the corpus collapses to a (word, count) VOCAB
    * table in one aggregation, and every merge round then runs on the
    * vocab, not the corpus — pair counting is a hash agg over vocab
    * rows weighted by word count, the argmax pair is a 1-row collect
    * (count desc, then lexicographic (left, right) — deterministic),
    * and re-segmentation is a map-only string rewrite. Cost ∝
    * vocab × rounds regardless of corpus size.
    *
    * Segmentations are DOUBLE-SPACE-joined symbol strings, so applying
    * a merge is a plain left-to-right non-overlapping `replace` of
    * `" l  r "` with `" lr "` on the space-wrapped string — the same
    * primitive with the same scan semantics in every engine, which is
    * what lets the DuckDB oracle replay training round for round
    * (greedy left-to-right pair merging within a round, exactly the
    * reference algorithm). Rounds with no pairs left emit nothing and
    * leave segmentations untouched. Output: one row per learned merge,
    * `(rank, lhs, rhs, cnt)`, rank starting at 1.
    *
    * `maxVocab` bounds the per-round working set on heavy-tailed
    * corpora: keep only the `maxVocab` most frequent words (count desc,
    * then word asc — deterministic), a distributed top-N
    * (`TakeOrdered`), never a global sort. When the corpus vocabulary
    * already fits, the cap is the identity. NOTE the loop's inherent
    * cost shape: rounds are SEQUENTIAL driver-launched jobs (each
    * argmax is an action), so wall-clock ∝ nMerges × per-round latency
    * — fine at screening-size merge counts; a full 30k-merge tokenizer
    * train is 30k tiny jobs over this vocab-sized frame. */
  def bpeMerges(df: DataFrame, textCol: String, nMerges: Int,
      maxVocab: Int = Int.MaxValue): DataFrame = {
    require(nMerges >= 1, "nMerges must be positive")
    require(maxVocab >= 1, "maxVocab must be positive")
    val sp = df.sparkSession
    import sp.implicits._
    val initSeg = concat_ws("  ",
      transform(sequence(lit(1), length(col("word"))),
        i => substring(col("word"), i, lit(1))))
    val counted = df.select(explode(tokens(col(textCol))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
    val capped =
      if (maxVocab == Int.MaxValue) counted
      else counted.orderBy(col("cnt").desc, col("word")).limit(maxVocab)
    var vocab = capped
      .select(col("cnt"), initSeg.as("seg"))
      .localCheckpoint(true) // vocab-sized: the working set for every round
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var rank = 1
    var exhausted = false
    // AQE off + vocab-sized shuffle width for the merge loop
    withTrainerConf(sp, Some(vocab.rdd.getNumPartitions)) {
    while (rank <= nMerges && !exhausted) {
      val syms = split(col("seg"), "  ")
      // guard: sequence(1, 0) DESCENDS in Spark, so single-symbol words
      // need an explicit empty pair list
      val pairs = when(size(syms) >= 2,
        transform(sequence(lit(1), size(syms) - 1),
          i => struct(element_at(syms, i).as("l"),
            element_at(syms, i + 1).as("r"))))
        .otherwise(array().cast("array<struct<l:string,r:string>>"))
      val top = vocab
        .select(col("cnt"), explode(pairs).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("cnt")).as("pc"))
        .orderBy(col("pc").desc, col("l"), col("r"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (l, r, pc) = (top.head.getString(0), top.head.getString(1),
          top.head.getLong(2))
        merges += ((rank, l, r, pc))
        val next = vocab.select(col("cnt"),
          trim(replace(concat(lit(" "), col("seg"), lit(" ")),
            lit(s" $l  $r "), lit(s" $l$r "))).as("seg"))
          .localCheckpoint(true) // truncate the per-round rewrite lineage
        Iterate.release(vocab)
        vocab = next
        rank += 1
      }
    }
    }
    Iterate.release(vocab)
    merges.toSeq.toDF("rank", "lhs", "rhs", "cnt")
  }

  /** BATCHED BPE trainer — the scale path past [[bpeMerges]]'s
    * one-merge-per-job loop (30k merges = 30k sequential driver
    * round-trips). Per round: count symbol pairs over the vocab, take
    * the top `4·batch` candidates by `(count desc, l, r)` (distributed
    * TakeOrdered — the only driver traffic, ≤ 4·batch rows/round),
    * greedily accept up to `batch` pairs that share NO symbol with an
    * earlier accepted pair, and apply all accepted merges in ONE vocab
    * rewrite pass. Disjointness makes the batch's rewrites
    * order-independent, so a round costs the same as a single classic
    * merge while learning up to `batch` of them — total driver
    * round-trips = `rounds`, not merge count.
    *
    * This is the standard parallel-tokenizer-training approximation,
    * DEFINED semantics (deterministic, engine-replayable — the t39
    * oracle replays round counts, candidate windows, greedy walk and
    * rewrites in SQL), not a claim of classic-BPE equality: classic
    * recounts after every single merge, so merge lists diverge past
    * `batch = 1`. At `batch = 1` the greedy walk accepts exactly the
    * global best pair and the trainer IS [[bpeMerges]] rank-for-rank
    * (spec-pinned). `seedSymbolLen` seeds the alphabet with fixed-width
    * symbol chunks (1 = classic characters; 2 over hex = byte-style
    * 256-symbol seeding, which is what gives early rounds enough
    * disjoint pairs to batch against).
    * Output: (rank, lhs, rhs, cnt) — global rank in (round, batch
    * order).
    *
    * Sizing at real vocab scale (measured via [[graft.BpeBench]],
    * committed in `bpe_scale.json`): 23,880 merges in 140 rounds /
    * 74.2 s at sf0.1 local[32] with `batch = 512` — 3.1 ms/merge, vs
    * ~600 ms/merge for the one-job-per-merge classic loop. Acceptance
    * per round is disjointness-limited early (~100/round over a
    * 256-symbol seed alphabet) and approaches `batch` as the symbol
    * space grows, so for a ~30k-merge production tokenizer plan
    * roughly `rounds ≈ 30000/batch + 60` slack rounds; `maxVocab`
    * caps the working frame at the top-N words by count (the
    * Zipf-head is where all high-count pairs live). */
  def bpeMergesBatched(df: DataFrame, textCol: String, rounds: Int,
      batch: Int, seedSymbolLen: Int = 1,
      maxVocab: Int = Int.MaxValue): DataFrame = {
    require(rounds >= 1, "rounds must be positive")
    require(batch >= 1, "batch must be positive")
    require(seedSymbolLen >= 1, "seedSymbolLen must be positive")
    require(maxVocab >= 1, "maxVocab must be positive")
    val sp = df.sparkSession
    import sp.implicits._
    val sl = seedSymbolLen
    val nSyms = ceil(length(col("word")).cast("double") / sl).cast("int")
    val initSeg = concat_ws("  ",
      transform(sequence(lit(1), nSyms),
        i => substring(col("word"), (i - lit(1)) * sl + 1, lit(sl))))
    val counted = df.select(explode(tokens(col(textCol))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
    val capped =
      if (maxVocab == Int.MaxValue) counted
      else counted.orderBy(col("cnt").desc, col("word")).limit(maxVocab)
    var vocab = capped
      .select(col("cnt"), initSeg.as("seg"))
      .localCheckpoint(true)
    var lastCkpt = vocab // the frame owning cached blocks (vocab may be lazy)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var globalRank = 0
    var round = 0
    var exhausted = false
    // AQE off for the vocab-bounded loop only (see [[withAqeOff]]) —
    // the corpus-sized seeding pass above keeps the session default.
    withTrainerConf(sp, Some(vocab.rdd.getNumPartitions)) {
    while (round < rounds && !exhausted) {
      val syms = split(col("seg"), "  ")
      val pairs = when(size(syms) >= 2,
        transform(sequence(lit(1), size(syms) - 1),
          i => struct(element_at(syms, i).as("l"),
            element_at(syms, i + 1).as("r"))))
        .otherwise(array().cast("array<struct<l:string,r:string>>"))
      val cands = vocab
        .select(col("cnt"), explode(pairs).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("cnt")).as("pc"))
        .orderBy(col("pc").desc, col("l"), col("r"))
        .limit(4 * batch).collect()
      if (cands.isEmpty) exhausted = true
      else {
        val used = scala.collection.mutable.HashSet.empty[String]
        val acc = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
        val it = cands.iterator
        while (acc.size < batch && it.hasNext) {
          val row = it.next()
          val (l, r, pc) = (row.getString(0), row.getString(1), row.getLong(2))
          if (!used.contains(l) && !used.contains(r)) {
            acc += ((l, r, pc)); used += l; used += r
          }
        }
        acc.foreach { case (l, r, pc) =>
          globalRank += 1; merges += ((globalRank, l, r, pc))
        }
        // one kernel rewrite pass applies the whole batch (disjoint, so
        // rank order is cosmetic); JVM String.replace is the same
        // left-to-right non-overlapping rewrite as Spark's/DuckDB's
        // replace, which t21 already pins cross-engine
        val accArr = acc.toArray
        val rewritten = vocab.as[(Long, String)].mapPartitions { rows =>
          rows.map { case (cnt, seg) =>
            var sg = " " + seg + " "
            var b = 0
            while (b < accArr.length) {
              val (l, r, _) = accArr(b)
              sg = sg.replace(" " + l + "  " + r + " ", " " + l + r + " ")
              b += 1
            }
            (cnt, sg.trim)
          }
        }.toDF("cnt", "seg")
        // materialize every few rounds, not every round: the rewrite is a
        // NARROW kernel map (re-running a 3-round tail over the
        // vocab-sized frame is cheaper than a per-round checkpoint
        // action — measured 7.4s -> ~5s for 12 rounds at sf0.1)
        if (round % 4 == 3) {
          val next = rewritten.localCheckpoint(true)
          Iterate.release(lastCkpt)
          lastCkpt = next
          vocab = next
        } else vocab = rewritten
      }
      round += 1
    }
    }
    Iterate.release(lastCkpt)
    merges.toSeq.toDF("rank", "lhs", "rhs", "cnt")
  }

  /** Apply learned BPE merges (see [[bpeMerges]]) and count the
    * resulting subword tokens per document — the "how many tokens will
    * this cost" signal with a REAL trained tokenizer instead of a
    * whitespace proxy. Encoding runs on the DISTINCT word set, not the
    * corpus: each vocab word's segmentation applies the merge list in
    * rank order (each merge rewrites ALL its occurrences left-to-right
    * non-overlapping — exactly training's greedy semantics), and
    * documents join their words back to the precomputed subword counts —
    * cost ∝ vocab + one equi-join, regardless of how often words repeat.
    *
    * The merge application is a per-partition KERNEL over the vocab, not
    * a Column fold: folding 30k–50k merges (a real tokenizer's table)
    * into one nested-`replace` expression builds a Catalyst tree whose
    * depth equals the merge count — analysis cost and codegen method
    * limits break long before production size. The kernel is a plain
    * rank-ordered loop per word with a symbols-present prefilter (two
    * hash probes skip merges whose pair can't occur), so a 30k-merge
    * table costs 30k probes + the handful of real merge passes per
    * word. [[bpeEncodeCountsColumn]] keeps the pure-Column form as the
    * spec-pinned semantic twin. Output: `(doc_id, n_words,
    * n_bpe_tokens)`. */
  def bpeEncodeCounts(df: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val sp = df.sparkSession
    import sp.implicits._
    val mergeArr = merges.toArray
    val words = df
      .filter(col(idCol).isNotNull && col(textCol).isNotNull)
      .select(col(idCol).cast("long").as("doc_id"),
        explode(tokens(col(textCol))).as("word"))
    val vocabCounts = words.select(col("word")).distinct()
      .as[String]
      .mapPartitions(_.map(w => (w, bpeSubwordCount(w, mergeArr))))
      .toDF("word", "n_sub")
    words.join(vocabCounts, Seq("word"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), sum(col("n_sub")).as("n_bpe_tokens"))
  }

  /** Pure-Column twin of [[bpeEncodeCounts]]: folds the merges into one
    * nested-`replace` expression (depth = merge count). Identical
    * semantics — the spec pins them row-for-row equal — but only usable
    * at small merge counts; a production-size merge table must go
    * through the kernel form. */
  def bpeEncodeCountsColumn(df: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val words = df
      .filter(col(idCol).isNotNull && col(textCol).isNotNull)
      .select(col(idCol).cast("long").as("doc_id"),
        explode(tokens(col(textCol))).as("word"))
    val seg0 = concat_ws("  ",
      transform(sequence(lit(1), length(col("word"))),
        i => substring(col("word"), i, lit(1))))
    val segN = merges.foldLeft(seg0) { case (s, (l, r)) =>
      trim(replace(concat(lit(" "), s, lit(" ")),
        lit(s" $l  $r "), lit(s" $l$r ")))
    }
    val vocabCounts = words.select(col("word")).distinct()
      .select(col("word"), size(split(segN, "  ")).as("n_sub"))
    words.join(vocabCounts, Seq("word"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), sum(col("n_sub")).as("n_bpe_tokens"))
  }

  /** WordPiece merge training (Schuster & Nakajima 2012; the BERT
    * tokenizer's trainer): structurally [[bpeMerges]] — vocab-table
    * rounds, one argmax, one map-only rewrite — but the merge choice
    * maximizes the LIKELIHOOD score `count(l,r) / (count(l)·count(r))`
    * instead of raw pair frequency, preferring pairs that co-occur far
    * more than their parts' popularity predicts (the "ing" merge beats
    * the "e t" merge even when the latter is more frequent). Completes
    * the trained-tokenizer triad next to BPE ([[bpeMerges]]) and
    * unigram-LM ([[unigramVocab]]).
    *
    * Determinism cross-engine: the score is the fixed IEEE expression
    * `double(pc) / (double(cl) · double(cr))` over exact integer
    * statistics — identical inputs give bit-identical doubles in any
    * IEEE-754 engine (the [[knBigramScores]] discipline), so the argmax
    * ordering `(score desc, l, r)` replays exactly; the emitted score
    * is round-6 for display only, never used for ordering. Symbol
    * counts are per-round occurrence totals over the vocab (count ×
    * occurrences in the word's segmentation), recomputed each round
    * from the segmentations like the pair counts.
    *
    * Pieces here are prefix-agnostic: the "##" continuation marker of
    * the BERT surface form is an ENCODING convention (see
    * [[wordpieceEncodeCounts]]), not a training statistic — HF's
    * trainer strips it before counting pairs the same way.
    *
    * Scale shape = [[bpeMerges]]: corpus collapses to the (word, cnt)
    * vocab once, each round is two hash aggs over vocab rows (pairs +
    * symbols), two broadcast-sized equi-joins onto the pair counts, a
    * 1-row collect, and a map-only rewrite; `maxVocab` caps the
    * working set by (cnt desc, word). Output one row per merge:
    * `(rank, lhs, rhs, cnt, score)`. */
  def wordpieceMerges(df: DataFrame, textCol: String, nMerges: Int,
      maxVocab: Int = Int.MaxValue): DataFrame = {
    require(nMerges >= 1, "nMerges must be positive")
    require(maxVocab >= 1, "maxVocab must be positive")
    val sp = df.sparkSession
    import sp.implicits._
    val initSeg = concat_ws("  ",
      transform(sequence(lit(1), length(col("word"))),
        i => substring(col("word"), i, lit(1))))
    val counted = df.select(explode(tokens(col(textCol))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
    val capped =
      if (maxVocab == Int.MaxValue) counted
      else counted.orderBy(col("cnt").desc, col("word")).limit(maxVocab)
    var vocab = capped
      .select(col("cnt"), initSeg.as("seg"))
      .localCheckpoint(true)
    val merges =
      scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long, Double)]
    var rank = 1
    var exhausted = false
    // AQE off + vocab-sized shuffle width for the merge loop
    withTrainerConf(sp, Some(vocab.rdd.getNumPartitions)) {
    while (rank <= nMerges && !exhausted) {
      val syms = split(col("seg"), "  ")
      val pairs = when(size(syms) >= 2,
        transform(sequence(lit(1), size(syms) - 1),
          i => struct(element_at(syms, i).as("l"),
            element_at(syms, i + 1).as("r"))))
        .otherwise(array().cast("array<struct<l:string,r:string>>"))
      val symCounts = vocab
        .select(col("cnt"), explode(syms).as("s"))
        .groupBy(col("s")).agg(sum(col("cnt")).as("sc"))
      val top = vocab
        .select(col("cnt"), explode(pairs).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("cnt")).as("pc"))
        .join(symCounts.select(col("s").as("l"), col("sc").as("cl")), Seq("l"))
        .join(symCounts.select(col("s").as("r"), col("sc").as("cr")), Seq("r"))
        .select(col("l"), col("r"), col("pc"),
          (col("pc").cast("double") /
            (col("cl").cast("double") * col("cr").cast("double"))).as("score"))
        .orderBy(col("score").desc, col("l"), col("r"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (l, r, pc, sc) = (top.head.getString(0), top.head.getString(1),
          top.head.getLong(2), top.head.getDouble(3))
        merges += ((rank, l, r, pc, sc))
        val next = vocab.select(col("cnt"),
          trim(replace(concat(lit(" "), col("seg"), lit(" ")),
            lit(s" $l  $r "), lit(s" $l$r "))).as("seg"))
          .localCheckpoint(true)
        Iterate.release(vocab)
        vocab = next
        rank += 1
      }
    }
    }
    Iterate.release(vocab)
    merges.toSeq.toDF("rank", "lhs", "rhs", "cnt", "raw_score")
      .select(col("rank"), col("lhs"), col("rhs"), col("cnt"),
        round(col("raw_score"), 6).as("score"))
  }

  /** Greedy longest-match-first subword count per word against a piece
    * inventory — the per-partition kernel behind
    * [[wordpieceEncodeCounts]]. Returns -1 when some position has no
    * matching piece (the word becomes ONE `[UNK]` token, HF WordPiece
    * semantics). Pieces are prefix-agnostic (see [[wordpieceMerges]]). */
  private[graft] def wordpieceTokenCount(word: String,
      pieces: Set[String], maxLen: Int): Int = {
    var pos = 0
    var n = 0
    while (pos < word.length) {
      var len = math.min(maxLen, word.length - pos)
      var hit = 0
      while (hit == 0 && len >= 1) {
        if (pieces.contains(word.substring(pos, pos + len))) hit = len
        else len -= 1
      }
      if (hit == 0) return -1 // whole word -> [UNK]
      pos += hit
      n += 1
    }
    n
  }

  /** Apply a trained WordPiece inventory (alphabet ∪ merged pieces from
    * [[wordpieceMerges]]) and count subword tokens per document —
    * greedy longest-match-first, the WordPiece ENCODER (vs BPE's
    * rank-ordered merge replay: same vocabulary-table shape, different
    * decode rule). A word with any position no piece covers counts as
    * ONE `[UNK]` token (HF WordPiece: unknown chars sink the whole
    * word). Encoding runs on the DISTINCT word set and joins back, the
    * [[bpeEncodeCounts]] cost shape: vocab-sized kernel + one
    * equi-join, regardless of word repetition. Output
    * `(doc_id, n_words, n_wp_tokens, n_unk_words)`. */
  def wordpieceEncodeCounts(df: DataFrame, idCol: String, textCol: String,
      pieces: Seq[String]): DataFrame = {
    require(pieces.nonEmpty, "empty piece inventory")
    val sp = df.sparkSession
    import sp.implicits._
    val pieceSet = pieces.toSet
    val maxLen = pieces.iterator.map(_.length).max
    val words = df
      .filter(col(idCol).isNotNull && col(textCol).isNotNull)
      .select(col(idCol).cast("long").as("doc_id"),
        explode(tokens(col(textCol))).as("word"))
    val bc = sp.sparkContext.broadcast((pieceSet, maxLen))
    val vocabCounts = words.select(col("word")).distinct()
      .as[String]
      .mapPartitions { it =>
        val (ps, ml) = bc.value
        it.map { w =>
          val n = wordpieceTokenCount(w, ps, ml)
          (w, if (n < 0) 1 else n, if (n < 0) 1 else 0)
        }
      }
      .toDF("word", "n_sub", "unk")
    words.join(vocabCounts, Seq("word"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), sum(col("n_sub")).as("n_wp_tokens"),
        sum(col("unk")).as("n_unk_words"))
  }

  /** Unigram-LM (SentencePiece-style) vocabulary training, Kudo 2018
    * §3.2 in its hard-EM (Viterbi-EM) form, fully relational:
    *
    *   1. SEED — every substring of the distinct-word inventory up to
    *      `maxPieceLen` chars is a candidate piece; all single chars
    *      are kept unconditionally (segmentation coverage), plus the
    *      top `vocabMulti` multi-char pieces by corpus frequency
    *      (weighted by word count; ties to the lexicographically
    *      smaller piece).
    *   2. E-STEP — each distinct word gets its max-likelihood
    *      segmentation by an unrolled forward Viterbi DP over piece
    *      log-probs, then a backward traversal extracts the pieces
    *      used. Scores are DECIMAL(28,6) sums of DECIMAL(18,6)
    *      addends (`round(ln((freq+1)/(T+V)), 6)`, add-one smoothed),
    *      so DP comparisons and the backward equality test are EXACT
    *      in any engine — the t37 relational-GD discipline; the only
    *      float op is the per-piece `ln`, absorbed by round-6 exactly
    *      as the t11/t15 log-prob operators do. Backward tie-break:
    *      smallest start position (which determines the piece).
    *   3. M-STEP / PRUNE — piece frequency becomes its Viterbi use
    *      count (weighted by word count); multi-char pieces with zero
    *      count are dropped, single chars always survive.
    *
    * `emRounds` E/M iterations, then one final re-normalization.
    * Output: `(piece, piece_len, freq, logp)` — freq the last
    * iteration's Viterbi use count, logp the smoothed round-6
    * log-prob as DOUBLE.
    *
    * Scale shape: every frame is keyed on the DISTINCT-WORD inventory
    * (vocabulary-sized, not corpus-sized — the BPE discipline); all
    * joins are equi-joins on (word) or (piece); the DP is
    * `maxWordLen` bounded rounds per EM iteration with per-round
    * eager checkpoints and flattened stats (the iterative-loop
    * discipline); driver traffic is one (total, count) scalar pair
    * per round. Words longer than `maxWordLen` are excluded from
    * training (the dfCap convention: a documented coverage cap, loud
    * in the scaladoc rather than a silent wrong answer).
    *
    * `initVocab`: resume training from a previous run's `(piece, freq)`
    * state instead of the frequency-seeded vocabulary. Training from
    * `initVocab` = round-r output for `emRounds` more rounds is
    * byte-identical to one `emRounds = r + emRounds` run (each round's
    * inputs are exactly the (piece, freq) table — nothing else carries
    * over), which is what lets a battery memoize the shared EM prefix
    * of its train and encode queries. */
  def unigramLmVocab(df: DataFrame, textCol: String, vocabMulti: Int = 64,
      maxPieceLen: Int = 4, maxWordLen: Int = 12,
      emRounds: Int = 2, initVocab: Option[DataFrame] = None): DataFrame = {
    require(vocabMulti >= 0, "vocabMulti must be non-negative")
    require(maxPieceLen >= 1, "maxPieceLen must be positive")
    require(maxWordLen >= 1, "maxWordLen must be positive")
    require(emRounds >= 1, "need at least one EM round")
    import org.apache.spark.sql.types.DecimalType
    val words = df.select(explode(tokens(col(textCol))).as("w"))
      .filter(length(col("w")) <= maxWordLen)
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint(true)
    val occAll = unigramOccAll(words, maxPieceLen).localCheckpoint(true)
    // TakeOrdered top-k (q18 discipline) — never a global window
    val vocab0 = initVocab match {
      case Some(iv) => iv.select(col("piece"), col("freq"))
        .localCheckpoint(true)
      case None =>
        val f0 = occAll.groupBy(col("piece"))
          .agg(sum(col("cnt")).as("freq"))
        f0.filter(length(col("piece")) === 1)
          .unionAll(f0.filter(length(col("piece")) > 1)
            .orderBy(col("freq").desc, col("piece")).limit(vocabMulti))
          .localCheckpoint(true)
    }
    // (total freq, vocab size) of a vocab state: the smoothing constants
    def totals(vocab: DataFrame): (Long, Long) = {
      val tv = vocab.agg(coalesce(sum(col("freq")), lit(0L)),
        count(lit(1))).head()
      (tv.getLong(0), tv.getLong(1))
    }
    // each round's occurrence lattice and Viterbi uses are checkpointed
    // scratch, freed once the next vocab has materialized
    val result = Iterate.eager(vocab0, emRounds, Some(vocab0), identity) { (vocab, _) =>
      val (total, vsz) = totals(vocab)
      val scored = vocab.withColumn("logp",
        round(log((col("freq") + 1).cast("double") /
          lit((total + vsz).toDouble)), 6).cast(DecimalType(18, 6)))
      val occ = Iterate.scratch(occAll
        .join(scored.select(col("piece"), col("logp")), Seq("piece"))
        .select(col("w"), col("cnt"), col("start"), col("end"),
          col("piece"), col("logp"))
        .localCheckpoint(true))
      val uses = Iterate.scratch(viterbiUses(occ))
      val counts = uses.groupBy(col("piece")).agg(sum(col("cnt")).as("nfreq"))
      vocab.select(col("piece"))
        .join(counts, Seq("piece"), "left_outer")
        .select(col("piece"), coalesce(col("nfreq"), lit(0L)).as("freq"))
        .filter(length(col("piece")) === 1 || col("freq") > 0)
    }.finish { vocab =>
      val (total, vsz) = totals(vocab)
      vocab.select(col("piece"),
        length(col("piece")).as("piece_len"), col("freq"),
        round(log((col("freq") + 1).cast("double") /
          lit((total + vsz).toDouble)), 6).as("logp"))
    }
    Iterate.release(occAll, words)
    result
  }

  /** All piece occurrences of a `(w, cnt)` distinct-word frame:
    * `(w, cnt, start, end, piece)` for every substring up to
    * `maxPieceLen` chars — the candidate/lattice frame both
    * [[unigramLmVocab]] and [[unigramEncodeCounts]] build on. */
  private def unigramOccAll(words: DataFrame, maxPieceLen: Int): DataFrame =
    words
      .select(col("w"), col("cnt"),
        explode(sequence(lit(0), length(col("w")) - 1)).as("start"))
      .select(col("w"), col("cnt"), col("start"),
        explode(sequence(lit(1), lit(maxPieceLen))).as("plen"))
      .filter(col("start") + col("plen") <= length(col("w")))
      .select(col("w"), col("cnt"), col("start"),
        (col("start") + col("plen")).as("end"),
        expr("substring(w, start + 1, plen)").as("piece"))

  /** The shared Viterbi E-step: forward DP over the scored occurrence
    * lattice `occ` (`(w, cnt, start, end, piece, logp)`, logp
    * DECIMAL(18,6), checkpointed by the caller), then the backward
    * traversal with the exact-DECIMAL equality test and start-asc
    * tie-break. Returns a CHECKPOINTED `(w, cnt, piece)` frame with one
    * row per piece USE in each word's best segmentation (the caller
    * frees it with [[Iterate.release]]). Words whose end position is
    * unreachable under `occ` (a char missing from the vocabulary)
    * simply emit no rows. */
  private def viterbiUses(occ: DataFrame): DataFrame = {
    // Round-16 kernelization (guide §1.2 step 1 — fix the distributed
    // algorithm before the per-task work). The relational form ran the
    // forward DP + backward peel as ~2·maxWordLen driver-checkpointed
    // join rounds per call: ≈50 word-keyed shuffles at ANY scale, and at
    // bench scale each round's multi-Exchange AQE plan was its own
    // stage-job round-trip (t50 profiled 138 jobs). But the DP is
    // per-word over a lattice of ≤ maxWordLen·maxPieceLen entries, so
    // ONE grouped pass computes it exactly: collect each word's scored
    // lattice rows and run the identical DECIMAL DP in
    // [[viterbiPiecesKernel]] — Long micro-units (scale-6 fixed point)
    // make every sum of ≤ maxWordLen scale-6 logps EXACT in 64 bits, so
    // max / equality / min-start tie-break agree bit-for-bit with the
    // old DECIMAL(28,6) column arithmetic (the [[unigramNpKernel]]
    // stream-twin argument, spec-pinned stream ≡ batch). Unreachable
    // words (out-of-vocab char) return an empty piece list and drop in
    // the explode, exactly like the old missing pos=len join row.
    val kernel = udf((w: String, lat: Seq[org.apache.spark.sql.Row]) =>
      viterbiPiecesKernel(w, lat))
    occ.groupBy(col("w"), col("cnt"))
      .agg(collect_list(struct(col("start"), col("end"), col("piece"),
        col("logp"))).as("lat"))
      .select(col("w"), col("cnt"),
        explode(kernel(col("w"), col("lat"))).as("piece"))
      .localCheckpoint(true)
  }

  /** The per-word Viterbi piece-USE kernel behind [[viterbiUses]]: the
    * exact DP the relational rounds computed, over one word's scored
    * lattice `(start, end, piece, logp DECIMAL(18,6))`. Scores are
    * scale-6 fixed point carried as Long micros — exact, so forward max
    * and the backward score-equality test reproduce the DECIMAL(28,6)
    * column arithmetic bit-for-bit; backward tie-break is min start
    * (per (word, end) each start has exactly one piece, so the old
    * (start asc, piece asc) window order reduces to start asc). Returns
    * the chosen pieces (one element per USE), empty when position
    * `len(w)` is unreachable. Order-insensitive to the lattice row
    * order: every step is a max/min over the candidate set. */
  private[graft] def viterbiPiecesKernel(w: String,
      lat: Seq[org.apache.spark.sql.Row]): Seq[String] = {
    val L = w.length
    if (L == 0 || lat == null || lat.isEmpty) return Nil
    val n = lat.length
    val starts = new Array[Int](n)
    val ends = new Array[Int](n)
    val pieces = new Array[String](n)
    val lp = new Array[Long](n)
    var i = 0
    while (i < n) {
      val r = lat(i)
      starts(i) = r.getInt(0); ends(i) = r.getInt(1)
      pieces(i) = r.getString(2)
      lp(i) = r.getDecimal(3).movePointRight(6).longValueExact()
      i += 1
    }
    val NEG = java.lang.Long.MIN_VALUE
    val best = new Array[Long](L + 1)
    java.util.Arrays.fill(best, NEG)
    best(0) = 0L
    var pos = 1
    while (pos <= L) {
      var b = NEG
      i = 0
      while (i < n) {
        if (ends(i) == pos && best(starts(i)) != NEG) {
          val cand = best(starts(i)) + lp(i)
          if (b == NEG || cand > b) b = cand
        }
        i += 1
      }
      best(pos) = b
      pos += 1
    }
    if (best(L) == NEG) return Nil
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    pos = L
    while (pos > 0) {
      var chosenStart = Int.MaxValue
      var chosenPiece: String = null
      i = 0
      while (i < n) {
        if (ends(i) == pos && best(starts(i)) != NEG &&
            best(starts(i)) + lp(i) == best(pos) &&
            starts(i) < chosenStart) {
          chosenStart = starts(i); chosenPiece = pieces(i)
        }
        i += 1
      }
      out += chosenPiece
      pos = chosenStart
    }
    out.toSeq
  }

  /** Tokenize documents with a TRAINED unigram-LM vocabulary (the
    * [[unigramLmVocab]] output, or any `(piece, logp)` frame whose logp
    * has at most 6 decimals): each distinct word gets its Viterbi
    * segmentation under the vocabulary's log-probs — the same
    * DECIMAL-exact DP and tie-break as training, so encode agrees with
    * the segmentations training counted — and each doc aggregates its
    * words' piece counts. The t22 BPE-encode analog for the unigram
    * tokenizer family.
    *
    * Fallback contract (documented, loud in schema not in failure):
    * words longer than `maxWordLen` (excluded from the DP) and words
    * containing a character absent from the vocabulary (unreachable
    * lattice) count `length(word)` pieces — the per-char segmentation,
    * which is exact whenever those chars are in the vocab and the
    * honest "unk = one piece per char" convention when not.
    *
    * Output: `(doc_id, n_words, n_pieces)` for docs with ≥1 token.
    * Scale shape: the DP runs on the DISTINCT word inventory and joins
    * back — corpus-sized work is one tokenize + one equi-join. */
  def unigramEncodeCounts(df: DataFrame, idCol: String, textCol: String,
      vocab: DataFrame, maxPieceLen: Int = 4,
      maxWordLen: Int = 12): DataFrame = {
    require(maxPieceLen >= 1, "maxPieceLen must be positive")
    require(maxWordLen >= 1, "maxWordLen must be positive")
    import org.apache.spark.sql.types.DecimalType
    val docWords = df
      .filter(col(idCol).isNotNull && col(textCol).isNotNull)
      .select(col(idCol).cast("long").as("doc_id"),
        explode(tokens(col(textCol))).as("word"))
    val words = docWords.select(col("word").as("w")).distinct()
      .filter(length(col("w")) <= maxWordLen)
      .withColumn("cnt", lit(1L))
      .localCheckpoint(true)
    val occ = unigramOccAll(words, maxPieceLen)
      .join(vocab.select(col("piece"),
        col("logp").cast(DecimalType(18, 6)).as("logp")), Seq("piece"))
      .select(col("w"), col("cnt"), col("start"), col("end"),
        col("piece"), col("logp"))
      .localCheckpoint(true)
    val uses = viterbiUses(occ)
    val np = uses.groupBy(col("w")).agg(count(lit(1)).as("np"))
    val result = docWords
      .join(np, docWords("word") === np("w"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("np"), length(col("word")).cast("long")).as("np"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), sum(col("np")).as("n_pieces"))
      .localCheckpoint(true)
    Iterate.release(uses, occ, words)
    result
  }

  /** Per-word Viterbi piece-count kernel — the single-record form of
    * [[viterbiUses]], used by the STREAMING encode twin
    * ([[graft.streaming.Streams.unigramEncodeScreen]]): same DP over
    * the same scale-6 BigDecimal log-probs (sums of scale-6 decimals
    * are exact, so the kernel's comparisons agree bit-for-bit with the
    * relational DECIMAL columns; the spec pins stream ≡ batch), same
    * start-asc backward tie-break, same fallback — words over
    * `maxWordLen` or with an out-of-vocab char count `length` pieces.
    * The backward walk is count-only (piece identities fall out of the
    * same path but the screen needs only the count). */
  private[graft] def unigramNpKernel(w: String,
      lp: java.util.HashMap[String, java.math.BigDecimal],
      maxPieceLen: Int, maxWordLen: Int): Long = {
    val L = w.length
    if (L == 0) return 0L
    if (L > maxWordLen) return L.toLong
    val best = new Array[java.math.BigDecimal](L + 1)
    best(0) = java.math.BigDecimal.ZERO.setScale(6)
    var pos = 1
    while (pos <= L) {
      var b: java.math.BigDecimal = null
      var s = math.max(0, pos - maxPieceLen)
      while (s < pos) {
        if (best(s) != null) {
          val p = lp.get(w.substring(s, pos))
          if (p != null) {
            val cand = best(s).add(p)
            if (b == null || cand.compareTo(b) > 0) b = cand
          }
        }
        s += 1
      }
      best(pos) = b
      pos += 1
    }
    if (best(L) == null) return L.toLong // out-of-vocab char: per-char
    var n = 0L
    pos = L
    while (pos > 0) {
      var s = math.max(0, pos - maxPieceLen)
      var chosen = -1
      while (chosen < 0 && s < pos) {
        if (best(s) != null) {
          val p = lp.get(w.substring(s, pos))
          if (p != null && best(s).add(p).compareTo(best(pos)) == 0) chosen = s
        }
        s += 1
      }
      n += 1
      pos = chosen
    }
    n
  }

  /** Kernel body for [[bpeEncodeCounts]]: segment `word` into
    * single-code-point symbols, apply `merges` IN RANK ORDER — one
    * left-to-right non-overlapping pass over the symbol array per merge,
    * the array-level restatement of the double-space `replace` rewrite
    * (symbols never contain spaces, so every string-level match aligns
    * on symbol boundaries) — and return the surviving symbol count.
    * NOT the classic min-rank-first encode loop: when a later merge
    * forms a pair an EARLIER merge would match, rank-order single-pass
    * (training's and the Column form's semantics) does not revisit it,
    * and min-rank-first would — the two disagree exactly there. The
    * `present` set is a superset of symbols ever seen (never pruned),
    * so the prefilter only skips merges that provably cannot match. */
  private def bpeSubwordCount(word: String,
      merges: Array[(String, String)]): Int = {
    var syms = new Array[String](word.codePointCount(0, word.length))
    val present = scala.collection.mutable.HashSet.empty[String]
    var i = 0
    var n = 0
    while (i < word.length) {
      val cp = word.codePointAt(i)
      val s = new String(Character.toChars(cp))
      syms(n) = s
      present += s
      n += 1
      i += Character.charCount(cp)
    }
    var len = n
    var m = 0
    while (m < merges.length && len >= 2) {
      val (l, r) = merges(m)
      if (present.contains(l) && present.contains(r)) {
        var read = 0
        var write = 0
        var mergedAny = false
        while (read < len) {
          if (read + 1 < len && syms(read) == l && syms(read + 1) == r) {
            syms(write) = l + r
            mergedAny = true
            read += 2
          } else {
            syms(write) = syms(read)
            read += 1
          }
          write += 1
        }
        if (mergedAny) { present += l + r; len = write }
      }
      m += 1
    }
    len
  }

  /** BM25 top-`k` retrieval: score every query against the corpus with
    * the Okapi BM25 ranking function and keep the `k` best documents
    * per query — the retrieval primitive behind known-item search,
    * retrieval-based decontamination, and quality-by-retrievability
    * screens over a training corpus.
    *
    *   score(q, d) = Σ_{t ∈ q∩d} idf(t) · cnt_d(t)·(k1+1) /
    *                   (cnt_d(t) + k1·(1 − b + b·len_d / avgdl))
    *   idf(t)      = ln((N − df(t) + 0.5) / (df(t) + 0.5) + 1)
    *
    * (the Lucene non-negative idf form). Query terms are DISTINCT —
    * repeating a term in a query does not multiply its weight.
    *
    * Shape — this is an inverted-index equi-join, never query × doc:
    * corpus side = two partial-aggregating hash aggs (per-doc term
    * counts, document frequencies) + a join back of doc length; query
    * side = distinct (query_id, term); candidates = the term equi-join,
    * so a document with no query term in common is never scored or
    * shuffled. N and avgdl are planning-time scalars. Per-pair sums go
    * through DECIMAL addends (partition-merge-order independent),
    * scores round to 6 with doc-id tiebreak — engine-portable.
    * `excludeSelf` drops query_id = doc_id pairs BEFORE ranking (for
    * known-item self-retrieval setups where the query IS a corpus
    * document). Output: (query_id, rank, doc_id, score). */
  def bm25TopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, textCol: String, qIdCol: String, qTextCol: String,
      k: Int, k1: Double = 1.2, b: Double = 0.75,
      excludeSelf: Boolean = false): DataFrame = {
    require(k >= 1, "k must be positive")
    require(k1 >= 0 && b >= 0 && b <= 1, "need k1 >= 0 and b in [0, 1]")
    val termCounts = corpus
      .select(col(idCol).cast("long").as("doc_id"),
        explode(tokens(col(textCol))).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("cnt"))
    val docLens = termCounts.groupBy(col("doc_id")).agg(sum(col("cnt")).as("len"))
    val docFreq = termCounts.groupBy(col("term")).agg(count(lit(1)).as("df"))
    // N and avgdl: two tiny planning-time scalars off the doc-length agg.
    // An empty corpus (avgdl undefined) degrades to an empty result —
    // the filtered-to-nothing shape of a real pipeline, not an error.
    val (nDocs, avgdl) = {
      val r = docLens.agg(count(lit(1)), avg(col("len").cast("double"))).collect().head
      (r.getLong(0), if (r.isNullAt(1)) 1.0 else r.getDouble(1))
    }
    if (nDocs == 0)
      return corpus.sparkSession.createDataFrame(
        corpus.sparkSession.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("query_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("rank",
            org.apache.spark.sql.types.IntegerType),
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("score",
            org.apache.spark.sql.types.DoubleType))))
    val qTerms = queries
      .select(col(qIdCol).cast("long").as("query_id"),
        explode(tokens(col(qTextCol))).as("term"))
      .distinct()
    val idf = log(
      (lit(nDocs.toDouble) - col("df").cast("double") + lit(0.5)) /
        (col("df").cast("double") + lit(0.5)) + lit(1.0))
    val tfPart = (col("cnt").cast("double") * lit(k1 + 1.0)) /
      (col("cnt").cast("double") +
        lit(k1) * (lit(1.0 - b) + lit(b) * col("len").cast("double") / lit(avgdl)))
    val postings = termCounts.join(docLens, Seq("doc_id")).join(docFreq, Seq("term"))
    val pairs = qTerms.join(postings, Seq("term"))
    val filtered =
      if (excludeSelf) pairs.filter(col("query_id") =!= col("doc_id")) else pairs
    val scored = filtered
      .groupBy(col("query_id"), col("doc_id"))
      // DECIMAL addends: the per-term contributions sum identically under
      // any partition merge order (same contract as unigramLogProb)
      .agg(round(sum((idf * tfPart)
        .cast(org.apache.spark.sql.types.DecimalType(28, 12)))
        .cast("double"), 6).as("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("score").desc, col("doc_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("doc_id"), col("score"))
  }

  /** Sentence-level shape statistics: segments = non-empty trimmed
    * pieces after splitting on `[.!?]+` runs, per-doc sentence count
    * and mean words per sentence (the C4/Gopher-adjacent "is this
    * prose-shaped" signal at sentence granularity — a wall of unbroken
    * text and a list of fragments both stand out). Pure Column
    * expressions (split/transform/filter/aggregate), map-only. Docs
    * with no sentences drop. Output:
    * (doc_id, n_sentences, mean_sentence_words). */
  def sentenceStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val segs = filter(
      transform(split(col(textCol), "[.!?]+"), s => trim(s)),
      s => length(s) > 0)
    df.filter(col(idCol).isNotNull && col(textCol).isNotNull)
      .select(col(idCol).cast("long").as("doc_id"), segs.as("ss"))
      .filter(size(col("ss")) >= 1)
      .select(col("doc_id"),
        size(col("ss")).as("n_sentences"),
        round(
          aggregate(transform(col("ss"), s => size(tokens(s)).cast("long")),
            lit(0L), (acc, v) => acc + v).cast("double") /
            size(col("ss")).cast("double"), 6).as("mean_sentence_words"))
  }

  /** Zipf rank-frequency fit — the corpus-health diagnostic: least-
    * squares slope of ln(frequency) vs ln(rank) over the top `maxRank`
    * terms (natural prose sits near −1; a slope collapsing toward 0
    * flags boilerplate/spam floods, steeper flags vocabulary collapse).
    * The top-`maxRank` cut is a distributed TakeOrdered (never a global
    * window over the full vocabulary — vocab grows with the corpus,
    * maxRank doesn't); ranks then come from a window over ≤ maxRank
    * rows. Regression sums go through DECIMAL so the fit is partition-
    * order independent; the closed-form slope computes from those exact
    * sums. Output: one row (n_points, zipf_slope). */
  /** VOCABULARY-GROWTH table in doc-id order — the input to a Heaps'
    * law fit and the dataset-card "how fast does the vocabulary still
    * grow" curve (a corpus whose vocab curve has flattened adds little
    * lexical novelty; one still growing steeply is under-deduplicated
    * or genuinely diverse). Per document (in doc-id order):
    * `n_tokens`, `new_words` (words whose FIRST occurrence is this
    * doc), and the cumulative `cum_tokens` / `cum_vocab` — both
    * cumulative counts ride [[Analytics.withPrefixSum]]'s two-level
    * scan, so a billion-doc corpus never runs as one window task. All
    * integers — hash-exact cross-engine. Word first-occurrence is a
    * min-agg over the postings (one shuffle keyed on the word), and
    * docs with zero tokens are dropped (they move neither curve). */
  def vocabGrowth(df: DataFrame, idCol: String, textCol: String,
      bucketSize: Long = 1024L): DataFrame = {
    val tok = df
      .select(col(idCol).cast("long").as("doc_id"),
        explode(tokens(col(textCol))).as("w"))
      .filter(col("doc_id").isNotNull)
      .localCheckpoint(true)
    val perDoc = tok.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"))
    val newWords = tok.groupBy(col("w"))
      .agg(min(col("doc_id")).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("new_words"))
    val joined = perDoc.join(newWords, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("new_words"), lit(0L)).as("new_words"))
    val out = Analytics.withPrefixSum(
        Analytics.withPrefixSum(joined, "doc_id", "n_tokens",
          "_graft_ct", bucketSize),
        "doc_id", "new_words", "_graft_cv", bucketSize)
      .select(col("doc_id"), col("n_tokens"), col("new_words"),
        (col("_graft_ct") + col("n_tokens")).as("cum_tokens"),
        (col("_graft_cv") + col("new_words")).as("cum_vocab"))
      .localCheckpoint(true)
    Iterate.release(tok)
    out
  }

  /** HEAPS' LAW fit `V(N) ≈ K·N^β` over the [[vocabGrowth]] curve —
    * the companion of [[zipfFit]] (the two laws are duals): one OLS
    * line through (ln N_d, ln V_d) across the corpus prefix at every
    * document. β near the 0.4–0.6 natural-language band is healthy;
    * β collapsing toward 0 marks a boilerplate/duplicated corpus, β
    * near 1 marks id-like token noise — the quantitative form of two
    * dataset pathologies. Determinism discipline: each per-point `ln`
    * is ROUNDED TO 9 before entering the DECIMAL(28,12) addend sums —
    * `ln` is a libm call whose last ulp is engine/platform freedom, and
    * an unrounded ulp in one addend would poison the "exact" sums (the
    * round-14 fix; ln of a token count is ≤ ~26, well inside round-9
    * safety). The sums are then order-free and engine-exact, and β / K
    * are short fixed IEEE chains rounded to 6. Output: one row
    * `(n_docs, total_tokens, vocab_size, heaps_beta, heaps_k)`. */
  def heapsLawFit(df: DataFrame, idCol: String, textCol: String,
      bucketSize: Long = 1024L): DataFrame = {
    val dt = org.apache.spark.sql.types.DecimalType(28, 12)
    val growth = vocabGrowth(df, idCol, textCol, bucketSize)
    val pts = growth.select(col("cum_tokens"), col("cum_vocab"),
      round(log(col("cum_tokens").cast("double")), 9).as("x"),
      round(log(col("cum_vocab").cast("double")), 9).as("y"))
    val out = pts.agg(
        count(lit(1)).as("n_docs"),
        max(col("cum_tokens")).as("total_tokens"),
        max(col("cum_vocab")).as("vocab_size"),
        count(lit(1)).cast("double").as("n"),
        sum(col("x").cast(dt)).cast("double").as("sx"),
        sum(col("y").cast(dt)).cast("double").as("sy"),
        sum((col("x") * col("y")).cast(dt)).cast("double").as("sxy"),
        sum((col("x") * col("x")).cast(dt)).cast("double").as("sxx"))
      .withColumn("_graft_den",
        col("n") * col("sxx") - col("sx") * col("sx"))
      // a degenerate curve (single doc, or all prefixes equal) has no
      // slope: NULL, never a division by zero. n < 2 is guarded
      // EXPLICITLY: with one point the denominator is mathematically 0
      // but the round-12 decimal addends leave ~1e-13 residue
      .withColumn("heaps_beta",
        when(col("_graft_den") === 0.0 || col("n") < 2.0,
            lit(null).cast("double"))
          .otherwise(round(
            (col("n") * col("sxy") - col("sx") * col("sy")) /
              col("_graft_den"), 6)))
      .withColumn("heaps_k",
        when(col("heaps_beta").isNull, lit(null).cast("double"))
          .otherwise(round(exp((col("sy") -
            (col("n") * col("sxy") - col("sx") * col("sy")) /
              col("_graft_den") * col("sx")) / col("n")), 6)))
      .select(col("n_docs"), col("total_tokens"), col("vocab_size"),
        col("heaps_beta"), col("heaps_k"))
      // one row: eager-materialize BEFORE dropping the growth blocks
      // (growth's lineage is checkpoint-truncated — it cannot recompute)
      .localCheckpoint(true)
    Iterate.release(growth)
    out
  }

  def zipfFit(df: DataFrame, textCol: String, maxRank: Int = 500): DataFrame = {
    require(maxRank >= 2, "need at least two points to fit")
    val dt = org.apache.spark.sql.types.DecimalType(28, 12)
    val tc = df.select(explode(tokens(col(textCol))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
    val top = tc.orderBy(col("cnt").desc, col("term")).limit(maxRank)
    val win = org.apache.spark.sql.expressions.Window
      .orderBy(col("cnt").desc, col("term"))
    val pts = top.withColumn("rank", row_number().over(win))
      .select(log(col("rank").cast("double")).as("x"),
        log(col("cnt").cast("double")).as("y"))
    pts.agg(
        count(lit(1)).cast("double").as("n"),
        sum(col("x").cast(dt)).cast("double").as("sx"),
        sum(col("y").cast(dt)).cast("double").as("sy"),
        sum((col("x") * col("y")).cast(dt)).cast("double").as("sxy"),
        sum((col("x") * col("x")).cast(dt)).cast("double").as("sxx"))
      .select(col("n").cast("int").as("n_points"),
        round((col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx")), 6).as("zipf_slope"))
  }

  /** Reciprocal-rank fusion (Cormack et al. 2009) — the standard hybrid-
    * retrieval combiner: each input ranking contributes 1/(c + rank) for
    * every (query, doc) it ranked, fused docs order by the summed score.
    * Rank-based (score-scale-free), so a BM25 list and an ANN cosine
    * list fuse without calibration — THE production recipe for
    * lexical + semantic search. Inputs need (query_id, rank, doc_id);
    * addends round to 9 and sum as DECIMAL so the fused score is
    * partition-order and engine independent; ties break to the lower
    * doc id. One union + one hash agg + one per-query window — the
    * fan-in is Σ|list| ≤ nLists·|Q|·k rows, tiny by construction.
    * Output: (query_id, rank, doc_id, rrf, n_lists). */
  def rrfFuse(rankings: Seq[DataFrame], k: Int, c: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "need at least one ranking")
    require(k >= 1 && c >= 0, "need k >= 1 and c >= 0")
    val normd = rankings.map(_.select(col("query_id").cast("long"),
      col("rank").cast("int").as("rank"), col("doc_id").cast("long")))
    val all = normd.reduce(_ unionByName _)
    val fused = all.groupBy(col("query_id"), col("doc_id"))
      .agg(
        round(sum(round(lit(1.0) / (lit(c.toDouble) + col("rank").cast("double")), 9)
          .cast(org.apache.spark.sql.types.DecimalType(18, 9)))
          .cast("double"), 9).as("rrf"),
        count(lit(1)).cast("int").as("n_lists"))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("rrf").desc, col("doc_id"))
    fused.withColumn("rank", row_number().over(win))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("doc_id"), col("rrf"),
        col("n_lists"))
  }

  /** Per-document mean unigram log-probability under the corpus's own
    * unigram model — the classic cheap "perplexity-style" quality signal
    * (a doc of globally rare tokens scores far below prose):
    * score(d) = Σ_t cnt_d(t)·ln(corpusCnt(t)/totalTokens) / len(d),
    * rounded to 6 decimals. Two partial-aggregating hash aggs (per-doc
    * term counts, corpus term counts) + one equi-join on term; the model
    * IS the corpus, so there are no out-of-vocabulary nulls by
    * construction. Output: (doc_id, n_tokens, mean_logprob). */
  def unigramLogProb(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol).cast("long").as("doc_id"),
      explode(tokens(col(textCol))).as("term"))
    val perDoc = toks.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("cnt"))
    val corpus = perDoc.groupBy(col("term")).agg(sum(col("cnt")).as("cf"))
    val total = toks.count()
    perDoc.join(corpus, Seq("term"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).cast("int").as("n_tokens"),
        // each addend goes through DECIMAL so the sum is independent of
        // partition merge order (double += is not associative; the
        // rounding headroom absorbs the per-addend cast quantization)
        round(
          sum((col("cnt").cast("double") *
            log(col("cf").cast("double") / lit(total.toDouble)))
            .cast(org.apache.spark.sql.types.DecimalType(28, 12)))
            .cast("double") /
            sum(col("cnt")).cast("double"), 6).as("mean_logprob"))
  }

  /** CROSS-corpus unigram LM scoring: train the unigram statistics on
    * `reference` and score `target` documents under them — the standard
    * "score web text against a trusted corpus" data-filtering signal,
    * which [[unigramLogProb]] (self-scoring) cannot express. Add-one
    * smoothing handles out-of-vocabulary terms (unavoidable across
    * corpora): P(t) = (cf_ref(t) + 1) / (total_ref + V_ref), score(d) =
    * Σ_t cnt_d(t)·ln P(t) / len(d), rounded to 6. Shape: two hash-agg
    * passes over the reference (counted once, reused via its stats
    * table), per-doc counts on the target, one LEFT equi-join on term;
    * DECIMAL addends keep the mean partition-order independent. Output:
    * (doc_id, n_tokens, mean_logprob) for target docs with ≥1 token. */
  def crossLogProb(target: DataFrame, reference: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val refToks = reference.select(explode(tokens(col(textCol))).as("term"))
    val refStats = refToks.groupBy(col("term")).agg(count(lit(1)).as("cf"))
    val total = refToks.count()
    val vocab = refStats.count()
    val toks = target.select(col(idCol).cast("long").as("doc_id"),
      explode(tokens(col(textCol))).as("term"))
    val perDoc = toks.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("cnt"))
    perDoc.join(refStats, Seq("term"), "left_outer")
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).cast("int").as("n_tokens"),
        round(
          sum((col("cnt").cast("double") *
            log((coalesce(col("cf"), lit(0L)) + lit(1L)).cast("double") /
              lit((total + vocab).toDouble)))
            .cast(org.apache.spark.sql.types.DecimalType(28, 12)))
            .cast("double") /
            sum(col("cnt")).cast("double"), 6).as("mean_logprob"))
  }

  /** Interpolated Kneser–Ney bigram scoring (Kneser & Ney 1995; the
    * smoothing every serious count-based LM uses, and the quality signal
    * add-one smoothing distorts for rare-but-valid continuations):
    *
    *   P(w₂|w₁) = max(c(w₁w₂) − D, 0)/c(w₁·)
    *              + D · N₁₊(w₁·)/c(w₁·) · N₁₊(·w₂)/T
    *
    * with discount D = 0.75 (EXACTLY representable in binary — the
    * determinism contract needs no rounding on the discount),
    * N₁₊(w₁·)/N₁₊(·w₂) the distinct right/left continuation counts, and
    * T the total distinct-bigram count. The continuation term is what
    * makes "francisco" low-probability after anything but "san" even
    * though "francisco" itself is frequent. Scored on the corpus's own
    * statistics, so every bigram has c ≥ 1 and no zero-division arises.
    * Output: (doc_id, n_bigrams, mean_logprob), nats, round 6.
    *
    * Scale shape — [[bigramLogProb]]'s plus two type-count aggs: all
    * stats are partial-aggregating hash aggs on the bigram/start/end
    * keys, joined back by hash; T is a one-row broadcast. Every
    * per-bigram probability is a fixed IEEE expression over integer
    * counts, so the DuckDB oracle replays it bit-for-bit; DECIMAL
    * addends make the mean partition-order independent. */
  def knBigramLogProb(df: DataFrame, idCol: String, textCol: String,
      discount: Double = 0.75): DataFrame = {
    require(discount > 0.0 && discount < 1.0, "discount must be in (0, 1)")
    // spreadCapped (round-16): the driver-pattern c32-vs-c8 comparison
    // showed the full-width form ~1.2-1.7x slower at 32 cores on this
    // light tokenize kernel; bytes-capped width is core-count-neutral
    val toks = Spread.spreadCapped(
      df.select(col(idCol).cast("long").as("doc_id"),
          tokens(col(textCol)).as("tk"))
        .filter(size(col("tk")) >= 2), col("doc_id"))
    val bg = toks.select(col("doc_id"), explode(zip_with(
      slice(col("tk"), lit(1), size(col("tk")) - 1),
      slice(col("tk"), lit(2), size(col("tk")) - 1),
      (a, b) => concat_ws(" ", a, b))).as("bg"))
    val perDoc = bg.groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("cnt"))
    val corpus = perDoc.groupBy(col("bg")).agg(sum(col("cnt")).as("bf"))
      .localCheckpoint(true) // feeds starts, rightTypes, leftTypes, T, and the score join
    val starts = corpus.groupBy(substring_index(col("bg"), " ", 1).as("w1"))
      .agg(sum(col("bf")).as("w1f"), count(lit(1)).as("n1r"))
    val leftTypes = corpus.groupBy(substring_index(col("bg"), " ", -1).as("w2"))
      .agg(count(lit(1)).as("n1l"))
    val types = corpus.agg(count(lit(1)).as("tt"))
    val d = lit(discount)
    val p = greatest(col("bf").cast("double") - d, lit(0.0)) /
      col("w1f").cast("double") +
      d * col("n1r").cast("double") / col("w1f").cast("double") *
      (col("n1l").cast("double") / col("tt").cast("double"))
    val out = perDoc.join(corpus, Seq("bg"))
      .join(starts, substring_index(col("bg"), " ", 1) === col("w1"))
      .join(leftTypes, substring_index(col("bg"), " ", -1) === col("w2"))
      .crossJoin(broadcast(types))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).cast("int").as("n_bigrams"),
        round(
          sum((col("cnt").cast("double") * log(p))
            .cast(org.apache.spark.sql.types.DecimalType(28, 12)))
            .cast("double") /
            sum(col("cnt")).cast("double"), 6).as("mean_logprob"))
    val result = out.localCheckpoint(true)
    Iterate.release(corpus)
    result
  }

  /** Interpolated Kneser–Ney TRIGRAM scoring — [[knBigramLogProb]]'s
    * higher-order sibling (Chen & Goodman 1999's interpolated form,
    * three levels deep):
    *
    *   P(w₃|w₁w₂) = max(c(w₁w₂w₃) − D, 0)/c(w₁w₂·)
    *                + D · N₁₊(w₁w₂·)/c(w₁w₂·) · P_kn(w₃|w₂)
    *   P_kn(w₃|w₂) = max(N₁₊(·w₂w₃) − D, 0)/N₁₊(·w₂·)
    *                + D · N₁₊d(w₂·)/N₁₊(·w₂·) · N₁₊(·w₃)/T
    *
    * with D = 0.75 (exactly binary-representable) and EVERY statistic
    * read off the corpus's trigram TYPE inventory: N₁₊(·w₂w₃) = distinct
    * w₁ preceding (w₂,w₃); N₁₊(·w₂·) = trigram types with middle w₂;
    * N₁₊d(w₂·) = distinct w₃ after middle w₂; N₁₊(·w₃) = distinct
    * middles preceding w₃; T = distinct (w₂,w₃) tail pairs. Scored on
    * the corpus's own statistics, so every denominator is ≥ 1. Docs
    * with < 3 tokens are dropped. Output:
    * `(doc_id, n_trigrams, mean_logprob)`, nats, round 6.
    *
    * Scale shape — [[knBigramLogProb]]'s, one level up: the trigram
    * type table is built once ([[localCheckpoint]]) and feeds five
    * partial-aggregating hash aggs (history, tail-continuation, middle,
    * unigram-continuation, T) that join back by hash on the trigram's
    * substring keys; T is a one-row broadcast. Every probability is a
    * fixed IEEE expression over integer counts (the oracle replays it
    * bit-for-bit) and DECIMAL addends keep the per-doc mean independent
    * of partition merge order. */
  def knTrigramLogProb(df: DataFrame, idCol: String, textCol: String,
      discount: Double = 0.75): DataFrame = {
    val (out, corpus) = knTrigramPlan(df, idCol, textCol, discount)
    val result = out.localCheckpoint(true)
    Iterate.release(corpus)
    result
  }

  /** Pre-checkpoint plan of [[knTrigramLogProb]] plus the checkpointed
    * trigram inventory it must release — exposed so plan-quality tests
    * can inspect the join pipeline the public checkpoint truncates. */
  private[graft] def knTrigramPlan(df: DataFrame, idCol: String,
      textCol: String, discount: Double): (DataFrame, DataFrame) = {
    require(discount > 0.0 && discount < 1.0, "discount must be in (0, 1)")
    // spreadCapped, not spread (round-16): the driver's 32-core run
    // regressed t55 23% with the full-width form while the 8-core run
    // was 4× faster — bytes-capped width keeps the 8-core-shaped win
    // at every core count (and stays identity at scale)
    val toks = Spread.spreadCapped(
      df.select(col(idCol).cast("long").as("doc_id"),
          tokens(col(textCol)).as("tk"))
        .filter(size(col("tk")) >= 3), col("doc_id"))
    val tg = toks.select(col("doc_id"), explode(zip_with(
      zip_with(
        slice(col("tk"), lit(1), size(col("tk")) - 2),
        slice(col("tk"), lit(2), size(col("tk")) - 2),
        (a, b) => concat_ws(" ", a, b)),
      slice(col("tk"), lit(3), size(col("tk")) - 2),
      (ab, c) => concat_ws(" ", ab, c))).as("tg"))
    val perDoc = tg.groupBy(col("doc_id"), col("tg"))
      .agg(count(lit(1)).as("cnt"))
    // trigram TYPE inventory: every statistic below derives from it
    val corpus = perDoc.groupBy(col("tg")).agg(sum(col("cnt")).as("tf"))
      .localCheckpoint(true)
    val hist = substring_index(col("tg"), " ", 2)   // w1 w2
    val tail = substring_index(col("tg"), " ", -2)  // w2 w3
    val mid = substring_index(tail, " ", 1)         // w2
    val last = substring_index(col("tg"), " ", -1)  // w3
    val hists = corpus.groupBy(hist.as("h12"))
      .agg(sum(col("tf")).as("c12f"), count(lit(1)).as("n1r12"))
    val tails = corpus.groupBy(tail.as("t23"))
      .agg(count(lit(1)).as("n1l23"))
    val mids = corpus.groupBy(mid.as("m2"))
      .agg(count(lit(1)).as("nMid"),
        countDistinct(last).as("n1rMid"))
    val unis = corpus.select(mid.as("m"), last.as("u")).distinct()
      .groupBy(col("u")).agg(count(lit(1)).as("n1lUni"))
    val tPairs = corpus.select(tail.as("t")).distinct()
      .agg(count(lit(1)).as("tt"))
    val d = lit(discount)
    val pBi = greatest(col("n1l23").cast("double") - d, lit(0.0)) /
      col("nMid").cast("double") +
      d * col("n1rMid").cast("double") / col("nMid").cast("double") *
      (col("n1lUni").cast("double") / col("tt").cast("double"))
    val p = greatest(col("tf").cast("double") - d, lit(0.0)) /
      col("c12f").cast("double") +
      d * col("n1r12").cast("double") / col("c12f").cast("double") * pBi
    val out = perDoc.join(corpus, Seq("tg"))
      .join(hists, hist === col("h12"))
      .join(tails, tail === col("t23"))
      .join(mids, mid === col("m2"))
      .join(unis, last === col("u"))
      .crossJoin(broadcast(tPairs))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).cast("int").as("n_trigrams"),
        round(
          sum((col("cnt").cast("double") * log(p))
            .cast(org.apache.spark.sql.types.DecimalType(28, 12)))
            .cast("double") /
            sum(col("cnt")).cast("double"), 6).as("mean_logprob"))
    (out, corpus)
  }

  /** Bigram language-model quality signal: per document, the mean
    * add-one-smoothed log-probability of its bigrams under the corpus's
    * own bigram statistics —
    *
    *   P(w₂|w₁) = (c(w₁w₂) + 1) / (c(w₁·) + V)
    *
    * where `c(w₁·)` counts bigrams starting with w₁ and `V` is the
    * distinct bigram-start vocabulary. The sequence-aware sibling of
    * [[unigramLogProb]]: repeated boilerplate scores high, token salad
    * scores low even when its unigrams are common. Documents with fewer
    * than two tokens are dropped (they have no bigrams). Output:
    * (doc_id, n_bigrams, mean_logprob), logprob in nats rounded to 6.
    *
    * Scale shape: bigrams come from one zip-with over the staged token
    * array (map-only), then three partial-aggregating hash aggs
    * (per-doc, corpus, bigram-start) and hash joins back — no windows,
    * no driver state beyond the one-row vocabulary count. DECIMAL
    * addends keep the mean independent of partition merge order. */
  def bigramLogProb(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // spreadCapped (round-16): the driver-pattern c32-vs-c8 comparison
    // showed the full-width form ~1.2-1.7x slower at 32 cores on this
    // light tokenize kernel; bytes-capped width is core-count-neutral
    val toks = Spread.spreadCapped(
      df.select(col(idCol).cast("long").as("doc_id"),
          tokens(col(textCol)).as("tk"))
        .filter(size(col("tk")) >= 2), col("doc_id"))
    val bg = toks.select(col("doc_id"), explode(zip_with(
      slice(col("tk"), lit(1), size(col("tk")) - 1),
      slice(col("tk"), lit(2), size(col("tk")) - 1),
      (a, b) => concat_ws(" ", a, b))).as("bg"))
    val perDoc = bg.groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("cnt"))
    val corpus = perDoc.groupBy(col("bg")).agg(sum(col("cnt")).as("bf"))
    val starts = corpus.groupBy(substring_index(col("bg"), " ", 1).as("w1"))
      .agg(sum(col("bf")).as("w1f"))
    val vocab = starts.agg(count(lit(1)).as("vsz"))
    perDoc.join(corpus, Seq("bg"))
      .join(starts, substring_index(col("bg"), " ", 1) === col("w1"))
      .crossJoin(broadcast(vocab))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).cast("int").as("n_bigrams"),
        round(
          sum((col("cnt").cast("double") *
            log((col("bf").cast("double") + 1.0) /
              (col("w1f").cast("double") + col("vsz").cast("double"))))
            .cast(org.apache.spark.sql.types.DecimalType(28, 12)))
            .cast("double") /
            sum(col("cnt")).cast("double"), 6).as("mean_logprob"))
  }

  /** DSIR importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling", arXiv:2302.03169):
    * score every `raw` document by its log importance ratio under two
    * add-one-smoothed unigram LMs — one trained on the small trusted
    * `target` corpus, one on `raw` itself:
    *
    *   w(d) = Σ_t cnt_d(t) · (ln p_target(t) − ln p_raw(t))
    *
    * A doc whose vocabulary looks like the target (and unlike the raw
    * pool) gets a high weight — THE standard pretraining-data selection
    * signal. Smoothing follows [[crossLogProb]]: each model uses its own
    * (total + vocab) mass, OOV terms contribute count 0.
    *
    * Scale shape: two corpus-stat hash aggs (each counted once and
    * reused), per-doc term counts on the raw side, one LEFT join against
    * the target stats + one inner join against the raw stats (a raw
    * doc's terms are in the raw model by construction); DECIMAL addends
    * keep the sum partition-order independent. The target corpus is the
    * SMALL side by contract (a hand-curated trusted set), so its stats
    * broadcast. Output: (doc_id, n_tokens, log_ratio), log_ratio the
    * TOTAL (not mean) ratio in nats rounded to 6 — DSIR resamples on
    * the document-level weight, so length matters. */
  def dsirWeights(raw: DataFrame, target: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val tToks = target.select(explode(tokens(col(textCol))).as("term"))
    val tStats = tToks.groupBy(col("term")).agg(count(lit(1)).as("tf"))
    val tTotal = tToks.count()
    val tVocab = tStats.count()
    val rToks = raw.select(col(idCol).cast("long").as("doc_id"),
      explode(tokens(col(textCol))).as("term"))
    val rStats = rToks.groupBy(col("term")).agg(count(lit(1)).as("rf"))
    val rTotal = rToks.count()
    val rVocab = rStats.count()
    val perDoc = rToks.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("cnt"))
    perDoc.join(broadcast(tStats), Seq("term"), "left_outer")
      .join(rStats, Seq("term"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).cast("int").as("n_tokens"),
        round(
          sum((col("cnt").cast("double") *
            (log((coalesce(col("tf"), lit(0L)) + lit(1L)).cast("double") /
              lit((tTotal + tVocab).toDouble))
              - log((col("rf") + lit(1L)).cast("double") /
                lit((rTotal + rVocab).toDouble))))
            .cast(org.apache.spark.sql.types.DecimalType(28, 12)))
            .cast("double"), 6).as("log_ratio"))
  }

  /** FROZEN DSIR scoring model — the deployment artifact: a term-level
    * log-ratio table (ln p_target − ln p_raw, add-one smoothed per
    * [[dsirWeights]]) over the UNION vocabulary, plus the constant
    * both-sides-OOV weight for terms no training corpus saw. Build once
    * from the trusted target + raw pool, then [[dsirScore]] any batch
    * OR STREAM of new documents against it — scoring is a stateless
    * broadcast join, so the model serves at ingest time. Returns
    * (table(term, w), wOov). */
  def dsirModel(raw: DataFrame, target: DataFrame,
      textCol: String): (DataFrame, Double) = {
    val tToks = target.select(explode(tokens(col(textCol))).as("term"))
    val tStats = tToks.groupBy(col("term")).agg(count(lit(1)).as("tf"))
    val tTotal = tToks.count(); val tVocab = tStats.count()
    val rToks = raw.select(explode(tokens(col(textCol))).as("term"))
    val rStats = rToks.groupBy(col("term")).agg(count(lit(1)).as("rf"))
    val rTotal = rToks.count(); val rVocab = rStats.count()
    val tMass = (tTotal + tVocab).toDouble
    val rMass = (rTotal + rVocab).toDouble
    val table = tStats.join(rStats, Seq("term"), "full_outer")
      .select(col("term"),
        (log((coalesce(col("tf"), lit(0L)) + lit(1L)).cast("double") / lit(tMass))
          - log((coalesce(col("rf"), lit(0L)) + lit(1L)).cast("double") / lit(rMass)))
          .as("w"))
    (table, math.log(1.0 / tMass) - math.log(1.0 / rMass))
  }

  /** Score documents under a FROZEN [[dsirModel]]: per-doc total
    * log importance ratio with both-sides-OOV terms falling back to
    * `wOov`. Pure explode → broadcast join → hash agg (DECIMAL
    * addends), no state — runs identically on a batch DataFrame or a
    * Structured Streaming micro-batch (the spec proves stream ≡ batch).
    * Output: (doc_id, n_tokens, log_ratio). */
  def dsirScore(docs: DataFrame, idCol: String, textCol: String,
      model: DataFrame, wOov: Double): DataFrame =
    // ONE aggregation (token instances straight to the per-doc sum, no
    // per-(doc, term) pre-count): chained stateful aggregations are not
    // streamable, and per-instance DECIMAL addends sum exactly anyway
    docs.select(col(idCol).cast("long").as("doc_id"),
        explode(tokens(col(textCol))).as("term"))
      .join(broadcast(model), Seq("term"), "left_outer")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("int").as("n_tokens"),
        round(
          sum(coalesce(col("w"), lit(wOov))
            .cast(org.apache.spark.sql.types.DecimalType(28, 12)))
            .cast("double"), 6).as("log_ratio"))

  /** DSIR importance RESAMPLING: keep `k` documents from `raw`, sampled
    * without replacement with probability ∝ exp(w(d)) — implemented as
    * the Gumbel-top-k trick (key = w(d) + Gumbel noise; the top k keys
    * ARE a weighted sample without replacement). The noise is
    * deterministic — u(d) from an LCG over doc_id,
    * g = −ln(−ln(u)) — so selection is reproducible anywhere (the same
    * seeded-hash discipline as [[stratifiedSample]]). One window over
    * the weighted rows; no driver state. Output: the selected
    * (doc_id, n_tokens, log_ratio, gkey). */
  def dsirResample(raw: DataFrame, target: DataFrame,
      idCol: String, textCol: String, k: Int): DataFrame = {
    require(k >= 1, "k must be positive")
    val w = dsirWeights(raw, target, idCol, textCol)
    val u = ((col("doc_id") * lit(1103515245L) + lit(12345L)) % lit(2147483648L))
      .cast("double").plus(lit(0.5)).divide(lit(2147483648.0))
    val keyed = w.withColumn("gkey", round(col("log_ratio") - log(-log(u)), 6))
    val win = org.apache.spark.sql.expressions.Window
      .orderBy(col("gkey").desc, col("doc_id"))
    keyed.withColumn("_graft_rk", row_number().over(win))
      .filter(col("_graft_rk") <= k)
      .drop("_graft_rk")
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020,
    * arXiv:1911.00359 §4.3): score every document with the corpus
    * unigram LM ([[unigramLogProb]]), then split each `groupCol` stratum
    * into `nBuckets` equal-frequency buckets by score — bucket 1 is the
    * "head" (most fluent), the last is the "tail"; downstream pipelines
    * keep head+middle or reweight by bucket. ntile over a
    * (group, score desc, doc_id) window — deterministic because the
    * score is rounded to 6 with an id tiebreak. The window partitions by
    * stratum, so no single task sees more than a stratum's ids — at
    * 100 TB strata are languages/sources, thousands of ways wide.
    * Output: (doc_id, group, n_tokens, mean_logprob, bucket). */
  def perplexityBuckets(df: DataFrame, idCol: String, textCol: String,
      groupCol: String, nBuckets: Int = 3): DataFrame = {
    require(nBuckets >= 1, "nBuckets must be positive")
    val lp = unigramLogProb(df, idCol, textCol)
    val groups = df.select(col(idCol).cast("long").as("doc_id"),
      col(groupCol).as("grp"))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col("grp"))
      .orderBy(col("mean_logprob").desc, col("doc_id"))
    lp.join(groups, Seq("doc_id"))
      .withColumn("bucket", ntile(nBuckets).over(win))
      .select(col("doc_id"), col("grp"), col("n_tokens"),
        col("mean_logprob"), col("bucket"))
  }

  /** TEMPERATURE-based domain reweighting (the multilingual-LM mixture
    * sampler — XLM-R/mT5-style): a group's share of the output is
    * proportional to n_g^α instead of n_g, so α < 1 up-weights small
    * domains/languages and flattens the head. Per-group take counts are
    * computed in EXACT integer arithmetic — scaled weight
    * sw_g = round(n_g^α · 10⁶), take_g = ⌊targetTotal · sw_g / Σsw⌋
    * (floor allocation; a boosted group caps at its own size) — and the
    * rows taken are the group's first take_g by the md5-prefix order of
    * [[splitAssign]]/[[stratifiedSample]], id tiebreak: a deterministic
    * "random" subset, reproducible anywhere.
    *
    * Scale shape: one tiny group-count agg (broadcast back), one
    * per-group window for the rank — partitioned by group, thousands of
    * ways wide at corpus scale; no driver state. Output: the selected
    * (id, group) rows. */
  def temperatureSample(df: DataFrame, groupCol: String, idCol: String,
      alpha: Double, targetTotal: Long): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, "alpha must be in (0, 1]")
    require(targetTotal >= 1, "targetTotal must be positive")
    val sizes = df.groupBy(col(groupCol).as("_graft_grp"))
      .agg(count(lit(1)).as("_graft_n"))
    val weights = sizes.withColumn("_graft_sw",
      round(pow(col("_graft_n").cast("double"), lit(alpha)) * lit(1e6), 0)
        .cast("long"))
    val takes = weights
      .crossJoin(broadcast(weights.agg(sum(col("_graft_sw")).as("_graft_swt"))))
      .select(col("_graft_grp"),
        expr(s"($targetTotal * _graft_sw) div _graft_swt").as("_graft_take"))
    val h = conv(substring(md5(col(idCol).cast("string")), 1, 8), 16, 10)
      .cast("long")
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(h.asc, col(idCol).asc)
    df.select(col(idCol), col(groupCol))
      .withColumn("_graft_rn", row_number().over(win))
      .join(broadcast(takes), col(groupCol) === col("_graft_grp"))
      .filter(col("_graft_rn") <= col("_graft_take"))
      .select(col(idCol), col(groupCol))
  }

  /** LLM sequence PACKING: concatenate the corpus token stream in
    * `idCol` order and cut it into fixed `seqLen`-token training
    * sequences (the "concat-then-chunk" packing real pretraining
    * pipelines use — no padding waste, documents straddle boundaries).
    * Emits per document its span in sequence space:
    * (doc_id, n_tokens, start_seq, end_seq, n_seqs). Zero-token
    * documents occupy no sequence and are dropped.
    *
    * The global token offset is [[Analytics.withPrefixSum]] — the
    * two-level relational scan, NOT a single-partition window — so the
    * operator holds at corpus scale; everything after the prefix sum is
    * map-only arithmetic. */
  def packSequences(df: DataFrame, idCol: String, textCol: String,
      seqLen: Int, bucketSize: Long = 1024L): DataFrame = {
    require(seqLen >= 1, "seqLen must be positive")
    val perDoc = df.select(col(idCol).cast("long").as("doc_id"),
        size(tokens(col(textCol))).cast("long").as("n_tokens"))
      .filter(col("n_tokens") > 0)
    Analytics.withPrefixSum(perDoc, "doc_id", "n_tokens", "cum_before", bucketSize)
      .select(col("doc_id"), col("n_tokens"),
        expr(s"cum_before div $seqLen").as("start_seq"),
        expr(s"(cum_before + n_tokens - 1) div $seqLen").as("end_seq"))
      .withColumn("n_seqs", col("end_seq") - col("start_seq") + 1)
  }

  /** Deterministic hash-based STRATIFIED sampling: keep a row iff its
    * stable md5 bucket (same construction as [[splitAssign]]) falls
    * under its stratum's percentage. No RNG state — reshuffle-proof,
    * engine-portable, and the same row is kept on every run at any
    * scale; a pure map with zero shuffle. Strata absent from `rates`
    * fall back to `defaultPct`. */
  def stratifiedSample(df: DataFrame, stratumCol: String, idCol: String,
      rates: Map[String, Int], defaultPct: Int): DataFrame = {
    require((rates.values ++ Seq(defaultPct)).forall(p => p >= 0 && p <= 100),
      "percentages must be within [0, 100]")
    val bucket = conv(substring(md5(col(idCol).cast("string")), 1, 8), 16, 10)
      .cast("long") % 100
    val pct = rates.toSeq.sortBy(_._1).foldLeft(lit(defaultPct)) {
      case (acc, (s, p)) => when(col(stratumCol) === s, lit(p)).otherwise(acc)
    }
    df.filter(bucket < pct)
  }

  /** TOKEN-BUDGETED mixture assembly — the training-mix builder: given
    * per-source mixture weights and a total token budget, select from
    * each source the maximal doc-id-ordered PREFIX of documents whose
    * token total fits the source's quota `floor(weight × budget)`.
    * Documents are taken WHOLE (a doc that would overflow the quota is
    * excluded, as is everything after it — prefix semantics, so the
    * selection is a pure per-row predicate on the cumulative count:
    * deterministic, reshuffle-proof, engine-portable). Sources absent
    * from `weights` are excluded. Output:
    * `(doc_id, source, n_tokens, cum_tokens, quota)` for selected docs.
    *
    * Scale shape: token counts are one map pass; the per-source
    * cumulative count runs through [[Analytics.withPrefixSumBy]]'s
    * two-level scan, so a source with billions of documents is
    * thousands of bucket-bounded window partitions — never one task —
    * and the final quota filter is a pure predicate. Nothing is
    * collected; the weights map is a literal CASE expression. */
  def mixtureByTokenBudget(df: DataFrame, idCol: String, srcCol: String,
      textCol: String, weights: Map[String, Double], totalTokens: Long,
      bucketSize: Long = 1024L): DataFrame = {
    require(weights.nonEmpty, "need at least one source weight")
    require(weights.values.forall(w => w >= 0.0 && !w.isNaN && !w.isInfinite),
      "weights must be finite and non-negative")
    require(totalTokens >= 0, "totalTokens must be non-negative")
    val perDoc = df.select(col(idCol).cast("long").as("doc_id"),
        col(srcCol).cast("string").as("source"),
        size(tokens(col(textCol))).cast("long").as("n_tokens"))
      .filter(col("n_tokens") > 0 &&
        col("source").isin(weights.keys.toSeq.sorted: _*))
    val quota = weights.toSeq.sortBy(_._1).foldLeft(lit(0L)) {
      case (acc, (s, w)) =>
        when(col("source") === s,
          lit(math.floor(w * totalTokens).toLong)).otherwise(acc)
    }
    Analytics.withPrefixSumBy(perDoc, "source", "doc_id", "n_tokens",
        "cum_before", bucketSize)
      .withColumn("cum_tokens", col("cum_before") + col("n_tokens"))
      .withColumn("quota", quota)
      .filter(col("cum_tokens") <= col("quota"))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        col("cum_tokens"), col("quota"))
  }

  /** WEIGHTED sampling without replacement, k per group — the
    * quality-weighted corpus-mixing primitive (sample documents
    * proportionally to a quality/length score when assembling a
    * training mix). Efraimidis–Spirakis: each row draws `u ∈ (0,1)`
    * and the top k per group by `u^(1/w)` are exactly a
    * weight-proportional sample without replacement. The ranking key
    * here is the monotone-equivalent `ln(−ln(u)) − ln(w)` ASCENDING:
    * the naive `u^(1/w)` saturates toward 1.0 once `w` is large
    * (`u^(1/w) = 1 + ln(u)/w + O(1/w²)` — at w in the tens of
    * thousands every row rounds to 1.000000 and the "sample" collapses
    * to ascending ids), while the double-log form keeps RELATIVE
    * precision at every weight magnitude, so a fixed rounding can
    * never flatten it.
    *
    * Determinism: `u` is not random — it derives from the md5 of the id
    * (28-bit prefix, +0.5, /2^28), so the same rows win on every run,
    * every partitioning, and every engine; the key rounds to 9 decimals
    * with an id tie-break so IEEE `ln` last-ulp differences between
    * engines cannot reorder it (the DuckDB oracle mirrors the formula).
    * Rows with null/non-positive weight are excluded (their ES key is
    * undefined). Shape: one window per group — the same single-shuffle
    * rank pattern as every top-k here. */
  def weightedSample(df: DataFrame, groupCol: String, idCol: String,
      weightCol: String, k: Int): DataFrame = {
    require(k >= 1, "k must be positive")
    val u = (conv(substring(md5(col(idCol).cast("string")), 1, 7), 16, 10)
      .cast("double") + 0.5) / lit((1L << 28).toDouble)
    // u < 1 strictly (max numerator 2^28 − 0.5), so −ln(u) > 0 and the
    // outer ln is total on the filtered (w > 0) rows
    val esKey = round(log(-log(u)) - log(col(weightCol).cast("double")), 9)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol))
      .orderBy(col("_graft_es").asc, col(idCol))
    df.filter(col(groupCol).isNotNull && col(idCol).isNotNull &&
        col(weightCol).isNotNull && col(weightCol).cast("double") > 0.0)
      .withColumn("_graft_es", esKey)
      .withColumn("_graft_rk", row_number().over(w))
      .filter(col("_graft_rk") <= k)
      .drop("_graft_es", "_graft_rk")
  }

  /** Kernel twin of [[dupBigramFraction]] (bit-identical, spec-enforced):
    * the per-element interpreted bigram lambda is the hot path of a
    * corpus-wide repetition scan, so it runs as a per-partition loop.
    * Emits (doc_id, n_tokens, dup_bigram_frac) for docs with ≥2 tokens. */
  def repetitionStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val sp = df.sparkSession
    import sp.implicits._
    df.select(col(idCol).cast("long"), col(textCol))
      .filter(col(idCol).isNotNull && col(textCol).isNotNull)
      .as[(Long, String)]
      .repartition(sp.sparkContext.defaultParallelism) // CPU-bound kernel
      .mapPartitions(_.flatMap { case (id, text) =>
        val tk = Dedup.Kernel.tokens(text)
        if (tk.length < 2) Iterator.empty
        else {
          val total = tk.length - 1
          val seen = new java.util.HashSet[String]()
          var i = 0
          while (i < total) { seen.add(tk(i) + " " + tk(i + 1)); i += 1 }
          Iterator.single((id, tk.length,
            1.0 - seen.size.toDouble / total.toDouble))
        }
      }).toDF("doc_id", "n_tokens", "dup_bigram_frac")
  }

  /** Map-only TextRank co-occurrence pair generation: for each position
    * i the partners are the next `window` tokens — slice + transform
    * emit exactly the (b.i − a.i) ∈ [1, window], u ≠ v pairs without
    * ever forming the per-doc T² cross product a doc_id-keyed self-join
    * would (a 100k-token document is 10^10 candidate rows on one join
    * key; this is O(T·window) rows and ZERO joins/shuffles —
    * PlanQualitySpec pins the join-free plan). */
  private[graft] def cooccurrencePairs(df: DataFrame, idCol: String,
      textCol: String, window: Int): DataFrame =
    df.filter(col(idCol).isNotNull && col(textCol).isNotNull)
      .select(col(idCol).cast("long").as("doc_id"),
        tokens(col(textCol)).as("tk"))
      .select(col("doc_id"), explode(flatten(transform(col("tk"),
        (w, i) => transform(slice(col("tk"), i + lit(2), lit(window)),
          v => struct(w.as("u"), v.as("v")))))).as("p"))
      .select(col("doc_id"), col("p.u").as("u"), col("p.v").as("v"))
      .filter(col("u") =!= col("v"))

  /** TextRank keyword extraction (Mihalcea & Tarau 2004): per document,
    * build the word co-occurrence graph (an undirected edge for every
    * token pair within `window` positions), run `iterations` synchronous
    * PageRank rounds over it, and emit each document's top-`k` words by
    * final rank — the classic unsupervised keyword/keyphrase primitive.
    *
    * Relational shape — ONE graph computation for the whole corpus, not
    * a per-document loop: nodes are `(doc_id, word)` composite keys, so
    * every per-doc graph iterates together in the same
    * join-per-round/partial-agg discipline as [[Graph.pageRank]]
    * (DECIMAL(28,12) contribution addends, per-round round-`roundTo`,
    * lineage truncated every 3 rounds). Symmetrized edges mean no
    * dangling nodes by construction. The top-k is a per-doc
    * row_number window — bounded by vocabulary per document, never a
    * global sort. Lockstep-deterministic: the oracle unrolls the same
    * rounds as CTEs and agrees byte-for-byte. Documents with < 2 tokens
    * have no co-occurrence edges and emit nothing. */
  def textRankKeywords(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, window: Int = 2, iterations: Int = 6,
      damping: Double = 0.85, roundTo: Int = 9): DataFrame = {
    require(k >= 1 && window >= 1 && iterations >= 1, "k, window, iterations must be positive")
    require(damping > 0 && damping < 1, "damping must be in (0, 1)")
    val pairs = cooccurrencePairs(df, idCol, textCol, window)
    val e = pairs
      .unionAll(pairs.select(col("doc_id"), col("v").as("u"), col("u").as("v")))
      .distinct()
      .localCheckpoint(true) // degrees + every round's contribution join
    val deg = e.groupBy(col("doc_id"), col("u")).agg(count(lit(1)).as("deg"))
    val withDeg = e.join(deg, Seq("doc_id", "u")).localCheckpoint(true)
    val nodes = e.select(col("doc_id"), col("u").as("node"))
      .distinct().localCheckpoint(true)
    // lineage truncated every 3 rounds; the stats-flat leaf keeps the
    // carried size estimate from compounding (see PlanBridge)
    val result = Iterate.chain(nodes.withColumn("r", lit(1.0)), iterations, 3) { (ranks, _) =>
      // The graph is SYMMETRIZED (e carries both directions), so every
      // node in `nodes` has at least one INCOMING edge and the contrib
      // aggregate covers every node — re-joining `nodes` per round to
      // backfill dangling nodes (the directed-PageRank shape) would be
      // a provably-never-firing left_outer costing one shuffle a round.
      withDeg.join(ranks,
          withDeg("doc_id") === ranks("doc_id") && col("u") === col("node"))
        .groupBy(withDeg("doc_id").as("doc_id"), col("v").as("node"))
        .agg(sum((col("r") / col("deg").cast("double"))
          .cast(org.apache.spark.sql.types.DecimalType(28, 12))).as("csum"))
        .select(col("doc_id"), col("node"),
          round(lit(1.0 - damping) + lit(damping) *
            col("csum").cast("double"), roundTo).as("r"))
    }.finish { ranks =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("r").desc, col("node"))
      ranks.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select(col("doc_id"), col("rank"), col("node").as("word"),
          col("r").as("score"))
    }
    Iterate.release(e, withDeg, nodes)
    result
  }

  /** Sequence packing for LLM pretraining (t44): concatenate each
    * source's documents in doc-id order into one token stream (one EOS
    * separator after every doc, hence the `+ 1`) and slice the stream
    * into fixed `windowLen`-token context windows. Output: one row per
    * (document, window) overlap —
    * `(source, doc_id, window_id, start_in_doc, n_tokens)`, where
    * `start_in_doc` is the first packed token's offset inside the doc
    * and `n_tokens` is how many of the doc's tokens (incl. its EOS)
    * land in that window. Every window except each source's last is
    * exactly full, and a doc's slices reassemble it exactly — the
    * invariants the spec pins.
    *
    * Scale shape: the stream offset is [[Analytics.withPrefixSumBy]]
    * (per-(source, bucket) totals + a tiny broadcast offset frame —
    * never one window task per source), and the doc→window fan-out is a
    * map-side `explode(sequence(first_w, last_w))`: a doc costs
    * ceil(len/windowLen) rows, with no join anywhere past the offset
    * broadcast. */
  def packSequences(docs: DataFrame, windowLen: Long): DataFrame = {
    require(windowLen >= 2, "windowLen must fit at least one token plus EOS")
    val toks = docs
      .select(col("source"), col("doc_id"),
        (size(tokens(col("text"))) + 1).cast("long").as("len"))
    val pre = Analytics.withPrefixSumBy(toks, "source", "doc_id", "len", "off")
    val winStart = col("window_id") * windowLen
    pre
      .withColumn("first_w", expr(s"off div ${windowLen}L"))
      .withColumn("last_w", expr(s"(off + len - 1) div ${windowLen}L"))
      .withColumn("window_id", explode(sequence(col("first_w"), col("last_w"))))
      .select(col("source"), col("doc_id"), col("window_id"),
        (greatest(winStart, col("off")) - col("off")).as("start_in_doc"),
        (least(winStart + windowLen, col("off") + col("len")) -
          greatest(winStart, col("off"))).as("n_tokens"))
  }

  /** CONTENT-DEFINED CHUNKING at token granularity: cut AFTER every
    * token whose md5 starts with a hex digit in `cutPrefixes`, so a
    * chunk boundary is a function of the CONTENT at the boundary, not
    * of position — insert or delete a token and only the chunk it sits
    * in reflows, while every later chunk (and its fingerprint) is
    * byte-identical. That boundary-shift resistance is what makes
    * chunk-level dedup work across near-identical documents, where
    * fixed-size windows misalign after the first edit (the rsync/LBFS
    * rolling-cut idea, at token rather than byte granularity so it
    * rides the pipeline's one shared tokenizer). Expected chunk length
    * = 16/|cutPrefixes| tokens. Deliberately NO min/max clamp: a clamp
    * makes each cut depend on the previous cut (sequential state), and
    * boundary-shift resistance is lost at every clamped point.
    *
    * Output: one row per (doc, chunk) — `(id, chunk_id, n_tokens,
    * first_pos, chunk_hash)`, chunk_hash = md5 of the space-joined
    * tokens. Scale shape: positioned explode, one PER-DOC cumulative
    * window (bounded by the doc's own token count, never global), one
    * hash agg; the ordered fingerprint rides array_sort over the
    * chunk's own rows. */
  def cdcChunks(docs: DataFrame, idCol: String, textCol: String,
      cutPrefixes: Seq[String] = Seq("0", "1")): DataFrame = {
    require(cutPrefixes.nonEmpty, "need at least one cut prefix")
    // spread before the positioned explode + per-token md5 (guide §2.5);
    // bytes-capped width (round-16): the full-width form regressed 10%
    // at 32 cores in the driver's run while 8 cores ran it 2.8× faster
    val tok = Spread.spreadCapped(
        docs.select(col(idCol), tokens(col(textCol)).as("_graft_tk")),
        col(idCol))
      .select(col(idCol), posexplode(col("_graft_tk")).as(Seq("pos", "tok")))
    val isCut = substring(md5(col("tok")), 1, 1).isin(cutPrefixes: _*)
    // chunk id = number of cuts at STRICTLY EARLIER positions: the cut
    // token is the last of its chunk, the next token opens a new one
    val w = Window.partitionBy(col(idCol)).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, -1)
    tok
      .withColumn("chunk_id",
        coalesce(sum(isCut.cast("long")).over(w), lit(0L)))
      .groupBy(col(idCol), col("chunk_id"))
      .agg(count(lit(1)).as("n_tokens"),
        min(col("pos")).as("first_pos"),
        md5(array_join(transform(array_sort(collect_list(
            struct(col("pos"), col("tok")))), p => p.getField("tok")), " "))
          .as("chunk_hash"))
  }

  /** TOKEN-BALANCED shard assignment — the "write the training corpus
    * as N shards" step after mixture assembly: documents in doc-id
    * order are packed whole into `nShards` contiguous shards of
    * capacity `ceil(totalTokens / nShards)` tokens each, so every
    * shard's token mass is within one document of the target and a
    * dataloader can stripe shards across workers without a size
    * manifest. `shard_id = cum_before div cap` — a pure per-row
    * predicate on the exclusive prefix sum, deterministic,
    * reshuffle-proof, engine-portable. Documents are taken whole: a doc
    * straddling a capacity boundary lands in the shard its FIRST token
    * falls in — the one convention that needs no lookahead. Zero-token
    * documents occupy no mass and are dropped.
    *
    * Scale shape: token counts are one map pass; the global cumulative
    * count is [[Analytics.withPrefixSum]]'s two-level scan (bucketed
    * windows, never one task); `totalTokens` is ONE scalar aggregate
    * collected to the driver (metadata-sized, the [[mixtureByTokenBudget]]
    * class of bounded action). Output:
    * `(doc_id, n_tokens, cum_before, shard_id)`. */
  def shardByTokens(df: DataFrame, idCol: String, textCol: String,
      nShards: Int, bucketSize: Long = 1024L): DataFrame = {
    require(nShards >= 1, "nShards must be positive")
    val perDoc = df.select(col(idCol).cast("long").as("doc_id"),
        size(tokens(col(textCol))).cast("long").as("n_tokens"))
      .filter(col("n_tokens") > 0)
    // sum() over zero rows is NULL: an empty (or all-zero-token) corpus
    // must yield an empty shard table, not an NPE / div-by-zero cap
    val totalRow = perDoc.agg(sum(col("n_tokens"))).collect().head
    val total = if (totalRow.isNullAt(0)) 0L else totalRow.getLong(0)
    val cap = math.max(1L, (total + nShards - 1) / nShards)
    Analytics.withPrefixSum(perDoc, "doc_id", "n_tokens", "cum_before",
        bucketSize)
      .select(col("doc_id"), col("n_tokens"), col("cum_before"),
        expr(s"cum_before div $cap").as("shard_id"))
  }

  /** Deterministic PROPORTIONAL-INTERLEAVE ordering key — the mixture
    * dataloader schedule that pairs with [[mixtureByTokenBudget]]'s
    * selection: each source's documents get ranks 1,2,3,… in doc-id
    * order, and `interleave_key = round(rank / weight, 9)` — ordering
    * the corpus by (key, source, doc_id) consumes sources in exact
    * proportion to their weights at every prefix of the stream (source
    * s's r-th doc appears when r/wₛ units of "virtual time" have
    * passed — the classic weighted round-robin / stride-scheduling
    * key). The operator emits the KEY, not a global position: a global
    * row_number would serialize the corpus onto one task, while the
    * key is per-row arithmetic any consumer can sort or range-partition
    * by — the scale-honest contract.
    *
    * Per-source ranks come from [[Analytics.withPrefixSumBy]] with a
    * constant 1 (bucketed two-level scan — a source with billions of
    * docs is never one window task). The division rounds to 9 decimals
    * (the suite-wide float-repr convention) with (source, doc_id) as
    * the documented tie-break. Sources absent from `weights` are
    * excluded. Output: `(doc_id, source, src_rank, interleave_key)`. */
  def mixtureOrderKey(df: DataFrame, idCol: String, srcCol: String,
      weights: Map[String, Double], bucketSize: Long = 1024L): DataFrame = {
    require(weights.nonEmpty, "need at least one source weight")
    require(weights.values.forall(w => w > 0.0 && !w.isNaN && !w.isInfinite),
      "weights must be finite and strictly positive")
    val base = df.select(col(idCol).cast("long").as("doc_id"),
        col(srcCol).cast("string").as("source"))
      .filter(col("source").isin(weights.keys.toSeq.sorted: _*))
      .withColumn("_graft_one", lit(1L))
    val wExpr = weights.toSeq.sortBy(_._1).foldLeft(lit(Double.NaN)) {
      case (acc, (s, w)) => when(col("source") === s, lit(w)).otherwise(acc)
    }
    Analytics.withPrefixSumBy(base, "source", "doc_id", "_graft_one",
        "_graft_rank0", bucketSize)
      .withColumn("src_rank", col("_graft_rank0") + 1L)
      .withColumn("interleave_key",
        round(col("src_rank").cast("double") / wExpr, 9))
      .select(col("doc_id"), col("source"), col("src_rank"),
        col("interleave_key"))
  }

  /** Sequence-PACKING EFFICIENCY report — the dataset-card statistic
    * that justifies concat-packing: per source, how many fixed-length
    * training sequences the corpus costs (a) PADDED, one-doc-per-
    * sequence-block (each doc rounds up to `ceil(tokens/seqLen)`
    * sequences, its last one padded), vs (b) PACKED, docs concatenated
    * back-to-back ([[packSequences]] semantics, `ceil(total/seqLen)`),
    * and what fraction of slots each wastes. All counts are exact
    * BIGINT arithmetic; the two ratios are single IEEE divisions
    * rounded to 6 (the suite convention). Zero-token docs are dropped
    * (they occupy no sequence under either layout). One partial hash
    * agg over per-doc token counts — map-only before it. Output:
    * `(source, n_docs, total_tokens, padded_seqs, padded_waste,
    * packed_seqs, packed_waste, padded_waste_frac, packed_waste_frac)`. */
  def packingEfficiency(df: DataFrame, idCol: String, srcCol: String,
      textCol: String, seqLen: Int): DataFrame = {
    require(seqLen >= 1, "seqLen must be positive")
    val perDoc = df.select(col(srcCol).cast("string").as("source"),
        size(tokens(col(textCol))).cast("long").as("n_tokens"))
      .filter(col("n_tokens") > 0 && col("source").isNotNull)
    perDoc.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        sum(expr(s"(n_tokens + ${seqLen - 1}) div $seqLen")).as("padded_seqs"))
      .withColumn("padded_waste",
        col("padded_seqs") * seqLen - col("total_tokens"))
      .withColumn("packed_seqs",
        expr(s"(total_tokens + ${seqLen - 1}) div $seqLen"))
      .withColumn("packed_waste",
        col("packed_seqs") * seqLen - col("total_tokens"))
      .withColumn("padded_waste_frac",
        round(col("padded_waste").cast("double") /
          (col("padded_seqs") * seqLen).cast("double"), 6))
      .withColumn("packed_waste_frac",
        round(col("packed_waste").cast("double") /
          (col("packed_seqs") * seqLen).cast("double"), 6))
  }
}
