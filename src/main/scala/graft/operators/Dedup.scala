package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Deduplication operators for a large-scale training-data pipeline:
  * exact (fingerprint group-by), n-gram Jaccard via inverted-index join,
  * MinHash+LSH banding, and SimHash. All built from codegen'd Column
  * expressions + relational shuffles — no UDFs — so each formulation is
  * the one you would run at 100 TB:
  *   - exact/simhash are map-side pure + one hash aggregation;
  *   - jaccard/minhash candidate generation shuffle only (shingle, id) or
  *     (band, key) pairs, never the cross product.
  *
  * Deterministic hashing = md5 (bit-identical in the DuckDB oracle).
  */
object Dedup {

  /** First 8 md5 hex chars as an unsigned 32-bit value in a long. */
  def hash32(c: Column): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast(LongType)

  /** Word 3-gram shingles (distinct), empty for docs under 3 tokens. */
  def shingles3(text: Column): Column = {
    val tk = TextAnalysis.tokens(text)
    when(size(tk) >= 3,
      array_distinct(transform(sequence(lit(1), size(tk) - 2),
        i => concat_ws(" ", element_at(tk, i), element_at(tk, i + 1), element_at(tk, i + 2)))))
      .otherwise(array().cast("array<string>"))
  }

  /** MinHash signature over a set column: k independent hash functions
    * h_j(t) = md5(j ‖ ':' ‖ t), taking the lexicographic minimum per j
    * (hex strings order like the 128-bit values they encode). */
  def minhash(set: Column, k: Int): Column =
    transform(sequence(lit(0), lit(k - 1)),
      j => array_min(transform(set, t => md5(concat(j.cast("string"), lit(":"), t)))))

  /** Exact duplicate groups: fingerprint → surviving id + group size. */
  def exactGroups(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Canonical text form for [[normalizedExactGroups]]: casefold, every
    * non-alphanumeric run → one space, trim. Exposed so filters can
    * normalize consistently with the dedup key. */
  def normalizeText(c: Column): Column =
    trim(regexp_replace(lower(c), "[^a-z0-9]+", " "))

  /** Exact dedup AFTER canonical normalization (the C4/RefinedWeb step
    * between raw-bytes dedup and near-dup: "Hello, World!" and
    * "hello world" are the same document to a trainer). Same output
    * shape as [[exactGroups]] but keyed on md5 of [[normalizeText]] —
    * casefolded, punctuation/whitespace runs collapsed to single
    * spaces, trimmed. Map-only projection + one hash agg; the
    * normalization is a codegen'd regex pass, no kernel needed. */
  def normalizedExactGroups(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(md5(normalizeText(col(textCol))).as("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Near-duplicate pairs by exact n-gram Jaccard >= tau, computed with an
    * inverted-index equi-join on shingles (shuffle ∝ postings, never the
    * doc×doc cross product).
    *
    * Tokens are staged as a column before the shingle lambda: Catalyst
    * re-evaluates non-lambda subexpressions inside higher-order-function
    * bodies once PER ELEMENT, so referencing `tokens(text)` directly in
    * the lambda would re-run the regex tokenizer ~3×shingle-count times
    * per document (measured 24 s → <2 s at sf0.1 for this stage).
    *
    * `maxDf` caps shingle document frequency: a shingle appearing in more
    * than `maxDf` documents is dropped from the inverted index BEFORE the
    * self-join (its join group would contribute O(df²) candidate rows — a
    * single ubiquitous 3-gram turns the equi-join quadratic at 100 TB).
    * Jaccard denominators still use the full shingle sets, so scores are
    * exact whenever no shared shingle was capped; pairs whose overlap is
    * exclusively ubiquitous boilerplate may fall below tau — the standard,
    * deliberate trade (boilerplate overlap is noise for near-dup
    * detection). The DEFAULT is uncapped (exact semantics; the cap is an
    * opt-in scaling guard), so no caller silently loses pairs; uncapped
    * calls also skip the df-count + anti-join stages entirely.
    *
    * The returned frame is EAGERLY materialized (`localCheckpoint`) so the
    * corpus-sized postings blocks can be freed ([[Iterate.release]])
    * before returning — pairs are output-sized, tiny by comparison.
    * Callers holding long sessions free the returned checkpoint with
    * [[Iterate.release]]. */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String, tau: Double,
      maxDf: Int = Int.MaxValue): DataFrame = {
    // the postings kernel (tokenize + shingle every document) feeds FOUR
    // consumers (sizes, the df cap, both self-join sides) — materialize it
    // once, with truncated lineage, instead of re-running the CPU stage
    // per consumer. Postings are a few short strings per document: far
    // smaller than the corpus they index.
    val inv = shinglePostings(df, idCol, textCol).localCheckpoint(true)
    val sizes = inv.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val kept =
      if (maxDf == Int.MaxValue) inv
      else {
        val hot = inv.groupBy(col("s")).agg(count(lit(1)).as("df"))
          .filter(col("df") > maxDf).select(col("s"))
        inv.join(hot, Seq("s"), "left_anti")
      }
    val pairs = kept.as("a").join(kept.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .agg(count(lit(1)).as("common"))
      .join(sizes.withColumnRenamed("doc_id", "id1").withColumnRenamed("n", "n1"), "id1")
      .join(sizes.withColumnRenamed("doc_id", "id2").withColumnRenamed("n", "n2"), "id2")
      .withColumn("jac", col("common") / (col("n1") + col("n2") - col("common")))
      .filter(col("jac") >= tau)
      .select(col("id1"), col("id2"), col("jac"))
      .localCheckpoint(true)
    Iterate.release(inv) // postings done; only the output-sized result stays cached
    pairs
  }

  /** Near-duplicate pairs by n-gram CONTAINMENT (overlap coefficient):
    * `common / min(|a|, |b|) >= tau` — the asymmetric companion to
    * [[jaccardPairs]]. Jaccard dilutes when sizes differ (a document
    * quoted whole inside one 10× longer scores J ≈ 0.1 and slips
    * through any usable τ), while containment scores that pair 1.0 —
    * the right metric for quote-expansion, boilerplate-wrapping, and
    * version-extension duplicates in a crawl corpus.
    *
    * Same inverted-index equi-join shape, candidate caps, and eager
    * materialization contract as [[jaccardPairs]]; `maxDf` carries the
    * identical trade (capped shingles can only LOWER a score). Output
    * `(id1, id2, containment)` with id1 < id2. */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      tau: Double, maxDf: Int = Int.MaxValue): DataFrame = {
    val inv = shinglePostings(df, idCol, textCol).localCheckpoint(true)
    val sizes = inv.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val kept =
      if (maxDf == Int.MaxValue) inv
      else {
        val hot = inv.groupBy(col("s")).agg(count(lit(1)).as("df"))
          .filter(col("df") > maxDf).select(col("s"))
        inv.join(hot, Seq("s"), "left_anti")
      }
    val pairs = kept.as("a").join(kept.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .agg(count(lit(1)).as("common"))
      .join(sizes.withColumnRenamed("doc_id", "id1").withColumnRenamed("n", "n1"), "id1")
      .join(sizes.withColumnRenamed("doc_id", "id2").withColumnRenamed("n", "n2"), "id2")
      .withColumn("containment", col("common") / least(col("n1"), col("n2")))
      .filter(col("containment") >= tau)
      .select(col("id1"), col("id2"), col("containment"))
      .localCheckpoint(true)
    Iterate.release(inv)
    pairs
  }

  /** EXACT Jaccard pairs by PREFIX FILTERING (the SSJoin/PPJoin candidate
    * principle, Chaudhuri et al. 2006 / Xiao et al. 2008): identical
    * output to [[jaccardPairs]] (uncapped), but the self-join runs over
    * each document's PREFIX only — its |s| − ⌈τ·|s|⌉ + 1 rarest shingles
    * under one global canonical order (ascending document frequency,
    * ties by shingle string). Any pair with J ≥ τ must share a prefix
    * shingle (J ≥ τ forces overlap ≥ τ·max(|a|,|b|); a pair sharing
    * nothing in either prefix has overlap ≤ ⌈τ·|s|⌉ − 1 < τ·|s|), so the
    * screen is lossless — and the spec pins output equality with the
    * full-index join.
    *
    * Why this is THE 100 TB shape for exact similarity join: the join
    * index shrinks to ~(1−τ) of the postings, and — decisively — join
    * keys are each document's RAREST shingles, so the corpus-wide stop
    * shingle that makes the full inverted self-join quadratic
    * ([[jaccardPairs]]'s `maxDf` hazard) lands in a prefix only for
    * documents made of nothing but stop shingles. No semantics-changing
    * cap needed: candidates fall out of rarity itself. Verification then
    * counts common shingles only for candidate pairs (join restricted by
    * the candidate set — postings touched ∝ Σ|candidate docs|, never
    * df²). */
  def prefixJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      tau: Double): DataFrame = {
    require(tau > 0.0 && tau <= 1.0, "tau must be in (0, 1]")
    val inv = shinglePostings(df, idCol, textCol).localCheckpoint(true)
    val sizes = inv.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val (lazyCands, prefix) = prefixCandidates(inv, sizes, tau)
    val cands = lazyCands.localCheckpoint(true)
    Iterate.release(prefix)
    val common = cands
      .join(inv.select(col("doc_id").as("id1"), col("s")), Seq("id1"))
      .join(inv.select(col("doc_id").as("id2"), col("s")), Seq("id2", "s"))
      .groupBy(col("id1"), col("id2")).agg(count(lit(1)).as("common"))
    val out = common
      .join(sizes.select(col("doc_id").as("id1"), col("n").as("n1")), Seq("id1"))
      .join(sizes.select(col("doc_id").as("id2"), col("n").as("n2")), Seq("id2"))
      .withColumn("jac", col("common") / (col("n1") + col("n2") - col("common")))
      .filter(col("jac") >= tau)
      .select(col("id1"), col("id2"), col("jac"))
      .localCheckpoint(true)
    Iterate.release(inv, cands)
    out
  }

  /** [[prefixJaccardPairs]]'s candidate stage, test-visible so the
    * candidate-reduction claim is MEASURED, not asserted: returns (lazy
    * candidate pairs, the checkpointed prefix postings the caller frees
    * with [[Iterate.release]] once the candidates have materialized). */
  private[graft] def prefixCandidates(inv: DataFrame, sizes: DataFrame,
      tau: Double): (DataFrame, DataFrame) = {
    val dfc = inv.groupBy(col("s")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("df"), col("s"))
    val prefix = inv.join(dfc, Seq("s"))
      .join(sizes, Seq("doc_id"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= col("n") - ceil(lit(tau) * col("n")) + 1)
      .select(col("doc_id"), col("s"))
      .localCheckpoint(true)
    val cands = prefix.as("a").join(prefix.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .distinct()
    (cands, prefix)
  }

  /** MinHash+LSH candidate pairs: k-hash signature over shingles, split
    * into bands of r rows; docs sharing any full band collide. Shuffle is
    * (bands × docs) rows — the standard sub-quadratic dedup at scale.
    * Signatures come from [[minhashSignatures]] (kernel md5 — the hash
    * count is k × shingles per doc, far too hot for interpreted
    * expressions); banding and the candidate join stay relational.
    *
    * `bucketCap` guards the banding join against hot buckets: a (band,
    * key) bucket holding more than `bucketCap` documents (a boilerplate
    * cluster, or a degenerate signature) would contribute O(bucket²)
    * candidate rows, so it is dropped whole before the self-join — the
    * standard LSH hot-bucket guard (such clusters are better handled by
    * exact dedup upstream). The DEFAULT is uncapped (the cap is an opt-in
    * scaling guard), so no caller silently loses candidates; uncapped
    * calls also skip the bucket-count + anti-join stages entirely.
    *
    * The returned frame is EAGERLY materialized (`localCheckpoint`) so the
    * banded-signature blocks can be freed ([[Iterate.release]]) before
    * returning — candidates are output-sized. Callers holding long
    * sessions free the returned checkpoint with [[Iterate.release]]. */
  def minhashCandidates(df: DataFrame, idCol: String, textCol: String,
      k: Int = 16, r: Int = 4, bucketCap: Int = Int.MaxValue): DataFrame = {
    val (lazyCands, allBands) = minhashCandidatesLazy(df, idCol, textCol, k, r, bucketCap)
    val cands = lazyCands.localCheckpoint(true)
    Iterate.release(allBands) // signatures done; only the candidate set stays cached
    cands
  }

  /** [[minhashCandidates]] before its final eager materialization: returns
    * (candidates with full lineage, the checkpointed band frame the caller
    * frees with [[Iterate.release]] once the candidates have materialized).
    * Exists so plan-quality specs can assert the candidate join's physical
    * shape — `localCheckpoint` truncates lineage to a `Scan ExistingRDD`,
    * hiding the join. */
  private[graft] def minhashCandidatesLazy(df: DataFrame, idCol: String, textCol: String,
      k: Int, r: Int, bucketCap: Int): (DataFrame, DataFrame) = {
    // banded signatures feed the hot-bucket cap and both self-join sides;
    // one eager materialization pays the k×shingles md5 kernel once
    val allBands = minhashBands(df, idCol, textCol, k, r).localCheckpoint(true)
    val bands =
      if (bucketCap == Int.MaxValue) allBands
      else {
        val hot = allBands.groupBy(col("band"), col("key"))
          .agg(count(lit(1)).as("n")).filter(col("n") > bucketCap)
          .select(col("band"), col("key"))
        allBands.join(hot, Seq("band", "key"), "left_anti")
      }
    val cands = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .distinct()
    (cands, allBands)
  }

  /** EXACT duplicate spans across documents (the Lee et al. 2022
    * "Deduplicating Training Data Makes Language Models Better"
    * exact-substring recipe): every maximal character span of length ≥
    * `minLen` shared verbatim between two documents, located by
    * position on both sides. Character `k`-grams with positions join on
    * gram equality; matches at a fixed position OFFSET (`pos1 − pos2`,
    * the diagonal) with consecutive positions form one shared run, so
    * runs are recovered with a per-(pair, diagonal) window — the
    * sessionize-on-gap shape — and `span_len = maxPos − minPos + k`.
    * Pure integer arithmetic end to end: hash-exact across engines.
    *
    * Scale posture: gram rows are O(total characters) — the honest cost
    * of the exact algorithm (Lee et al. use a suffix array on one
    * machine; the relational shape distributes). The join is an
    * equi-join on gram; a stop-gram hot key ("ing the ") can square —
    * `dfCap` drops grams seen in more than that many DOCUMENTS (the
    * [[jaccardPairs]] cap pattern; capped grams can only split a long
    * span, never invent one). At corpus scale, use
    * [[duplicateSpansCandidates]] — the winnow-screened composition
    * with an equality guarantee — instead of this whole-corpus join.
    * Output: (id1, id2, start1, start2, span_len),
    * 1-based positions, id1 < id2. */
  def duplicateSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int = 20, minLen: Int = 40, dfCap: Int = Int.MaxValue): DataFrame = {
    require(k >= 2, "k must be at least 2")
    require(minLen >= k, "minLen below k would emit sub-gram spans")
    val capped = positionedGrams(df, idCol, textCol, k, dfCap)
    val pairs = capped.as("a").join(capped.as("b"),
        col("a.gram") === col("b.gram") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"),
        col("a.pos").as("pos1"), col("b.pos").as("pos2"),
        (col("a.pos") - col("b.pos")).as("diag"))
    spansFromMatches(pairs, k, minLen)
  }

  /** [[duplicateSpans]] restricted to an explicit `(id1, id2)` candidate
    * pair set: the gram equi-join runs only WITHIN the given pairs —
    * a-side grams join the pair list on doc id, then meet b-side grams
    * on `(gram, id2)` — so the corpus-wide gram self-join (the part of
    * the exact algorithm that can square on a popular substring) never
    * forms. Per-pair semantics are exactly [[duplicateSpans]]'s; pairs
    * not in `candidates` are simply never examined. The a-side fan-out
    * is one gram row per candidate PARTNER, which is the point of
    * screening: a handful of partners per doc, not the corpus. */
  def duplicateSpansWithin(df: DataFrame, candidates: DataFrame,
      idCol: String, textCol: String,
      k: Int = 20, minLen: Int = 40, dfCap: Int = Int.MaxValue): DataFrame = {
    require(k >= 2, "k must be at least 2")
    require(minLen >= k, "minLen below k would emit sub-gram spans")
    val cand0 = candidates
      .select(col("id1").cast("long").as("id1"), col("id2").cast("long").as("id2"))
      .filter(col("id1") < col("id2")).distinct()
    // Grams are PER-DOC facts, so only docs that appear in a candidate
    // pair need their grams exploded WITH POSITIONS at all (the
    // screen's whole point: O(candidate chars), not O(corpus chars)).
    // A finite dfCap is a CORPUS-level statistic (document frequency
    // over every doc, candidate or not) — but it needs only ONE
    // positions-free kernel pass over the corpus to find the hot set;
    // the positioned explodes stay candidate-restricted and anti-join
    // that set, identical answers to capping the full gram table.
    // cand feeds three consumers (both semi-joins + the pair join):
    // materialize it once or the upstream screen replays three times.
    val cand = cand0.localCheckpoint(true)
    val d1 = cand.select(col("id1").as("_graft_d")).distinct()
    val d2 = cand.select(col("id2").as("_graft_d")).distinct()
    // Spread.always: the semi-join is a broadcast join inheriting the
    // unsplittable scan's single-task partitioning, which would serialize
    // the positioned-gram explode below; one narrow keyed shuffle of the
    // candidate docs (AQE-sized) parallelizes it at any scale
    val dfA = Spread.always(
      df.join(d1, col(idCol) === col("_graft_d"), "left_semi"), col(idCol))
    val dfB = Spread.always(
      df.join(d2, col(idCol) === col("_graft_d"), "left_semi"), col(idCol))
    val (aGrams, bGrams0) =
      if (dfCap == Int.MaxValue)
        (positionedGrams(dfA, idCol, textCol, k, dfCap),
          positionedGrams(dfB, idCol, textCol, k, dfCap))
      else {
        // hot set feeds both sides' anti-joins: one corpus pass, cached
        val hot = hotGramSet(df, idCol, textCol, k, dfCap).localCheckpoint(true)
        (positionedGrams(dfA, idCol, textCol, k, Int.MaxValue)
            .join(hot, Seq("gram"), "left_anti"),
          positionedGrams(dfB, idCol, textCol, k, Int.MaxValue)
            .join(hot, Seq("gram"), "left_anti"))
      }
    val aSide = aGrams.join(cand, col("doc_id") === col("id1"))
      .select(col("id1"), col("id2"), col("pos").as("pos1"), col("gram"))
    val bGrams = bGrams0.select(col("doc_id").as("_b_id"),
      col("pos").as("pos2"), col("gram").as("_b_gram"))
    val pairs = aSide.join(bGrams,
        col("gram") === col("_b_gram") && col("id2") === col("_b_id"))
      .select(col("id1"), col("id2"), col("pos1"), col("pos2"),
        (col("pos1") - col("pos2")).as("diag"))
    spansFromMatches(pairs, k, minLen)
  }

  /** Dedup impact report (t49 — the number every dedup run publishes):
    * per duplicate cluster, how many members it has, how many chars
    * the cluster holds, how many the representative keeps, and how many
    * dedup drops. `clusters` is any `(doc_id, cluster_id)` frame
    * ([[duplicateClusters]] — cluster_id is the minimum member id,
    * which IS the kept representative, the d10/d11 convention). Exact
    * integer sums throughout; one equi-join + one key-partial agg —
    * report cost is O(clustered docs), not corpus. */
  def dedupImpact(docs: DataFrame, idCol: String, textCol: String,
      clusters: DataFrame): DataFrame =
    clusters.select(col("doc_id"), col("cluster_id"))
      .join(docs.select(col(idCol).as("doc_id"),
        length(col(textCol)).cast("long").as("n_chars")), Seq("doc_id"))
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("members"),
        sum(col("n_chars")).cast("long").as("chars_total"),
        sum(when(col("doc_id") === col("cluster_id"), col("n_chars"))
          .otherwise(0L)).cast("long").as("chars_kept"))
      .withColumn("chars_dropped", col("chars_total") - col("chars_kept"))

  /** Cross-corpus EXACT contamination spans (t48 — the audit trail
    * behind [[TextAnalysis.contaminationPairs]]'s verdicts): every
    * maximal character span of length ≥ `minLen` shared verbatim
    * between a TEST document and a TRAIN document, located by position
    * on both sides — "benchmark item X appears at train doc Y offset Z",
    * the evidence a decontam pipeline needs before dropping data.
    * Same diagonal-run recovery as [[duplicateSpans]], but the gram
    * join is test ⋈ train (never test², never train²): the test side is
    * a benchmark suite — thousands of documents against a 100 TB crawl
    * — so gram rows are O(test chars) + O(train chars) and the join
    * output is bounded by true matches plus hot-gram noise, which
    * `maxDf` removes by dropping TRAIN-side grams present in more than
    * that many TRAIN documents (the [[TextAnalysis.contaminationPairs]]
    * stop-shingle cap; capped grams can only split a long span, never
    * invent one). Output: `(test_id, train_id, start_test, start_train,
    * span_len)`, 1-based positions. */
  def contaminationSpans(train: DataFrame, test: DataFrame,
      idCol: String, textCol: String,
      k: Int = 20, minLen: Int = 40, maxDf: Int = Int.MaxValue): DataFrame = {
    require(k >= 2, "k must be at least 2")
    require(minLen >= k, "minLen below k would emit sub-gram spans")
    val testG = positionedGrams(test, idCol, textCol, k, Int.MaxValue)
    val trainG =
      if (maxDf == Int.MaxValue) positionedGrams(train, idCol, textCol, k, Int.MaxValue)
      else positionedGrams(train, idCol, textCol, k, Int.MaxValue)
        .join(hotGramSet(train, idCol, textCol, k, maxDf), Seq("gram"), "left_anti")
    val pairs = testG.as("a").join(
        trainG.select(col("doc_id").as("_t_id"), col("pos").as("_t_pos"),
          col("gram").as("_t_gram")),
        col("a.gram") === col("_t_gram"))
      .select(col("a.doc_id").as("id1"), col("_t_id").as("id2"),
        col("a.pos").as("pos1"), col("_t_pos").as("pos2"),
        (col("a.pos") - col("_t_pos")).as("diag"))
    spansFromMatches(pairs, k, minLen)
      .select(col("id1").as("test_id"), col("id2").as("train_id"),
        col("start1").as("start_test"), col("start2").as("start_train"),
        col("span_len"))
  }

  /** The corpus-scale composition of [[TextAnalysis.winnowFingerprints]]
    * and [[duplicateSpans]]: winnow both sides, self-join fingerprints
    * into candidate doc pairs, and run the exact positioned-gram span
    * recovery only within those pairs ([[duplicateSpansWithin]]).
    *
    * EQUALITY GUARANTEE, not a heuristic: winnowing catches every
    * shared substring of length ≥ `winnowWindow + winnowKgram − 1`
    * (Schleimer et al. 2003), and every span this operator must emit is
    * a shared substring of length ≥ `minLen` — so requiring
    * `minLen ≥ winnowWindow + winnowKgram − 1` makes every emitted
    * pair a winnow candidate, and the output is row-identical to
    * uncapped [[duplicateSpans]] (the spec pins it). The screen changes
    * COST, not answers: gram-join work collapses from corpus² to
    * Σ(candidate pairs), which is what makes exact-span dedup runnable
    * at 100 TB.
    *
    * `winnowKgram` defaults (0 = auto) to `minLen − winnowWindow + 1` —
    * the TIGHTEST screen the guarantee allows. Looser (smaller) k-grams
    * stay exact but admit every pair sharing only sub-`minLen`
    * substrings; on a repetitive corpus that can be most pairs, and the
    * screen stops screening (measured: k-gram 5 admitted 124 693 of
    * 124 750 possible pairs at sf0.1, the auto default 13 033–20 808 —
    * the true span-pair count). `fpCap` optionally drops fingerprints
    * shared by more than that many docs. With `fpCap = dfCap` and
    * `winnowKgram ≥ k` this STILL loses no emitted span: a span that
    * survives gram capping consists of k-grams each in ≤ `dfCap` docs,
    * and a winnow fingerprint inside the span contains such a k-gram,
    * so its own document frequency is ≤ `dfCap` and it is never
    * capped. Leave both unset for the plain equality guarantee. */
  def duplicateSpansCandidates(df: DataFrame, idCol: String, textCol: String,
      k: Int = 20, minLen: Int = 40, dfCap: Int = Int.MaxValue,
      winnowKgram: Int = 0, winnowWindow: Int = 4,
      fpCap: Int = Int.MaxValue): DataFrame = {
    val kg = if (winnowKgram > 0) winnowKgram else minLen - winnowWindow + 1
    require(minLen >= kg + winnowWindow - 1,
      s"minLen=$minLen below the winnow guarantee length " +
        s"${kg + winnowWindow - 1}: spans could be missed")
    val fps = TextAnalysis.winnowFingerprints(df, idCol, textCol,
      kg, winnowWindow)
    val fpsCapped0 =
      if (fpCap == Int.MaxValue) fps
      else {
        val hot = fps.groupBy(col("fingerprint")).agg(count(lit(1)).as("n"))
          .filter(col("n") > fpCap).select(col("fingerprint"))
        fps.join(hot, Seq("fingerprint"), "left_anti")
      }
    // Round-16 (guide §1.2 "don't compute twice"): the fingerprint
    // frame feeds BOTH sides of the candidate self-join, and Catalyst
    // evaluates the shared subtree once per join input — the winnow
    // pass (one md5 per corpus character, the dominant screen cost)
    // ran TWICE. Materialize it once; the frame is fingerprint-sized
    // (≤ one row per character, distinct-deduplicated), and the
    // candidate set materializes eagerly inside duplicateSpansWithin,
    // so the blocks are released before this operator returns.
    val fpsCapped = fpsCapped0.localCheckpoint(true)
    val cand = fpsCapped.as("a").join(fpsCapped.as("b"),
        col("a.fingerprint") === col("b.fingerprint") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .distinct()
    val out = duplicateSpansWithin(df, cand, idCol, textCol, k, minLen, dfCap)
    Iterate.release(fpsCapped)
    out
  }

  /** Top-`topK` most-duplicated character `k`-grams corpus-wide, by
    * DOCUMENT frequency (each doc counts once however often it repeats
    * the gram) — the "which boilerplate dominates this corpus" report
    * that decides dfCap/blocklist settings for the span-dedup family.
    * Two partial-aggregating hash aggs (distinct (gram, doc), then per-
    * gram doc counts) and a distributed TakeOrdered for the cut — never
    * a global sort of the gram table. Ties break lexicographically on
    * the gram, so the cut is deterministic. Output: (gram, n_docs). */
  def topDuplicatedGrams(df: DataFrame, idCol: String, textCol: String,
      k: Int, topK: Int): DataFrame = {
    require(k >= 2 && topK >= 1, "need k >= 2 and topK >= 1")
    val sp = df.sparkSession
    import sp.implicits._
    // per-doc dedup in a kernel: a (gram, doc) pair can only repeat
    // WITHIN a document, so a per-doc HashSet makes the rows globally
    // distinct already — the corpus-wide distinct (a full shuffle of
    // every gram occurrence, the dominant cost) never happens.
    // Lowercasing stays the Column lower() so the engine contract is
    // byte-identical to the span-dedup family on any locale.
    docDistinctGrams(df, idCol, textCol, k)
      .groupBy(col("gram")).agg(count(lit(1)).as("n_docs"))
      .orderBy(col("n_docs").desc, col("gram"))
      .limit(topK)
  }

  /** Per-doc-DISTINCT gram rows in a kernel: a (gram, doc) pair can only
    * repeat WITHIN a document, so a per-doc HashSet makes the rows
    * globally distinct already — the corpus-wide distinct (a full
    * shuffle of every gram occurrence, the dominant cost) never
    * happens. Lowercasing stays the Column lower() so the engine
    * contract is byte-identical to the span-dedup family on any
    * locale. Shared by [[topDuplicatedGrams]] and the dfCap counts. */
  private def docDistinctGrams(df: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    val sp = df.sparkSession
    import sp.implicits._
    Spread.spread(df.filter(col(idCol).isNotNull && col(textCol).isNotNull &&
        length(col(textCol)) >= k)
      .select(col(idCol).cast("long"), lower(col(textCol))),
        col(idCol).cast("long"))
      .as[(Long, String)]
      .mapPartitions(_.flatMap { case (_, t) =>
        val seen = new java.util.HashSet[String]()
        var i = 0
        val n = t.length - k + 1
        while (i < n) { seen.add(t.substring(i, i + k)); i += 1 }
        scala.jdk.CollectionConverters.IteratorHasAsScala(seen.iterator()).asScala
      })
      .toDF("gram")
  }

  /** Grams whose corpus document frequency exceeds `dfCap` — the hot
    * set every duplicate-span variant anti-joins away. One kernel pass
    * (positions-free, per-doc-distinct) + one partial-aggregating hash
    * agg; output is hot-gram-sized (tiny under any sane cap). */
  private def hotGramSet(df: DataFrame, idCol: String, textCol: String,
      k: Int, dfCap: Int): DataFrame =
    docDistinctGrams(df, idCol, textCol, k)
      .groupBy(col("gram")).agg(count(lit(1)).as("n"))
      .filter(col("n") > dfCap).select(col("gram"))

  /** Positioned character `k`-grams of the lowercased text, with the
    * gram document-frequency cap shared by every duplicate-span
    * variant. */
  private def positionedGrams(df: DataFrame, idCol: String, textCol: String,
      k: Int, dfCap: Int): DataFrame = {
    val grams = Spread.spread(df
      .filter(col(idCol).isNotNull && col(textCol).isNotNull &&
        length(col(textCol)) >= k)
      .select(col(idCol).cast("long").as("doc_id"),
        lower(col(textCol)).as("t")), col("doc_id"))
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), length(col("t")) - k + 1),
          i => struct(i.cast("int").as("pos"),
            substring(col("t"), i, lit(k)).as("gram")))).as("g"))
      .select(col("doc_id"), col("g.pos").as("pos"), col("g.gram").as("gram"))
    if (dfCap == Int.MaxValue) grams
    else
      // hot set via the kernel doc-frequency pass — the corpus-wide
      // (gram, doc) distinct shuffle (the dominant cost at scale) is
      // replaced by per-doc HashSet dedup + one partial hash agg
      grams.join(hotGramSet(df, idCol, textCol, k, dfCap),
        Seq("gram"), "left_anti")
  }

  /** Shared span recovery: positioned gram matches `(id1, id2, pos1,
    * pos2, diag)` → maximal runs per (pair, diagonal) → spans ≥
    * `minLen`. */
  private def spansFromMatches(pairs: DataFrame, k: Int, minLen: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id1"), col("id2"), col("diag")).orderBy(col("pos1"))
    pairs
      .withColumn("brk",
        when(col("pos1") - lag(col("pos1"), 1).over(w) === 1, 0).otherwise(1))
      .withColumn("run", sum(col("brk")).over(w))
      .groupBy(col("id1"), col("id2"), col("diag"), col("run"))
      .agg(min(col("pos1")).as("start1"), min(col("pos2")).as("start2"),
        (max(col("pos1")) - min(col("pos1")) + k).as("span_len"))
      .filter(col("span_len") >= minLen)
      .select(col("id1"), col("id2"), col("start1"), col("start2"), col("span_len"))
  }

  /** Banded MinHash keys: one `(doc_id, band, key)` row per band, where
    * `key` joins the band's `r` signature components — the LSH bucket
    * representation BOTH sides of any MinHash-LSH match use. Map-only
    * (signature kernel + posexplode), so it runs identically over a
    * static corpus (persist it once as the dedup index) and over a
    * STREAMING DataFrame of incoming documents — which is what makes
    * the incremental stream-vs-corpus near-dup screen in
    * [[graft.streaming.Streams.incrementalNearDupCandidates]] a plain
    * stream-static equi-join. */
  def minhashBands(df: DataFrame, idCol: String, textCol: String,
      k: Int = 16, r: Int = 4): DataFrame = {
    require(k % r == 0, "k must be a multiple of r")
    minhashSignatures(df, idCol, textCol, k).select(col("doc_id"),
      posexplode(transform(sequence(lit(0), lit(k / r - 1)),
        b => concat_ws("|", slice(col("mh"), b * r + 1, lit(r))))).as(Seq("band", "key")))
  }

  /** Kernel shingle postings: one (doc_id, shingle) row per distinct
    * word n-gram shingle (default 3), tokenized in scalar code (the
    * interpreted transform/element_at formulation costs ~2 ms per
    * document). */
  def shinglePostings(df: DataFrame, idCol: String, textCol: String,
      ngram: Int = 3): DataFrame = {
    require(ngram >= 1, "ngram must be positive")
    val sp = df.sparkSession
    import sp.implicits._
    df.select(col(idCol).cast("long"), col(textCol))
      .filter(col(idCol).isNotNull && col(textCol).isNotNull) // kernels are scalar code — no null lifting
      .as[(Long, String)]
      .repartition(sp.sparkContext.defaultParallelism) // CPU-bound kernel: one input file must not mean one core
      .mapPartitions(_.flatMap { case (id, text) =>
        Kernel.shingles(text, ngram).iterator.map(s => (id, s))
      }).toDF("doc_id", "s")
  }

  /** Kernel MinHash: per-partition tokenize → 3-gram shingle → k×md5-min,
    * bit-identical to `minhash(shingles3(text), k)` but with the md5 inner
    * loop in scalar code. Emits (doc_id, mh: array<string>). */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val sp = df.sparkSession
    import sp.implicits._
    df.select(col(idCol).cast("long"), col(textCol))
      .filter(col(idCol).isNotNull && col(textCol).isNotNull)
      .as[(Long, String)]
      .repartition(sp.sparkContext.defaultParallelism) // CPU-bound kernel: spread the md5 loops
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (id, text) =>
          val sh = Kernel.shingles3(text)
          if (sh.isEmpty) Iterator.empty
          else {
            val sig = Array.tabulate(k) { j =>
              var min: String = null
              sh.foreach { s =>
                val hex = Kernel.md5Hex(md, j + ":" + s)
                if (min == null || hex < min) min = hex
              }
              min
            }
            Iterator.single((id, sig.toSeq))
          }
        }
      }.toDF("doc_id", "mh")
  }

  /** MinHash CALIBRATION report — the sketch-accuracy audit every LSH
    * deployment owes its operators: for every LSH candidate pair, the
    * MinHash similarity ESTIMATE (matching signature slots / k — the
    * unbiased Jaccard estimator) next to the EXACT shingle Jaccard,
    * with the absolute error. Reading this table tells you whether k
    * is sized right for your dedup threshold BEFORE you trust the
    * candidates at 100 TB (estimator std dev = sqrt(J(1−J)/k)).
    *
    * Shape: the banded candidate join bounds WHICH pairs are audited
    * (never all-pairs); exact Jaccard comes from the postings
    * equi-join restricted to those candidates; the slot-match count is
    * a codegen zip_with over the two signatures. Every number is a
    * deterministic single IEEE op (matches/k, the d02 jac division,
    * one rounded abs). Output:
    * `(id1, id2, matches, est, jac, abs_err)`. */
  def minhashCalibration(df: DataFrame, idCol: String, textCol: String,
      k: Int = 16, r: Int = 4): DataFrame = {
    require(k >= 1 && r >= 1 && k % r == 0,
      "k must be a positive multiple of the band width r")
    // the audited candidate set comes from the SAME (k, r) sketch as the
    // signatures being calibrated — auditing k=32 signatures against
    // k=16 candidates would score one sketch with another's pairs
    val cands = minhashCandidates(df, idCol, textCol, k, r,
      bucketCap = Int.MaxValue)
    val sigs = minhashSignatures(df, idCol, textCol, k)
      .localCheckpoint(true)
    val inv = shinglePostings(df, idCol, textCol).localCheckpoint(true)
    val sizes = inv.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val common = inv.as("a").join(inv.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .agg(count(lit(1)).as("common"))
    val out = cands
      .join(common, Seq("id1", "id2"), "left_outer")
      .withColumn("common", coalesce(col("common"), lit(0L)))
      .join(sizes.toDF("id1", "n1"), "id1")
      .join(sizes.toDF("id2", "n2"), "id2")
      .join(sigs.toDF("id1", "mh1"), "id1")
      .join(sigs.toDF("id2", "mh2"), "id2")
      .withColumn("matches",
        expr("size(filter(zip_with(mh1, mh2, (x, y) -> x = y), b -> b))")
          .cast("long"))
      .withColumn("est", col("matches").cast("double") / k)
      .withColumn("jac",
        col("common") / (col("n1") + col("n2") - col("common")))
      .withColumn("abs_err", round(abs(col("est") - col("jac")), 9))
      .select(col("id1"), col("id2"), col("matches"), col("est"),
        col("jac"), col("abs_err"))
      .localCheckpoint(true)
    Iterate.release(inv, sigs, cands)
    out
  }

  /** Kernel SimHash (same math as [[simhash32]]): tokenize → distinct →
    * md5-derived 32-bit hash → per-bit majority vote. Pure map — no
    * shuffle. Emits (doc_id, simhash). */
  def simhashKernel(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val sp = df.sparkSession
    import sp.implicits._
    // spreadCapped (round-16): full width measured 1.66x slower at 32
    // cores than 8 on this kernel (d04); bytes-capped width matches the
    // 8-core-shaped optimum at every core count, identity at scale
    Spread.spreadCapped(df.select(col(idCol).cast("long"), col(textCol))
      .filter(col(idCol).isNotNull && col(textCol).isNotNull),
        col(idCol).cast("long"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (id, text) =>
          val tk = Kernel.tokens(text).distinct
          if (tk.isEmpty) Iterator.empty
          else {
            val counts = new Array[Int](32)
            tk.foreach { t =>
              val h = java.lang.Long.parseLong(Kernel.md5Hex(md, t).substring(0, 8), 16)
              var b = 0
              while (b < 32) { if (((h >> b) & 1L) == 1L) counts(b) += 1; b += 1 }
            }
            var sim = 0L
            var b = 0
            while (b < 32) { if (2 * counts(b) >= tk.length) sim |= 1L << b; b += 1 }
            Iterator.single((id, sim))
          }
        }
      }.toDF("doc_id", "simhash")
  }

  /** Shared scalar kernels, tokenization identical to
    * `regexp_extract_all(lower(text), '[a-z0-9]+')`. */
  private[graft] object Kernel {
    private val token = java.util.regex.Pattern.compile("[a-z0-9]+")
    private val hexChars = "0123456789abcdef".toCharArray

    def tokens(text: String): IndexedSeq[String] = {
      val m = token.matcher(text.toLowerCase(java.util.Locale.ROOT))
      val out = IndexedSeq.newBuilder[String]
      while (m.find()) out += m.group()
      out.result()
    }

    def shingles3(text: String): IndexedSeq[String] = shingles(text, 3)

    /** Distinct word n-gram shingles; empty for docs under n tokens. */
    def shingles(text: String, n: Int): IndexedSeq[String] = {
      val tk = tokens(text)
      if (tk.length < n) IndexedSeq.empty
      else (0 to tk.length - n)
        .map(i => tk.slice(i, i + n).mkString(" ")).distinct
    }

    /** Lower-case hex of a byte array (char-array loop — the per-byte
      * `"%02x".format` formulation allocates a Formatter per byte). */
    def hex(d: Array[Byte]): String = {
      val out = new Array[Char](d.length * 2)
      var i = 0
      while (i < d.length) {
        out(2 * i) = hexChars((d(i) >> 4) & 0xF)
        out(2 * i + 1) = hexChars(d(i) & 0xF)
        i += 1
      }
      new String(out)
    }

    def md5Hex(md: java.security.MessageDigest, s: String): String = {
      md.reset()
      hex(md.digest(s.getBytes("UTF-8")))
    }
  }

  /** SimHash near-duplicate pairs: all (id1 < id2) with Hamming distance
    * between 32-bit simhashes <= `maxHamming`, found WITHOUT the doc×doc
    * cross product. The 32-bit hash is split into `bands` equal slices;
    * by pigeonhole, two hashes within `maxHamming < bands` bit flips
    * share at least one identical slice, so an equi-join on (band, slice
    * key) finds EVERY qualifying pair — recall 1.0 by construction, not
    * probabilistic like MinHash banding. Shuffle is bands×docs rows; the
    * Hamming verify (`bit_count(xor)`) is codegen'd scalar math.
    * Output: (id1, id2, hamming).
    *
    * Deliberately NOT eagerly materialized (unlike jaccard/minhash): the
    * pair set can rival the banded input in size (hamming is a coarse
    * 32-bit signal), so a checkpoint would pay a full extra
    * materialize-then-reread pass over the output — measured slower than
    * recomputing the cheap per-doc simhash kernel for the second join
    * side. No cached blocks linger, either. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, bands: Int = 4): DataFrame = {
    require(bands >= 1 && 32 % bands == 0, "bands must divide 32")
    require(maxHamming < bands,
      s"recall guarantee needs maxHamming < bands (got $maxHamming >= $bands): " +
        "a pair may differ in every band otherwise")
    val width = 32 / bands
    val sh = simhashKernel(df, idCol, textCol)
    val banded = sh.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until bands).map(b =>
        shiftrightunsigned(col("simhash"), b * width)
          .bitwiseAND(lit((1L << width) - 1))): _*)).as(Seq("band", "key")))
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct() // a close pair shares several bands; hamming is pair-deterministic
  }

  /** Duplicate CLUSTERS from candidate pairs: connected components by
    * min-label propagation WITH pointer jumping — the step that turns
    * near-dup PAIRS into canonical keep-ids. Per round, a node takes the
    * min of (its label, its neighbors' labels, its label's label); the
    * pointer-jump term halves label-chain depth each round, so a
    * diameter-d component converges in O(log d) rounds rather than O(d).
    * Every step is an equi-join + aggregation shuffled on node id — no
    * component is ever materialized on one machine. Each round's result
    * is `localCheckpoint`ed (iterative lineage would otherwise grow the
    * logical plan without bound) and then re-wrapped as a
    * stats-flat leaf ([[org.apache.spark.sql.graft.PlanBridge]]):
    * localCheckpoint CARRIES the origin's estimated sizeInBytes, and the
    * pointer-jump label ⋈ label step would square it every round —
    * `base^(2^rounds)` is a BigInteger with 2^rounds digits, and around
    * 17 rounds (a sparse long-path graph) the PLANNER hard-hangs
    * multiplying million-digit numbers while the data is kilobytes.
    * Output: (doc_id, cluster_id = min doc_id reachable). Connected docs
    * sharing no direct pair edge still cluster (A~B, B~C ⇒ {A,B,C}) —
    * exactly what pair-level dedup cannot express.
    *
    * The rounds run on [[Iterate.until]] (the changed-label count is the
    * observed metric), which frees each round's predecessor checkpoint;
    * the edge checkpoint is released before returning. The returned
    * frame reads the final round's checkpoint — callers holding long
    * sessions free it with [[Iterate.release]].
    */
  def duplicateClusters(pairs: DataFrame, id1: String = "id1", id2: String = "id2",
      maxIter: Int = 20): DataFrame = {
    // undirected edge list, both directions. Emptiness rides an
    // Observation on the checkpoint action itself (round-15: this
    // operator is called per contraction round by minimumSpanningForest
    // and per batch by the dedup family — a separate isEmpty action per
    // call was one driver round-trip each, pure overhead).
    val (edges, nEdges) = Iterate.observe(
      pairs.select(col(id1).cast("long").as("src"), col(id2).cast("long").as("dst"))
        .union(pairs.select(col(id2).cast("long").as("src"), col(id1).cast("long").as("dst")))
        .distinct(), count(lit(1)), 0L)
    val labels0 = edges.select(col("src").as("node")).distinct()
      .withColumn("label", col("node")).localCheckpoint(true)
    var changed = nEdges // labels still moving until a round says otherwise
    // stats-flat wrapper over the checkpointed rows: the label self-join
    // must not square the carried estimate
    val run = Iterate.until(org.apache.spark.sql.graft.PlanBridge.statsFlatLeaf(labels0),
        if (nEdges == 0L) 0 else maxIter,
        sum(when(col("label") =!= col("prev"), 1L).otherwise(0L)), 0L,
        Some(labels0)) { (labels, _) =>
      // Round-16 (guide §2.4 "remove shuffles outright"): the neighbor
      // candidates and the pointer-jump term used to be TWO equi-joins
      // (edges ⋈ labels on src, labels ⋈ labels on via) — two probe-side
      // exchanges per round, each its own AQE stage-job round-trip. Both
      // are label FLOWS along an edge: graph edges flow label(src) to
      // dst, and the pointer edge (label(node) → node) flows
      // label(label(node)) to node. Unioning the two edge sets and
      // joining labels ONCE on `from` produces the identical candidate
      // multiset with one join and one fewer exchange per round.
      val rel = edges.select(col("src").as("from"), col("dst").as("to"))
        .unionAll(labels.select(col("label").as("from"),
          col("node").as("to")))
      val flowed = rel
        .join(labels.withColumnRenamed("node", "from"), Seq("from"))
        .select(col("to").as("node"), col("label"))
      // Convergence detection rides the SAME aggregation that computes the
      // new labels: each node's own previous label is tagged into the union
      // and recovered as min(own label), and the observed metric counts the
      // nodes whose label moved — collected during the checkpoint action
      // itself, so each round is exactly ONE Spark job (the old formulation
      // paid a second join+count action per round).
      labels.select(col("node"), col("label"), lit(true).as("own"))
        .union(flowed.select(col("node"), col("label"), lit(false).as("own")))
        .groupBy(col("node"))
        .agg(min(col("label")).as("label"),
          min(when(col("own"), col("label"))).as("prev"))
    } { c => changed = c; c == 0L }
    Iterate.release(edges) // the result's lineage is truncated — edges are done
    // unconverged labels under-merge (a component keeps several ids) —
    // returning them silently would let duplicates through downstream
    require(changed == 0L,
      s"connected components did not converge in $maxIter rounds " +
        "(component diameter > 2^maxIter?) — raise maxIter")
    // return rides the final CHECKPOINT (not the stats-flat wrapper)
    run.held.get.select(col("node").as("doc_id"), col("label").as("cluster_id"))
  }

  /** Bloom-filter MEMBERSHIP flagging: build a Bloom filter over
    * `ref(refCol)` (distributed `stat.bloomFilter` tree-aggregation —
    * executors build partial filters, the driver merges bit arrays),
    * broadcast it, and append boolean `flagCol` = mightContain to `df`.
    * This is the constant-memory membership primitive for blocklist /
    * benchmark-contamination filtering at 100 TB: the crawl side streams
    * map-only against a few-MB broadcast bitset instead of shuffling into
    * an equi-join. Guarantees: NO false negatives (every true member
    * flags), false-positive rate ≈ `fpp`.
    *
    * The membership probe is a scalar JVM call on a broadcast sketch
    * object — a UDF is the honest encoding (there is no Catalyst
    * expression over an opaque driver-built bitset); it stays
    * executor-local, map-only, and off the shuffle path. Spark's
    * BloomFilter hashes with fixed-seed Murmur3, so the flags are
    * deterministic run to run.
    *
    * Both sides are normalized to STRING before hashing: Spark inserts
    * integral columns via `putLong` (different bytes than the string
    * rendering), so building over the native type while probing strings
    * would return false for every true member — the no-false-negative
    * guarantee only holds when build and probe hash identical bytes. */
  def bloomFlag(df: DataFrame, probeCol: String, flagCol: String,
      ref: DataFrame, refCol: String, fpp: Double = 0.03): DataFrame = {
    require(fpp > 0 && fpp < 1, "fpp must be in (0, 1)")
    // string-normalize the BUILD side so it hashes the same bytes the
    // string probe below does, whatever the ref column's native type
    val refStr = ref.select(col(refCol).cast("string").as("_graft_ref"))
    val nRef = math.max(refStr.count(), 1L) // sketch sizing needs the cardinality
    val bf = refStr.stat.bloomFilter("_graft_ref", nRef, fpp)
    val bc = df.sparkSession.sparkContext.broadcast(bf)
    val probe = udf((s: String) => s != null && bc.value.mightContainString(s))
    df.withColumn(flagCol, probe(col(probeCol).cast("string")))
  }

  /** 32-bit SimHash over the distinct token set: per bit, majority vote of
    * token-hash bits. Pure per-row expression — no shuffle at all. */
  def simhash32(text: Column): Column = {
    // hash each distinct token once, then take 32 bit-passes over the hashes
    val hs = transform(array_distinct(TextAnalysis.tokens(text)), t => hash32(t))
    val n = size(hs)
    // token-less documents have no simhash (the majority vote 2*0 >= 0
    // would set every bit, colliding all empty docs at 0xFFFFFFFF);
    // mirrors simhashKernel, which emits nothing for them
    // bit b of h, via exact double division (h < 2^32, so h / 2^b is exact)
    def bitOf(h: Column, b: Column): Column =
      floor(h / pow(lit(2.0), b)).cast(LongType) % 2
    when(n >= 1,
      aggregate(sequence(lit(0), lit(31)), lit(0L),
        (acc, b) => acc +
          when(lit(2) * size(filter(hs, h => bitOf(h, b) === 1)) >= n,
            pow(lit(2.0), b).cast(LongType)).otherwise(0L)))
      .otherwise(lit(null).cast(LongType))
  }

  /** The near-dup dedup FILTER pipelines actually run: MinHash-LSH
    * candidate pairs → connected components → keep each cluster's
    * lowest-id member (the [[duplicateClusters]] label) plus every
    * unclustered doc, dropping the rest. Returns the surviving rows of
    * `docs` with their original columns (one anti-join against the
    * dropped-id set — clusters only hold docs that had a candidate
    * pair, so the anti-join's right side is small relative to a mostly-
    * unique corpus). Composes the d03/d06 machinery into the actual
    * corpus-reduction step rather than a diagnostic. */
  def dedupSurvivors(docs: DataFrame, idCol: String, textCol: String,
      bucketCap: Int = Int.MaxValue): DataFrame = {
    val pairs = minhashCandidates(docs, idCol, textCol, bucketCap = bucketCap)
    val dropped = duplicateClusters(pairs)
      .filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id").as("_graft_drop"))
    docs.join(dropped, col(idCol) === col("_graft_drop"), "left_anti")
  }

  /** [[dedupSurvivors]] with a QUALITY-aware representative: each
    * cluster keeps its member with the highest `scoreCol` (ties to the
    * lower id) instead of blindly the lowest id — "keep the longest /
    * highest-quality duplicate", which is what production pipelines
    * actually do (a truncated page and its full version are near-dups;
    * you want the full one). The per-cluster argmax is a window over
    * cluster members only (clusters are tiny relative to the corpus);
    * unclustered docs pass untouched via the same single anti-join. */
  def dedupSurvivorsBy(docs: DataFrame, idCol: String, textCol: String,
      scoreCol: String, bucketCap: Int = Int.MaxValue): DataFrame = {
    val pairs = minhashCandidates(docs, idCol, textCol, bucketCap = bucketCap)
    val members = duplicateClusters(pairs)
      .join(docs.select(col(idCol).cast("long").as("doc_id"),
        col(scoreCol).as("_graft_score")), Seq("doc_id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_id"))
      .orderBy(col("_graft_score").desc, col("doc_id"))
    val dropped = members
      .withColumn("_graft_rk", row_number().over(w))
      .filter(col("_graft_rk") > 1)
      .select(col("doc_id").as("_graft_drop"))
    docs.join(dropped, col(idCol) === col("_graft_drop"), "left_anti")
  }

  /** Edit-distance self-join over SHORT strings (names, titles, codes —
    * the entity-resolution / typo-clustering primitive): all pairs
    * `(id1 < id2, dist)` with `levenshtein(s1, s2) <= maxDist`.
    *
    * Candidate screen = DELETION NEIGHBORHOODS (FastSS, Bocek et al.
    * 2007 — the SymSpell recipe): each string fans out to every variant
    * reachable by deleting up to `maxDist` characters, candidates are
    * pairs sharing a variant (one equi-join on the variant string), and
    * survivors verify with the exact DP `levenshtein`. The screen is
    * provably COMPLETE: any alignment witnessing `lev(s1,s2) = e <= d`
    * deletes at most `e` characters from each side to reach a common
    * string (a substitution deletes one on each side, an insert/delete
    * deletes one on the longer side), so true pairs always share a
    * variant and the verify only trims false positives — which is why
    * the d12 oracle can be a genuine brute-force cross join rather than
    * a screen replay.
    *
    * Scale shape: a string of length L fans out to Σ C(L, 0..d)
    * variants (L+1 at d=1) — map-only — and the join groups by variant
    * key, which is naturally balanced: two strings share a variant only
    * if they already nearly agree, so group size tracks the true
    * near-match count, not the corpus (unlike q-gram postings, where
    * one common gram collects everything). Adversarially hot variants
    * (mass-duplicated strings) can be dropped whole with `dfCap`
    * (0 = off; dropping a key whole keeps output deterministic, the
    * [[jaccardPairs]] discipline, at the cost of recall on those keys).
    * Not for long text: variant count and `levenshtein` cost both grow
    * with length — document-scale near-dup belongs to
    * [[minhashCandidates]] / [[simhashPairs]] / [[duplicateSpans]]. */
  def editDistancePairs(df: DataFrame, idCol: String, strCol: String,
      maxDist: Int = 1, dfCap: Int = 0): DataFrame = {
    require(maxDist >= 0 && maxDist <= 3,
      "maxDist beyond 3 explodes the deletion neighborhood; use the gram/minhash family")
    val sp = df.sparkSession
    import sp.implicits._
    val rows = Spread.spread(
      df.select(col(idCol).cast("long").as("_graft_id"),
          col(strCol).cast("string").as("_graft_s"))
        .filter(col("_graft_id").isNotNull && col("_graft_s").isNotNull),
      col("_graft_id"))
    val variants = rows.as[(Long, String)]
      .mapPartitions { it =>
        it.flatMap { case (id, s) =>
          // all distinct strings reachable by <= maxDist deletions; L is
          // short by contract so the recursion is a few hundred calls
          val out = collection.mutable.HashSet.empty[String]
          def rec(str: String, d: Int): Unit = {
            out.add(str)
            if (d > 0) {
              var i = 0
              while (i < str.length) {
                rec(str.substring(0, i) + str.substring(i + 1), d - 1)
                i += 1
              }
            }
          }
          rec(s, maxDist)
          out.iterator.map(v => (v, id))
        }
      }.toDF("_graft_v", "_graft_vid")
    val screened =
      if (dfCap <= 0) variants
      else {
        val hot = variants.groupBy(col("_graft_v"))
          .agg(count(lit(1)).as("_graft_df"))
          .filter(col("_graft_df") > dfCap)
          .select(col("_graft_v"))
        variants.join(hot, Seq("_graft_v"), "left_anti")
      }
    val cands = screened.as("x").join(screened.as("y"),
        col("x._graft_v") === col("y._graft_v") &&
          col("x._graft_vid") < col("y._graft_vid"))
      .select(col("x._graft_vid").as("id1"), col("y._graft_vid").as("id2"))
      .distinct()
    cands
      .join(rows.select(col("_graft_id").as("id1"), col("_graft_s").as("_graft_s1")),
        Seq("id1"))
      .join(rows.select(col("_graft_id").as("id2"), col("_graft_s").as("_graft_s2")),
        Seq("id2"))
      .withColumn("dist", levenshtein(col("_graft_s1"), col("_graft_s2")))
      .filter(col("dist") <= maxDist)
      .select(col("id1"), col("id2"), col("dist"))
  }
}
