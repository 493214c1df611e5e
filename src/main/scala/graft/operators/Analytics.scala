package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Event-sequence analytics: ordered funnels and cohort retention — the
  * two workhorse product-analytics operators over an events table. Both
  * are pure relational compositions (joins + partial-aggregating hash
  * aggs keyed on the user), so they shuffle user-sized state only and
  * scale with the events volume, never a cross product.
  */
object Analytics {

  /** Strict ordered funnel: for each user, step i qualifies at the
    * earliest `steps(i)`-event whose timestamp is STRICTLY after the
    * user's step i-1 qualifying time. Emits one row per step:
    * (step, event_type, users = count of users reaching it).
    *
    * Formulated as one aggregation per step joined back on the user key —
    * timestamp comparisons only (no window-frame row ordering), so ties
    * in event time cannot make results depend on row order, and every
    * aggregation combines map-side. The user-key shuffle is reused across
    * steps (same partitioning; AQE reuses the exchange). */
  def funnel(events: DataFrame, userCol: String, typeCol: String, tsCol: String,
      steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    // chain of per-user qualifying times, built LAZILY — one plan, one
    // action; union branches share the step-(i-1) subtree and Spark's
    // exchange reuse computes it once
    val reachedFrames = steps.zipWithIndex.tail.scanLeft(
      events.filter(col(typeCol) === steps.head)
        .groupBy(col(userCol).as("u")).agg(min(col(tsCol)).as("t"))) {
      case (prev, (s, _)) =>
        events.filter(col(typeCol) === s)
          .join(prev, col(userCol) === col("u") && col(tsCol) > col("t"))
          .groupBy(events(userCol).as("u")).agg(min(col(tsCol)).as("t"))
    }
    reachedFrames.zip(steps).zipWithIndex.map { case ((reached, s), i) =>
      reached.agg(count(lit(1)).as("users"))
        .select(lit(i + 1).as("step"), lit(s).as("event_type"), col("users"))
    }.reduce(_.unionAll(_))
  }

  /** Exact EXCLUSIVE global prefix sum over `valueCol` in `orderCol`
    * order, WITHOUT a single-partition window. The classic two-level scan
    * expressed relationally:
    *
    *   1. coarse bucket = orderCol div bucketSize (monotone in the order);
    *   2. per-bucket totals (tiny hash agg) → per-bucket offsets via a
    *      cumulative window over the BUCKET rows only (N/bucketSize rows —
    *      pick bucketSize ≈ √N at scale so this stays thousands of rows,
    *      never the data);
    *   3. broadcast-join offsets back, within-bucket cumulative window
    *      partitioned BY bucket (parallel).
    *
    * Exact — bit-identical to `sum(v) OVER (ORDER BY o)` minus the row's
    * own value. Requires `orderCol` to be a unique non-negative integral
    * key. Appends `outCol`.
    *
    * Determinism pin: the within-bucket frame is a RANGE frame over the
    * bigint order key — "sum of all rows with a STRICTLY SMALLER key" —
    * not a ROWS frame. For unique keys the two are identical, but RANGE
    * leaves the physical window NO tie-ordering freedom at all: even if
    * a caller violates the uniqueness contract, equal keys get equal
    * (all-strictly-smaller) prefixes on every run, every partitioning,
    * every engine, instead of an arbitrary-order running sum.
    */
  def withPrefixSum(df: DataFrame, orderCol: String, valueCol: String,
      outCol: String, bucketSize: Long = 1024L): DataFrame = {
    require(bucketSize >= 1, "bucketSize must be positive")
    require(!df.columns.exists(_.startsWith("_graft_ps")),
      "input already has _graft_ps staging columns")
    val staged = df.withColumn("_graft_ps_k",
        expr(s"CAST($orderCol AS BIGINT)"))
      .withColumn("_graft_ps_b", expr(s"_graft_ps_k div $bucketSize"))
    val offsets = staged.groupBy(col("_graft_ps_b"))
      .agg(sum(col(valueCol)).as("_graft_ps_tot"))
      .withColumn("_graft_ps_off",
        coalesce(sum(col("_graft_ps_tot")).over(
          Window.orderBy(col("_graft_ps_b"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .drop("_graft_ps_tot")
    val within = Window.partitionBy(col("_graft_ps_b"))
      .orderBy(col("_graft_ps_k"))
      .rangeBetween(Window.unboundedPreceding, -1)
    staged.join(broadcast(offsets), Seq("_graft_ps_b"))
      .withColumn(outCol,
        col("_graft_ps_off") + coalesce(sum(col(valueCol)).over(within),
          lit(0L)))
      .drop("_graft_ps_b", "_graft_ps_k", "_graft_ps_off")
  }

  /** [[withPrefixSum]] PER GROUP: exact exclusive prefix sum of
    * `valueCol` in `orderCol` order within each `partitionCol` group,
    * via the same two-level scan — per-(group, bucket) totals first
    * (ordinary hash aggregate), then bucket offsets by a window over
    * the TINY per-bucket frame (one row per populated bucket, windowed
    * per group), then the within-bucket window. No group ever runs as
    * one window partition: a billion-row group is thousands of
    * bucket-bounded partitions plus a broadcastable offset frame —
    * the scale shape a per-source cumulative scan needs (a naive
    * `Window.partitionBy(group).orderBy(id)` serializes each group
    * onto one task). Same RANGE-frame determinism pin as
    * [[withPrefixSum]]: the within-bucket prefix is "sum over strictly
    * smaller order keys", so duplicate keys (a contract violation) still
    * yield one deterministic answer instead of a run-dependent one. */
  def withPrefixSumBy(df: DataFrame, partitionCol: String, orderCol: String,
      valueCol: String, outCol: String, bucketSize: Long = 1024L): DataFrame = {
    require(bucketSize >= 1, "bucketSize must be positive")
    require(!df.columns.exists(_.startsWith("_graft_ps")),
      "input already has _graft_ps staging columns")
    val staged = df.withColumn("_graft_ps_k",
        expr(s"CAST($orderCol AS BIGINT)"))
      .withColumn("_graft_ps_b", expr(s"_graft_ps_k div $bucketSize"))
    val offsets = staged.groupBy(col(partitionCol), col("_graft_ps_b"))
      .agg(sum(col(valueCol)).as("_graft_ps_tot"))
      .withColumn("_graft_ps_off",
        coalesce(sum(col("_graft_ps_tot")).over(
          Window.partitionBy(col(partitionCol)).orderBy(col("_graft_ps_b"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .drop("_graft_ps_tot")
    val within = Window.partitionBy(col(partitionCol), col("_graft_ps_b"))
      .orderBy(col("_graft_ps_k"))
      .rangeBetween(Window.unboundedPreceding, -1)
    staged.join(broadcast(offsets), Seq(partitionCol, "_graft_ps_b"))
      .withColumn(outCol,
        col("_graft_ps_off") + coalesce(sum(col(valueCol)).over(within),
          lit(0L)))
      .drop("_graft_ps_b", "_graft_ps_k", "_graft_ps_off")
  }

  /** Latest-wins CDC merge (the MERGE INTO / SCD-1 pattern): apply an
    * `updates` changeset onto a `base` snapshot. Each key keeps the row
    * with the highest `versionCol` (updates win version ties — base rows
    * sort as older at equal version); rows whose surviving version has
    * `deletedCol` true are dropped (tombstones). `updates` may carry
    * columns `base` lacks (schema evolution) — base rows get null.
    *
    * Determinism contract: `(keyCols, versionCol)` must be unique WITHIN
    * `updates` (and within `base`), or callers must pass `tieBreakCols`
    * that total-order equal-version rows — otherwise `row_number` picks
    * an arbitrary survivor that can differ across runs/partitionings.
    *
    * One union + one key-partitioned window: a single shuffle on the
    * merge key, no driver-side state. At 100 TB this is exactly the
    * compaction shape lakehouse engines run; skewed hot keys are bounded
    * by their own change volume, not the table. */
  def upsertLatest(base: DataFrame, updates: DataFrame, keyCols: Seq[String],
      versionCol: String, deletedCol: Option[String] = None,
      tieBreakCols: Seq[String] = Nil): DataFrame = {
    require(keyCols.nonEmpty, "upsertLatest needs at least one key column")
    val unioned = base.withColumn("_graft_src", lit(0))
      .unionByName(updates.withColumn("_graft_src", lit(1)),
        allowMissingColumns = true)
    val order = Seq(col(versionCol).desc, col("_graft_src").desc) ++
      tieBreakCols.map(col(_).desc)
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(order: _*)
    val survived = unioned.withColumn("_graft_rn", row_number().over(w))
      .filter(col("_graft_rn") === 1)
      .drop("_graft_rn", "_graft_src")
    deletedCol.fold(survived)(d =>
      survived.filter(!coalesce(col(d), lit(false))).drop(d))
  }

  /** Key-distribution diagnostics for shuffle planning: row/key counts,
    * the heaviest key's share, exact p50/p99 of per-key counts, and the
    * skew ratio max/avg. Emits ONE row — the operator a pipeline runs
    * before choosing salting / AQE-skew settings for a join on `keyCol`.
    * Two partial-aggregating hash aggs; per-key state is a counter.
    *
    * `approx = true` is the extreme-cardinality escape hatch: exact
    * `percentile` holds every distinct per-key count in agg state —
    * bounded for typical skew profiles, but at billions of DISTINCT
    * count values `approx_percentile` (fixed-size sketch state) is the
    * scale-safe route. Exact stays the default (and the oracle path). */
  /** Per-group HyperLogLog REGISTER table — the mergeable distinct-count
    * sketch (Flajolet 2007; the `approx_count_distinct` internals made
    * an explicit, storable, engine-replayable table). One row per
    * (group, bucket): bucket = low `p` bits of a 60-bit md5-derived
    * hash, register = max over the bucket's values of the leading-zero
    * rank rho of the remaining 60-p bits. DETERMINISTIC cross-engine by
    * construction — the hash is md5 text prefix (not JVM hashCode), rho
    * is a binary-string length (no platform clz), so DuckDB reproduces
    * every register bit-for-bit. Two hash aggs, map-side combining,
    * state = m=2^p registers per group regardless of input size: the
    * 100 TB cardinality profile. Registers UNION-MERGE across shards /
    * days / streams via [[hllMergeRegisters]] — the property that makes
    * the sketch a storable incremental aggregate, unlike an exact
    * count-distinct. */
  def hllRegisters(df: DataFrame, groupCol: String, valueCol: String,
      p: Int = 8): DataFrame = {
    require(p >= 4 && p <= 14, "p must be in [4, 14]")
    val m = 1 << p
    val h = conv(substring(md5(col(valueCol).cast("string")), 1, 15),
      16, 10).cast("long") // 60 bits: sign-safe in both engines
    val w = shiftright(h, p)
    val rho = when(w === 0, lit(61 - p))
      .otherwise(lit(60 - p) - length(bin(w)) + 1)
    df.filter(col(valueCol).isNotNull)
      .select(col(groupCol), h.bitwiseAND(lit((m - 1).toLong)).as("b"),
        rho.as("rho"))
      .groupBy(col(groupCol), col("b")).agg(max(col("rho")).as("r"))
  }

  /** Merge two HLL register tables (same `p`): union + per-bucket max.
    * merge(sketch(A), sketch(B)) == sketch(A ∪ B) EXACTLY (register
    * equality, spec-pinned) — the algebra that lets per-shard /
    * per-day sketches roll up without touching raw data. */
  def hllMergeRegisters(a: DataFrame, b: DataFrame,
      groupCol: String): DataFrame =
    a.unionByName(b).groupBy(col(groupCol), col("b"))
      .agg(max(col("r")).as("r"))

  /** HLL estimate from a register table: the standard raw estimator
    * `alpha_m · m² / Σ 2^(-r_j)` with linear-counting small-range
    * correction (`m · ln(m / zeros)` when the raw estimate ≤ 2.5m and
    * empty buckets remain). The harmonic sum is computed EXACTLY — an
    * integer sum of `2^(rmax - r_j)` through DECIMAL(38,0), scaled back
    * by `2^rmax` — so both engines feed identical doubles into the one
    * fixed IEEE expression; output round-4. */
  def hllEstimate(regs: DataFrame, groupCol: String, p: Int = 8): DataFrame = {
    val m = 1 << p
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val gm = regs.groupBy(col(groupCol))
      .agg(max(col("r")).as("rmax"), count(lit(1)).as("ne"))
    val num = regs.join(gm, Seq(groupCol))
      .groupBy(col(groupCol))
      .agg(sum(pow(lit(2.0), col("rmax") - col("r")).cast(dec38)).as("nn"))
    val numt = (col("nn") +
      (lit(m.toLong) - col("ne")).cast(dec38) *
        pow(lit(2.0), col("rmax")).cast(dec38)).cast("double")
    val eraw = lit(alpha) * lit(m.toDouble) * lit(m.toDouble) *
      pow(lit(2.0), col("rmax")) / col("numt")
    gm.join(num, Seq(groupCol))
      .withColumn("numt", numt)
      .withColumn("eraw", eraw)
      .withColumn("zeros", lit(m.toLong) - col("ne"))
      .select(col(groupCol),
        round(when(col("zeros") > 0 && col("eraw") <= lit(2.5 * m),
            lit(m.toDouble) * log(lit(m.toDouble) / col("zeros").cast("double")))
          .otherwise(col("eraw")), 4).as("hll_distinct"))
  }

  /** [[hllRegisters]] → [[hllEstimate]] composed: per-group approximate
    * distinct count with ~1.04/√m relative error, two shuffles of
    * register-sized frames. */
  def hllDistinct(df: DataFrame, groupCol: String, valueCol: String,
      p: Int = 8): DataFrame =
    hllEstimate(hllRegisters(df, groupCol, valueCol, p), groupCol, p)

  /** Distinct-INTERSECTION estimate from two register tables via
    * inclusion–exclusion: `|A∩B| ≈ est(A) + est(B) − est(A ∪ B)`, with
    * the union sketch one [[hllMergeRegisters]] max-merge away — the
    * audience-overlap / cross-split-contamination shape ("how many ids
    * appear on both sides") answered from two stored sketches without
    * touching raw data. Clamped at 0 (inclusion–exclusion can go
    * negative within sketch error; the relative error grows as the true
    * overlap shrinks — the documented HLL trade KMV's direct estimator
    * (q86) avoids at the cost of keeping hash samples). Computed from
    * the round-4 estimates so both engines land on identical doubles.
    * Output per group: `(est_a, est_b, est_union, est_intersect)`. */
  def hllIntersectEstimate(a: DataFrame, b: DataFrame, groupCol: String,
      p: Int = 8): DataFrame = {
    val ea = hllEstimate(a, groupCol, p)
      .withColumnRenamed("hll_distinct", "est_a")
    val eb = hllEstimate(b, groupCol, p)
      .withColumnRenamed("hll_distinct", "est_b")
    val eu = hllEstimate(hllMergeRegisters(a, b, groupCol), groupCol, p)
      .withColumnRenamed("hll_distinct", "est_union")
    ea.join(eb, Seq(groupCol)).join(eu, Seq(groupCol))
      .select(col(groupCol), col("est_a"), col("est_b"), col("est_union"),
        round(greatest(lit(0.0),
          col("est_a") + col("est_b") - col("est_union")), 4)
          .as("est_intersect"))
  }

  /** DDSKETCH register table — the mergeable RELATIVE-ERROR quantile
    * sketch (Masson, Rim & Lee, VLDB 2019: "DDSketch: a fast and
    * fully-mergeable quantile sketch with relative-error guarantees"),
    * completing the storable-sketch family next to the HLL
    * ([[hllRegisters]]), CM and KMV tables: one row per (group,
    * bucket), bucket `i = ceil(ln(x)/ln(gamma))` so every value in
    * bucket i lies in (γ^(i-1), γ^i] and the bucket MIDPOINT
    * 2γ^i/(γ+1) is within α = (γ−1)/(γ+1) RELATIVE error of any value
    * it covers — the p99-latency / token-count-tail profile a 100 TB
    * pipeline stores per day per group and rolls up by plain register
    * addition, never re-reading raw data.
    *
    * Determinism: the only float op with engine freedom is the log
    * ratio, pinned by the suite's round-9 convention BEFORE the ceil
    * (a value landing exactly on a bucket boundary gets the same
    * bucket in every engine); counts are exact BIGINTs. Contract:
    * strictly POSITIVE values (latencies, sizes, counts — the
    * DDSketch domain); null/zero/negative rows are EXCLUDED (the
    * paper's zero/negative stores are a separate mirror, out of scope
    * and loud here in the scaladoc rather than silently mis-bucketed).
    * One partial-combining hash agg; state = occupied buckets per
    * group, ~log_γ(max/min) ≈ a few hundred rows regardless of input
    * size. Output: `(group, bucket, cnt)`. */
  def ddsketchRegisters(df: DataFrame, groupCol: String,
      valueCol: String, gamma: Double = 1.02): DataFrame = {
    require(gamma > 1.0, "gamma must exceed 1 (alpha = (gamma-1)/(gamma+1))")
    val x = col(valueCol).cast("double")
    df.filter(x.isNotNull && x > 0.0)
      .select(col(groupCol).as("g"),
        ceil(round(log(x) / lit(math.log(gamma)), 9)).cast("long")
          .as("bucket"))
      .groupBy(col("g"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Merge two DDSketch register tables (same γ): union + per-bucket
    * SUM. merge(sketch(A), sketch(B)) == sketch(A ∪ B) exactly
    * (register equality, spec-pinned) — the full-mergeability that
    * makes the sketch a storable incremental aggregate. */
  def ddsketchMergeRegisters(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy(col("g"), col("bucket"))
      .agg(sum(col("cnt")).as("cnt"))

  /** Quantile estimates from a DDSketch register table: for each
    * requested q, the value estimate is the midpoint `2γ^b/(γ+1)` of
    * the first bucket whose cumulative count reaches rank
    * `ceil(q·n)` (rank 1 floor — the exact-order-statistic convention
    * [[bootstrapMeanCi]] uses, no interpolation rule to disagree on).
    * Guaranteed within α relative error of the TRUE q-quantile of the
    * sketched values. Per-group bucket scan is a tiny window over the
    * register rows (hundreds per group, never the data); the estimate
    * is one fixed IEEE chain rounded to 6. Output:
    * `(group, q, rank, bucket, estimate)`, one row per (group,
    * requested quantile). */
  def ddsketchQuantiles(regs: DataFrame, quantiles: Seq[Double],
      gamma: Double = 1.02): DataFrame = {
    require(quantiles.nonEmpty &&
      quantiles.forall(q => q > 0.0 && q <= 1.0),
      "quantiles must lie in (0, 1]")
    // the register table feeds TWO consumers (per-group totals and the
    // cumulative walk) and exchanges are not reused across them — if
    // `regs` is the lazy output of [[ddsketchRegisters]], each branch
    // would re-run the corpus-wide aggregation. Registers are
    // (groups × buckets)-sized: materialize once.
    val mat = regs.localCheckpoint(true)
    val totals = mat.groupBy(col("g")).agg(sum(col("cnt")).as("n"))
    val cum = mat.withColumn("cum",
      sum(col("cnt")).over(Window.partitionBy(col("g"))
        .orderBy(col("bucket"))
        .rowsBetween(Window.unboundedPreceding, 0)))
    val qs = quantiles.distinct.sorted
    val qFrame = totals.select(col("g"), col("n"),
        explode(array(qs.map(lit(_)): _*)).as("q"))
      .withColumn("rank",
        greatest(lit(1L), ceil(col("q") * col("n")).cast("long")))
    val out = qFrame.join(cum, Seq("g"))
      .filter(col("cum") >= col("rank"))
      .groupBy(col("g"), col("q"), col("rank"))
      .agg(min(col("bucket")).as("bucket"))
      .withColumn("estimate",
        round(lit(2.0) * pow(lit(gamma), col("bucket")) /
          lit(gamma + 1.0), 6))
      .select(col("g"), col("q"), col("rank"), col("bucket"),
        col("estimate"))
      .localCheckpoint(true)
    Iterate.release(mat)
    out
  }

  /** SAMPLE-RATIO-MISMATCH check over the [[abTestZ]] md5 unit split —
    * the assignment-integrity gate every experiment readout should be
    * preceded by (a biased splitter invalidates z/U/CUPED before any
    * metric is read): observed arm counts vs the expected `ratioA`
    * split, scored by the 1-df chi-square
    * `Σ (observed − expected)²/expected`. The standard alarm is
    * χ² > 10.83 (p < 0.001 — SRM is checked at a harsh threshold
    * because it fires on infrastructure bugs, not noise).
    *
    * ENGINE-EXACT FORM (round 14): with integer percentage p and
    * n = n_a + n_b, the 1-df statistic algebraically collapses to
    * `χ² = d² / (n·p·(100−p))` where `d = 100·n_a − p·n` — one
    * integer-exact numerator/denominator pair, so the alarm is the
    * PURE INTEGER comparison `100·d² > 1083·n·p·(100−p)` (χ² > 10.83
    * cross-multiplied): no floating point touches the decision at all,
    * and the emitted χ² is a single correctly-rounded IEEE division of
    * two exact integers (identical in every engine) rounded to 9. d²
    * rides DECIMAL(38,0) — at 10¹¹ units d can reach ~10¹³, so the
    * square must not fold through BIGINT. One conditional hash agg
    * (the abTestZ one-row shape); empty input emits the one row with
    * zero counts and NULL χ².
    * Output: `(n_a, n_b, expected_a, chi2, srm_alarm)`. */
  def srmCheck(events: DataFrame, unitCol: String,
      ratioA: Double = 0.5): DataFrame = {
    // the md5 splitter works in hundredths (bucket = hash mod 100), so
    // the target ratio must be a whole percentage — reject 0.333 loudly
    // instead of silently testing against a ratio the splitter can't hit
    val pctA = math.round(ratioA * 100).toInt
    require(pctA >= 1 && pctA <= 99 &&
      math.abs(ratioA * 100 - pctA) < 1e-9,
      "ratioA must be a whole percentage in [0.01, 0.99]")
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val units = events.filter(col(unitCol).isNotNull)
      .select(col(unitCol).as("_graft_u")).distinct()
      .withColumn("_graft_arm",
        when(conv(substring(md5(col("_graft_u").cast("string")), 1, 8),
          16, 10).cast("long") % 100 < lit(pctA.toLong), "a")
          .otherwise("b"))
    val n = col("n_a") + col("n_b")
    val d = lit(100L) * col("n_a") - lit(pctA.toLong) * n
    val d2 = d.cast(dec38) * d.cast(dec38)
    val den = (n * lit(pctA.toLong) * lit(100L - pctA)).cast(dec38)
    units.agg(
        coalesce(sum(when(col("_graft_arm") === "a", 1L).otherwise(0L)),
          lit(0L)).as("n_a"),
        coalesce(sum(when(col("_graft_arm") === "b", 1L).otherwise(0L)),
          lit(0L)).as("n_b"))
      // expected_a = p·n/100: integer product, ONE IEEE division — both
      // engines correctly-round the same rational to the same double
      .withColumn("expected_a",
        round((lit(pctA.toLong) * n).cast("double") / lit(100.0), 9))
      .withColumn("chi2",
        when(n === 0L, lit(null).cast("double"))
          .otherwise(round(d2.cast("double") / den.cast("double"), 9)))
      .withColumn("srm_alarm",
        when(n === 0L, lit(null).cast("boolean"))
          .otherwise(d2 * lit(100L).cast(dec38) >
            den * lit(1083L).cast(dec38)))
      .select(col("n_a"), col("n_b"), col("expected_a"), col("chi2"),
        col("srm_alarm"))
  }

  def keySkewProfile(df: DataFrame, keyCol: String, approx: Boolean = false): DataFrame = {
    def pct(c: org.apache.spark.sql.Column, p: Double) =
      if (approx) approx_percentile(c, lit(p), lit(10000))
      else percentile(c, lit(p))
    val counts = df.groupBy(col(keyCol)).agg(count(lit(1)).as("cnt"))
    val m = counts.agg(max(col("cnt")).as("max_cnt"))
    counts.crossJoin(broadcast(m))
      .agg(
        sum(col("cnt")).as("n_rows"),
        count(lit(1)).as("n_keys"),
        max(col("max_cnt")).as("max_cnt"),
        count(when(col("cnt") === col("max_cnt"), 1)).as("n_keys_at_max"),
        pct(col("cnt"), 0.5).cast("double").as("p50_cnt"),
        pct(col("cnt"), 0.99).cast("double").as("p99_cnt"))
      // all-integer inputs: the ratio is a single IEEE division + round,
      // bit-identical in any engine
      .withColumn("skew_ratio", round(
        col("max_cnt").cast("double") * col("n_keys").cast("double") /
          col("n_rows").cast("double"), 6))
  }

  /** Exact equi-depth histogram binning WITHOUT a global sort: bin
    * boundaries come from one `percentile` aggregation (bounded state),
    * rows are assigned by comparing against the broadcast boundary array
    * (bin = 1 + #boundaries strictly below the value), then per-bin stats
    * aggregate map-side. Contrast with `ntile`, whose global row-number
    * window would single-partition the table at scale. Values equal to a
    * boundary land in the lower bin (strict `>` — deterministic in any
    * engine given identical boundaries). Rows with a null `valueCol` are
    * excluded entirely (they have no quantile position; without the
    * filter they'd inflate bin 1's count while its min/max/avg ignored
    * them) — pre-filter or impute upstream to keep them.
    *
    * `approx = true` swaps the exact `percentile` boundary agg (state =
    * the column's distinct values) for `approx_percentile` (fixed-size
    * sketch) — the route for extreme-cardinality columns at 100 TB.
    * Bin ASSIGNMENT is unchanged either way; only boundary placement
    * becomes approximate. Exact stays the default / oracle path. */
  def quantileBins(df: DataFrame, valueCol: String, nBins: Int,
      approx: Boolean = false): DataFrame = {
    require(nBins >= 2, "need at least 2 bins")
    val v = col(valueCol).cast("double")
    val nonNull = df.filter(v.isNotNull)
    val ps = array((1 until nBins).map(i => lit(i.toDouble / nBins)): _*)
    val cuts = nonNull.agg(
      (if (approx) approx_percentile(v, ps, lit(10000)) else percentile(v, ps))
        .as("cuts"))
    nonNull.crossJoin(broadcast(cuts))
      .withColumn("bin",
        (lit(1) + size(filter(col("cuts"), c => v > c))).cast("int"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        min(v).as("bin_min"),
        max(v).as("bin_max"),
        round(sum(v.cast(org.apache.spark.sql.types.DecimalType(18, 4)))
          .cast("double") / count(lit(1)).cast("double"), 6).as("bin_avg"))
  }

  /** POPULATION STABILITY INDEX drift monitor between two snapshots of
    * a numeric column — the standard "has this feature's distribution
    * moved since the reference period" check a 100 TB pipeline runs
    * before trusting new data:
    *
    *   PSI = Σ_bins (q_i − p_i) · ln(q_i / p_i)
    *
    * with p/q the reference/current bin shares over the REFERENCE's
    * equi-depth bins ([[quantileBins]]' boundary discipline: one exact
    * `percentile` agg, broadcast cuts, strict `>` assignment — no
    * global sort). Shares are Laplace-smoothed ((n_i + 1)/(N + nBins))
    * so empty bins stay finite and the whole expression is fixed IEEE
    * over integer counts — replayed bit-for-bit by the oracle. Rule of
    * thumb: PSI < 0.1 stable, 0.1–0.25 moderate shift, > 0.25 act.
    *
    * Output: one row per bin `(bin, ref_n, cur_n, ref_pct, cur_pct,
    * psi_term, psi_total)` — every bin 1..nBins present even when
    * empty, `psi_total` repeated per row (DECIMAL addends, so the
    * 10-term sum is partition-order independent). An EMPTY reference
    * has no quantiles: current rows become unbinnable and the result
    * degrades to all-zero counts (PSI 0) rather than a throw.
    *
    * Scale shape: one bounded-state percentile agg + two map-side bin
    * counts + a broadcast join against the literal bin frame; `approx`
    * swaps boundary placement to `approx_percentile` for
    * extreme-cardinality columns, assignment unchanged. */
  def psiDrift(reference: DataFrame, current: DataFrame, valueCol: String,
      nBins: Int = 10, approx: Boolean = false): DataFrame = {
    require(nBins >= 2, "need at least 2 bins")
    val v = col(valueCol).cast("double")
    val ps = array((1 until nBins).map(i => lit(i.toDouble / nBins)): _*)
    val cuts = reference.filter(v.isNotNull).agg(
      (if (approx) approx_percentile(v, ps, lit(10000)) else percentile(v, ps))
        .as("cuts"))
    def binCounts(df: DataFrame, out: String) =
      df.filter(v.isNotNull).crossJoin(broadcast(cuts))
        .withColumn("bin",
          (lit(1) + size(filter(col("cuts"), c => v > c))).cast("int"))
        .groupBy(col("bin")).agg(count(lit(1)).as(out))
    val sp = reference.sparkSession
    val bins = sp.range(1, nBins + 1).select(col("id").cast("int").as("bin"))
    val refB = binCounts(reference, "ref_n")
    val curB = binCounts(current, "cur_n")
    val refTot = reference.filter(v.isNotNull).agg(count(lit(1)).as("ref_tot"))
    val curTot = current.filter(v.isNotNull).agg(count(lit(1)).as("cur_tot"))
    val joined = bins
      .join(broadcast(refB), Seq("bin"), "left_outer")
      .join(broadcast(curB), Seq("bin"), "left_outer")
      .crossJoin(broadcast(refTot)).crossJoin(broadcast(curTot))
      .withColumn("ref_n", coalesce(col("ref_n"), lit(0L)))
      .withColumn("cur_n", coalesce(col("cur_n"), lit(0L)))
      .withColumn("ref_pct", (col("ref_n") + 1).cast("double") /
        (col("ref_tot") + nBins).cast("double"))
      .withColumn("cur_pct", (col("cur_n") + 1).cast("double") /
        (col("cur_tot") + nBins).cast("double"))
      .withColumn("psi_term",
        (col("cur_pct") - col("ref_pct")) *
          log(col("cur_pct") / col("ref_pct")))
    joined
      .withColumn("psi_total",
        sum(col("psi_term").cast(DecimalType(28, 12)))
          .over(Window.partitionBy(lit(1))).cast("double"))
      .select(col("bin"), col("ref_n"), col("cur_n"), col("ref_pct"),
        col("cur_pct"), col("psi_term"), col("psi_total"))
  }

  /** CHI-SQUARE drift monitor for a CATEGORICAL column — [[psiDrift]]'s
    * sibling for discrete features (event types, sources, languages):
    * per category, expected current count under the reference share,
    *
    *   E_c = ref_n_c / ref_total · cur_total,   χ² = Σ (cur_n_c − E_c)²/E_c
    *
    * over the union of categories seen in either snapshot, with
    * Laplace-smoothed reference counts ((n+1)/(N+K)) so categories new
    * to the current snapshot contribute a finite, loud term instead of
    * a division by zero. All inputs are exact integer counts; the
    * per-category term is a fixed IEEE expression and the total sums
    * DECIMAL addends — the oracle replays it bit-for-bit. Output: one
    * row per category `(category, ref_n, cur_n, expected, chi2_term,
    * chi2_total, df)` with df = K − 1 repeated for the caller's p-value
    * lookup.
    *
    * Scale shape: two partial hash aggs on the category key, one
    * broadcast join of the (small) category frames, one tiny window for
    * the total — no sort, no global shuffle beyond the category agg. */
  def chiSquareDrift(reference: DataFrame, current: DataFrame,
      catCol: String): DataFrame = {
    val refC = reference.filter(col(catCol).isNotNull)
      .groupBy(col(catCol).cast("string").as("category"))
      .agg(count(lit(1)).as("ref_n"))
    val curC = current.filter(col(catCol).isNotNull)
      .groupBy(col(catCol).cast("string").as("category"))
      .agg(count(lit(1)).as("cur_n"))
    val joined = refC.join(curC, Seq("category"), "full_outer")
      .withColumn("ref_n", coalesce(col("ref_n"), lit(0L)))
      .withColumn("cur_n", coalesce(col("cur_n"), lit(0L)))
    val all = Window.partitionBy(lit(1))
    joined
      .withColumn("k", count(lit(1)).over(all))
      .withColumn("ref_tot", sum(col("ref_n")).over(all))
      .withColumn("cur_tot", sum(col("cur_n")).over(all))
      .withColumn("expected",
        (col("ref_n") + 1).cast("double") /
          (col("ref_tot") + col("k")).cast("double") *
          col("cur_tot").cast("double"))
      .withColumn("chi2_term",
        (col("cur_n").cast("double") - col("expected")) *
          (col("cur_n").cast("double") - col("expected")) / col("expected"))
      .withColumn("chi2_total",
        sum(col("chi2_term").cast(DecimalType(28, 12))).over(all)
          .cast("double"))
      .select(col("category"), col("ref_n"), col("cur_n"), col("expected"),
        col("chi2_term"), col("chi2_total"),
        (col("k") - 1).cast("int").as("df"))
  }

  /** Per-group winsorization + min-max scaling of a numeric feature —
    * the outlier-robust normalization step of a training-data pipeline.
    * Exact group percentiles (one bounded-state agg per group, broadcast
    * back), then clamp to [pLo, pHi] and scale to [0, 1] (degenerate
    * groups where pLo == pHi scale to 0.5). Appends `<valueCol>_wins`
    * and `<valueCol>_scaled` (rounded to 6 decimals). A null `groupCol`
    * is a group of its own (null-safe join key), so those rows are
    * winsorized against each other rather than silently dropped.
    *
    * `approx = true` switches the per-group percentile state from exact
    * (per-group distinct-value map) to a fixed-size `approx_percentile`
    * sketch — the escape hatch when a single group's value cardinality
    * is itself huge. Exact stays the default / oracle path. */
  def winsorize(df: DataFrame, groupCol: String, valueCol: String,
      pLo: Double = 0.05, pHi: Double = 0.95, approx: Boolean = false): DataFrame = {
    require(0 <= pLo && pLo < pHi && pHi <= 1, "need 0 <= pLo < pHi <= 1")
    val v = col(valueCol).cast("double")
    def pctAgg(p: Double) =
      if (approx) approx_percentile(v, lit(p), lit(10000)).cast("double")
      else percentile(v, lit(p))
    val pct = df.groupBy(col(groupCol).as("_graft_g"))
      .agg(pctAgg(pLo).as("_graft_plo"), pctAgg(pHi).as("_graft_phi"))
    val wins = least(greatest(v, col("_graft_plo")), col("_graft_phi"))
    df.join(broadcast(pct), col(groupCol) <=> col("_graft_g"))
      .drop("_graft_g")
      .withColumn(s"${valueCol}_wins", wins)
      .withColumn(s"${valueCol}_scaled",
        when(col("_graft_phi") > col("_graft_plo"),
          round((wins - col("_graft_plo")) /
            (col("_graft_phi") - col("_graft_plo")), 6))
          .otherwise(lit(0.5)))
      .drop("_graft_plo", "_graft_phi")
  }

  /** Robust (median/MAD) outlier scores per group (t47): the
    * quality-filtering signal mean/stddev z-scores get wrong on
    * heavy-tailed data — one extreme document drags the mean, while the
    * median and the median absolute deviation barely move. Emits
    * `<value>_med`, `<value>_mad` and the robust z-score
    * `<value>_rz = (x − med) / (1.4826 · MAD)` (1.4826 normalizes MAD
    * to σ under normality), NULL when MAD = 0 (degenerate group —
    * every score would be ±∞).
    *
    * Shape: two grouped EXACT percentile aggregations (median, then
    * median of |x − med|) + two broadcast joins of the tiny per-group
    * stats — never a window over the whole group, so a billion-row
    * group costs two aggregations, not a sort. Median/MAD are rounded
    * to 4 decimals (the q38 engine-parity convention) so the one
    * IEEE score division runs on parity-proven operands. `approx`
    * switches to the fixed-size `approx_percentile` sketch when a
    * single group's value cardinality is itself huge (the [[winsorize]]
    * escape hatch; exact stays the oracle path). */
  def robustScores(df: DataFrame, groupCol: String, valueCol: String,
      approx: Boolean = false): DataFrame = {
    val v = col(valueCol).cast("double")
    def med(c: org.apache.spark.sql.Column) =
      if (approx) approx_percentile(c, lit(0.5), lit(10000)).cast("double")
      else percentile(c, lit(0.5))
    val meds = df.groupBy(col(groupCol).as("_graft_g"))
      .agg(round(med(v), 4).as(s"${valueCol}_med"))
    val dev = df.join(broadcast(meds), col(groupCol) <=> col("_graft_g"))
      .drop("_graft_g")
    val mads = dev.groupBy(col(groupCol).as("_graft_g"))
      .agg(round(med(abs(v - col(s"${valueCol}_med"))), 4)
        .as(s"${valueCol}_mad"))
    dev.join(broadcast(mads), col(groupCol) <=> col("_graft_g"))
      .drop("_graft_g")
      .withColumn(s"${valueCol}_rz",
        when(col(s"${valueCol}_mad") > 0,
          round((v - col(s"${valueCol}_med")) /
            (lit(1.4826) * col(s"${valueCol}_mad")), 6)))
  }

  /** Item–item co-occurrence cosine similarity (q112 — the classic
    * item-based collaborative-filtering / basket-affinity primitive):
    * cos(i, j) = c_ij / √(c_i · c_j) over exact integer co-basket
    * counts, one IEEE expression per surviving pair (√ is
    * correctly-rounded by IEEE 754, so both engines agree bit-for-bit).
    *
    * Scale shape — the [[graft.operators.Graph.adamicAdar]] capped-wedge
    * discipline: the pair self-join is per BASKET, so a B-item basket
    * forms B² candidates; baskets larger than `basketCap` are dropped
    * WHOLE before the join (a 10-million-line order would otherwise
    * square), as are singleton baskets (no pairs). Counts c_i are taken
    * over the SAME capped frame so the math is self-consistent. Output:
    * top-`topN` pairs by similarity, ties broken by (i, j). */
  def cooccurrenceCosine(baskets: DataFrame, basketCol: String,
      itemCol: String, topN: Int = 50, basketCap: Int = 64): DataFrame = {
    require(topN >= 1, "topN must be positive")
    require(basketCap >= 2, "basketCap must be at least 2")
    val bi = baskets
      .select(col(basketCol).cast("long").as("bk"),
        col(itemCol).cast("long").as("it"))
      .filter(col("bk").isNotNull && col("it").isNotNull)
      .distinct()
    val ok = bi.join(
        bi.groupBy(col("bk")).agg(count(lit(1)).as("bsz"))
          .filter(col("bsz").between(2, basketCap)).select(col("bk")),
        Seq("bk"))
      .localCheckpoint(true) // feeds counts and both self-join sides
    val cnt = ok.groupBy(col("it")).agg(count(lit(1)).as("c"))
    val pairs = ok.as("x").join(ok.as("y"),
        col("x.bk") === col("y.bk") && col("x.it") < col("y.it"))
      .groupBy(col("x.it").as("i"), col("y.it").as("j"))
      .agg(count(lit(1)).as("cij"))
    val res = pairs
      .join(cnt.select(col("it").as("i"), col("c").as("ci")), Seq("i"))
      .join(cnt.select(col("it").as("j"), col("c").as("cj")), Seq("j"))
      .select(col("i"), col("j"),
        round(col("cij").cast("double") /
          sqrt(col("ci").cast("double") * col("cj").cast("double")), 6)
          .as("cos"))
      .orderBy(col("cos").desc, col("i"), col("j"))
      .limit(topN)
      .localCheckpoint(true)
    Iterate.release(ok)
    res
  }

  /** SCD-2 history intervals: turn a change log `(key, version/event
    * time, attrs…)` into validity ranges — `valid_from` = the change's
    * version, `valid_to` = the NEXT change's version for that key (null
    * while current), `is_current` flagging the open interval. The
    * warehouse pattern for "what did this row look like at time T"
    * (query with `valid_from <= T AND (valid_to > T OR valid_to IS
    * NULL)`). One key-partitioned window = one shuffle; `tieBreakCols`
    * disambiguate equal versions so the interval chain is total. */
  def scd2History(changes: DataFrame, keyCols: Seq[String], versionCol: String,
      tieBreakCols: Seq[String] = Nil): DataFrame = {
    require(keyCols.nonEmpty, "scd2History needs at least one key column")
    val order = (versionCol +: tieBreakCols).map(col(_).asc)
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(order: _*)
    changes
      .withColumn("valid_from", col(versionCol))
      .withColumn("valid_to", lead(col(versionCol), 1).over(w))
      .withColumn("is_current", col("valid_to").isNull)
  }

  /** Single-scan data profiling (the `ANALYZE TABLE`-style health check a
    * pipeline runs on arrival of a new drop): per column, null count,
    * exact distinct count, and min/max. ALL columns' statistics are
    * computed in ONE aggregation over ONE scan (every stat partial-
    * aggregates map-side), then melted to a row per column. min/max are
    * computed in the column's native type and only cast to string for
    * the uniform output schema.
    *
    * `approx = true` is the 100 TB route: k exact `count_distinct`s in
    * one Aggregate make Catalyst Expand the input (k+1)× before the
    * shuffle — one scan, but (k+1)× the shuffle rows. HLL++
    * `approx_count_distinct` needs no Expand (fixed-size sketch state per
    * column), so the profile really is one scan + one tiny shuffle.
    * Exact stays the default / oracle path. */
  def profileColumns(df: DataFrame, columns: Seq[String],
      approx: Boolean = false): DataFrame = {
    require(columns.nonEmpty, "profileColumns needs at least one column")
    val missing = columns.filterNot(df.columns.contains)
    require(missing.isEmpty, s"columns not in frame: ${missing.mkString(", ")}")
    def nd(c: String) =
      if (approx) approx_count_distinct(col(c)) else count_distinct(col(c))
    val aggExprs = Seq(count(lit(1)).as("_graft_n")) ++ columns.flatMap(c => Seq(
      count(when(col(c).isNull, 1)).as(s"_graft_${c}_nulls"),
      nd(c).as(s"_graft_${c}_nd"),
      min(col(c)).cast("string").as(s"_graft_${c}_min"),
      max(col(c)).cast("string").as(s"_graft_${c}_max")))
    // spread: the count_distinct partials otherwise build their per-task
    // hash sets inside the single-task unsplittable scan (guide §2.5)
    Spread.spread(df, col(columns.head)).agg(aggExprs.head, aggExprs.tail: _*)
      .select(explode(array(columns.map(c => struct(
        lit(c).as("col_name"),
        col("_graft_n").as("n_rows"),
        col(s"_graft_${c}_nulls").as("n_nulls"),
        col(s"_graft_${c}_nd").as("n_distinct"),
        col(s"_graft_${c}_min").as("min_value"),
        col(s"_graft_${c}_max").as("max_value"))): _*)).as("p"))
      .select("p.*")
  }

  /** Cohort retention: users are cohorted by the DATE of their first
    * event; each (cohort_day, age_days) cell counts the distinct users of
    * that cohort active `age_days` days later. Two user-keyed hash
    * aggregations — first-seen, then distinct activity — both partial
    * map-side. Output: (cohort_day, age_days, active_users). */
  def cohortRetention(events: DataFrame, userCol: String, tsCol: String): DataFrame = {
    val firstSeen = events.groupBy(col(userCol).as("u"))
      .agg(to_date(min(col(tsCol))).as("cohort_day"))
    events.select(col(userCol), to_date(col(tsCol)).as("day"))
      .join(firstSeen, col(userCol) === col("u"))
      .groupBy(col("cohort_day"), datediff(col("day"), col("cohort_day")).as("age_days"))
      .agg(count_distinct(col(userCol)).as("active_users"))
  }

  /** Snapshot diff: compare two versions of a table on `keyCols` and emit
    * one row per difference — `change_type` ∈ added / removed / changed,
    * plus `changed_cols`, the comma-joined names of the value columns
    * that differ (empty for added/removed). Value columns = the non-key
    * columns the two snapshots share; comparison is null-safe per column
    * (`IS DISTINCT FROM`), so a null→value transition counts as a change.
    * Unchanged rows are dropped — the output is the (small) delta, not
    * the table. Key columns must be non-null on both sides.
    *
    * Scale shape: ONE sort-merge full-outer join on the key — each side
    * shuffles once on `keyCols`, per-task state is one row per side. This
    * is the table-compaction / CDC-reconciliation primitive: at 100 TB
    * the cost is the two scans plus one co-partitioned join, never a
    * driver-side collect. */
  def tableDiff(before: DataFrame, after: DataFrame, keyCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "tableDiff needs at least one key column")
    val valueCols = before.columns.filterNot(keyCols.contains)
      .filter(after.columns.contains).toSeq
    // staging namespace: value columns get `_graft_b_/_graft_a_` prefixes
    // and the presence markers live at `_graft_mb/_graft_ma` — disjoint by
    // construction (the prefixes differ before any user name is appended),
    // so a value column literally named "present" (or anything else)
    // cannot collide with a marker
    require(!(before.columns ++ after.columns).exists(_.startsWith("_graft_")),
      "input already has _graft_ staging columns")
    val b = before.select(keyCols.map(col) ++
      (valueCols.map(c => col(c).as(s"_graft_b_$c")) :+ lit(1).as("_graft_mb")): _*)
    val a = after.select(keyCols.map(col) ++
      (valueCols.map(c => col(c).as(s"_graft_a_$c")) :+ lit(1).as("_graft_ma")): _*)
    val joined = b.join(a, keyCols, "full_outer")
    val diffs = valueCols.map(c => !(col(s"_graft_b_$c") <=> col(s"_graft_a_$c")))
    val anyDiff = diffs.reduceOption(_ || _).getOrElse(lit(false))
    joined
      .withColumn("change_type",
        when(col("_graft_mb").isNull, "added")
          .when(col("_graft_ma").isNull, "removed")
          .when(anyDiff, "changed"))
      .filter(col("change_type").isNotNull)
      .withColumn("changed_cols",
        when(col("change_type") === "changed",
          concat_ws(",", valueCols.map(c =>
            when(!(col(s"_graft_b_$c") <=> col(s"_graft_a_$c")), lit(c))): _*))
          .otherwise(lit("")))
      .select(keyCols.map(col) :+ col("change_type") :+ col("changed_cols"): _*)
  }

  /** First-order Markov transition matrix over an event stream: for each
    * user's time-ordered sequence, count `from_type → to_type` steps and
    * normalize per `from_type` into probabilities (rounded to 6 decimals).
    * `tieBreakCol` total-orders equal timestamps so the sequence — and
    * therefore the matrix — is deterministic under any partitioning.
    *
    * Scale shape: one user-keyed window (single shuffle) emits the
    * consecutive pairs, then a partial-aggregating hash agg onto the
    * |types|² matrix; the normalizing window runs over that tiny
    * aggregate, not the events. */
  def transitionMatrix(events: DataFrame, userCol: String, tsCol: String,
      typeCol: String, tieBreakCol: String): DataFrame = {
    val w = Window.partitionBy(col(userCol))
      .orderBy(col(tsCol), col(tieBreakCol))
    val pairs = events
      .withColumn("to_type", lead(col(typeCol), 1).over(w))
      .filter(col("to_type").isNotNull)
      .groupBy(col(typeCol).as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    pairs.withColumn("p",
      round(col("n").cast("double") /
        sum(col("n")).over(Window.partitionBy(col("from_type"))).cast("double"), 6))
  }

  /** Last-touch attribution: each `convType` event is attributed to the
    * SAME user's most recent `touchType` event at or before it, provided
    * the gap is within `windowSec`. Emits one row per attributed
    * conversion: (user, conv_id, conv_ts, touch_id, gap_sec).
    * Conversions with no in-window touch are dropped (unattributed).
    *
    * This is [[TemporalJoins.asOf]] specialized to the marketing /
    * training-data-lineage shape — one union + one user-keyed window,
    * a single shuffle, no per-user driver state. Ties on the touch
    * timestamp resolve DETERMINISTICALLY to the highest `idCol` (the
    * as-of payload-struct tiebreak); the q71 oracle mirrors that with an
    * explicit `row_number() OVER (ORDER BY ts DESC, id DESC)` pick, so
    * equal-timestamp touches resolve identically in both engines. */
  def lastTouchAttribution(events: DataFrame, userCol: String, tsCol: String,
      typeCol: String, idCol: String, convType: String, touchType: String,
      windowSec: Long): DataFrame = {
    require(windowSec >= 0, "windowSec must be non-negative")
    val convs = events.filter(col(typeCol) === convType)
      .select(col(userCol), col(idCol).as("conv_id"), col(tsCol).as("conv_ts"))
    val touches = events.filter(col(typeCol) === touchType)
      .select(col(userCol), col(idCol).as("touch_id"), col(tsCol).as("_touch_ts"))
    TemporalJoins.asOf(convs, touches, userCol, "conv_ts", "_touch_ts",
        Seq("touch_id", "_touch_ts"))
      .withColumn("gap_sec",
        expr("(unix_micros(conv_ts) - unix_micros(_touch_ts)) div 1000000"))
      .filter(col("gap_sec") <= windowSec)
      .select(col(userCol), col("conv_id"), col("conv_ts"),
        col("touch_id"), col("gap_sec"))
  }

  /** Time-series GAP-FILL with forward-fill interpolation: aggregate an
    * event stream to one row per (key, day), densify each key's span to
    * a contiguous daily grid (`sequence` + explode — no driver loop, no
    * cross join against a global calendar), and carry the last observed
    * value forward across the gaps. The standard regularization step
    * before any window/trend analytics on irregular event data.
    *
    * Output: `(key, day, v_filled, observed)` — `observed` marks real
    * daily aggregates vs carried-forward fills; days before a key's
    * first observation cannot occur (the grid starts at the key's own
    * min day). Determinism: the daily value is an exact
    * DECIMAL(18,4)-summed aggregate rounded to 4 decimals, and
    * forward-fill is `last(ignoreNulls)` over a per-key
    * rows-unbounded-preceding window — order is total because the grid
    * has exactly one row per (key, day).
    *
    * Scale shape: one hash aggregation on (key, day), one tiny per-key
    * span aggregate whose exploded grid is ≤ span-days per key, one
    * equi-join back, and a PER-KEY window — nothing global, no skew
    * beyond a key's own history length. */
  def gapFillDaily(events: DataFrame, keyCol: String, tsCol: String,
      valueCol: String): DataFrame = {
    val daily = events
      .filter(col(keyCol).isNotNull && col(tsCol).isNotNull)
      .groupBy(col(keyCol), to_date(col(tsCol)).as("day"))
      .agg(round(sum(col(valueCol).cast(DecimalType(18, 4)))
        .cast("double"), 4).as("v"))
    val grid = daily.groupBy(col(keyCol))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col(keyCol), explode(sequence(col("d0"), col("d1"))).as("day"))
    val w = Window.partitionBy(col(keyCol)).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(daily, Seq(keyCol, "day"), "left_outer")
      .select(col(keyCol), col("day"),
        last(col("v"), ignoreNulls = true).over(w).as("v_filled"),
        col("v").isNotNull.as("observed"))
  }

  /** Exponentially-weighted moving average, final value per key:
    *
    *   y_0 = x_0;   y_i = α·x_i + (1−α)·y_{i−1}
    *
    * folded LEFT over each key's series in (ts, id) order — the
    * smoothed "current level" per entity (user engagement, host crawl
    * rate) that a monitoring pipeline keeps per key. The fold runs as
    * a codegen'd `aggregate` higher-order function over the key's
    * collected series — one hash aggregation + one map stage, no
    * window, no shuffle beyond the groupBy.
    *
    * Determinism: deliberately NO per-step decimal rounding — the fold
    * order is total (unique (ts, id) sort key), so each step is two
    * IEEE multiplies + one add in fixed operand order, which is
    * bit-exact across engines; per-step `round(x, 9)` would actually
    * BREAK parity here, because BigDecimal-based and multiply-by-1e9
    * rounding disagree by 1 ulp when a compounded value lands on a
    * 10th-digit tie (observed 2/150 keys at sf0.01). The DECIMAL-addend
    * convention exists for order-FREE sums; an ordered fold doesn't
    * need it.
    *
    * Per-key series are collected into one array, so the operator
    * assumes bounded per-key history (the same contract as any
    * sessionization); at 100 TB the key count scales out while each
    * key's history stays memory-sized. Rows with a NULL ts/id/value
    * are dropped (engines disagree on NULL placement in sorts).
    *
    * Output: `(key, n_points, ewma)`. */
  def ewma(events: DataFrame, keyCol: String, tsCol: String, idCol: String,
      valueCol: String, alpha: Double = 0.3): DataFrame = {
    require(alpha > 0 && alpha <= 1, "alpha must be in (0, 1]")
    val pts = events
      .filter(col(keyCol).isNotNull && col(tsCol).isNotNull &&
        col(idCol).isNotNull && col(valueCol).isNotNull)
      .groupBy(col(keyCol))
      .agg(sort_array(collect_list(struct(col(tsCol).as("ts"),
        col(idCol).as("id"), col(valueCol).cast("double").as("v")))).as("pts"))
    val oneMinus = 1.0 - alpha // exact IEEE repr, mirrored in the oracle
    pts.select(col(keyCol), size(col("pts")).as("n_points"),
      expr(s"""aggregate(slice(pts, 2, size(pts) - 1),
        element_at(pts, 1).v,
        (acc, p) -> $alpha * p.v + $oneMinus * acc)""")
        .as("ewma"))
  }

  /** Holt's linear-trend double exponential smoothing, final state per
    * key (Holt 1957):
    *
    *   l_0 = x_0, b_0 = 0
    *   l_i = α·x_i + (1−α)·(l_{i−1} + b_{i−1})
    *   b_i = γ·(l_i − l_{i−1}) + (1−γ)·b_{i−1}
    *
    * folded LEFT in (ts, id) order; emits the smoothed level, trend,
    * and one-step-ahead forecast (level + trend) per key — [[ewma]]'s
    * trend-aware sibling for drifting series. Same raw-IEEE fixed-order
    * determinism contract as [[ewma]] (no rounding anywhere).
    *
    * The fold state is a 2-element DOUBLE ARRAY, not a struct, quite
    * deliberately: DuckDB 1.0's `list_reduce` evaluates `struct_pack`
    * accumulator fields SEQUENTIALLY — field k's expression already
    * sees fields < k updated (probed: `(acc,x) -> struct_pack(a :=
    * acc.a + x.a, b := acc.a * 1000 + acc.b)` folds b against the NEW
    * a) — so a struct-state oracle would replay a different recurrence;
    * array constructors evaluate every slot against the stable
    * pre-step accumulator in both engines. l_i appears twice in the
    * update (its own slot and inside the trend delta); both
    * occurrences are the same fixed-order IEEE expression, so
    * recomputing it is bit-free. */
  def holtLinear(events: DataFrame, keyCol: String, tsCol: String,
      idCol: String, valueCol: String, alpha: Double = 0.3,
      gamma: Double = 0.1): DataFrame = {
    require(alpha > 0 && alpha <= 1, "alpha must be in (0, 1]")
    require(gamma > 0 && gamma <= 1, "gamma must be in (0, 1]")
    val pts = events
      .filter(col(keyCol).isNotNull && col(tsCol).isNotNull &&
        col(idCol).isNotNull && col(valueCol).isNotNull)
      .groupBy(col(keyCol))
      .agg(sort_array(collect_list(struct(col(tsCol).as("ts"),
        col(idCol).as("id"), col(valueCol).cast("double").as("v")))).as("pts"))
    val (oneA, oneG) = (1.0 - alpha, 1.0 - gamma) // exact IEEE reprs
    val lNew = s"$alpha * element_at(x, 1) + " +
      s"$oneA * (element_at(acc, 1) + element_at(acc, 2))"
    pts.select(col(keyCol), size(col("pts")).as("n_points"),
      expr(s"""aggregate(
        transform(slice(pts, 2, size(pts) - 1),
          p -> array(p.v, CAST(0 AS DOUBLE))),
        array(element_at(pts, 1).v, CAST(0 AS DOUBLE)),
        (acc, x) -> array($lNew,
          $gamma * (($lNew) - element_at(acc, 1))
            + $oneG * element_at(acc, 2)))""").as("st"))
      .select(col(keyCol), col("n_points"),
        element_at(col("st"), 1).as("level"),
        element_at(col("st"), 2).as("trend"),
        (element_at(col("st"), 1) + element_at(col("st"), 2)).as("forecast"))
  }

  /** Rolling-window ROBUST anomaly detection over each key's daily
    * event-count series: a day is anomalous when its count deviates
    * from the rolling median by more than `threshold` × the rolling
    * MAD (median absolute deviation) — the Hampel filter, the standard
    * outlier screen for telemetry series because one spike cannot drag
    * its own baseline the way a rolling mean/stddev lets it.
    *
    * Determinism (the engine-portability discipline of [[ewma]]): both
    * medians are computed EXPLICITLY — sort the bounded window list,
    * take the middle element (odd) or the average of the two middles
    * (even) — not via an engine `median()` whose interpolation rule may
    * differ; counts are exact BIGINTs, so the only floats are the
    * even-median halving and the threshold multiply, each a single
    * fixed-order IEEE op replayed verbatim by the oracle.
    *
    * Scale shape: daily pre-aggregation is one partial hash agg; the
    * rolling frame is a BOUNDED ±`halfWindow` ROWS window per key (7
    * values of state, never a whole-partition list), and a key's
    * partition is its daily series — years of history is still only
    * hundreds of rows per key, so no single task ever owns more than
    * one key's bounded series. Output one row per (key, day):
    * `(key, day, n_events, med, mad, is_anomaly)`.
    *
    * `centered = false` switches to the TRAILING frame (the current
    * day plus the 2·halfWindow observed days before it) — the causal
    * variant a live monitor can actually run, and the exact batch twin
    * of [[graft.streaming.Streams.hampelAnomalies]]. */
  def rollingMadAnomalies(events: DataFrame, keyCol: String, tsCol: String,
      halfWindow: Int = 3, threshold: Double = 3.5,
      centered: Boolean = true): DataFrame = {
    require(halfWindow >= 1, "halfWindow must be positive")
    require(threshold > 0, "threshold must be positive")
    val daily = events
      .filter(col(keyCol).isNotNull && col(tsCol).isNotNull)
      .groupBy(col(keyCol), col(tsCol).cast("date").as("day"))
      .agg(count(lit(1)).as("n_events"))
    val frame = Window.partitionBy(col(keyCol)).orderBy(col("day"))
      .rowsBetween(if (centered) -halfWindow else -2L * halfWindow,
        if (centered) halfWindow else 0L)
    // explicit middle-element median over the sorted bounded window
    def arrMedian(arr: String): String =
      s"""CASE WHEN size($arr) % 2 = 1
            THEN CAST(element_at($arr,
              CAST((size($arr) + 1) div 2 AS INT)) AS DOUBLE)
            ELSE (CAST(element_at($arr,
                CAST(size($arr) div 2 AS INT)) AS DOUBLE)
              + CAST(element_at($arr,
                CAST(size($arr) div 2 + 1 AS INT)) AS DOUBLE))
              / 2.0 END"""
    daily
      .withColumn("_w", array_sort(collect_list(col("n_events")).over(frame)))
      .withColumn("med", expr(arrMedian("_w")))
      .withColumn("_d",
        expr("array_sort(transform(_w, x -> abs(CAST(x AS DOUBLE) - med)))"))
      .withColumn("mad", expr(arrMedian("_d")))
      .select(col(keyCol), col("day"), col("n_events"), col("med"), col("mad"),
        (abs(col("n_events").cast("double") - col("med")) >
          lit(threshold) * col("mad")).as("is_anomaly"))
  }

  /** Two-sided CUSUM changepoint screen (Page 1954) over each key's
    * daily event-count series — the LEVEL-SHIFT detector next to
    * [[rollingMadAnomalies]]'s spike detector: a sustained drift the
    * Hampel filter's bounded window forgets accumulates here until the
    * alarm fires.
    *
    *   s⁺_i = max(0, s⁺_{i−1} + (x_i − μ − κ))
    *   s⁻_i = max(0, s⁻_{i−1} + (μ − x_i − κ))     alarm when either > h
    *
    * with μ the key's exact daily mean (one IEEE division of two
    * BIGINTs), slack κ = `kFrac`·μ and threshold h = `hFrac`·μ (one
    * multiply each). The fold runs LEFT over the day-ordered series in
    * the [[ewma]]/[[holtLinear]] fixed-IEEE discipline — array state
    * (NOT struct: see [[holtLinear]] on DuckDB's sequential struct_pack
    * fold), raw doubles, no rounding — so the oracle replays every op
    * bit-for-bit. Emits one row per key:
    * `(key, n_days, mean_daily, max_cusum_pos, max_cusum_neg, n_alarms)`.
    *
    * Scale shape: one partial hash agg to daily counts, one hash agg
    * to the per-key day-ordered array (bounded by the key's own series
    * length — the [[ewma]] contract), then a map-only fold.
    *
    * `refMean` pins μ to an externally trained baseline instead of the
    * series' own mean — the deployment a live monitor runs (and the
    * anchor [[graft.streaming.Streams.cusumLevels]] is spec-pinned
    * bit-identical to). */
  def cusumChangepoints(events: DataFrame, keyCol: String, tsCol: String,
      kFrac: Double = 0.25, hFrac: Double = 4.0,
      refMean: Option[Double] = None): DataFrame = {
    require(kFrac >= 0, "kFrac must be non-negative")
    require(hFrac > 0, "hFrac must be positive")
    val daily = events
      .filter(col(keyCol).isNotNull && col(tsCol).isNotNull)
      .groupBy(col(keyCol), col(tsCol).cast("date").as("day"))
      .agg(count(lit(1)).as("n"))
    val series = daily.groupBy(col(keyCol))
      .agg(sort_array(collect_list(struct(col("day"), col("n")))).as("xs"),
        sum(col("n")).as("tot"), count(lit(1)).as("nd"))
      .withColumn("mu", refMean.map(lit(_)).getOrElse(
        col("tot").cast("double") / col("nd").cast("double")))
      .withColumn("kap", lit(kFrac) * col("mu"))
      .withColumn("h", lit(hFrac) * col("mu"))
    // state: [s_pos, s_neg, max_pos, max_neg, alarms] — each alarm-day
    // contributes 1.0 exactly (integers are exact in doubles)
    val sPos = "greatest(CAST(0 AS DOUBLE), element_at(acc, 1) + (CAST(x.n AS DOUBLE) - mu - kap))"
    val sNeg = "greatest(CAST(0 AS DOUBLE), element_at(acc, 2) + (mu - CAST(x.n AS DOUBLE) - kap))"
    series
      .withColumn("st", expr(s"""aggregate(xs,
        array(CAST(0 AS DOUBLE), CAST(0 AS DOUBLE), CAST(0 AS DOUBLE),
              CAST(0 AS DOUBLE), CAST(0 AS DOUBLE)),
        (acc, x) -> array($sPos, $sNeg,
          greatest(element_at(acc, 3), $sPos),
          greatest(element_at(acc, 4), $sNeg),
          element_at(acc, 5) +
            CASE WHEN ($sPos) > h OR ($sNeg) > h
              THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END))"""))
      .select(col(keyCol), col("nd").cast("int").as("n_days"),
        col("mu").as("mean_daily"),
        element_at(col("st"), 3).as("max_cusum_pos"),
        element_at(col("st"), 4).as("max_cusum_neg"),
        element_at(col("st"), 5).cast("long").as("n_alarms"))
  }

  /** SYMBOLIC MOTIF mining over each key's daily event-count series
    * (the rank-quantized cousin of SAX symbolization): each day gets a
    * per-key quantile symbol via `ntile(nSymbols)` in (count, day)
    * order, the symbol sequence is re-read in day order, and every
    * `motifLen`-gram of consecutive symbols becomes one motif
    * occurrence — "which short shapes (spike, ramp, dip) recur across
    * the fleet" without any floating-point normalization at all.
    * Rank quantization (not gaussian breakpoints on a z-score) keeps
    * every step exact integer logic: ntile is the SQL-standard
    * deterministic bucketing given the total (count, day) order, and
    * the n-gram assembly is `lead` + string concat.
    *
    * Scale shape: one partial hash agg to daily counts, then two
    * windows over per-key daily series (bounded partitions, as in
    * [[rollingMadAnomalies]]), then one motif hash agg with map-side
    * combine. Output: `(motif, n_windows, n_keys)` per distinct motif. */
  def symbolicMotifs(events: DataFrame, keyCol: String, tsCol: String,
      nSymbols: Int = 4, motifLen: Int = 3): DataFrame = {
    require(nSymbols >= 2, "need at least two symbols")
    require(motifLen >= 2, "motifs need at least two symbols")
    val daily = events
      .filter(col(keyCol).isNotNull && col(tsCol).isNotNull)
      .groupBy(col(keyCol), col(tsCol).cast("date").as("day"))
      .agg(count(lit(1)).as("n_events"))
    val rankW = Window.partitionBy(col(keyCol))
      .orderBy(col("n_events"), col("day"))
    val dayW = Window.partitionBy(col(keyCol)).orderBy(col("day"))
    val symbols = daily.withColumn("sym", ntile(nSymbols).over(rankW))
    val grams = (1 until motifLen).foldLeft(symbols) { (df, i) =>
      df.withColumn(s"_s$i", lead(col("sym"), i).over(dayW))
    }
    val parts = col("sym") +: (1 until motifLen).map(i => col(s"_s$i"))
    grams
      .filter(parts.map(_.isNotNull).reduce(_ && _))
      .select(col(keyCol), concat_ws("", parts: _*).as("motif"))
      .groupBy(col("motif"))
      .agg(count(lit(1)).as("n_windows"),
        countDistinct(col(keyCol)).as("n_keys"))
  }

  /** Sample AUTOCORRELATION function per key at lags 1..`maxLag` over
    * the (ts, id)-ordered value series — the standard seasonality /
    * memory diagnostic (a weekly cycle shows as a peak at lag 7, white
    * noise hugs 0):
    *
    *   r_L = Σ_{i=1..n−L} (x_i − x̄)(x_{i+L} − x̄) / Σ_{i=1..n} (x_i − x̄)²
    *
    * Determinism: the [[ewma]] raw-IEEE discipline — every sum is a
    * LEFT fold in a total order (the series order for the mean, index
    * order for both quadratic sums), each fold inits from its FIRST
    * term (not 0.0: `0.0 + (−0.0)` would flip a negative-zero first
    * term, and DuckDB's `list_reduce` has no init operand), so every
    * addition replays in identical operand order on both engines.
    * A constant series (zero denominator) emits NULL, not NaN (engines
    * disagree on NaN formatting).
    *
    * Scale shape: per-key series collected once (the bounded-history
    * contract of this family), lags exploded map-side — one hash agg
    * plus map-only arithmetic. Output: `(key, lag, n_points, acf)` for
    * every lag < n. */
  def acf(events: DataFrame, keyCol: String, tsCol: String, idCol: String,
      valueCol: String, maxLag: Int = 3): DataFrame = {
    require(maxLag >= 1, "maxLag must be positive")
    val series = events
      .filter(col(keyCol).isNotNull && col(tsCol).isNotNull &&
        col(idCol).isNotNull && col(valueCol).isNotNull)
      .groupBy(col(keyCol))
      .agg(sort_array(collect_list(struct(col(tsCol).as("ts"),
        col(idCol).as("id"), col(valueCol).cast("double").as("v")))).as("pts"))
      .withColumn("vs", expr("transform(pts, p -> p.v)"))
      .withColumn("n", size(col("vs")))
      .withColumn("m", expr("""aggregate(slice(vs, 2, n - 1),
        element_at(vs, 1), (a, x) -> a + x)""") / col("n").cast("double"))
      .withColumn("dterms",
        expr("transform(vs, x -> (x - m) * (x - m))"))
      .withColumn("den", expr("""aggregate(slice(dterms, 2, n - 1),
        element_at(dterms, 1), (a, x) -> a + x)"""))
    series
      .select(col(keyCol), col("vs"), col("n"), col("m"), col("den"),
        explode(expr(s"sequence(1, $maxLag)")).as("lag"))
      .filter(col("lag") < col("n"))
      .withColumn("nterms", expr("""transform(sequence(1, n - lag),
        i -> (element_at(vs, i) - m) * (element_at(vs, i + lag) - m))"""))
      .withColumn("num", expr("""aggregate(slice(nterms, 2, n - lag - 1),
        element_at(nterms, 1), (a, x) -> a + x)"""))
      .select(col(keyCol), col("lag"), col("n").as("n_points"),
        when(col("den") === 0.0, lit(null).cast("double"))
          .otherwise(col("num") / col("den")).as("acf"))
  }

  /** Two-sample PROPORTION z-test over a deterministic 50/50 user
    * split — the experimentation readout (is arm B's conversion rate
    * different from arm A's?):
    *
    *   z = (p_A − p_B) / sqrt(p̂(1−p̂)(1/n_A + 1/n_B)),  p̂ pooled
    *
    * Arms come from the md5 bucket of the unit id (the
    * [[graft.operators.TextAnalysis.splitAssign]] construction — no
    * RNG, reshuffle-proof, the same unit lands in the same arm on
    * every engine); a unit converts when it has ≥1 `successValue`
    * event. All counts are exact BIGINTs; the rates, the pooled rate,
    * and z are a short fixed chain of IEEE ops rounded to 9 — the
    * oracle replays them verbatim. Two hash aggs (per-unit flags, per-
    * arm counts), no window, no join beyond the one-row combine.
    * Output: one row `(n_a, n_b, conv_a, conv_b, rate_a, rate_b,
    * z_score)`. */
  def abTestZ(events: DataFrame, unitCol: String, typeCol: String,
      successValue: String): DataFrame = {
    val units = events
      .filter(col(unitCol).isNotNull)
      .groupBy(col(unitCol).as("_graft_u"))
      .agg(max(when(col(typeCol) === successValue, 1L).otherwise(0L))
        .as("_graft_conv"))
      .withColumn("_graft_arm",
        when(conv(substring(md5(col("_graft_u").cast("string")), 1, 8),
          16, 10).cast("long") % 100 < 50, "a").otherwise("b"))
    // ONE conditional aggregate, not per-arm filters cross-joined: a
    // global agg emits exactly one row even when an arm (or the whole
    // input) is empty — the documented one-row contract — and costs one
    // shuffle less than the filter+crossJoin shape
    units.agg(
        coalesce(sum(when(col("_graft_arm") === "a", 1L).otherwise(0L)),
          lit(0L)).as("n_a"),
        coalesce(sum(when(col("_graft_arm") === "b", 1L).otherwise(0L)),
          lit(0L)).as("n_b"),
        coalesce(sum(when(col("_graft_arm") === "a", col("_graft_conv"))
          .otherwise(0L)), lit(0L)).as("conv_a"),
        coalesce(sum(when(col("_graft_arm") === "b", col("_graft_conv"))
          .otherwise(0L)), lit(0L)).as("conv_b"))
      // empty-arm rates are NULL (0/0 would be an engine-repr'd NaN)
      .withColumn("rate_a", when(col("n_a") === 0L,
        lit(null).cast("double")).otherwise(
        round(col("conv_a").cast("double") /
          col("n_a").cast("double"), 9)))
      .withColumn("rate_b", when(col("n_b") === 0L,
        lit(null).cast("double")).otherwise(
        round(col("conv_b").cast("double") /
          col("n_b").cast("double"), 9)))
      .withColumn("_graft_p",
        (col("conv_a") + col("conv_b")).cast("double") /
          (col("n_a") + col("n_b")).cast("double"))
      // degenerate pooled rate (nobody / everybody converted) has zero
      // pooled variance: z is undefined — NULL, never a division by
      // zero (ANSI mode throws) or an engine-dependent NaN/Inf repr
      .withColumn("z_score",
        when(col("_graft_p") === 0.0 || col("_graft_p") === 1.0,
          lit(null).cast("double"))
        .otherwise(round(
          (col("rate_a") - col("rate_b")) /
            sqrt(col("_graft_p") * (lit(1.0) - col("_graft_p")) *
              (lit(1.0) / col("n_a").cast("double") +
               lit(1.0) / col("n_b").cast("double"))), 9)))
      .select(col("n_a"), col("n_b"), col("conv_a"), col("conv_b"),
        col("rate_a"), col("rate_b"), col("z_score"))
  }

  /** POWER / MINIMUM-DETECTABLE-EFFECT readout for the [[abTestZ]]
    * design — the "is this experiment even big enough" gate run BEFORE
    * reading the z-score (an underpowered readout invites p-hacking by
    * repeated peeking): with the pooled conversion rate p̂ and the
    * standard two-sided normal approximation,
    *
    *   MDE_abs = (z_{α/2} + z_{power}) · sqrt(p̂(1−p̂)(1/n_A + 1/n_B))
    *
    * — the smallest absolute rate difference the experiment detects at
    * the given significance and power. Defaults are the industry
    * α = 0.05 two-sided / 80% power pair; the z quantiles are FIXED
    * LITERALS (1.959964, 0.841621), not a per-row Φ⁻¹ evaluation, so
    * there is no special-function engine variance. Everything rides
    * the one-row conditional agg of [[abTestZ]]; the MDE chain is
    * fixed IEEE rounded to 9. Degenerate pooled rates (0 or 1) and
    * empty arms emit NULL MDE. Output: one row `(n_a, n_b,
    * pooled_rate, mde_abs, mde_rel)` — mde_rel = mde_abs / p̂. */
  def abTestPowerMde(events: DataFrame, unitCol: String, typeCol: String,
      successValue: String, zAlpha: Double = 1.959964,
      zPower: Double = 0.841621): DataFrame = {
    require(zAlpha > 0 && zPower >= 0, "z quantiles must be non-negative")
    val units = events
      .filter(col(unitCol).isNotNull)
      .groupBy(col(unitCol).as("_graft_u"))
      .agg(max(when(col(typeCol) === successValue, 1L).otherwise(0L))
        .as("_graft_conv"))
      .withColumn("_graft_arm",
        when(conv(substring(md5(col("_graft_u").cast("string")), 1, 8),
          16, 10).cast("long") % 100 < 50, "a").otherwise("b"))
    units.agg(
        coalesce(sum(when(col("_graft_arm") === "a", 1L).otherwise(0L)),
          lit(0L)).as("n_a"),
        coalesce(sum(when(col("_graft_arm") === "b", 1L).otherwise(0L)),
          lit(0L)).as("n_b"),
        coalesce(sum(col("_graft_conv")), lit(0L)).as("_graft_c"))
      .withColumn("pooled_rate",
        when(col("n_a") + col("n_b") === 0L, lit(null).cast("double"))
          .otherwise(round(col("_graft_c").cast("double") /
            (col("n_a") + col("n_b")).cast("double"), 9)))
      .withColumn("mde_abs",
        when(col("n_a") === 0L || col("n_b") === 0L ||
            col("pooled_rate").isNull || col("pooled_rate") === 0.0 ||
            col("pooled_rate") === 1.0, lit(null).cast("double"))
          .otherwise(round(lit(zAlpha + zPower) *
            sqrt(col("pooled_rate") * (lit(1.0) - col("pooled_rate")) *
              (lit(1.0) / col("n_a").cast("double") +
               lit(1.0) / col("n_b").cast("double"))), 9)))
      .withColumn("mde_rel",
        when(col("mde_abs").isNull, lit(null).cast("double"))
          .otherwise(round(col("mde_abs") / col("pooled_rate"), 9)))
      .select(col("n_a"), col("n_b"), col("pooled_rate"), col("mde_abs"),
        col("mde_rel"))
  }

  /** The [[abTestZ]]-family md5 arm split as a reusable column — every
    * experimentation operator (and the streaming monitor sink) must
    * assign the SAME unit to the SAME arm. */
  private[graft] def md5ArmCol(unit: org.apache.spark.sql.Column):
      org.apache.spark.sql.Column =
    when(conv(substring(md5(unit.cast("string")), 1, 8), 16, 10)
      .cast("long") % 100 < 50, "a").otherwise("b")

  /** The mSPRT per-look scoring chain, shared verbatim by
    * [[sequentialMsprt]] and the streaming
    * [[graft.streaming.Streams.msprtMonitorSink]] so the twin cannot
    * drift: expects exact BIGINT `n_a, n_b, conv_a, conv_b` columns and
    * adds `delta` and `log_lambda` (round-9 chains, NULL on degenerate
    * looks). */
  private[graft] def msprtScored(df: DataFrame, tauSq: Double): DataFrame = {
    val nullD = lit(null).cast("double")
    df
      .withColumn("_graft_ra", when(col("n_a") === 0L, nullD)
        .otherwise(round(col("conv_a").cast("double") /
          col("n_a").cast("double"), 9)))
      .withColumn("_graft_rb", when(col("n_b") === 0L, nullD)
        .otherwise(round(col("conv_b").cast("double") /
          col("n_b").cast("double"), 9)))
      .withColumn("delta",
        when(col("_graft_ra").isNull || col("_graft_rb").isNull, nullD)
          .otherwise(round(col("_graft_ra") - col("_graft_rb"), 9)))
      .withColumn("_graft_p",
        when(col("n_a") + col("n_b") === 0L, nullD)
          .otherwise(round((col("conv_a") + col("conv_b")).cast("double") /
            (col("n_a") + col("n_b")).cast("double"), 9)))
      .withColumn("_graft_v",
        when(col("n_a") === 0L || col("n_b") === 0L ||
            col("_graft_p").isNull || col("_graft_p") === 0.0 ||
            col("_graft_p") === 1.0, nullD)
          .otherwise(round(col("_graft_p") * (lit(1.0) - col("_graft_p")) *
            (lit(1.0) / col("n_a").cast("double") +
             lit(1.0) / col("n_b").cast("double")), 9)))
      .withColumn("log_lambda",
        when(col("_graft_v").isNull || col("_graft_v") === 0.0 ||
            col("delta").isNull, nullD)
          .otherwise(round(
            lit(0.5) * round(log(col("_graft_v") /
              (col("_graft_v") + lit(tauSq))), 9) +
            col("delta") * col("delta") * lit(tauSq) /
              (lit(2.0) * col("_graft_v") *
                (col("_graft_v") + lit(tauSq))), 9)))
  }

  /** The always-valid readout over a `log_evidence` column — also
    * shared with the streaming monitor: adds `p_always_valid`
    * (round-6) and `reject_h0` against ln(1/α) as one literal. */
  private[graft] def msprtReadout(df: DataFrame, alpha: Double): DataFrame = {
    val nullD = lit(null).cast("double")
    df
      .withColumn("p_always_valid",
        when(col("log_evidence").isNull, nullD)
          .otherwise(round(least(lit(1.0),
            exp(-col("log_evidence"))), 6)))
      .withColumn("reject_h0",
        when(col("log_evidence").isNull, lit(null).cast("boolean"))
          .otherwise(col("log_evidence") > lit(math.log(1.0 / alpha))))
  }

  /** SEQUENTIAL mSPRT monitor (Johari, Koomen, Pekelis, Walsh — KDD
    * 2017, "Peeking at A/B Tests": the mixture sequential probability
    * ratio test behind always-valid p-values) over the [[abTestZ]] md5
    * arm split — the readout a CONTINUOUSLY MONITORED experiment needs:
    * fixed-horizon z/U tests are invalidated by peeking, while the
    * mSPRT's evidence process is valid at EVERY look.
    *
    * Units enter at their FIRST event day (`arrival = min(day(ts))`)
    * and carry their eventual conversion flag; the monitoring calendar
    * is EVERY observed event day (the looks an on-call dashboard would
    * take), and for every day d the test sees all units arrived ≤ d.
    * With δ̂_d the rate difference,
    * V_d = p̂(1−p̂)(1/n_A + 1/n_B) its null variance, and the H1 effect
    * mixed as N(0, τ²):
    *
    *   ln Λ_d = ½·ln(V_d/(V_d+τ²)) + δ̂²_d·τ² / (2·V_d·(V_d+τ²))
    *
    * The always-valid p-value is min(1, exp(−max_{d'≤d} ln Λ_{d'}))
    * (the running-max evidence is what makes peeking safe), and the
    * test rejects when that max exceeds ln(1/α).
    *
    * Determinism discipline (the q137–q140 conventions): counts are
    * exact BIGINTs; per-day cumulative counts ride one window over the
    * PER-DAY aggregate (rows = days — a time-bounded frame, never the
    * events); rates/V/lnΛ are short fixed IEEE chains with every libm
    * call (`ln`, final `exp`) rounded at 9/6; ln(1/α) is embedded as
    * one shared literal, and the reject flag compares the ROUNDED
    * evidence to it. Degenerate days (empty arm, p̂ ∈ {0,1}) emit NULL
    * lnΛ and inherit the running evidence. Output: one row per day
    * `(day, n_a, n_b, conv_a, conv_b, delta, log_lambda, log_evidence,
    * p_always_valid, reject_h0)`. */
  def sequentialMsprt(events: DataFrame, unitCol: String, tsCol: String,
      typeCol: String, successValue: String, tauSq: Double = 0.0001,
      alpha: Double = 0.05): DataFrame = {
    require(tauSq > 0, "mixture variance tauSq must be positive")
    require(alpha > 0 && alpha < 1, "alpha must be in (0, 1)")
    val wCum = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = dailyCumulativeArms(events, unitCol, tsCol, typeCol,
      successValue)
    // running evidence: max over the day prefix of the ROUNDED lnΛ —
    // max() skips NULL days, so degenerate days inherit the evidence
    msprtReadout(
      msprtScored(cum, tauSq)
        .withColumn("log_evidence", max(col("log_lambda")).over(wCum)),
      alpha)
      .select(col("day"), col("n_a"), col("n_b"), col("conv_a"),
        col("conv_b"), col("delta"), col("log_lambda"),
        col("log_evidence"), col("p_always_valid"), col("reject_h0"))
  }

  /** The per-day cumulative two-arm conversion frame shared by every
    * day-granular sequential monitor ([[sequentialMsprt]] — round 15
    * extraction — and [[groupSequentialZ]]): units enter at their FIRST
    * event day carrying their eventual conversion flag under the
    * [[md5ArmCol]] split; the monitoring calendar is every OBSERVED
    * event day (arrival days alone would collapse to the first day or
    * two on an active-user corpus), and cumulative counts ride ONE
    * window over the day-level aggregate — its row count is the
    * monitoring horizon (hundreds), not the corpus, so the single-task
    * window is scale-safe by construction (the q121–q132 time-series
    * frame discipline). Output: `(day, n_a, n_b, conv_a, conv_b)`,
    * exact BIGINTs. */
  private[graft] def dailyCumulativeArms(events: DataFrame, unitCol: String,
      tsCol: String, typeCol: String, successValue: String): DataFrame = {
    val units = events
      .filter(col(unitCol).isNotNull && col(tsCol).isNotNull)
      .groupBy(col(unitCol).as("_graft_u"))
      .agg(min(to_date(date_trunc("day", col(tsCol)))).as("day"),
        max(when(col(typeCol) === successValue, 1L).otherwise(0L))
          .as("_graft_conv"))
      .withColumn("_graft_arm", md5ArmCol(col("_graft_u")))
    val perArrival = units.groupBy(col("day")).agg(
      sum(when(col("_graft_arm") === "a", 1L).otherwise(0L)).as("u_a"),
      sum(when(col("_graft_arm") === "b", 1L).otherwise(0L)).as("u_b"),
      sum(when(col("_graft_arm") === "a", col("_graft_conv"))
        .otherwise(0L)).as("x_a"),
      sum(when(col("_graft_arm") === "b", col("_graft_conv"))
        .otherwise(0L)).as("x_b"))
    val spine = events.filter(col(tsCol).isNotNull)
      .select(to_date(date_trunc("day", col(tsCol))).as("day")).distinct()
    val perDay = spine.join(perArrival, Seq("day"), "left_outer")
      .select(col("day"),
        coalesce(col("u_a"), lit(0L)).as("u_a"),
        coalesce(col("u_b"), lit(0L)).as("u_b"),
        coalesce(col("x_a"), lit(0L)).as("x_a"),
        coalesce(col("x_b"), lit(0L)).as("x_b"))
    val wCum = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perDay.select(col("day"),
      sum(col("u_a")).over(wCum).as("n_a"),
      sum(col("u_b")).over(wCum).as("n_b"),
      sum(col("x_a")).over(wCum).as("conv_a"),
      sum(col("x_b")).over(wCum).as("conv_b"))
  }

  /** O'Brien–Fleming two-sided boundaries for 5 equally spaced looks at
    * overall α = 0.05 (O'Brien & Fleming 1979; the classic tabulated
    * sequence c·√(K/k) with c = 2.040 — see Jennison & Turnbull,
    * "Group Sequential Methods", Table 2.3). Embedded as LITERALS:
    * boundary computation needs multivariate-normal integration no SQL
    * engine replays, so the constants — like q146's z quantiles — are
    * part of the operator definition. */
  val ObrienFleming5: Seq[Double] = Seq(4.562, 3.226, 2.634, 2.281, 2.040)

  /** Pocock two-sided constant boundary for 5 equally spaced looks at
    * overall α = 0.05 (Pocock 1977, tabulated c = 2.413). */
  val Pocock5: Seq[Double] = Seq.fill(5)(2.413)

  /** GROUP-SEQUENTIAL fixed-look monitor (Pocock 1977; O'Brien &
    * Fleming 1979) over the [[md5ArmCol]] split — the boundary design
    * most real experiment platforms run: K pre-planned looks, each
    * comparing the cumulative two-proportion z to that look's critical
    * value, overall type-I error spent across the looks by the boundary
    * sequence. The always-valid mSPRT twin is [[sequentialMsprt]]; this
    * one trades anytime validity for tighter fixed-schedule boundaries.
    *
    * The monitoring calendar is [[dailyCumulativeArms]]' observed-day
    * frame; look k (1-based, K = `boundaries.length`) reads the day at
    * index ⌈k·D/K⌉ of the D ordered days — pure INTEGER arithmetic
    * ((k·D + K − 1) div K), so look placement replays in any engine.
    * When D < K several looks share a day; the boundary schedule still
    * spends α as planned. The z chain is [[abTestZ]]'s (round-9 rates
    * and pooled variance, NULL on an empty arm or degenerate p̂), the
    * crossing test compares the ROUNDED |z| to the literal boundary,
    * and `stopped` carries the first-crossing state forward — the
    * group-sequential stopping rule. Output: one row per planned look
    * `(look, day, n_a, n_b, conv_a, conv_b, z_score, boundary,
    * crossed, stopped)`. */
  def groupSequentialZ(events: DataFrame, unitCol: String, tsCol: String,
      typeCol: String, successValue: String,
      boundaries: Seq[Double] = ObrienFleming5): DataFrame = {
    require(boundaries.nonEmpty, "need at least one look boundary")
    require(boundaries.forall(_ > 0), "boundaries must be positive")
    val k = boundaries.length
    val sp = events.sparkSession
    import sp.implicits._
    val nullD = lit(null).cast("double")
    val wAll = Window.orderBy(col("day"))
    val cum = dailyCumulativeArms(events, unitCol, tsCol, typeCol,
      successValue)
      .withColumn("_graft_i", row_number().over(wAll))
      .withColumn("_graft_d",
        count(lit(1)).over(wAll.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)))
    val looks = broadcast(boundaries.zipWithIndex
      .map { case (b, i) => (i + 1L, b) }.toDF("look", "boundary"))
    // ⌈look·D/K⌉ as floor((look·D + K−1)/K): the numerator is far below
    // 2^52, so the double division + floor is EXACT in both engines
    val at = looks.join(cum,
      col("_graft_i") ===
        floor((col("look") * col("_graft_d") + lit((k - 1).toLong)) /
          lit(k.toDouble)).cast("long"))
    val scored = at
      .withColumn("_graft_ra", when(col("n_a") === 0L, nullD)
        .otherwise(round(col("conv_a").cast("double") /
          col("n_a").cast("double"), 9)))
      .withColumn("_graft_rb", when(col("n_b") === 0L, nullD)
        .otherwise(round(col("conv_b").cast("double") /
          col("n_b").cast("double"), 9)))
      .withColumn("_graft_p", when(col("n_a") + col("n_b") === 0L, nullD)
        .otherwise(round((col("conv_a") + col("conv_b")).cast("double") /
          (col("n_a") + col("n_b")).cast("double"), 9)))
      .withColumn("z_score",
        when(col("n_a") === 0L || col("n_b") === 0L ||
            col("_graft_p").isNull || col("_graft_p") === 0.0 ||
            col("_graft_p") === 1.0, nullD)
          .otherwise(round((col("_graft_ra") - col("_graft_rb")) /
            sqrt(col("_graft_p") * (lit(1.0) - col("_graft_p")) *
              (lit(1.0) / col("n_a").cast("double") +
               lit(1.0) / col("n_b").cast("double"))), 9)))
      .withColumn("crossed",
        when(col("z_score").isNull, lit(null).cast("boolean"))
          .otherwise(abs(col("z_score")) > col("boundary")))
    val wLook = Window.orderBy(col("look"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    scored
      .withColumn("stopped",
        max(when(col("crossed") === true, 1L).otherwise(0L))
          .over(wLook) === 1L)
      .select(col("look"), col("day"), col("n_a"), col("n_b"),
        col("conv_a"), col("conv_b"), col("z_score"), col("boundary"),
        col("crossed"), col("stopped"))
  }

  /** CUPED variance reduction (Deng et al., WSDM 2013 — "Improving the
    * Sensitivity of Online Controlled Experiments") over the
    * [[abTestZ]] md5 arm split: the industry-standard experiment
    * sensitivity boost. Per unit, a PRE-period covariate x and an
    * experiment-period metric y (both exact integral sums of
    * `keyCol`, split at `cutoff` on `tsCol`);
    *
    *   θ = cov(x, y) / var(x),   y′ = y − θ·(x − x̄),
    *
    * and each arm reports its adjusted mean. The variance-reduction
    * factor is ρ² = cov²/(var(x)·var(y)) — the fraction of metric
    * variance the covariate explains.
    *
    * Determinism: every SUM (Σx, Σy, Σx², Σxy, …) is EXACT —
    * DECIMAL accumulators with DECIMAL(19,0) addend casts (the
    * [[mannWhitneyU]] width discipline; per-unit x·y must fit the
    * width-37 addend — scale your metric accordingly); the
    * N·Σxy − Σx·Σy combinations then run as fixed-order DOUBLE chains
    * (a 38-wide decimal cannot multiply again under DuckDB's width
    * cap), so θ, the adjusted means, and ρ² are short deterministic
    * IEEE chains rounded to 9. Zero covariate variance (constant
    * pre-period) emits NULL θ/adjusted means (CUPED undefined — fall
    * back to the raw test). Units with no pre or no post rows count
    * zero for that side (the standard missing-covariate convention).
    *
    * Scale shape: one per-unit hash agg, register-sized combines.
    * Output: one row `(n_a, n_b, theta, mean_a, mean_b, adj_mean_a,
    * adj_mean_b, var_reduction)`. */
  def cupedAdjustedMeans(events: DataFrame, unitCol: String,
      tsCol: String, keyCol: String,
      cutoff: java.sql.Timestamp): DataFrame = {
    val d19 = DecimalType(19, 0)
    val units = events
      .filter(col(unitCol).isNotNull && col(tsCol).isNotNull &&
        col(keyCol).isNotNull)
      .groupBy(col(unitCol).as("_graft_u"))
      .agg(
        coalesce(sum(when(col(tsCol) < lit(cutoff),
          col(keyCol).cast("long"))), lit(0L)).as("x"),
        coalesce(sum(when(col(tsCol) >= lit(cutoff),
          col(keyCol).cast("long"))), lit(0L)).as("y"))
      .withColumn("_graft_arm",
        when(conv(substring(md5(col("_graft_u").cast("string")), 1, 8),
          16, 10).cast("long") % 100 < 50, "a").otherwise("b"))
    // ONE conditional aggregate (global moments + per-arm sums in the
    // same pass), not per-arm filters cross-joined: a global agg emits
    // exactly one row even when an arm (or the whole input) is empty —
    // the documented one-row contract — and folds three shuffles into
    // one partial-combining agg
    units.agg(
        count(lit(1)).as("n"),
        sum(col("x").cast(d19)).as("sx"),
        sum(col("y").cast(d19)).as("sy"),
        sum(col("x").cast(d19) * col("x")).as("sxx"),
        sum(col("y").cast(d19) * col("y")).as("syy"),
        sum(col("x").cast(d19) * col("y")).as("sxy"),
        coalesce(sum(when(col("_graft_arm") === "a", 1L).otherwise(0L)),
          lit(0L)).as("n_a"),
        sum(when(col("_graft_arm") === "a", col("x")).otherwise(0L)
          .cast(d19)).as("sx_a"),
        sum(when(col("_graft_arm") === "a", col("y")).otherwise(0L)
          .cast(d19)).as("sy_a"),
        coalesce(sum(when(col("_graft_arm") === "b", 1L).otherwise(0L)),
          lit(0L)).as("n_b"),
        sum(when(col("_graft_arm") === "b", col("x")).otherwise(0L)
          .cast(d19)).as("sx_b"),
        sum(when(col("_graft_arm") === "b", col("y")).otherwise(0L)
          .cast(d19)).as("sy_b"))
      // second moments combine in DOUBLE over the exact DECIMAL sums —
      // a fixed-order chain both engines replay (a 38-wide decimal
      // cannot multiply again under DuckDB's width-38 cap)
      .withColumn("_cnum",
        col("sxy").cast("double") * col("n").cast("double") -
          col("sx").cast("double") * col("sy").cast("double"))
      .withColumn("_vx",
        col("sxx").cast("double") * col("n").cast("double") -
          col("sx").cast("double") * col("sx").cast("double"))
      .withColumn("_vy",
        col("syy").cast("double") * col("n").cast("double") -
          col("sy").cast("double") * col("sy").cast("double"))
      .withColumn("theta",
        when(col("_vx") === 0.0, lit(null).cast("double"))
          .otherwise(round(col("_cnum") / col("_vx"), 9)))
      .withColumn("_xbar",
        col("sx").cast("double") / col("n").cast("double"))
      // empty-arm means are NULL (0/0 would be an engine-repr'd NaN)
      .withColumn("mean_a", when(col("n_a") === 0L,
        lit(null).cast("double")).otherwise(
        round(col("sy_a").cast("double") /
          col("n_a").cast("double"), 9)))
      .withColumn("mean_b", when(col("n_b") === 0L,
        lit(null).cast("double")).otherwise(
        round(col("sy_b").cast("double") /
          col("n_b").cast("double"), 9)))
      .withColumn("adj_mean_a", when(col("n_a") === 0L,
        lit(null).cast("double")).otherwise(
        round(col("sy_a").cast("double") / col("n_a").cast("double") -
          col("theta") * (col("sx_a").cast("double") /
            col("n_a").cast("double") - col("_xbar")), 9)))
      .withColumn("adj_mean_b", when(col("n_b") === 0L,
        lit(null).cast("double")).otherwise(
        round(col("sy_b").cast("double") / col("n_b").cast("double") -
          col("theta") * (col("sx_b").cast("double") /
            col("n_b").cast("double") - col("_xbar")), 9)))
      .withColumn("var_reduction",
        when(col("_vx") === 0.0 || col("_vy") === 0.0,
          lit(null).cast("double"))
          .otherwise(round(col("_cnum") * col("_cnum") /
            (col("_vx") * col("_vy")), 9)))
      .select(col("n_a"), col("n_b"), col("theta"), col("mean_a"),
        col("mean_b"), col("adj_mean_a"), col("adj_mean_b"),
        col("var_reduction"))
  }

  /** The [[bootstrapMeanCi]] replicate stage, exposed for the streaming
    * twin's equivalence spec: per replicate b, the md5-derived
    * Poisson(1)-weighted mean over `(id, x)` rows. Output:
    * `(b, w_sum, m)` — total drawn weight and the round-9 mean (NULL
    * when the replicate drew zero weight). */
  private[graft] def bootstrapReplicateMeans(rows: DataFrame,
      replicates: Int): DataFrame = {
    val dt = DecimalType(28, 12)
    val u = (conv(substring(md5(concat(col("id").cast("string"), lit("_"),
      col("b").cast("string"))), 1, 7), 16, 10).cast("double") + 0.5) /
      lit((1L << 28).toDouble)
    // Poisson(1) inverse CDF; tail mass above 5 (~6e-4) folds into 5
    val w = when(u < 0.36787944117144233, 0L)
      .when(u < 0.7357588823428847, 1L)
      .when(u < 0.9196986029286058, 2L)
      .when(u < 0.9810118431238463, 3L)
      .when(u < 0.9963401531726563, 4L)
      .otherwise(5L)
    rows
      .select(col("id"), col("x").cast("double").as("x"),
        explode(expr(s"sequence(0, ${replicates - 1})")).as("b"))
      .withColumn("_graft_w", w)
      .groupBy(col("b"))
      .agg(sum((col("_graft_w").cast("double") * col("x"))
          .cast(dt)).cast("double").as("_graft_s"),
        sum(col("_graft_w")).as("w_sum"))
      // a replicate that drew zero total weight (P ≈ e^-n, real only
      // for near-empty inputs) has no mean — NULL, never an ANSI
      // division-by-zero
      .select(col("b"), col("w_sum"),
        when(col("w_sum") === 0L, lit(null).cast("double"))
          .otherwise(round(col("_graft_s") /
            col("w_sum").cast("double"), 9)).as("m"))
  }

  /** MANN–WHITNEY U rank-sum test over the same deterministic md5
    * 50/50 unit split as [[abTestZ]] — the NONPARAMETRIC experiment
    * readout (no normality assumption; robust to the heavy-tailed
    * metrics real revenue/latency columns are): with midranks over the
    * pooled sample,
    *
    *   U_A = R_A − n_A(n_A+1)/2,
    *   z = (U_A − n_A·n_B/2) / sqrt(n_A·n_B/12 · ((N+1) − Σ(t³−t)/(N(N−1))))
    *
    * (the tie-corrected normal approximation, no continuity
    * correction). `keyCol` must be an INTEGRAL metric key (scale your
    * decimals first — integer keys are what keep ranking exact):
    * midranks are computed DOUBLED (`2·cum_before + t + 1`, integer
    * exact, no halves), and the rank sums run as DECIMAL(19,0)×BIGINT
    * addends into DECIMAL(38,0) accumulators — exact and
    * overflow-safe past a billion units (DuckDB caps decimal-multiply
    * width at 38, so the addend stays width-37; the tie cubic keeps
    * `t²` in BIGINT, loud-on-overflow past ~3e9 ties on ONE value).
    * The only floats are the final fixed z chain, rounded to 9; a
    * tie-degenerate sample (every value equal) emits NULL.
    *
    * Scale shape: one per-unit hash agg, one per-(key) hash agg, the
    * [[withPrefixSum]] two-level scan for pooled cumulative counts
    * (never one global window task), and register-sized combines.
    * Output: one row `(n_a, n_b, u_a, mean_u, z_score)`. */
  def mannWhitneyU(events: DataFrame, unitCol: String,
      keyCol: String): DataFrame = {
    val d19 = DecimalType(19, 0)
    val units = events
      .filter(col(unitCol).isNotNull && col(keyCol).isNotNull)
      .groupBy(col(unitCol).as("_graft_u"))
      // one observation per unit: the unit's total metric key (exact
      // integer sum — the standard per-unit aggregation step)
      .agg(sum(col(keyCol).cast("long")).as("k"))
      .withColumn("_graft_arm",
        when(conv(substring(md5(col("_graft_u").cast("string")), 1, 8),
          16, 10).cast("long") % 100 < 50, "a").otherwise("b"))
    val perKey = units.groupBy(col("k"))
      .agg(count(lit(1)).as("t"),
        sum(when(col("_graft_arm") === "a", 1L).otherwise(0L)).as("ta"))
    val ranked = withPrefixSum(perKey, "k", "t", "cum_before")
      .withColumn("mr2", lit(2L) * col("cum_before") + col("t") + 1L)
    val agg = ranked.agg(
      sum(col("ta")).as("n_a"),
      sum(col("t") - col("ta")).as("n_b"),
      sum(col("ta").cast(d19) * col("mr2")).as("r2a"),
      sum(col("t").cast(d19) * (col("t") * col("t")) - col("t")).as("ties"))
    agg
      .withColumn("n", col("n_a") + col("n_b"))
      // U_A = R_A − n_A(n_A+1)/2, computed doubled then halved by an
      // exact binary division
      .withColumn("u_a",
        (col("r2a") - col("n_a").cast(d19) * (col("n_a") + 1L))
          .cast("double") / 2.0)
      .withColumn("mean_u",
        (col("n_a").cast(d19) * col("n_b")).cast("double") / 2.0)
      .withColumn("_graft_var",
        (col("n_a").cast(d19) * col("n_b")).cast("double") / 12.0 *
          ((col("n").cast("double") + 1.0) -
            col("ties").cast("double") /
              (col("n").cast(d19) * (col("n") - 1L)).cast("double")))
      .withColumn("z_score",
        when(col("_graft_var") <= 0.0, lit(null).cast("double"))
          .otherwise(round((col("u_a") - col("mean_u")) /
            sqrt(col("_graft_var")), 9)))
      .select(col("n_a"), col("n_b"), col("u_a"), col("mean_u"),
        col("z_score"))
  }

  /** POISSON-BOOTSTRAP confidence interval for a metric mean — the
    * distributed bootstrap (each row independently contributes
    * Poisson(1) copies to each replicate instead of the multinomial
    * resample a single machine would draw; Chamandy et al., "Estimating
    * Uncertainty for Massive Data Streams", Google 2012): B replicate
    * means, the CI read off their order statistics. THE way big
    * pipelines attach error bars to a metric without collecting it.
    *
    * Determinism: the replicate weight is not random — u derives from
    * md5(id, replicate) (28-bit prefix, +0.5, /2^28 — the
    * [[graft.operators.TextAnalysis.weightedSample]] construction) and
    * inverts the Poisson(1) CDF through fixed double literals, so every
    * engine draws the same weights. Replicate means are order-free
    * DECIMAL(28,12) sums over weighted values with one IEEE division
    * rounded to 9; CI bounds are EXACT order statistics (1-based ranks
    * ceil(lo·B) and ceil(hi·B)) of the sorted replicate means — no
    * interpolation rule to disagree on.
    *
    * Scale shape: one map-side explode to B weighted copies (bounded
    * B× blowup — the honest bootstrap cost), one partial-aggregating
    * hash agg per replicate (B rows out), one tiny sort. Output: one
    * row `(n_rows, n_replicates, mean, ci_lo, ci_hi)`. */
  def bootstrapMeanCi(events: DataFrame, idCol: String, valueCol: String,
      replicates: Int = 64, lo: Double = 0.025,
      hi: Double = 0.975): DataFrame = {
    require(replicates >= 2, "need at least two replicates")
    require(lo > 0 && hi < 1 && lo < hi, "need 0 < lo < hi < 1")
    val loRank = math.max(1, math.ceil(lo * replicates).toInt)
    val hiRank = math.min(replicates, math.ceil(hi * replicates).toInt)
    val dt = DecimalType(28, 12)
    // spread: the replicate stage below does `replicates` md5 draws PER
    // ROW; on an unsplittable single-row-group scan all of that CPU ran
    // in one task (round-15 profile: 9.5 s task time, 1 task). Keyed
    // conditional repartition parallelizes it; identity at scale.
    val base = Spread.spread(events
      .filter(col(idCol).isNotNull && col(valueCol).isNotNull)
      .select(col(idCol).cast("string").as("_graft_id"),
        col(valueCol).cast("double").as("_graft_x")), col("_graft_id"))
    val overall = base.agg(
      count(lit(1)).as("n_rows"),
      round(sum(col("_graft_x").cast(dt)).cast("double") /
        count(lit(1)).cast("double"), 9).as("mean"))
    val reps = bootstrapReplicateMeans(base.select(
      col("_graft_id").as("id"), col("_graft_x").as("x")), replicates)
      .select(col("b"), col("m"))
    val ci = reps.agg(sort_array(collect_list(col("m"))).as("ms"))
      .select(
        lit(replicates).as("n_replicates"),
        element_at(col("ms"), loRank).as("ci_lo"),
        element_at(col("ms"), hiRank).as("ci_hi"))
    overall.crossJoin(ci)
      .select(col("n_rows"), col("n_replicates"), col("mean"),
        col("ci_lo"), col("ci_hi"))
  }

  /** Classical ADDITIVE seasonal decomposition of each key's daily
    * event-count series (the moving-average STL-lite every monitoring
    * stack runs before alerting on "trend" or "seasonality"):
    *
    *   trend_t    = centered `period`-row moving average over the
    *                key's OBSERVED days in date order (full windows
    *                only — edge days emit NULL trend/resid). NOTE:
    *                this is a ROWS window, not a calendar window — a
    *                key with gap days averages its non-contiguous
    *                observed rows, and the weekday slot below indexes
    *                the calendar day, not the row. For strict
    *                calendar-period semantics densify each key first
    *                with [[gapFillDaily]] (zero-filled days then make
    *                ROWS ≡ calendar) and decompose the result.
    *   seasonal_s = per-(key, weekday-slot) mean of (x − trend),
    *                centered so the indices sum to ~0 per key
    *   resid_t    = x − trend − seasonal
    *
    * Determinism: daily counts are exact BIGINTs; the trend is one IEEE
    * division of an exact window sum by the period; the two means go
    * through order-free DECIMAL(28,12) addend sums rounded to 9 (the
    * suite convention); the residual is two fixed-order subtractions
    * rounded to 9 — every float op replayed verbatim by the oracle.
    * The slot is `epochDay mod period` — calendar-free, engine-exact.
    *
    * Scale shape: one partial hash agg to daily counts; a BOUNDED
    * ±half-period ROWS window per key (the [[rollingMadAnomalies]]
    * partition contract — no global window anywhere); one slot-keyed
    * hash agg and one per-key agg for the centering, joined back by
    * key — (nKeys × period)-sized frames, so the planner broadcasts
    * them when small and shuffle-joins at fleet scale (no forced
    * hint). Output: `(key, day, n_events, slot, trend, seasonal,
    * resid)`, one row per observed (key, day). */
  def seasonalDecompose(events: DataFrame, keyCol: String, tsCol: String,
      period: Int = 7): DataFrame = {
    require(period >= 2 && period % 2 == 1,
      "period must be an odd integer >= 3 (centered window)")
    val half = period / 2
    val daily = events
      .filter(col(keyCol).isNotNull && col(tsCol).isNotNull)
      .groupBy(col(keyCol), col(tsCol).cast("date").as("day"))
      .agg(count(lit(1)).as("n_events"))
    val frame = Window.partitionBy(col(keyCol)).orderBy(col("day"))
      .rowsBetween(-half, half)
    val dt = DecimalType(28, 12)
    val withTrend = daily
      .withColumn("slot",
        pmod(datediff(col("day"), lit(java.sql.Date.valueOf("1970-01-01"))),
          lit(period)))
      .withColumn("trend",
        when(count(lit(1)).over(frame) === period,
          sum(col("n_events")).over(frame).cast("double") /
            lit(period.toDouble)))
      .withColumn("detr", col("n_events").cast("double") - col("trend"))
    val seasonal = withTrend.filter(col("detr").isNotNull)
      .groupBy(col(keyCol), col("slot"))
      .agg(round(sum(col("detr").cast(dt)).cast("double") /
        count(lit(1)).cast("double"), 9).as("s_raw"))
    val centers = seasonal.groupBy(col(keyCol))
      .agg(round(sum(col("s_raw").cast(dt)).cast("double") /
        count(lit(1)).cast("double"), 9).as("s_mean"))
    withTrend
      .join(seasonal, Seq(keyCol, "slot"), "left_outer")
      .join(centers, Seq(keyCol), "left_outer")
      .withColumn("seasonal",
        round(col("s_raw") - col("s_mean"), 9))
      .withColumn("resid",
        round(col("n_events").cast("double") - col("trend") -
          col("seasonal"), 9))
      .select(col(keyCol), col("day"), col("n_events"), col("slot"),
        col("trend"), col("seasonal"), col("resid"))
  }

  /** Holt–Winters ADDITIVE seasonal smoothing (Winters 1960), final
    * state per key over the day-ordered DAILY event-count series —
    * [[holtLinear]] plus a rotating seasonal register of `period`
    * slots:
    *
    *   l_i = α·(x_i − s_{i−m}) + (1−α)·(l_{i−1} + b_{i−1})
    *   b_i = γ·(l_i − l_{i−1}) + (1−γ)·b_{i−1}
    *   s_i = δ·(x_i − l_i) + (1−δ)·s_{i−m}
    *
    * with l_0 = x_0, b_0 = 0, all seasonal slots 0 — the deterministic
    * cold-start convention (no season-long init pass). The fold state
    * is one (2+m)-slot DOUBLE ARRAY `[level, trend, s_next..s_last]`
    * that ROTATES each step (head consumed, fresh estimate appended),
    * so the update is pure list arithmetic both engines replay in
    * identical IEEE operand order — the [[holtLinear]] array-state
    * contract (struct states fold sequentially in DuckDB), inits from
    * the first element's padded state because `list_reduce` has no
    * init operand. Emits the one-step forecast
    * `level + trend + s_next`. Output:
    * `(key, n_days, level, trend, season_next, forecast)`.
    *
    * Scale shape: one partial hash agg to daily counts, one hash agg
    * to the bounded per-key series, then a map-only fold. */
  def holtWinters(events: DataFrame, keyCol: String, tsCol: String,
      period: Int = 7, alpha: Double = 0.3, gamma: Double = 0.1,
      delta: Double = 0.2): DataFrame = {
    require(period >= 2, "period must be at least 2")
    require(alpha > 0 && alpha <= 1, "alpha must be in (0, 1]")
    require(gamma > 0 && gamma <= 1, "gamma must be in (0, 1]")
    require(delta > 0 && delta <= 1, "delta must be in (0, 1]")
    val (oneA, oneG, oneD) = (1.0 - alpha, 1.0 - gamma, 1.0 - delta)
    val daily = events
      .filter(col(keyCol).isNotNull && col(tsCol).isNotNull)
      .groupBy(col(keyCol), col(tsCol).cast("date").as("day"))
      .agg(count(lit(1)).as("n"))
    val lNew = s"$alpha * (element_at(x, 1) - element_at(acc, 3)) + " +
      s"$oneA * (element_at(acc, 1) + element_at(acc, 2))"
    daily.groupBy(col(keyCol))
      .agg(sort_array(collect_list(struct(col("day"), col("n")))).as("xs"),
        count(lit(1)).as("nd"))
      // each step's value rides a (2+m)-slot padded state so the FIRST
      // element doubles as the init state [x_1, 0, 0...] — the q123
      // list_reduce-has-no-init convention
      .withColumn("padded", expr(s"""transform(xs,
        p -> concat(array(CAST(p.n AS DOUBLE), CAST(0 AS DOUBLE)),
                    array_repeat(CAST(0 AS DOUBLE), $period)))"""))
      .withColumn("st", expr(s"""aggregate(
        slice(padded, 2, size(padded) - 1),
        element_at(padded, 1),
        (acc, x) -> concat(
          array($lNew,
            $gamma * (($lNew) - element_at(acc, 1))
              + $oneG * element_at(acc, 2)),
          slice(acc, 4, ${period - 1}),
          array($delta * (element_at(x, 1) - ($lNew))
              + $oneD * element_at(acc, 3))))"""))
      .select(col(keyCol), col("nd").cast("int").as("n_days"),
        element_at(col("st"), 1).as("level"),
        element_at(col("st"), 2).as("trend"),
        element_at(col("st"), 3).as("season_next"),
        (element_at(col("st"), 1) + element_at(col("st"), 2) +
          element_at(col("st"), 3)).as("forecast"))
  }
}
