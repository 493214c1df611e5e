package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Data-layout operators: multi-dimensional clustering for write-side
  * file organization, plus a file-level min/max stats manifest for
  * data skipping. The 100 TB story: a table laid out by z-value has
  * every file covering a compact hyper-rectangle of the coordinate
  * space, so parquet min/max (and partition-level) pruning cuts reads on
  * ANY filtered dimension — a plain sort clusters only its leading key.
  */
object Layout {

  /** Column wrapper over the native [[graft.functions.ZValue]] codegen
    * expression: interleave the low `bits` bits of each coordinate. */
  def zvalue(bits: Int, coords: Column*): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.functions.ZValue(
      org.apache.spark.sql.catalyst.expressions.Literal(bits) +:
        coords.map(ColumnBridge.expression)))
  }

  /** Z-order clustering pass: range-partition on the z-value (each
    * output partition/file = one compact z-range = one compact
    * rectangle in coordinate space) and sort within partitions so
    * parquet row-group stats are tight too. Purely a repartition + sort
    * — composes with any writer. */
  def zorderLayout(df: DataFrame, zCol: String, numPartitions: Int): DataFrame =
    df.repartitionByRange(numPartitions, col(zCol))
      .sortWithinPartitions(zCol)

  /** Column wrapper over the native [[graft.functions.HilbertIndex]]
    * codegen expression: position of (x, y) along the order-`bits`
    * Hilbert curve. Drop-in for [[zvalue]] in 2-D layouts; strictly
    * better locality (consecutive indices are always grid neighbors,
    * so a file's index range is one connected near-square region —
    * no Morton Z-jumps inflating its min/max box). */
  def hilbert2d(bits: Int, x: Column, y: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.functions.HilbertIndex(Seq(
      org.apache.spark.sql.catalyst.expressions.Literal(bits),
      ColumnBridge.expression(x), ColumnBridge.expression(y))))
  }

  /** k-dimensional [[hilbert2d]]: position of (c₁ … c_k) along the
    * order-`bits` Hilbert curve over the k-d grid (Skilling transform
    * for k ≥ 3). Real layout keys are 3-4 columns — same call shape as
    * [[zvalue]], same strictly-better locality story as 2-D. Requires
    * bits × k ≤ 63. */
  def hilbert(bits: Int, coords: Column*): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.functions.HilbertIndex(
      org.apache.spark.sql.catalyst.expressions.Literal(bits) +:
        coords.map(ColumnBridge.expression)))
  }

  /** Small-file compaction planner — the maintenance op every large
    * table needs: streaming ingest and per-executor writers leave
    * thousands of undersized files per partition, and read throughput
    * dies on open/footer overhead long before bytes matter. Given a
    * `(key, file, bytes)` frame (from [[manifest]]/[[bloomManifest]]
    * file stats or a catalog listing), assign files to compaction bins
    * by the FIRST-FIT-in-name-order greedy: walk each partition's files
    * in file-name order, keep appending to the current bin while it
    * stays ≤ `targetBytes`, else open a new bin (an oversized single
    * file gets its own bin). One rewrite job per bin then yields
    * ~target-sized files.
    *
    * The greedy is inherently sequential PER PARTITION (each decision
    * depends on the running bin fill — no prefix-sum shortcut exists
    * for the reset), so it runs as a group-bounded kernel: partitions
    * pack in parallel across the cluster, and the per-group state is
    * one file list (files-per-partition is bounded by compaction cadence
    * in practice — this is a listing-sized frame, not data-sized).
    * Deterministic and engine-replayable (oracle q92 replays the walk
    * as a recursive CTE). Output: `(key, file, bytes, bin)`. */
  def compactionPlan(files: DataFrame, keyCol: String, fileCol: String,
      bytesCol: String, targetBytes: Long): DataFrame = {
    require(targetBytes > 0, "targetBytes must be positive")
    val sp = files.sparkSession
    import sp.implicits._
    files.select(col(keyCol).cast("string").as("key"),
        col(fileCol).cast("string").as("file"),
        col(bytesCol).cast("long").as("bytes"))
      .filter(col("file").isNotNull && col("bytes").isNotNull)
      .as[(String, String, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (key, it) =>
        val fs = it.toArray.sortBy(_._2)
        val out = new scala.collection.mutable.ArrayBuffer[(String, String, Long, Long)](fs.length)
        var bin = 0L; var binSum = Long.MinValue
        fs.foreach { case (_, f, b) =>
          if (binSum == Long.MinValue) binSum = b
          else if (binSum + b <= targetBytes) binSum += b
          else { bin += 1; binSum = b }
          out += ((key, f, b, bin))
        }
        out.iterator
      }.toDF("key", "file", "bytes", "bin")
  }

  /** Name of the manifest subdirectory. Underscore-prefixed so every
    * parquet/Hadoop reader treats it as metadata and skips it when
    * scanning the dataset itself. */
  val ManifestDir = "_graft_manifest"

  /** Per-FILE min/max stats manifest over `cols`: one row per data file
    * — (file, n_rows, min_<c>, max_<c>, ...). This is the Delta/Iceberg
    * data-skipping design: parquet row-group stats already prune WITHIN
    * a file, but the reader must still list and open every footer to
    * know that — at millions of files that planning cost dominates. A
    * manifest is one tiny table (a row per file) that answers "which
    * files can match?" with a single scan of itself.
    *
    * Built as one column-pruned pass over the dataset (only `cols` are
    * read, grouped by `input_file_name` — partial aggs, no shuffle of
    * data rows). Min/max ignore nulls (SQL agg semantics), matching how
    * the pruning predicate treats them. */
  def statsManifest(spark: SparkSession, dataPath: String,
      cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "need at least one indexed column")
    spark.read.parquet(dataPath)
      .groupBy(input_file_name().as("file"))
      .agg(count(lit(1)).as("n_rows"),
        cols.flatMap(c => Seq(min(col(c)).as(s"min_$c"),
          max(col(c)).as(s"max_$c"))): _*)
  }

  /** Build and persist the manifest under `dataPath/_graft_manifest`.
    * The manifest describes the file set AT BUILD TIME — rewrite it
    * after any write that adds/replaces data files (same contract as a
    * table format's snapshot). */
  def writeManifest(spark: SparkSession, dataPath: String,
      cols: Seq[String]): Unit =
    statsManifest(spark, dataPath, cols)
      .coalesce(1) // one row per file: tiny by construction
      .write.mode("overwrite").parquet(s"$dataPath/$ManifestDir")

  /** Incrementally extend the manifest after APPENDING data files: the
    * current file listing is diffed against the manifest's covered set,
    * and only uncovered files are scanned for stats, which append as
    * new manifest rows (the manifest dir is itself append-only here —
    * no rewrite of existing entries). At 100 TB this is the difference
    * between a stats pass over the day's partition and one over the
    * whole table. Contract: appends only — a rewritten/compacted file
    * set needs [[writeManifest]] (same rule as a table format: appends
    * are cheap, rewrites are a new snapshot). */
  def updateManifest(spark: SparkSession, dataPath: String,
      cols: Seq[String]): Unit = {
    require(cols.nonEmpty, "need at least one indexed column")
    val manifestPath = s"$dataPath/$ManifestDir"
    // bootstrap: no manifest yet -> full build. Makes per-batch streaming
    // maintenance a single idempotent call (see StreamsSpec).
    val mp = new org.apache.hadoop.fs.Path(manifestPath)
    val fs = mp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(mp)) { writeManifest(spark, dataPath, cols); return }
    val covered = spark.read.parquet(manifestPath)
      .select(col("file")).collect().map(_.getString(0)).toSet
    // listing only — no data scan to discover the delta
    val newFiles = spark.read.parquet(dataPath).inputFiles.filterNot(covered)
    if (newFiles.nonEmpty)
      spark.read.parquet(newFiles.toIndexedSeq: _*)
        .groupBy(input_file_name().as("file"))
        .agg(count(lit(1)).as("n_rows"),
          cols.flatMap(c => Seq(min(col(c)).as(s"min_$c"),
            max(col(c)).as(s"max_$c"))): _*)
        .coalesce(1)
        .write.mode("append").parquet(manifestPath)
  }

  /** Manifest-pruned range scan: `ranges` are inclusive `(col, lo, hi)`
    * intervals; a file survives iff every interval CAN intersect its
    * [min, max] (i.e. NOT (max < lo OR min > hi) — files whose stats
    * are null, meaning all-null values, cannot match and are skipped).
    * Surviving files are read directly and the exact residual predicate
    * re-applied, so results are identical to a full scan + filter while
    * planning I/O touches only the manifest. The surviving-file collect
    * is one string per file — the same cardinality as the file listing
    * every scan does anyway. */
  def prunedRead(spark: SparkSession, dataPath: String,
      ranges: Seq[(String, Any, Any)]): DataFrame = {
    require(ranges.nonEmpty, "need at least one range predicate")
    val manifest = spark.read.parquet(s"$dataPath/$ManifestDir")
    val surviving = ranges.foldLeft(manifest) { case (m, (c, lo, hi)) =>
      m.filter(!(col(s"max_$c") < lit(lo) || col(s"min_$c") > lit(hi)))
    }
    val files = surviving.select(col("file")).collect().map(_.getString(0))
    val residual = ranges.map { case (c, lo, hi) =>
      col(c) >= lit(lo) && col(c) <= lit(hi)
    }.reduce(_ && _)
    if (files.isEmpty)
      spark.read.parquet(dataPath).filter(lit(false))
    else spark.read.parquet(files: _*).filter(residual)
  }

  // --------------------------------------------------------------------
  // Per-file Bloom filters: point-lookup skipping where min/max can't.
  // A hash-distributed layout (the common case for write throughput)
  // gives every file nearly the SAME [min, max] on a high-cardinality
  // key, so range stats prune nothing. A small per-file Bloom filter
  // (2^bitsLog2 bits, default 8 KiB) answers "can this key be in this
  // file?" with no false negatives — the same design as Parquet's
  // optional bloom pages and Delta's deletion-vector lookups, but
  // planned from one tiny manifest table instead of a footer per file.
  // --------------------------------------------------------------------

  /** INCREMENTAL manifest maintenance: add stats rows for data files
    * not yet covered by the stored manifest (an append write's new
    * files) without re-scanning the corpus — only the NEW files are
    * read, the old rows ride along untouched. This is the table-format
    * append contract (Delta/Iceberg snapshot append) for the manifest:
    * at 100 TB a full [[writeManifest]] rebuild re-reads every file,
    * while an append touches exactly the appended bytes. File identity
    * is the scan's own listing (`inputFiles` ↔ `input_file_name`, same
    * URI form). Returns the number of files added (0 = no-op, manifest
    * untouched). Spec-pinned byte-identical to a full rebuild. */
  def appendManifest(spark: SparkSession, dataPath: String,
      cols: Seq[String]): Long = {
    require(cols.nonEmpty, "need at least one indexed column")
    val manifestPath = s"$dataPath/$ManifestDir"
    // old rows are per-file (tiny): materialize them eagerly so the
    // overwrite below never reads from the directory it replaces
    val existing = spark.read.parquet(manifestPath).localCheckpoint(true)
    val known = existing.select(col("file")).collect().map(_.getString(0)).toSet
    val fresh = spark.read.parquet(dataPath).inputFiles.filterNot(known)
    if (fresh.nonEmpty) {
      val newStats = spark.read.parquet(fresh.toIndexedSeq: _*)
        .groupBy(input_file_name().as("file"))
        .agg(count(lit(1)).as("n_rows"),
          cols.flatMap(c => Seq(min(col(c)).as(s"min_$c"),
            max(col(c)).as(s"max_$c"))): _*)
      existing.unionByName(newStats)
        .coalesce(1)
        .write.mode("overwrite").parquet(manifestPath)
    }
    Iterate.release(existing)
    fresh.length.toLong
  }

  /** Name of the Bloom-manifest subdirectory (metadata-prefixed). */
  val BloomManifestDir = "_graft_bloom"

  /** Bit positions for `value`: Kirsch–Mitzenmacher double hashing over
    * the md5-derived 60-bit [[graft.functions.Sketches.kmvHash]] split
    * into two 30-bit halves — deterministic, seed-free, and identical
    * at build and probe time. */
  def bloomBitPositions(value: String, bitsLog2: Int, nHashes: Int): Array[Long] = {
    val m = 1L << bitsLog2
    val h = graft.functions.Sketches.kmvHash(value)
    val h1 = h & 0x3FFFFFFFL
    val h2 = (h >>> 30) & 0x3FFFFFFFL
    Array.tabulate(nHashes)(i => (h1 + i.toLong * h2) % m)
  }

  /** Bloom-bitset builder: per-file state is a FIXED 2^bitsLog2-bit
    * array (2^(bitsLog2−6) longs) regardless of row count — partial
    * aggregation ORs word-wise, so the shuffle ships one bitset per
    * file per map task. */
  def bloomAgg(bitsLog2: Int, nHashes: Int):
      org.apache.spark.sql.expressions.Aggregator[String, Array[Long], Seq[Long]] = {
    require(bitsLog2 >= 6 && bitsLog2 <= 24, "bloom size must be 2^6..2^24 bits")
    require(nHashes >= 1 && nHashes <= 16, "1..16 hash functions")
    val words = 1 << (bitsLog2 - 6)
    new org.apache.spark.sql.expressions.Aggregator[String, Array[Long], Seq[Long]] {
      override def zero: Array[Long] = new Array[Long](words)
      override def reduce(buf: Array[Long], v: String): Array[Long] = {
        if (v != null) {
          val bits = bloomBitPositions(v, bitsLog2, nHashes)
          var i = 0
          while (i < bits.length) {
            buf((bits(i) >> 6).toInt) |= 1L << (bits(i) & 63); i += 1
          }
        }
        buf
      }
      override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
        var i = 0
        while (i < a.length) { a(i) |= b(i); i += 1 }
        a
      }
      override def finish(r: Array[Long]): Seq[Long] = r.toSeq
      override def bufferEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
      override def outputEncoder: org.apache.spark.sql.Encoder[Seq[Long]] =
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()
    }
  }

  /** JVM-side membership probe (no false negatives; false positives at
    * the classic (1 − e^(−kn/m))^k rate). */
  def bloomMightContain(bloom: Seq[Long], value: String,
      bitsLog2: Int, nHashes: Int): Boolean =
    bloomBitPositions(value, bitsLog2, nHashes).forall { bit =>
      (bloom((bit >> 6).toInt) & (1L << (bit & 63))) != 0L
    }

  /** One manifest row per data file: (file, n_rows, bloom bitset over
    * `colName` cast to string). One column-pruned pass, grouped by
    * `input_file_name` — same build shape as [[statsManifest]]. */
  def bloomManifest(spark: SparkSession, dataPath: String, colName: String,
      bitsLog2: Int = 16, nHashes: Int = 5): DataFrame = {
    val ba = udaf(bloomAgg(bitsLog2, nHashes))
    spark.read.parquet(dataPath)
      .select(input_file_name().as("file"), col(colName).cast("string").as("v"))
      .groupBy(col("file"))
      .agg(count(lit(1)).as("n_rows"), ba(col("v")).as("bloom"))
  }

  /** Build and persist the Bloom manifest under
    * `dataPath/_graft_bloom` (build-time snapshot — same rewrite
    * contract as [[writeManifest]]). */
  def writeBloomManifest(spark: SparkSession, dataPath: String,
      colName: String, bitsLog2: Int = 16, nHashes: Int = 5): Unit =
    bloomManifest(spark, dataPath, colName, bitsLog2, nHashes)
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dataPath/$BloomManifestDir")

  /** INCREMENTAL Bloom-manifest maintenance — the [[appendManifest]]
    * contract for the point-lookup bitsets: build bitsets ONLY for data
    * files not yet covered (an append write's new files; listing diff
    * against the stored rows), union with the old rows, rewrite.
    * Bitsets are per-file ORs, so old rows never change when files are
    * appended. Returns the number of files added (0 = no-op). */
  def appendBloomManifest(spark: SparkSession, dataPath: String,
      colName: String, bitsLog2: Int = 16, nHashes: Int = 5): Long = {
    val manifestPath = s"$dataPath/$BloomManifestDir"
    val existing = spark.read.parquet(manifestPath).localCheckpoint(true)
    // guard against parameter drift: appending rows built with a
    // different bitsLog2 would make probe bit positions inconsistent
    // across files — SILENT false negatives. The stored bitset length
    // pins the original size.
    val storedWords = existing.select(size(col("bloom")))
      .limit(1).collect().headOption.map(_.getInt(0))
    storedWords.foreach { w =>
      require(w == 1 << (bitsLog2 - 6),
        s"appendBloomManifest bitsLog2=$bitsLog2 (${1 << (bitsLog2 - 6)} words) " +
          s"does not match the stored manifest's $w-word bitsets")
    }
    val known = existing.select(col("file")).collect().map(_.getString(0)).toSet
    val fresh = spark.read.parquet(dataPath).inputFiles.filterNot(known)
    if (fresh.nonEmpty) {
      val ba = udaf(bloomAgg(bitsLog2, nHashes))
      val newRows = spark.read.parquet(fresh.toIndexedSeq: _*)
        .select(input_file_name().as("file"), col(colName).cast("string").as("v"))
        .groupBy(col("file"))
        .agg(count(lit(1)).as("n_rows"), ba(col("v")).as("bloom"))
      existing.unionByName(newRows)
        .coalesce(1)
        .write.mode("overwrite").parquet(manifestPath)
    }
    Iterate.release(existing)
    fresh.length.toLong
  }

  /** Point-lookup scan pruned by the Bloom manifest: a file is read iff
    * its bitset CAN contain at least one probe value. The membership
    * test runs as a Column expression over the manifest (probe bit
    * positions are nValues × nHashes driver-side ints; the bitsets
    * never leave the executors) and only surviving file NAMES are
    * collected — the same cardinality as any scan's file listing. The
    * exact `IN` predicate is re-applied on the surviving files, so
    * results are identical to a full scan + filter. */
  def bloomPrunedRead(spark: SparkSession, dataPath: String, colName: String,
      values: Seq[Any], bitsLog2: Int = 16, nHashes: Int = 5): DataFrame = {
    require(values.nonEmpty, "need at least one probe value")
    val manifest = spark.read.parquet(s"$dataPath/$BloomManifestDir")
    // Probe strings MUST replay build-time stringification exactly: the
    // manifest hashed `col(colName).cast("string")`, so each probe is
    // cast to the COLUMN's type first, then to string, by Spark's own
    // Cast (JVM toString diverges for decimals '1.50' vs '1.5',
    // timestamps with fractional seconds, …) — a divergent string
    // hashes to different bits → silent FALSE NEGATIVES. One local
    // one-row projection evaluates the same Cast chain.
    val colType = spark.read.parquet(dataPath).schema(colName).dataType
    val probeStrings: Seq[String] = {
      val cols = values.zipWithIndex.map { case (v, i) =>
        lit(v).cast(colType).cast("string").as(s"_p$i")
      }
      val row = spark.range(1).select(cols: _*).collect().head
      values.indices.map(i => if (row.isNullAt(i)) null else row.getString(i))
    }
    // A null probe can never match (IN skips nulls; the builder skips
    // nulls), so drop it from the bitset test.
    val probes = probeStrings.filter(_ != null)
    require(probes.nonEmpty, "all probe values cast to null")
    val survives = probes.map { v =>
      bloomBitPositions(v, bitsLog2, nHashes).map { bit =>
        element_at(col("bloom"), (bit >> 6).toInt + 1)
          .bitwiseAND(lit(1L << (bit & 63))) =!= 0L
      }.reduce(_ && _)
    }.reduce(_ || _)
    val files = manifest.filter(survives)
      .select(col("file")).collect().map(_.getString(0))
    if (files.isEmpty)
      spark.read.parquet(dataPath).filter(lit(false))
    else
      spark.read.parquet(files.toIndexedSeq: _*)
        .filter(col(colName).isin(values: _*))
  }
}
