package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, DecimalType}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Canonical MULTISET fingerprint of a result parquet — the round-13
    * evidence capture for driver-red adjudication (VERDICT r12 item 1).
    *
    * Recipe (mirrored by tools/evidence.py so the DuckDB oracle side can
    * compute the identical fingerprint for integer/string results):
    * columns sorted by name; each value rendered to string (binary →
    * hex, null → the 0x00 sentinel "NULL"); values joined with 0x01;
    * row hash = first 15 hex chars of md5 (60 bits, long-safe); the
    * fingerprint is (row count, sum of row hashes mod 2^64, bit_xor of
    * row hashes) — fully order-INDEPENDENT, so it cannot depend on file
    * layout, partitioning, or read order, only on the row multiset.
    * For BIGINT/VARCHAR results (t43/t56 among them) the rendering is
    * engine-portable, so a DuckDB-side recompute is directly comparable;
    * for float results cross-engine repr may differ and the fingerprint
    * is JVM-run-to-JVM-run evidence only (the sample rows still diff).
    *
    * Returns (n, sumHex, xorHex, sample) where sample = the 12 rows with
    * the SMALLEST row hash (an order-independent, bounded, concrete
    * excerpt for diffing a divergent multiset). */
  def canonFingerprint(df: DataFrame): (Long, String, String, Seq[(String, String)]) = {
    val cols = df.columns.sorted.toSeq
    val rendered = cols.map { c =>
      val dt = df.schema(c).dataType
      val base = if (dt == BinaryType) hex(col(c)) else col(c).cast("string")
      coalesce(base, lit("\u0000NULL"))
    }
    val rowStr = concat_ws("\u0001", rendered: _*)
    val proj = df.select(substring(md5(rowStr), 1, 15).as("_h"),
      rowStr.as("_r"))
    val hLong = conv(col("_h"), 16, 10).cast("long")
    val agg = proj.agg(
      count(lit(1)).as("n"),
      coalesce(sum(hLong.cast(DecimalType(38, 0))) %
        lit(BigDecimal("18446744073709551616")), lit(BigDecimal(0))).as("s"),
      coalesce(bit_xor(hLong), lit(0L)).as("x")).collect().head
    val n = agg.getLong(0)
    val s = agg.getDecimal(1).toBigInteger.toString(16)
    val x = java.lang.Long.toHexString(agg.getLong(2))
    val sample = proj.orderBy(col("_h"), col("_r")).limit(12).collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    (n, s, x, sample)
  }

  /** JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in builder-authored SQL would otherwise make the
    * driver's json.load fail and silently zero the round's correctness. */
  def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.schema.GraftExtensions.sizeCodegenCache(spark.sparkContext.getConf)
    // purge any previous run's outputs: a failing query must NOT leave
    // stale parquet behind for the compare step to false-PASS on
    def purge(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(purge)
      f.delete()
    }
    purge(new java.io.File(outDir))
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_ONLY=s07_knn_pq,t29_dsir — local-iteration subset
    // filter (absent on the driver, which always dumps everything)
    // an empty/blank value means "no filter", not "nothing" — the
    // stability harness exports SPARK_GRAFT_ONLY="" for full runs
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty)
    // Evidence mode (default ON — the driver runs this unmodified): for
    // every query, the written parquet is read back and canonically
    // fingerprinted; the fingerprint goes to stdout, to
    // <outDir>/<name>/_canon.json (underscore-prefixed → invisible to
    // parquet readers), and — when a committed expectation file for this
    // SF exists — is checked against it, with divergences listed at the
    // END of the run. A red driver correctness row is then instantly
    // attributable: canon matches expectation ⇒ Spark's row multiset is
    // byte-identical to the locally verified state, so the divergence is
    // DuckDB- or compare-side; canon mismatch ⇒ Spark-side, and the
    // sample rows in _canon.json pin WHICH rows.
    val evidence = sys.env.getOrElse("SPARK_GRAFT_EVIDENCE", "1") != "0"
    // expectation file: one line per query, "name n sumHex xorHex";
    // regenerated by tools/evidence.py --expect after any query change
    val sfTag = new java.io.File(sfDir).getName  // e.g. "sf0.01"
    val expectPath = Seq(s"tools/expected_canon_$sfTag.txt",
        s"/root/repo/tools/expected_canon_$sfTag.txt")
      .map(Paths.get(_)).find(Files.exists(_))
    val expected: Map[String, (Long, String, String)] = expectPath match {
      case None => Map.empty
      case Some(p) =>
        scala.jdk.CollectionConverters.ListHasAsScala(Files.readAllLines(p))
          .asScala.map(_.trim).filter(_.nonEmpty).flatMap { line =>
            line.split("\\s+") match {
              case Array(n, c, s, x) => Some(n -> (c.toLong, s, x))
              case _ => None
            }
          }.toMap
    }
    val mismatches = scala.collection.mutable.ArrayBuffer.empty[String]
    // per-query canon records for the repo-tree evidence sink:
    // (name, n, sumHex, xorHex, matched: Option[Boolean])
    val canons = scala.collection.mutable
      .ArrayBuffer.empty[(String, Long, String, String, Option[Boolean])]
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      // the query computation+write gets the purging catch; the
      // evidence pass below gets its OWN NonFatal catch — a transient
      // failure writing diagnostics must not delete an already-written
      // correct result parquet (that would convert an evidence-only
      // hiccup into a missing correctness row)
      val wrote =
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          true
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          purge(new java.io.File(s"$outDir/$name"))
          false
        }
      if (wrote && evidence) {
        try {
          val (n, s, x, sample) = canonFingerprint(
            spark.read.parquet(s"$outDir/$name"))
          println(s"[canon] $name n=$n sum=$s xor=$x")
          val sampleJson = sample.map { case (h, r) =>
            s"[${q(h)},${q(r)}]" }.mkString("[", ",", "]")
          Files.writeString(Paths.get(s"$outDir/$name/_canon.json"),
            s"""{"query":${q(name)},"n":$n,"sum":${q(s)},"xor":${q(x)},"sample_min":$sampleJson}""")
          val matched = expected.get(name).map { case (en, es, ex) =>
            val ok = (en, es, ex) == ((n, s, x))
            if (!ok)
              mismatches += s"$name: got n=$n sum=$s xor=$x, expected n=$en sum=$es xor=$ex"
            ok
          }
          canons += ((name, n, s, x, matched))
        } catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"[verify] $name evidence pass failed (result parquet kept): ${e.getMessage}")
        }
      }
    }
    // Prefix-sum-family input diagnostics (t43/t44/t56/t57 all derive
    // from tokens(documents.text)): per-source doc count, token total,
    // and an order-independent hash over (doc_id, n_tokens) pairs. If a
    // driver-red t43/t56 recurs WITH matching canon AND matching input
    // diag, tokenization and the engine output are both pinned identical
    // to the verified local state — the red row is compare-side by
    // elimination. One tiny extra scan of documents at verify SF.
    var tokensDiagJson: Option[String] = None
    if (evidence) {
      try {
        val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        // tokens() semantics live in TextAnalysis; recompute via the
        // same operator to avoid drift between diag and operators
        val perDoc = docs.select(col("doc_id").cast("long").as("doc_id"),
          col("lang").cast("string").as("source"),
          size(graft.operators.TextAnalysis.tokens(col("text")))
            .cast("long").as("n_tokens"))
        val pairH = conv(substring(md5(concat_ws(":",
          col("doc_id").cast("string"), col("n_tokens").cast("string"))),
          1, 15), 16, 10).cast("long")
        val diag = perDoc.groupBy(col("source")).agg(
            count(lit(1)).as("docs"),
            sum(col("n_tokens")).as("tok"),
            bit_xor(pairH).as("h"))
          .orderBy(col("source")).collect()
        val parts = diag.map { r =>
          val src = if (r.isNullAt(0)) "NULL" else r.getString(0)
          s"${q(src)}:{"+ s""""docs":${r.getLong(1)},"tok":${r.getLong(2)},"xor":"${java.lang.Long.toHexString(r.getLong(3))}"}"""
        }
        val diagJson = parts.mkString("{", ",", "}")
        println(s"[canon-diag] tokens-per-source $diagJson")
        Files.writeString(Paths.get(s"$outDir/_tokens_diag.json"), diagJson)
        tokensDiagJson = Some(diagJson)
      } catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[verify] tokens diag failed: ${e.getMessage}")
      }
    }
    if (evidence) {
      if (expected.isEmpty)
        println(s"[canon-check] no expectation file for $sfTag (skipped)")
      else if (mismatches.isEmpty)
        println(s"[canon-check] all fingerprints match tools/expected_canon_$sfTag.txt")
      else {
        println(s"[canon-check] ${mismatches.size} FINGERPRINT MISMATCH(ES) vs committed expectation:")
        mismatches.foreach(m => println(s"[canon-MISMATCH] $m"))
      }
    }
    // REPO-TREE EVIDENCE SINK (round 14, VERDICT r13 item 1): persist
    // this run's canon verdict where it survives the run — the driver
    // executes Verify from this working tree, so after a driver round
    // the file in the repo answers Spark-vs-compare for any red
    // correctness row without access to the driver's stdout. Written
    // only for FULL-battery runs (subset runs would clobber the record
    // with partial evidence); its own catch — evidence persistence
    // must never fail the verify run.
    if (evidence && only.isEmpty) {
      try {
        // the root marker is a file unique to THIS repo (not any tools/
        // dir — a different checkout's tools/ must never take the write)
        val repoRoot = Seq(".", "/root/repo")
          .find(r => Files.isRegularFile(
            Paths.get(r, "tools", "expected_canon_sf0.01.txt")))
        repoRoot match {
          case None =>
            println("[canon-evidence] no repo tree found (skipped)")
          case Some(root) =>
            val qj = canons.sortBy(_._1).map { case (name, n, s, x, m) =>
              val mj = m.map(_.toString).getOrElse("null")
              s"""${q(name)}:{"n":$n,"sum":${q(s)},"xor":${q(x)},"matched_expectation":$mj}"""
            }.mkString("{", ",", "}")
            val mm = mismatches.map(q).mkString("[", ",", "]")
            // a query that crashed (wrote=false) or whose evidence pass
            // threw has NO canon row — without this it would silently
            // vanish from an "all_matched: true" record
            val missing = (expected.keySet -- canons.map(_._1).toSet)
              .toSeq.sorted
            val missJson = missing.map(q).mkString("[", ",", "]")
            val body =
              s"""{"sf":${q(sfTag)},"out_dir":${q(outDir)},
                 |"written_at":${q(java.time.Instant.now.toString)},
                 |"queries_run":${canons.size},
                 |"expectation_file":${expectPath.map(p => q(p.toString)).getOrElse("null")},
                 |"all_matched":${if (expected.isEmpty) "null"
                   else (mismatches.isEmpty && missing.isEmpty).toString},
                 |"mismatches":$mm,
                 |"missing_queries":$missJson,
                 |"tokens_per_source":${tokensDiagJson.getOrElse("null")},
                 |"queries":$qj}""".stripMargin
            val dst = Paths.get(root, s"verify_evidence_$sfTag.json")
            Files.writeString(dst, body)
            println(s"[canon-evidence] wrote ${dst.toAbsolutePath}")
        }
      } catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[verify] evidence sink failed: ${e.getMessage}")
      }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
