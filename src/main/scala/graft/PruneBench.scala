package graft

import java.nio.file.Files
import java.util.Locale

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.schema.SchemaOnRead

/** Measures what the schema-on-read library is for, per scenario:
  *
  *   - `naive_bytes`: full-schema read with Spark's built-in nested schema
  *     pruning DISABLED — the world the reference was built in;
  *   - `builtin_bytes`: full-schema read with stock Spark 4 defaults;
  *   - `pruned_bytes`: re-read with the schema our generator computed
  *     (built-in pruning still on — the two compose).
  *
  * BASELINE.md targets: ≥50% reduction vs naive on nested-heavy shapes,
  * ≥90% on deep-nest; generator overhead low single-digit ms steady-state.
  */
object PruneBench {

  /** Dotted lower-case leaf paths of a read schema, with parquet's
    * structural tokens normalized away: array element fields project to
    * `arr.field`, map keys to `m.key`, map value fields to `m.field` —
    * matching [[strippedPath]] of footer column chunks. */
  private def leafPaths(schema: StructType): Set[String] = {
    def walk(prefix: String, dt: DataType): Seq[String] = dt match {
      case s: StructType if s.nonEmpty =>
        s.fields.toSeq.flatMap(f => walk(s"$prefix${f.name.toLowerCase(Locale.ROOT)}.", f.dataType))
      case s: StructType => Seq(prefix.stripSuffix(".")) // skeleton
      case ArrayType(e, _) => walk(prefix, e)
      case MapType(_, v, _) => Seq(prefix + "key") ++ walk(prefix, v)
      case _ => Seq(prefix.stripSuffix("."))
    }
    walk("", schema).toSet
  }

  private def strippedPath(tokens: Array[String]): String = {
    val out = Seq.newBuilder[String]
    var i = 0
    while (i < tokens.length) {
      tokens(i) match {
        case "list" | "element" => // array structural tokens
        case "key_value" => // map structural group; its "value" child is structural too
          if (i + 1 < tokens.length && tokens(i + 1) == "value") i += 1
        case t => out += t.toLowerCase(Locale.ROOT)
      }
      i += 1
    }
    out.result().mkString(".")
  }

  /** Physical bytes the given read schema must fetch: total compressed
    * size of the matching column chunks across all row groups. (Also used
    * by specs — local-filesystem byte COUNTERS miss parquet's vectored
    * column-chunk reads, so footer accounting is the reliable measure of
    * what a scan schema costs.) */
  private[graft] def requiredBytes(path: String, schema: StructType, conf: Configuration): Long = {
    val leaves = leafPaths(schema)
    val files = new java.io.File(path).listFiles((_, n) => n.endsWith(".parquet"))
    files.map { f =>
      val reader = ParquetFileReader.open(
        HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(f.getPath), conf))
      try {
        reader.getFooter.getBlocks.asScala.map { block =>
          block.getColumns.asScala
            .filter { c =>
              val p = strippedPath(c.getPath.toArray)
              leaves.exists(l => p == l || p.startsWith(l + "."))
            }
            .map(_.getTotalSize).sum
        }.sum
      } finally reader.close()
    }.sum
  }

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "false") // keep FileSourceScanExec collectable
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.schema.GraftExtensions.sizeCodegenCache(spark.sparkContext.getConf)

    val dir = Files.createTempDirectory("prunebench").toString
    val n = sys.env.getOrElse("SPARK_GRAFT_PRUNE_ROWS", "200000").toInt
    writeNested(spark, s"$dir/nested", n)

    val scenarios: Seq[(String, DataFrame => DataFrame)] = Seq(
      "narrow_leaves" -> (df => df
        .filter(col("meta.flags.active"))
        .select(col("id"), col("meta.title"), col("payload.metrics.score"))),
      "deep_nest" -> (df => df
        .select(col("id"), explode(col("payload.sections")).as("sec"))
        .select(col("id"), col("sec.heading"))),
      "agg_nested" -> (df => df
        .groupBy(col("meta.category"))
        .agg(count(lit(1)).as("cnt"), sum(col("payload.metrics.score")).as("s"))),
      "map_value" -> (df => df
        .select(col("id"), col("attrs")("k3").getField("small").as("v"))
        .filter(col("v").isNotNull)))

    def wallOf(df: DataFrame, q: DataFrame => DataFrame): Double = {
      val s = System.nanoTime()
      q(df).write.mode("overwrite").format("noop").save()
      (System.nanoTime() - s) / 1e9
    }

    /** What the stock planner actually asks the scan to read. */
    def scanSchema(df: DataFrame): StructType = {
      val scans = df.queryExecution.executedPlan.collect {
        case f: FileSourceScanExec => StructType(f.requiredSchema ++ f.relation.partitionSchema)
      }
      scans.headOption.getOrElse(df.schema)
    }

    val conf = spark.sessionState.newHadoopConf()
    val results = scenarios.map { case (name, q) =>
      val full = spark.read.parquet(s"$dir/nested")
      // steady-state generator overhead: min over repetitions, on an
      // already-analyzed plan (Spark's own analyzer cost is not ours)
      val analyzed = q(full).queryExecution.analyzed
      val genMs = (1 to 7).map { _ =>
        val t0 = System.nanoTime()
        SchemaOnRead.generate(analyzed, spark)
        (System.nanoTime() - t0) / 1e6
      }.min
      val pruned = SchemaOnRead.generate(analyzed, spark).schemas.head._2

      spark.conf.set("spark.sql.optimizer.nestedSchemaPruning.enabled", "false")
      val naiveBytes = requiredBytes(s"$dir/nested", scanSchema(q(full)), conf)
      val naiveSec = wallOf(spark.read.parquet(s"$dir/nested"), q)
      spark.conf.set("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
      val builtinBytes = requiredBytes(s"$dir/nested", scanSchema(q(full)), conf)
      val builtinSec = wallOf(spark.read.parquet(s"$dir/nested"), q)
      val prunedBytes = requiredBytes(s"$dir/nested", pruned, conf)
      val prunedSec = wallOf(spark.read.schema(pruned).parquet(s"$dir/nested"), q)

      val vsNaive = 1.0 - prunedBytes.toDouble / naiveBytes
      val vsBuiltin = 1.0 - prunedBytes.toDouble / builtinBytes
      println(f"""{"scenario":"$name","naive_bytes":$naiveBytes,"builtin_bytes":$builtinBytes,"pruned_bytes":$prunedBytes,"reduction_vs_naive":$vsNaive%.4f,"reduction_vs_builtin":$vsBuiltin%.4f,"naive_sec":$naiveSec%.3f,"builtin_sec":$builtinSec%.3f,"pruned_sec":$prunedSec%.3f,"generator_ms":$genMs%.2f}""")
      (name, vsNaive, genMs)
    }
    val minRed = results.map(_._2).min
    val maxGen = results.map(_._3).max
    println(f"""{"metric":"prune_bench","min_reduction_vs_naive":$minRed%.4f,"max_generator_ms":$maxGen%.2f}""")
    spark.stop()
  }

  /** Nested-heavy synthetic table: wide strings concentrated in subtrees
    * the narrow queries never touch (the production shape the reference
    * was built for — "up to 95%" reduction, reference README.md:6). */
  private def writeNested(spark: SparkSession, path: String, n: Int): Unit = {
    spark.range(n.toLong).select(
      col("id"),
      struct(
        concat(lit("title_"), col("id")).as("title"),
        (col("id") % 7).cast("string").as("category"),
        struct((col("id") % 3 === 0).as("active"), lit("x").as("source")).as("flags"),
        // untouched wide leaves — what pruning should skip
        repeat(concat(lit("desc"), col("id")), 40).as("description"),
        repeat(lit("keywords "), 30).as("keywords")).as("meta"),
      struct(
        struct((col("id") % 100).cast("double").as("score"),
          (col("id") % 17).cast("double").as("weight")).as("metrics"),
        transform(sequence(lit(1), lit(8)), i => struct(
          concat(lit("h"), i).as("heading"),
          repeat(concat(lit("body"), col("id") + i), 60).as("body"),
          transform(sequence(lit(1), lit(4)),
            j => concat(lit("tag"), j)).as("tags"))).as("sections")).as("payload"),
      map_from_arrays(
        array(lit("k1"), lit("k2"), lit("k3")),
        transform(sequence(lit(1), lit(3)), i => struct(
          concat(lit("s"), col("id") + i).as("small"),
          repeat(concat(lit("wide"), col("id") + i), 50).as("wide")))).as("attrs"))
      .write.mode("overwrite").parquet(path)
  }
}
