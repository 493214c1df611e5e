package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The paper's workload: section-2 query shapes over one wide, nested,
  * partitioned table, each executed to a `noop` sink. Scan-bound; the
  * rule's own cost is noise here. Includes the shapes where Spark's
  * built-in nested pruning is said to be weaker: two generators,
  * `collect_list` and `first` over structs, a union of two reads, a window
  * partitioned on a nested key and a join of two reads. The shape count is odd, so the
  * median lands inside one shape's samples, not in the gap between two. */
final class NestedScan(rows: Long, files: Int) extends Workload {
  val name = "nested_scan"
  // the first passes run about twice as long as the third; later passes
  // keep getting faster, slowly, for about 30 s, but four warm-up passes
  // instead of two did not narrow the run-to-run spread of queries_per_s
  val warmupPasses = 2

  def setup(spark: SparkSession, dir: String, seed: Long): Prepared = {
    val table = new Data(spark, seed).nested(dir, rows, files)
    spark.read.parquet(table.path).createOrReplaceTempView("nested")
    val inputs = spark.table("nested").inputFiles.toSeq
    def api(n: String)(q: DataFrame => DataFrame) =
      Shape(n, "schema", inputs, s => q(s.table("nested")))
    def sql(n: String)(text: String) = Shape(n, "schema", inputs, _.sql(text))
    val shapes = Seq(
      api("narrow_leaves")(_.filter(col("meta.flags.active"))
        .select(col("id"), col("meta.title"), col("payload.metrics.score"))),
      sql("agg_nested")("""SELECT meta.category, count(*) AS n, sum(payload.metrics.score) AS s
        FROM nested GROUP BY meta.category"""),
      api("map_value")(_.select(col("id"), col("attrs")("k3").getField("small").as("v"))
        .filter(col("v").endsWith("7"))),
      sql("two_generators")("""SELECT tag, count(*) AS n
        FROM nested LATERAL VIEW explode(payload.sections) s AS sec
        LATERAL VIEW explode(sec.tags) t AS tag GROUP BY tag"""),
      api("collect_list_struct")(_.groupBy(col("meta.category"))
        .agg(collect_list(col("payload.metrics")).as("ms"))
        .select(col("category"), aggregate(col("ms.score"), lit(BigDecimal(0)).cast("decimal(38,2)"),
          (acc, x) => (acc + x).cast("decimal(38,2)")).as("total"))),
      // grouped by every leaf of the struct, so `first` is deterministic
      sql("first_struct")("""SELECT category, f.source AS source, n FROM (
        SELECT meta.category AS category, first(meta.flags) AS f, count(*) AS n
        FROM nested GROUP BY meta.category, meta.flags.active, meta.flags.source)"""),
      api("union_two_reads") { df =>
        val a = df.select(col("meta.category").as("k"), col("payload.metrics.score").as("v"))
        val b = df.sparkSession.table("nested").select(col("attrs")("k1").getField("small").as("k"),
          col("payload.metrics.weight").as("v"))
        a.unionByName(b).groupBy(col("k")).agg(sum(col("v")).as("v"))
      },
      api("window_nested_key")(_.select(col("id"), col("meta.title"),
          rank().over(Window.partitionBy(col("meta.category"))
            .orderBy(col("payload.metrics.score").desc, col("id"))).as("r"))
        .filter(col("r") <= 3)),
      api("join_two_reads") { df =>
        val a = df.select(col("id"), col("meta.category").as("category"))
        val b = df.sparkSession.table("nested").select(col("id"), col("payload.metrics.weight").as("w"))
        a.join(b, "id").groupBy(col("category")).agg(sum(col("w")).as("w"))
      },
      sql("depth4_array")("""SELECT crazyStruct.repeatedStuff[0].anotherRepeatedStuff[0].innerField2 AS f,
        count(*) AS n FROM nested GROUP BY 1"""),
      sql("map_of_array")("""SELECT mapOfArray['b'][0].val1 AS v, sum(mapOfArray['b'][0].val3) AS s
        FROM nested GROUP BY 1"""),
      sql("consecutive_explode")("""SELECT c.col1 AS a, sum(y) AS s
        FROM nested LATERAL VIEW explode(someArrayOfComplexArrays) t AS c
        LATERAL VIEW explode(c.col2) t2 AS y GROUP BY c.col1"""),
      api("partition_filter")(_.filter(col("someLong") === 13 && col("struct.condition"))
        .groupBy(col("nestedStruct.childStruct.col1")).agg(sum(col("struct.col2")).as("s"))))
    Prepared(shapes, Seq(table))
  }
}
