package graft.schema

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end checks of the auto-apply optimizer rule: results must be
  * byte-identical with and without the rule, and the file scan's
  * dataSchema must actually narrow on shapes Spark's built-in pruning
  * misses (map values, filter-only access). */
class PrunedScanRuleSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var dir: String = _

  private val mapSchema = StructType(Seq(
    StructField("id", LongType),
    StructField("big", StructType(Seq(
      StructField("keep", LongType),
      StructField("drop1", StringType),
      StructField("drop2", StringType)))),
    StructField("mapOfArray", MapType(StringType, ArrayType(StructType(Seq(
      StructField("val1", StringType), StructField("val2", StringType),
      StructField("val3", LongType), StructField("val4", StringType))))))))

  override def beforeAll(): Unit = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    spark = SparkSession.builder()
      .master("local[2]")
      .appName("pruned-scan-rule-spec")
      .config("spark.sql.extensions", "graft.schema.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    dir = Files.createTempDirectory("graft-rule").toString
    val rows = (1 to 50).map { i =>
      s"""{"id":$i,"big":{"keep":$i,"drop1":"a$i","drop2":"b$i"},
         |"mapOfArray":{"someKey":[{"val1":"v$i","val2":"w$i","val3":$i,"val4":"x$i"}]}}"""
        .stripMargin.replace("\n", "")
    }
    Files.writeString(Paths.get(s"$dir/data.json"), rows.mkString("\n"))
    spark.read.schema(mapSchema).json(s"$dir/data.json")
      .write.mode("overwrite").parquet(s"$dir/data.parquet")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def readPq: DataFrame = spark.read.parquet(s"$dir/data.parquet")

  private def scanDataSchemas(df: DataFrame): Seq[StructType] =
    df.queryExecution.optimizedPlan.collect {
      case lr: LogicalRelation if lr.relation.isInstanceOf[HadoopFsRelation] =>
        lr.relation.asInstanceOf[HadoopFsRelation].dataSchema
    }

  private def withRuleOff[A](f: => A): A = {
    spark.conf.set("spark.graft.schemaOnRead.enabled", "false")
    try f finally spark.conf.set("spark.graft.schemaOnRead.enabled", "true")
  }

  test("map-value access narrows the map value struct (built-in pruning gap)") {
    val q = readPq.select(col("id"), col("mapOfArray")("someKey").getItem(0).getField("val1").as("v"))
    val expected = withRuleOff(q.collect().toSeq)
    assert(q.collect().toSeq == expected)
    val ds = scanDataSchemas(q)
    assert(ds.nonEmpty)
    val mapType = ds.head.find(_.name == "mapOfArray").get.dataType.asInstanceOf[MapType]
    val valueStruct = mapType.valueType.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]
    assert(valueStruct.fieldNames.toSeq == Seq("val1"), s"got $valueStruct")
  }

  test("struct field access through filter narrows the struct") {
    val q = readPq.filter(col("big.keep") > 10).select(col("id"))
    val expected = withRuleOff(q.collect().toSeq)
    assert(q.collect().toSeq == expected)
    val ds = scanDataSchemas(q)
    val bigField = ds.head.find(_.name == "big")
    // either dropped entirely by Spark's own pruning or narrowed to `keep`
    bigField.foreach { f =>
      assert(f.dataType.asInstanceOf[StructType].fieldNames.toSeq == Seq("keep"))
    }
  }

  test("aggregation over nested path gives identical results with rule on") {
    val q = readPq.groupBy(col("big.keep") % 5).agg(count(lit(1)).as("n"), max(col("id")).as("m"))
    val expected = withRuleOff(q.collect().toSet)
    assert(q.collect().toSet == expected)
  }

  test("join over two reads of same file stays correct") {
    val a = readPq.select(col("id"), col("big.keep").as("k"))
    val b = readPq.select(col("id").as("id2"), col("mapOfArray")("someKey").getItem(0).getField("val3").as("v3"))
    val q = a.join(b, a("id") === b("id2")).select(col("id"), col("k"), col("v3"))
    val expected = withRuleOff(q.collect().toSet)
    assert(q.collect().toSet == expected)
  }

  test("DSv2 parquet relation narrows when parquet is forced to V2") {
    import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2ScanRelation, FileScan}
    spark.conf.set("spark.sql.sources.useV1SourceList", "")
    try {
      val q = spark.read.parquet(s"$dir/data.parquet")
        .select(col("id"),
          col("mapOfArray")("someKey").getItem(0).getField("val1").as("v"))
      val expected = withRuleOff(q.collect().toSeq)
      assert(q.collect().toSeq == expected)
      val scans = q.queryExecution.optimizedPlan.collect {
        case s: DataSourceV2ScanRelation => s.scan
      }
      assert(scans.nonEmpty, "expected a V2 scan — parquet was not forced to V2")
      val rs = scans.head.asInstanceOf[FileScan].readDataSchema
      val mapType = rs.find(_.name == "mapOfArray").get.dataType.asInstanceOf[MapType]
      val valueStruct = mapType.valueType.asInstanceOf[ArrayType]
        .elementType.asInstanceOf[StructType]
      assert(valueStruct.fieldNames.toSeq == Seq("val1"), s"got $valueStruct")
    } finally spark.conf.unset("spark.sql.sources.useV1SourceList")
  }

  test("rule is safe under concurrent query execution in one session") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val shapes: Seq[() => DataFrame] = Seq(
      () => readPq.select(col("id"), col("big.keep").as("k")),
      () => readPq.filter(col("big.keep") > 10).select(col("id")),
      () => readPq.select(col("id"),
        col("mapOfArray")("someKey").getItem(0).getField("val1").as("v")),
      () => readPq.groupBy(col("big.keep") % 3).agg(count(lit(1)).as("n")))
    val expected = withRuleOff(shapes.map(q => q().collect().toSet))
    // 4 shapes × 4 threads each, all racing through the optimizer rule
    val futures = (0 until 16).map { i =>
      Future(shapes(i % 4)().collect().toSet)
    }
    val got = Await.result(Future.sequence(futures), 120.seconds)
    got.zipWithIndex.foreach { case (rows, i) =>
      assert(rows == expected(i % 4), s"thread $i diverged")
    }
  }

  test("query result schema is never altered by the rule") {
    val q = readPq.select(col("big"), col("id")) // full struct demanded at root
    assert(q.schema == withRuleOff(q.schema))
    assert(q.collect().toSeq == withRuleOff(q.collect().toSeq))
  }

  test("consecutive explode narrows the array-of-structs read below rule-off") {
    // perfbench's consecutive_explode shape: explode an array of
    // structs, explode one struct field's array, group by another field;
    // col3 is never read
    import org.apache.spark.sql.execution.FileSourceScanExec
    val path = s"$dir/complex.parquet"
    spark.range(40).select(col("id"),
      array((1 to 3).map(i => struct((col("id") % 7 + i).as("col1"),
        array(col("id") * i, col("id") + i).as("col2"),
        (col("id") * 10 + i).as("col3"))): _*).as("someArrayOfComplexArrays"))
      .write.mode("overwrite").parquet(path)
    def run(): (Set[org.apache.spark.sql.Row], Int) = {
      spark.read.parquet(path).createOrReplaceTempView("complex_nested")
      val q = spark.sql("""SELECT c.col1 AS a, sum(y) AS s
        FROM complex_nested LATERAL VIEW explode(someArrayOfComplexArrays) t AS c
        LATERAL VIEW explode(c.col2) t2 AS y GROUP BY c.col1""")
      val leaves = q.queryExecution.sparkPlan.collect {
        case s: FileSourceScanExec => PlanRewriter.leafCount(s.requiredSchema)
      }
      assert(leaves.size == 1, q.queryExecution.sparkPlan.toString)
      (q.collect().toSet, leaves.head)
    }
    val (offRows, offLeaves) = withRuleOff(run())
    val (onRows, onLeaves) = run()
    assert(onRows.nonEmpty && onRows == offRows)
    assert(onLeaves < offLeaves,
      s"rule read $onLeaves leaves, rule-off read $offLeaves")
  }
}
