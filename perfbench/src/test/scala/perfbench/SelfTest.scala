package perfbench

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The benchmark's own tests: `python3 perfbench/run.py --selftest`.
  * Exits non-zero if any check fails. */
object SelfTest {

  private var failures = 0

  private def test(name: String)(body: => Unit): Unit =
    try { body; println(s"PASS $name") }
    catch { case e: Throwable => failures += 1; println(s"FAIL $name: $e") }

  private def assertEq[T](got: T, want: T, what: String): Unit =
    if (got != want) throw new AssertionError(s"$what: got $got, want $want")

  private def assertNear(got: Double, want: Double, what: String): Unit =
    if (math.abs(got - want) > 1e-9) throw new AssertionError(s"$what: got $got, want $want")

  def main(args: Array[String]): Unit = {
    val work = args(0)
    percentiles()
    footerPaths()
    val spark = Main.session(work)
    try {
      footerBytes(spark, s"$work/footer")
      injectedFailure(spark, work)
    } finally spark.stop()
    println(if (failures == 0) "selftest: all passed" else s"selftest: $failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }

  private def percentiles(): Unit = test("percentile interpolates between ranks") {
    assertNear(Stats.percentile(Seq(4.0, 1.0, 3.0, 2.0), 50), 2.5, "median of 1..4")
    assertNear(Stats.percentile((1 to 10).map(_.toDouble), 90), 9.1, "p90 of 1..10")
    assertNear(Stats.percentile(Seq(7.0), 90), 7.0, "one sample")
    assertNear(Stats.percentile(Seq(3.0, 9.0, 5.0), 0), 3.0, "p0 is the minimum")
    assertNear(Stats.percentile(Seq(3.0, 9.0, 5.0), 100), 9.0, "p100 is the maximum")
    val rejected = try { Stats.percentile(Nil, 50); false } catch { case _: IllegalArgumentException => true }
    assertEq(rejected, true, "no samples is an error")
  }

  private def footerPaths(): Unit = test("footer paths drop list levels and name map sides") {
    assertEq(Footer.chunkPath(Seq("arr", "list", "element", "a")), "arr.a", "array of struct")
    assertEq(Footer.chunkPath(Seq("Tags", "list", "element")), "tags", "array of strings")
    assertEq(Footer.chunkPath(Seq("m", "key_value", "key")), "m.$key", "map key")
    assertEq(Footer.chunkPath(Seq("m", "key_value", "value", "x")), "m.$value.x", "map value field")
  }

  /** Footer bytes of each column chunk, by its raw path, summed over row groups. */
  private def rawChunks(spark: SparkSession, dir: String): Map[Seq[String], Long] = {
    val conf = spark.sessionState.newHadoopConf()
    new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet")).toSeq.flatMap { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f.getPath), conf))
      try r.getFooter.getBlocks.asScala.toSeq.flatMap(_.getColumns.asScala)
        .map(c => c.getPath.toArray.toSeq -> c.getTotalSize)
      finally r.close()
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  private def footerBytes(spark: SparkSession, dir: String): Unit = {
    spark.range(0, 500, 1, 2).select(
      col("id"),
      transform(sequence(lit(1), lit(3)), i => struct((col("id") + i).as("a"),
        concat(lit("b"), col("id"), i).as("b"))).as("arr"),
      map_from_arrays(array(lit("k1"), lit("k2")), array(
        struct(col("id").as("x"), repeat(lit("y"), 20).as("y")),
        struct((col("id") * 2).as("x"), repeat(lit("z"), 30).as("y")))).as("m"),
      struct(struct(col("id").as("p"), concat(lit("q"), col("id")).as("q")).as("inner"),
        (col("id") % 2 === 0).as("flag")).as("st"))
      .write.mode("overwrite").parquet(dir)
    val raw = rawChunks(spark, dir)
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet")).map(_.getPath).toSeq
    val bytes = Footer.chunkBytes(files, spark.sessionState.newHadoopConf())
    def chunk(p: String*) = raw(p.toSeq)
    def req(ddl: String) = Footer.requiredBytes(StructType.fromDDL(ddl), bytes)

    test("footer bytes of an array leaf") {
      assertEq(req("arr array<struct<a: bigint>>"), chunk("arr", "list", "element", "a"), "arr.a")
    }
    test("footer bytes of map keys and a map value leaf") {
      assertEq(req("m map<string, struct<y: string>>"),
        chunk("m", "key_value", "key") + chunk("m", "key_value", "value", "y"), "m key + value.y")
    }
    test("footer bytes of a skeleton are its cheapest leaf") {
      val under = Seq(chunk("st", "inner", "p"), chunk("st", "inner", "q"), chunk("st", "flag"))
      assertEq(req("st struct<inner: struct<>, flag: boolean>"),
        math.min(chunk("st", "inner", "p"), chunk("st", "inner", "q")) + chunk("st", "flag"), "st.inner skeleton")
      assertEq(req("st struct<>"), under.min, "st skeleton")
    }
    test("footer bytes of the full schema are every chunk") {
      assertEq(Footer.requiredBytes(spark.read.parquet(dir).schema, bytes), raw.values.sum, "all chunks")
      assertEq(Footer.leafCount(StructType.fromDDL("m map<string, struct<x: bigint, y: string>>")), 3,
        "map leaves")
    }
  }

  /** A workload of cheap shapes; `failing` adds one that passes the
    * correctness pass and then fails, slowly, on every timed run. */
  private final class Tiny(failing: Boolean) extends Workload {
    val name = "tiny"
    val warmupPasses = 0
    def setup(spark: SparkSession, dir: String, seed: Long): Prepared = {
      val good = Shape("good", "schema", Nil,
        s => s.range(0, 200, 1, 2).selectExpr("id % 7 AS k").groupBy("k").count())
      var builds = 0
      val bad = Shape("bad", "schema", Nil, { s =>
        builds += 1
        if (builds > 2) { Thread.sleep(100); throw new IllegalStateException("injected failure") }
        s.range(0, 10).toDF()
      })
      Prepared(if (failing) Seq(good, bad) else Seq(good), Nil)
    }
  }

  private def injectedFailure(spark: SparkSession, work: String): Unit =
    test("an injected failure counts as failed and does not raise queries_per_s") {
      def run(failing: Boolean): Outcome =
        Runner.run(spark, new Tiny(failing), s"$work/tiny$failing", seed = 1, seconds = 2, traced = false)
      def qps(o: Outcome) = o.metrics.find(_.name == "queries_per_s").get.value
      val clean = run(failing = false)
      val broken = run(failing = true)
      assertEq(clean.correct, true, "clean run is correct")
      assertEq(clean.failed, 0L, "clean run failures")
      assertEq(broken.correct, false, "broken run is correct")
      if (broken.failed <= 0) throw new AssertionError("no failure was counted")
      if (broken.failed.toDouble / broken.attempted <= 0) throw new AssertionError("failed_ratio is 0")
      if (qps(broken) > qps(clean))
        throw new AssertionError(s"queries_per_s rose with a failing query: ${qps(broken)} > ${qps(clean)}")
    }
}
