package graft.schema

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** [[GraftExtensions.sizeCodegenCache]]: a session with the extensions
  * reuses its compiled classes across repeated queries. Spark's codegen
  * cache is JVM-wide and sized by whichever code first runs codegen, so
  * each case runs [[CodegenCacheSpec.main]] in a JVM of its own. */
class CodegenCacheSpec extends AnyFunSuite {

  /** Classes compiled by the child's two passes over the same queries. */
  private def passes(childArgs: String*): (Long, Long) = {
    val java = s"${System.getProperty("java.home")}/bin/java"
    // the build's --add-opens flags, which Spark needs on JDK 17
    val opens = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filter(_.startsWith("--add-opens")).toSeq
    val cmd = Seq(java, "-Xmx1g") ++ opens ++ Seq("-cp",
      System.getProperty("java.class.path"), classOf[CodegenCacheSpec].getName) ++
      childArgs
    val proc = new ProcessBuilder(cmd.asJava)
      .redirectError(ProcessBuilder.Redirect.DISCARD).start()
    val out = new String(proc.getInputStream.readAllBytes(), StandardCharsets.UTF_8)
    assert(proc.waitFor(5, TimeUnit.MINUTES), "child JVM did not finish")
    assert(proc.exitValue() == 0, s"child JVM failed: $out")
    out.linesIterator.collect { case s"compiles $first $second" =>
      (first.toLong, second.toLong)
    }.toSeq.lastOption.getOrElse(fail(s"no compile counts in child output: $out"))
  }

  test("a GraftExtensions session compiles nothing when it repeats its queries") {
    val (first, second) = passes()
    assert(first >= CodegenCacheSpec.Queries, s"first pass compiled only $first classes")
    assert(second === 0L)
  }

  test("a codegen cache size set in the conf is honoured") {
    // Spark's default, set explicitly: the queries' classes overflow it
    val (first, second) = passes("100")
    assert(first >= CodegenCacheSpec.Queries, s"first pass compiled only $first classes")
    assert(second > 0L, "the conf's cache size was overridden")
  }
}

object CodegenCacheSpec {

  /** One-stage queries per pass: a whole-stage class takes a driver and
    * an executor entry, so 150 of them overflow Spark's default of 100. */
  val Queries = 150

  /** Child JVM: builds a GraftExtensions session (with
    * `spark.sql.codegen.cache.maxEntries` set to `args(0)` if given), runs
    * [[Queries]] one-stage queries twice, each with its own inlined
    * literal, and prints `compiles <first pass> <second pass>`. */
  def main(args: Array[String]): Unit = {
    val builder = SparkSession.builder().master("local[2]")
      .appName("codegen-cache-child")
      .config("spark.sql.extensions", "graft.schema.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
    args.headOption.foreach(n => builder.config("spark.sql.codegen.cache.maxEntries", n))
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def pass(): Long = {
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      (1 to Queries).foreach { i =>
        spark.range(0, 10, 1, 1).selectExpr(s"id * $i AS x")
          .write.format("noop").mode("overwrite").save()
      }
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
    }
    val first = pass()
    val second = pass()
    println(s"compiles $first $second")
    spark.stop()
    sys.exit(0)
  }
}
