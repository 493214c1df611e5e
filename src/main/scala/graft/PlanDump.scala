package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Optimization-round measurement tool (guide §1.1/§7.2): dump
  * `.explain("formatted")` for selected declared queries to
  * `<outDir>/<name>_<tag>.txt` — the plan evidence committed under
  * plans/r15/. Not a driver surface; never run by the driver.
  *
  * Usage: runMain graft.PlanDump <outDir> <tag> [q1,q2,...]
  * Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS (same as Bench).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val outDir = args(0)
    val tag = args(1)
    val names: Set[String] =
      if (args.length > 2) args(2).split(",").map(_.trim).filter(_.nonEmpty).toSet
      else Set.empty
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.schema.GraftExtensions.sizeCodegenCache(spark.sparkContext.getConf)
    Files.createDirectories(Paths.get(outDir))
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => names.isEmpty || names(n) }
      .foreach { case (n, fn) =>
        try {
          val df = fn(spark, sfDir)
          val plan = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          Files.writeString(Paths.get(outDir, s"${n}_$tag.txt"), plan)
          println(s"[plandump] wrote $n")
        } catch { case e: Throwable =>
          System.err.println(s"[plandump] $n failed: ${e.getMessage}")
        }
      }
    spark.stop()
  }
}
