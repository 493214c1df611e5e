package perfbench

import org.apache.spark.sql.SparkSession

/** Benchmark entry point:
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  *
  * Prints a summary line and, last, one JSON object with the result. With
  * `--trace 0` it reports the end-to-end metrics, with `--trace 1` the
  * per-layer ones. All inputs and Spark scratch live under `--work`. */
object Main {

  val Cores = 4

  def workload(name: String): Workload = name match {
    case "nested_scan" => new NestedScan(rows = 10000, files = 4)
    case "operator_mix" => new OperatorMix(orders = 1500)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def session(work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.extensions", "graft.schema.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // bounded job and query history, so the live heap measures the
      // program's own state rather than how many jobs a run happened to keep
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "500")
      .config("spark.sql.ui.retainedExecutions", "20")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def arg(k: String) = args.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = workload(arg("workload"))
    val work = arg("work")
    val spark = session(work)
    val out = try Runner.run(spark, w, s"$work/data", arg("seed").toLong, arg("seconds").toInt,
      traced = arg("trace") == "1")
    finally spark.stop()
    val shown = out.metrics.map(m => s"${m.name}=${Json.num(m.value)}${m.unit}").mkString(" ")
    println(s"[perfbench] ${w.name} failed_ratio=${Json.num(out.failed.toDouble / out.attempted)} $shown")
    println(Json.result(out.correct, out.attempted, out.failed, out.metrics))
  }
}
