package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.BenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

import graft.schema.SchemaOnRead

/** One query the closed loop repeats. `build` makes a fresh DataFrame;
  * `files` are the input files handed to `schemaFor`; `module` is the repo
  * layer the query exercises. */
final case class Shape(name: String, module: String, files: Seq[String],
    build: SparkSession => DataFrame)

/** What a workload hands the runner after set-up. */
final case class Prepared(shapes: Seq[Shape], tables: Seq[Table])

trait Workload {
  def name: String
  /** Writes the inputs under `dir` and returns the shapes that read them. */
  def setup(spark: SparkSession, dir: String, seed: Long): Prepared
  /** Untimed passes of the loop after the correctness pass, before timing. */
  def warmupPasses: Int
}

/** A plan's file scans: footer bytes they read and leaves they name. */
final case class ScanCost(bytes: Long, leaves: Int)

/** A shape's canonical fingerprint, without its sample rows. */
final case class Fingerprint(rows: Long, sum: String, xor: String)

/** What the correctness pass learned about one shape: the scan cost with
  * the rule off and on, and whether both gave the same result. */
final case class Checked(shape: Shape, off: ScanCost, on: ScanCost, ok: Boolean)

final case class Outcome(correct: Boolean, attempted: Long, failed: Long, metrics: Seq[Metric])

object Runner {

  val RuleConf = "spark.graft.schemaOnRead.enabled"
  val Modules = Seq("Graph", "Similarity", "TextAnalysis", "Dedup", "Multimodal")
  val SetupReps = 3
  val SchemaForWarmup = 30
  val SchemaForRounds = 50

  private object Plans extends AdaptiveSparkPlanHelper {
    def scans(p: SparkPlan): Seq[FileSourceScanExec] =
      collectWithSubqueries(p) { case s: FileSourceScanExec => s }
  }

  def scanCost(spark: SparkSession, df: DataFrame): ScanCost = {
    val conf = spark.sessionState.newHadoopConf()
    Plans.scans(df.queryExecution.executedPlan).map { s =>
      val files = s.relation.location.inputFiles.toSeq.filter(_.endsWith(".parquet"))
      ScanCost(Footer.requiredBytes(s.requiredSchema, Footer.chunkBytes(files, conf)),
        Footer.leafCount(s.requiredSchema))
    }.foldLeft(ScanCost(0L, 0))((a, b) => ScanCost(a.bytes + b.bytes, a.leaves + b.leaves))
  }

  def fingerprint(df: DataFrame): Fingerprint = {
    val (n, sum, xor, _) = graft.Verify.canonFingerprint(df)
    Fingerprint(n, sum, xor)
  }

  private def span[T](trace: Option[Trace], op: Int, name: String)(body: => T): T =
    trace.fold(body)(_.span(op, name)(body))

  /** Fingerprint and scan cost of a shape with the rule on or off. The
    * result is cached for the fingerprint's two jobs, so the query itself
    * runs once. */
  private def side(spark: SparkSession, s: Shape, on: Boolean, trace: Option[Trace], op: Int)
      : (Fingerprint, ScanCost) = {
    spark.conf.set(RuleConf, on.toString)
    try {
      val df = span(trace, op, "check.build")(s.build(spark))
      val cost = scanCost(spark, df)
      df.persist()
      try (span(trace, op, "check.fingerprint")(fingerprint(df)), cost)
      finally df.unpersist(blocking = true)
    } finally spark.conf.set(RuleConf, "true")
  }

  /** The correctness pass: each shape runs with the rule off, which gives
    * the reference fingerprint, and with the rule on, which must match it. */
  def check(spark: SparkSession, s: Shape, trace: Option[Trace], op: Int): Either[Throwable, Checked] =
    try {
      val t0 = System.nanoTime()
      val (ref, off) = side(spark, s, on = false, trace, op)
      val (fp, on) = side(spark, s, on = true, trace, op)
      if (fp != ref)
        System.err.println(s"[perfbench] ${s.name}: fingerprint with the rule on $fp, off $ref")
      trace.foreach(_.op(op, s.module, t0, System.nanoTime()))
      Right(Checked(s, off, on, ok = fp == ref))
    } catch {
      case NonFatal(e) =>
        System.err.println(s"[perfbench] ${s.name}: check failed: $e")
        Left(e)
    }

  /** One operation of the loop, building the query and running it to the
    * `noop` sink: its latency in ms and its DataFrame, or None if it failed. */
  def runOnce(spark: SparkSession, c: Checked, trace: Option[Trace], op: Int)
      : Option[(Double, DataFrame)] =
    try {
      val s = c.shape
      val t0 = System.nanoTime()
      val df = span(trace, op, "build")(s.build(spark))
      span(trace, op, "execute")(df.write.mode("overwrite").format("noop").save())
      val t1 = System.nanoTime()
      trace.foreach(_.op(op, s.module, t0, t1))
      Some(((t1 - t0) / 1e6, df))
    } catch {
      case NonFatal(e) =>
        System.err.println(s"[perfbench] ${c.shape.name} failed: $e")
        None
    }

  /** `SetupReps` set-ups, each into its own directory; keeps the last. */
  def setup(spark: SparkSession, w: Workload, work: String, seed: Long): (Prepared, Seq[Double]) = {
    val runs = (1 to SetupReps).map { i =>
      val dir = s"$work/input$i"
      val t0 = System.nanoTime()
      val p = w.setup(spark, dir, seed)
      val s = (System.nanoTime() - t0) / 1e9
      if (i < SetupReps) deleteTree(new java.io.File(dir))
      (p, s)
    }
    (runs.last._1, runs.map(_._2))
  }

  def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Times `schemaFor` requests as "schema.generate" spans: one per
    * DataFrame per round, `SchemaForWarmup` rounds untimed, then
    * `SchemaForRounds`. They run after the loop, once Spark's background work
    * from it (listener events, cleanup) has settled, because one request
    * takes about a millisecond. */
  def traceSchemaFor(spark: SparkSession, dfs: Seq[(Shape, DataFrame)], t: Trace): Unit = {
    def request(s: Shape, df: DataFrame) = SchemaOnRead.generate(df).schemaFor(s.files: _*)
    for (_ <- 1 to SchemaForWarmup; (s, df) <- dfs) request(s, df)
    BenchBus.drain(spark.sparkContext)
    System.gc()
    for (_ <- 1 to SchemaForRounds; (s, df) <- dfs) t.span(0, "schema.generate")(request(s, df))
  }

  /** Heap in use once garbage is collected and Spark's cleaner has dropped
    * the blocks, shuffles and broadcasts of unreachable DataFrames. */
  def liveHeapMb(): Double = {
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(200) }
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  /** Set-up, the correctness pass, the workload's warm-up passes, then
    * whole passes of the closed loop until `seconds` have gone by. Traced
    * runs mix untraced and traced passes, to measure the tracing cost, and
    * then time the generator's schema requests. */
  def run(spark: SparkSession, w: Workload, work: String, seed: Long, seconds: Int,
      traced: Boolean): Outcome = {
    val (prepared, setupTimes) = setup(spark, w, work, seed)
    prepared.tables.foreach(t =>
      System.err.println(s"[perfbench] table ${t.name}: ${t.rows} rows, ${t.bytes} bytes"))
    val trace = if (traced) Some(new Trace(spark)) else None
    var nextOp = 0
    def opId(): Int = { nextOp += 1; nextOp }
    def segment[T](on: Boolean)(body: => T): T =
      trace.filter(_ => on).fold(body)(_.segment(body))

    val c0 = System.nanoTime()
    // the same order in every run: the seed changes the data, not the mix
    val shapes = prepared.shapes
    val results = segment(on = true)(shapes.map(s => check(spark, s, trace, opId())))
    val checked = results.collect { case Right(c) => c }
    val c1 = System.nanoTime()
    for (_ <- 1 to w.warmupPasses; c <- checked) runOnce(spark, c, None, 0)
    val checkFailures = results.count(_.isLeft) + checked.count(!_.ok)
    checked.filter(c => c.on.bytes != c.off.bytes).foreach(c => System.err.println(
      s"[perfbench] ${c.shape.name}: scans read ${c.on.bytes} bytes with the rule, ${c.off.bytes} without"))
    System.err.println(f"[perfbench] set-up ${setupTimes.sum}%.1f s, check ${(c1 - c0) / 1e9}%.1f s, " +
      f"warm-up ${(System.nanoTime() - c1) / 1e9}%.1f s")

    val perShape = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val lastDf = mutable.LinkedHashMap.empty[Shape, DataFrame]
    var attempted, failed = 0L
    // (traced?, operations that succeeded, seconds) per pass; whole passes,
    // so every run measures the same mix of shapes
    val passes = mutable.ArrayBuffer.empty[(Boolean, Int, Double)]
    val start = System.nanoTime()
    // a traced run goes untraced, traced, traced, untraced, ... and stops
    // only after such a group of four, so the passes that still get faster
    // as the JVM warms favour neither kind
    while ((System.nanoTime() - start) / 1e9 < seconds || passes.isEmpty ||
        (traced && passes.size % 4 != 0)) {
      val tracedPass = traced && (passes.size % 4 == 1 || passes.size % 4 == 2)
      val p0 = System.nanoTime()
      var ok = 0
      segment(tracedPass)(checked.foreach { c =>
        attempted += 1
        runOnce(spark, c, if (tracedPass) trace else None, opId()) match {
          case Some((l, df)) =>
            ok += 1; lastDf(c.shape) = df
            perShape.getOrElseUpdate(c.shape.name, mutable.ArrayBuffer.empty) += l
          case None => failed += 1
        }
      })
      passes += ((tracedPass, ok, (System.nanoTime() - p0) / 1e9))
    }
    trace.foreach(t => t.segment(traceSchemaFor(spark, lastDf.toSeq, t)))
    lastDf.clear()
    val heap = liveHeapMb()
    def qps(ps: Iterable[(Boolean, Int, Double)]) = ps.map(_._2).sum / ps.map(_._3).sum

    val metrics = trace match {
      case None if perShape.isEmpty => Nil
      case None => Seq(
        Metric("setup_s", Stats.median(setupTimes), "s"),
        Metric("queries_per_s", qps(passes), "1/s"),
        Metric("read_bytes", checked.map(_.on.bytes).sum.toDouble, "bytes"),
        Metric("heap_live_mb", heap, "MB"))
      case Some(t) =>
        val (tracedPasses, plain) = passes.partition(_._1)
        Layers.metrics(t, checked) ++ Seq(
          Metric("trace.queries_per_s", qps(tracedPasses), "1/s"),
          Metric("trace.untraced_queries_per_s", qps(plain), "1/s"),
          Metric("trace.overhead_ratio", qps(plain) / qps(tracedPasses) - 1.0, "ratio"))
    }
    System.err.println("[perfbench] median ms per shape: " + perShape.toSeq.sortBy(_._1)
      .map { case (n, ls) => f"$n=${Stats.median(ls.toSeq)}%.0f" }.mkString(" "))
    System.err.println(f"[perfbench] ${w.name}: ${passes.size} passes (" +
      passes.map(p => f"${p._3}%.2f").mkString(" ") + f" s), ${perShape.values.map(_.size).sum} samples, " +
      f"$failed failed of $attempted, $checkFailures of ${shapes.size} shapes failed the check")
    Outcome(failed == 0 && checkFailures == 0 && metrics.nonEmpty, attempted + shapes.size,
      failed + checkFailures, metrics)
  }
}
