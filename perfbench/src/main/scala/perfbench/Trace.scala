package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer, inside operation `op`. */
final case class Span(op: Int, name: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spans and Spark counters of the traced segments of a run, kept in
  * memory and summarised once at the end.
  *
  * Spans come from the benchmark's own calls into each layer. Spark's
  * side comes from its listener bus: jobs, tasks, task time and shuffle
  * bytes from a `SparkListener`; the optimizer's phase and per-rule
  * times from each executed query's `QueryPlanningTracker`, delivered to
  * a `QueryExecutionListener` (a write's own DataFrame never sees the
  * executed plan's rules). The bus is drained when a segment opens and
  * when it closes, so each event lands in the segment that caused it. */
final class Trace(spark: SparkSession) extends SparkListener with QueryExecutionListener {

  @volatile private var on = false
  private val ruleName = classOf[graft.schema.PrunedScanRule].getName

  val spans = mutable.ArrayBuffer.empty[Span]
  /** Every operation traced: (op id, module, start ns, end ns). */
  val ops = mutable.ArrayBuffer.empty[(Int, String, Long, Long)]
  /** Job (start, end) in epoch ms. */
  private val jobStart = mutable.Map.empty[Int, Long]
  val jobs = mutable.ArrayBuffer.empty[(Long, Long)]
  var tasks, taskMs, shuffleRead, shuffleWrite = 0L
  var optimizeNs, planningNs, ruleNs, ruleCalls, ruleEffective = 0L
  var codegenNs, gcMs = 0L

  private val epochMs0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  def epochMs(ns: Long): Double = epochMs0 + (ns - nano0) / 1e6

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  private def gcTotalMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** Runs `body` traced: counters on, codegen and GC time measured. */
  def segment[T](body: => T): T = {
    BenchBus.drain(spark.sparkContext)
    val cg0 = CodeGenerator.compileTime
    val gc0 = gcTotalMs
    on = true
    try body
    finally {
      BenchBus.drain(spark.sparkContext)
      on = false
      codegenNs += CodeGenerator.compileTime - cg0
      gcMs += gcTotalMs - gc0
    }
  }

  def span[T](op: Int, name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally if (on) synchronized(spans += Span(op, name, t0, System.nanoTime()))
  }

  def op(id: Int, module: String, startNs: Long, endNs: Long): Unit =
    if (on) synchronized(ops += ((id, module, startNs, endNs)))

  private def addTracker(t: QueryPlanningTracker): Unit = {
    val phases = t.phases
    optimizeNs += phases.get(QueryPlanningTracker.OPTIMIZATION).map(_.durationMs * 1000000L).getOrElse(0L)
    planningNs += phases.get(QueryPlanningTracker.PLANNING).map(_.durationMs * 1000000L).getOrElse(0L)
    t.rules.get(ruleName).foreach { r =>
      ruleNs += r.totalTimeNs
      ruleCalls += r.numInvocations
      ruleEffective += r.numEffectiveInvocations
    }
  }

  /** Job time (ms) inside [startNs, endNs], overlapping jobs counted once. */
  def jobMsWithin(startNs: Long, endNs: Long): Double = synchronized {
    val lo = epochMs(startNs)
    val hi = epochMs(endNs)
    val clipped = jobs.map { case (s, e) => (math.max(s.toDouble, lo), math.min(e.toDouble, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var busy = 0.0
    var end = Double.MinValue
    clipped.foreach { case (s, e) =>
      if (s >= end) { busy += e - s; end = e }
      else if (e > end) { busy += e - end; end = e }
    }
    busy
  }

  def jobsWithin(startNs: Long, endNs: Long): Int = synchronized {
    val lo = epochMs(startNs)
    val hi = epochMs(endNs)
    jobs.count { case (s, _) => s >= lo && s <= hi }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (on) synchronized(jobStart(e.jobId) = e.time)

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => jobs += ((s, e.time)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (on && e.taskMetrics != null) synchronized {
    val m = e.taskMetrics
    tasks += 1
    taskMs += m.executorRunTime
    shuffleRead += m.shuffleReadMetrics.totalBytesRead
    shuffleWrite += m.shuffleWriteMetrics.bytesWritten
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (on) synchronized(addTracker(qe.tracker))

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    if (on) synchronized(addTracker(qe.tracker))
}
