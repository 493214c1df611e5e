package graft
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Optimization-round measurement tool (guide §1/§7): run selected
  * declared queries under a SparkListener and decompose wall-clock into
  * scheduled-task time vs driver-side overhead (planning + codegen +
  * job submission). Prints one line per query:
  *
  *   name wall_s jobs sql stages tasks taskTime_s gc_s shuffleRead_MB shuffleWrite_MB compiles recompiles
  *
  * `jobs` and `sql` (SQL executions started — the eager actions, each
  * with its AQE sub-executions) are the minimum over the attempts, since
  * AQE query-stage jobs vary from run to run. `compiles` is the number
  * of classes codegen compiled in the first attempt (driver and executor
  * compiles both count), `recompiles` the minimum over the later
  * attempts: 0 means every class the query needs was reused from Spark's
  * codegen cache, and `-` means there was only one attempt. The other
  * columns are the fastest attempt's. A query whose taskTime_s <<
  * wall_s * cores is scheduling/planning bound, not compute bound — the
  * two need different fixes.
  * Not a driver surface; never run by the driver.
  *
  * Usage: runMain graft.Profile q1,q2,... [attempts]
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty)
    val attempts = if (args.length > 1) args(1).toInt else 3
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    // experiment passthrough: SPARK_PROFILE_CONF="k=v;k=v" — lets an
    // optimization round A/B session configs without touching Bench
    sys.env.get("SPARK_PROFILE_CONF").foreach(_.split(";").foreach { kv =>
      val Array(k, v) = kv.split("=", 2)
      builder.config(k.trim, v.trim)
    })
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.schema.GraftExtensions.sizeCodegenCache(spark.sparkContext.getConf)
    val jobs = new AtomicInteger(0)
    val sqlExecs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    val taskTime = new AtomicLong(0L)   // executorRunTime ms
    val gcTime = new AtomicLong(0L)
    val shufR = new AtomicLong(0L)
    val shufW = new AtomicLong(0L)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case _: SparkListenerSQLExecutionStart => sqlExecs.incrementAndGet()
        case _ => ()
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        tasks.addAndGet(s.stageInfo.numTasks)
        val m = s.stageInfo.taskMetrics
        if (m != null) {
          taskTime.addAndGet(m.executorRunTime)
          gcTime.addAndGet(m.jvmGCTime)
          shufR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          shufW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        }
      }
    })
    def sweep(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      System.gc()
    }
    // warm tables once, like Bench
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { n =>
      try graft.queries.Queries.t(spark, sfDir, n).count()
      catch { case scala.util.control.NonFatal(_) => () }
    }
    println(f"${"name"}%-28s ${"wall_s"}%8s ${"jobs"}%5s ${"sql"}%5s ${"stg"}%5s ${"tasks"}%6s ${"taskT_s"}%8s ${"gc_s"}%6s ${"shR_MB"}%7s ${"shW_MB"}%7s ${"compiles"}%8s ${"recompiles"}%10s")
    def compiled(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => System.err.println(s"[profile] unknown query $name")
        case Some(fn) =>
          var best: Option[(Double, Int, Int, Double, Double, Double, Double)] = None
          var minJobs = Int.MaxValue
          var minSql = Int.MaxValue
          // per attempt, in order: classes codegen compiled
          val compiles = scala.collection.mutable.ArrayBuffer.empty[Long]
          (1 to attempts).foreach { _ =>
            sweep()
            jobs.set(0); sqlExecs.set(0); stages.set(0); tasks.set(0)
            taskTime.set(0); gcTime.set(0); shufR.set(0); shufW.set(0)
            val c0 = compiled()
            val t0 = System.nanoTime()
            try {
              fn(spark, sfDir).write.mode("overwrite").format("noop").save()
              val wall = (System.nanoTime() - t0) / 1e9
              // listener events are async; give the bus a beat
              Thread.sleep(200)
              val rec = (wall, stages.get, tasks.get,
                taskTime.get / 1e3, gcTime.get / 1e3,
                shufR.get / 1e6, shufW.get / 1e6)
              if (best.forall(_._1 > wall)) best = Some(rec)
              minJobs = math.min(minJobs, jobs.get)
              minSql = math.min(minSql, sqlExecs.get)
              compiles += compiled() - c0
            } catch { case e: Throwable =>
              System.err.println(s"[profile] $name failed: ${e.getMessage}")
            }
          }
          val recompiles =
            if (compiles.length < 2) "-" else compiles.tail.min.toString
          best.foreach { case (w, s, t, tt, gc, sr, sw) =>
            println(f"$name%-28s $w%8.3f $minJobs%5d $minSql%5d $s%5d $t%6d $tt%8.2f $gc%6.2f $sr%7.1f $sw%7.1f ${compiles.head}%8d $recompiles%10s")
          }
      }
    }
    spark.stop()
  }
}
