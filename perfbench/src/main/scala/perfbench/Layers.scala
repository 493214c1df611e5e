package perfbench

/** Per-layer metrics of a traced run. Every traced operation counts: the
  * correctness pass (one operation per shape) and the traced passes of
  * the loop. Times and counts are per operation. */
object Layers {

  def metrics(t: Trace, checked: Seq[Checked]): Seq[Metric] = {
    val n = math.max(t.ops.size, 1).toDouble
    def spanMs(name: String) = t.spans.filter(_.name == name)
    val builds = spanMs("build") ++ spanMs("check.build")
    // a build that runs jobs (operators checkpoint eagerly) is not analysis
    val analysisMs = builds.map(s => s.ms - t.jobMsWithin(s.startNs, s.endNs)).sum
    val driverMs = t.ops.map { case (_, _, s, e) => (e - s) / 1e6 - t.jobMsWithin(s, e) }.sum
    val jobs = t.ops.map { case (_, _, s, e) => t.jobsWithin(s, e) }.sum
    val generate = spanMs("schema.generate").map(_.ms)
    val narrowed = checked.count(c => c.on.leaves < c.off.leaves)

    val perModule = Runner.Modules.flatMap { m =>
      val mine = t.ops.filter(_._2 == m)
      def perOp(f: (Long, Long) => Double) =
        if (mine.isEmpty) 0.0 else mine.map { case (_, _, s, e) => f(s, e) }.sum / mine.size
      Seq(
        Metric(s"operators.$m.wall_ms", perOp((s, e) => (e - s) / 1e6), "ms"),
        Metric(s"operators.$m.jobs", perOp((s, e) => t.jobsWithin(s, e).toDouble), "count"))
    }

    Seq(
      Metric("schema.rule_ms", t.ruleNs / 1e6 / n, "ms"),
      Metric("schema.rule_effective_ratio",
        if (t.ruleCalls == 0) 0.0 else t.ruleEffective.toDouble / t.ruleCalls, "ratio"),
      Metric("schema.generate_ms", Stats.mean(generate.toSeq), "ms"),
      Metric("schema.narrowed_ratio", narrowed.toDouble / math.max(checked.size, 1), "ratio"),
      Metric("schema.bytes_saved_vs_builtin",
        checked.map(c => (c.off.bytes - c.on.bytes).toDouble).sum, "bytes"),
      Metric("spark.analysis_ms", analysisMs / n, "ms"),
      Metric("spark.optimize_ms", t.optimizeNs / 1e6 / n, "ms"),
      Metric("spark.planning_ms", t.planningNs / 1e6 / n, "ms"),
      Metric("spark.codegen_ms", t.codegenNs / 1e6 / n, "ms"),
      Metric("spark.driver_ms", driverMs / n, "ms"),
      Metric("spark.jobs", jobs / n, "count"),
      Metric("spark.tasks", t.tasks / n, "count"),
      Metric("spark.task_ms", t.taskMs / n, "ms"),
      Metric("spark.gc_ms", t.gcMs / n, "ms"),
      Metric("spark.shuffle_read_bytes", t.shuffleRead / n, "bytes"),
      Metric("spark.shuffle_write_bytes", t.shuffleWrite / n, "bytes")) ++ perModule
  }
}
