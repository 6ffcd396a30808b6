package perfbench

/** Per-layer metrics of a traced window, named by the program's modules.
  * Times and counts are per operation of the window (a tick or a request),
  * so they read as the breakdown of one operation. Work the benchmark itself does inside the window (spans named
  * `aux.*`) is left out.
  */
object Layers {

  /** A finished action with the span that issued it and its task counters. */
  final case class Attributed(a: Action, span: String, rid: String, tasks: TaskCounters)

  def attributed(trace: Trace): Seq[Attributed] = {
    trace.drain()
    val byExec = trace.countersByExec
    trace.allActions.map { a =>
      val (_, name, rid) = trace.spanOfExec(a.execId).getOrElse((0L, "", ""))
      Attributed(a, name, rid, byExec.getOrElse(a.execId, new TaskCounters))
    }.filterNot(_.span.startsWith("aux."))
  }

  /** Task counters of the executions and non-SQL jobs whose span passes `keep`. */
  def runtime(trace: Trace, keep: String => Boolean): TaskCounters = {
    val sum = new TaskCounters
    trace.countersByExec.foreach { case (exec, c) =>
      if (keep(trace.spanOfExec(exec).map(_._2).getOrElse(""))) sum.add(c)
    }
    sum
  }

  /** `spark.*`, `jvm.gc_s`, `plans.planning_s` and the tracing overhead. */
  def common(trace: Trace, plain: Loop.Window, traced: Loop.Window, out: Out): Unit = {
    val n = math.max(traced.ops, 1).toDouble
    val rt = runtime(trace, !_.startsWith("aux."))
    val mb = 1048576.0
    out.metric("spark.jobs", rt.jobs / n, "count", traced.ops)
    out.metric("spark.stages", rt.stages / n, "count", traced.ops)
    out.metric("spark.tasks", rt.tasks / n, "count", traced.ops)
    out.metric("spark.task_s", rt.taskNs / 1e9 / n, "s", traced.ops)
    out.metric("spark.task_cpu_s", rt.cpuNs / 1e9 / n, "s", traced.ops)
    out.metric("spark.shuffle_write_mb", rt.shuffleWrite / mb / n, "MB", traced.ops)
    out.metric("spark.shuffle_read_mb", rt.shuffleRead / mb / n, "MB", traced.ops)
    out.metric("spark.spill_mb", rt.spill / mb / n, "MB", traced.ops)
    out.metric("jvm.gc_s", traced.gcS / n, "s", traced.ops)
    val acts = attributed(trace)
    out.metric("plans.planning_s", acts.map(_.a.planningMs).sum / 1e3 / n, "s", acts.size)
    if (plain.ops > 0 && traced.ops > 0)
      out.metric("trace.overhead_frac",
        Main.median(traced.latencies) / Main.median(plain.latencies) - 1.0, "ratio", traced.ops)
    out.metric("trace.ops", traced.ops, "count", traced.ops)
  }

  /** The weather pipeline's layers, from the writes `Pipeline.run` /
    * `runWithRaws` make: staging (`stg_*`) is silver, the postal rollup is
    * gold, the accuracy table is gold's accuracy step. Every one of those
    * writes is an `Upsert` keyed merge.
    *
    * @param rawBytes bytes of raw input handed to the pipeline per operation
    * @param changedRows gold rows the operation changed, when known: the
    *   rows the rollup re-aggregated (its output before the merge) per
    *   changed row is `recomputed_per_changed`
    */
  def pipeline(trace: Trace, traced: Loop.Window, out: Out, rawBytes: Double,
      changedRows: Option[Double]): Unit = {
    val n = math.max(traced.ops, 1).toDouble
    val writes = attributed(trace).filter(_.a.writePath.exists(p =>
      p.contains("/stg_") || p.contains("/analytics_")))
    def layer(tag: String) = writes.filter(_.a.writePath.exists(_.contains(tag)))
    def wallS(ws: Seq[Attributed]) = ws.map(_.a.durationNs).sum / 1e9 / n
    val bytes = writes.map(_.a.bytesWritten).sum / n
    out.metric("sources.upsert_s", wallS(writes), "s", writes.size)
    out.metric("sources.upsert_jobs", writes.map(_.tasks.jobs).sum / n, "count", writes.size)
    out.metric("sources.bytes_written", bytes, "bytes", writes.size)
    if (rawBytes > 0) out.metric("sources.write_amp", bytes / rawBytes, "ratio", writes.size)
    val silver = layer("/stg_")
    out.metric("weather.silver.clean_s", wallS(silver), "s", silver.size)
    val gold = layer("/analytics_weather_by_postal_code")
    out.metric("weather.gold.idw_s", wallS(gold), "s", gold.size)
    val joinRows = gold.map(_.a.joinRows).sum
    val stagingRows = gold.map(_.a.stagingRows).sum
    out.metric("weather.gold.join_rows", joinRows / n, "count", gold.size)
    if (stagingRows > 0)
      out.metric("weather.gold.expansion", joinRows.toDouble / stagingRows, "ratio", gold.size)
    out.metric("weather.gold.rows", gold.map(_.a.rowsWritten).sum / n, "count", gold.size)
    val rollupRows = gold.map(_.a.rollupRows).sum / n
    out.metric("weather.gold.rollup_rows", rollupRows, "count", gold.size)
    changedRows.filter(_ > 0).foreach(c =>
      out.metric("weather.gold.recomputed_per_changed", rollupRows / c, "ratio", gold.size))
    val acc = layer("/analytics_forecast_accuracy")
    out.metric("weather.gold.accuracy_s", wallS(acc), "s", acc.size)
  }

  /** Total seconds of the spans named `name`, per operation. */
  def spanS(trace: Trace, name: String, ops: Int): Double =
    trace.allSpans.filter(s => s.name == name && s.startNs >= trace.since)
      .map(s => s.endNs - s.startNs).sum / 1e9 /
      math.max(ops, 1)
}
