package perfbench

import scala.collection.concurrent.TrieMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a bench-side call into a layer, or an action the program ran. */
final case class Span(id: Long, parent: Long, name: String, rid: String,
    startNs: Long, endNs: Long)

/** Runtime counters of the tasks of one attribution key. */
final class TaskCounters {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var taskNs = 0L; var cpuNs = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
  def add(o: TaskCounters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskNs += o.taskNs; cpuNs += o.cpuNs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead; spill += o.spill
  }
}

/** One finished SQL action, as the QueryExecutionListener saw it. */
final case class Action(execId: Long, durationNs: Long, planningMs: Double,
    writePath: Option[String], bytesWritten: Long, rowsWritten: Long,
    filesRead: Long, filesTotal: Long, stagingRows: Long, joinRows: Long, rollupRows: Long)

/** Spans and runtime counters for the traced run.
  *
  * Spans are kept in memory and written out once at the end. A span sets
  * the Spark job description of its thread to `pb|<span id>|<name>|<rid>`,
  * so every SQL execution and job it starts carries its span: the
  * SparkListener files task metrics under the execution, and the
  * QueryExecutionListener reports the execution's planning phases and write
  * metrics. Actions inside `Pipeline.runWithRaws` are further split by the
  * table path they write.
  *
  * While `enabled` is false only the span tree is kept and no listener is
  * registered, so an untraced stretch of the same run costs what an
  * untraced run costs.
  */
final class Trace(spark: SparkSession) {
  private val sc = spark.sparkContext
  @volatile var enabled = false
  /** Start of the traced window: spans before it are not counted. */
  @volatile var since = 0L
  private val ids = new java.util.concurrent.atomic.AtomicLong(0)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[(Long, String, String)] {
    override def initialValue(): (Long, String, String) = (0L, "", "")
  }

  // execution id -> span (id, name, rid), from the job description
  private val execSpan = TrieMap.empty[Long, (Long, String, String)]
  private val jobExec = TrieMap.empty[Int, Long]
  private val stageJob = TrieMap.empty[Int, Int]
  private val jobCounters = TrieMap.empty[Int, TaskCounters]
  private val actions = new java.util.concurrent.ConcurrentLinkedQueue[(QueryExecution, Action)]()
  // query execution (by identity) -> its SQL execution id
  private val qeExec = java.util.Collections.synchronizedMap(
    new java.util.IdentityHashMap[QueryExecution, java.lang.Long]())

  /** Time `f` as a span named `name` under the thread's current span. */
  def span[T](name: String, rid: String = null)(f: => T): T = {
    val prev = current.get()
    val r = if (rid == null) prev._3 else rid
    val id = ids.incrementAndGet()
    val savedDesc = sc.getLocalProperty("spark.job.description")
    current.set((id, name, r))
    sc.setJobDescription(s"pb|$id|$name|$r")
    val t0 = System.nanoTime()
    try f
    finally {
      spans.add(Span(id, prev._1, name, r, t0, System.nanoTime()))
      current.set(prev)
      sc.setJobDescription(savedDesc)
    }
  }

  def allSpans: Seq[Span] = spans.asScala.toSeq

  /** Register the listeners; from here on every action is traced. */
  def install(): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    enabled = true
  }

  /** Wait for the listener bus, so every event so far is counted. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  private def parseDesc(d: String): Option[(Long, String, String)] =
    Option(d).filter(_.startsWith("pb|")).map { s =>
      val p = s.split("\\|", -1)
      (p(1).toLong, p(2), if (p.length > 3) p(3) else "")
    }

  private val listener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        parseDesc(s.description).foreach(execSpan.putIfAbsent(s.executionId, _))
      case s: SparkListenerSQLExecutionEnd =>
        val qe = org.apache.spark.sql.PerfbenchSql.queryExecution(s)
        if (qe != null) qeExec.put(qe, s.executionId)
      case _ =>
    }
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      val exec = Option(j.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .map(_.toLong).getOrElse(-1L)
      jobExec.put(j.jobId, exec)
      Option(j.properties)
        .flatMap(p => parseDesc(p.getProperty("spark.job.description")))
        .foreach(sp => execSpan.putIfAbsent(if (exec >= 0) exec else -j.jobId - 2L, sp))
      val c = new TaskCounters
      c.jobs = 1; c.stages = j.stageIds.size
      jobCounters.put(j.jobId, c)
      j.stageIds.foreach(stageJob.put(_, j.jobId))
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val counters = stageJob.get(t.stageId).flatMap(jobCounters.get)
      for (c <- counters if t.taskMetrics != null) c.synchronized {
        val m = t.taskMetrics
        c.tasks += 1
        c.taskNs += m.executorRunTime * 1000000L
        c.cpuNs += m.executorCpuTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      actions.add(qe -> Trace.action(qe, durationNs))
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  /** Span (id, name, rid) that started each execution. */
  def spanOfExec(exec: Long): Option[(Long, String, String)] = execSpan.get(exec)

  def allActions: Seq[Action] = actions.asScala.toSeq.map { case (qe, a) =>
    Option(qeExec.get(qe)).fold(a)(id => a.copy(execId = id.longValue))
  }

  /** Task counters summed per execution id (-1: jobs outside SQL). */
  def countersByExec: Map[Long, TaskCounters] = {
    val out = mutable.Map.empty[Long, TaskCounters]
    jobCounters.readOnlySnapshot().foreach { case (job, c) =>
      val e = jobExec.getOrElse(job, -1L)
      val key = if (e >= 0) e else -job.toLong - 2L
      out.getOrElseUpdate(key, new TaskCounters).add(c)
    }
    out.toMap
  }

  /** Forget everything counted so far (spans stay). */
  def reset(): Unit = {
    drain()
    since = System.nanoTime()
    jobCounters.clear(); actions.clear(); qeExec.clear()
  }

  /** Spans as JSON lines: name, start, end, parent and request id. */
  def writeSpans(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try allSpans.sortBy(_.startNs).foreach { s =>
      w.println(s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""rid":${Json.str(s.rid)},"start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    } finally w.close()
  }
}

object Trace {
  /** Every physical node of a finished plan, through AQE stages and reuse. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val out = mutable.ArrayBuffer.empty[SparkPlan]
    def walk(n: SparkPlan): Unit = {
      out += n
      n match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case r: ReusedExchangeExec => walk(r.child)
        case _ =>
      }
      n.children.foreach(walk)
      n.subqueries.foreach(walk)
    }
    walk(p)
    out.toSeq
  }

  private def metric(p: SparkPlan, k: String): Long =
    p.metrics.get(k).map(_.value).getOrElse(0L)

  /** First descendant (or self) that counts output rows. */
  private def rowsOf(p: SparkPlan): Long =
    if (p.metrics.contains("numOutputRows")) metric(p, "numOutputRows")
    else p.children.headOption.map(rowsOf).getOrElse(0L)

  def action(qe: QueryExecution, durationNs: Long): Action = {
    val planningMs = qe.tracker.phases.values.map(_.durationMs.toDouble).sum
    val writePath = (qe.logical +: Option(qe.commandExecuted).toSeq).flatMap(_.collectFirst {
      case c: InsertIntoHadoopFsRelationCommand => c.outputPath.toString
    }).headOption
    val plan = scala.util.Try(qe.executedPlan).toOption
    val all = plan.map(nodes).getOrElse(Nil)
    val write = all.collectFirst { case d: DataWritingCommandExec => d }
    val scans = all.collect { case s: FileSourceScanExec => s }
    val filesRead = scans.map(metric(_, "numFiles")).sum
    val filesTotal = scans.map(s => scala.util.Try(
      s.relation.location.inputFiles.length.toLong).getOrElse(0L)).sum
    val stagingRows = scans.filter(_.relation.location.rootPaths
      .exists(_.getName.startsWith("stg_"))).map(metric(_, "numOutputRows")).sum
    // the radius join's output is the input of the gold rollup's first
    // aggregate: the one grouping by postal_code whose every function is in
    // Partial mode (its distinct count adds later aggregates that mix modes)
    val joinRows = all.collect {
      case a: BaseAggregateExec if a.groupingExpressions.exists(_.references
          .exists(_.name == "postal_code")) && a.aggregateExpressions.nonEmpty &&
          a.aggregateExpressions.forall(_.mode == org.apache.spark.sql.catalyst
            .expressions.aggregate.Partial) =>
        a.child
    }.map(rowsOf).sum
    // the rollup's own output, before any merge: the rows of the gold
    // rollup's last aggregate, the one grouping by postal_code whose every
    // function is in Final mode
    val rollupRows = all.collect {
      case a: BaseAggregateExec if a.groupingExpressions.exists(_.references
          .exists(_.name == "postal_code")) && a.aggregateExpressions.nonEmpty &&
          a.aggregateExpressions.forall(_.mode == org.apache.spark.sql.catalyst
            .expressions.aggregate.Final) =>
        metric(a, "numOutputRows")
    }.sum
    Action(qe.id, durationNs, planningMs, writePath,
      write.map(w => w.cmd.metrics.get("numOutputBytes").map(_.value).getOrElse(0L)).getOrElse(0L),
      write.map(w => w.cmd.metrics.get("numOutputRows").map(_.value).getOrElse(0L)).getOrElse(0L),
      filesRead, filesTotal, stagingRows, joinRows, rollupRows)
  }
}
