package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{Bronze, Tables}
import graft.weather.{Pipeline, WeatherOracle, WeatherPipeline, WeatherQueries, WeatherStats,
  WeatherSynth, WeatherZServe}

/** The weather workloads: hourly ticks (the write side) and API serving
  * (the read side of the same gold). */
object Weather {

  /** Each workload sets up this many times; `setup_s` is the median. The
    * first repetition also pays the JVM's warm-up. */
  val SetupReps = 2

  /** A fresh copy of the generated corpus, so a repeated set-up finds no
    * state an earlier one left (the engine keys its landings by corpus). */
  private def corpusCopy(o: Main.Opts, r: Int): String = {
    val d = s"${o.work}/corpus_r$r"
    Loop.copyDir(o.corpus, d)
    d
  }

  private def attempt(out: Out, op: String)(f: => Double): Option[Double] =
    try {
      out.synchronized(out.attempted += 1)
      Some(f)
    } catch { case e: Throwable => out.fail(op, e); None }

  private def rowsIn(spark: SparkSession, dirs: Seq[String]): Double =
    dirs.map(d => Tables.events(spark, d).count()).sum.toDouble

  private def rowsKept(spark: SparkSession, dirs: Seq[String]): Double =
    dirs.map { d =>
      val ev = Tables.events(spark, d)
      WeatherPipeline.cleanObservations(WeatherSynth.rawObservationsFrom(ev)).count() +
        WeatherPipeline.cleanForecasts(WeatherSynth.rawForecastsFrom(ev)).count()
    }.sum.toDouble

  // --------------------------------------------------------------------
  // weather_hourly: one simulated hour per tick, landed and re-derived
  // --------------------------------------------------------------------

  def hourly(spark: SparkSession, o: Main.Opts, trace: Trace, out: Out): Unit = {
    val nTicks = o.args("n_ticks").toInt
    val cutUs = o.args("cut_us").toLong
    val backfillDir = s"${o.work}/backfill"
    def tickDir(i: Int) = f"${o.work}/ticks/$i%03d"
    var dims: (DataFrame, DataFrame) = null
    var root = ""
    // set-up lands the backfill in bronze and runs the pipeline over it,
    // into a fresh root per repetition; the ticks continue the last one
    val (setupS, setups) = Loop.setup(SetupReps) { r =>
      root = s"${o.work}/hr/$r"
      dims = WeatherStats.dims(spark, corpusCopy(o, r))
      val bf = Tables.events(spark, backfillDir)
      Bronze.landEventsIncremental(spark, bf, s"$root/bronze")
      Pipeline.runWithRaws(spark, WeatherSynth.rawObservationsFrom(bf),
        WeatherSynth.rawForecastsFrom(bf), dims._1, dims._2, s"$root/lake")
    }
    (0 until SetupReps - 1).foreach(r => Loop.deleteDir(s"${o.work}/hr/$r"))
    val lake = Pipeline.Layers(s"$root/lake")
    val changed = new ConcurrentLinkedQueue[java.lang.Double]()
    val ticked = new ConcurrentLinkedQueue[Integer]()

    def tick(i: Int): Option[Double] = {
      val hourMs = (cutUs + i * 3600L * 1000000L) / 1000L
      // traced run only: snapshot gold's files to count the rows the tick
      // changes (a copy, not a cached frame: a cached read of the gold path
      // would serve the program's own later reads of it)
      val before = if (!trace.enabled) None else Some(trace.span("aux.snapshot") {
        val snap = s"${o.work}/hr/before_$i"
        Loop.copyDir(lake.gold, snap)
        snap
      })
      val r = attempt(out, s"tick[$i]") {
        val (s, _) = Loop.timed(trace.span("tick", s"t$i") {
          val slice = Tables.events(spark, tickDir(i))
          trace.span("tick.bronze_land")(Bronze.landEventsIncremental(spark, slice, s"$root/bronze"))
          trace.span("tick.pipeline")(Pipeline.runWithRaws(spark,
            WeatherSynth.rawObservationsFrom(slice), WeatherSynth.rawForecastsFrom(slice),
            dims._1, dims._2, lake.base))
          trace.span("tick.probe") {
            var tries = 1
            var seen = latest(spark, lake.gold)
            while (!(seen.nonEmpty && seen.forall(_ >= hourMs))) {
              if (tries >= 20) throw new IllegalStateException(
                s"latest observations never showed hour ${new java.sql.Timestamp(hourMs)}: " +
                  s"they show ${seen.distinct.map(new java.sql.Timestamp(_)).mkString(", ")}")
              tries += 1
              seen = latest(spark, lake.gold)
            }
          }
        })
        ticked.add(i)
        s
      }
      before.foreach { snap =>
        trace.span("aux.changed") {
          changed.add(spark.read.parquet(lake.gold).except(spark.read.parquet(snap))
            .count().toDouble)
          Loop.deleteDir(snap)
        }
      }
      r
    }
    // a tick takes most of a window: at least three, so that the median
    // drops one slow tick
    val (plain, traced) = Loop.measure(o, trace, 1, new AtomicInteger(0), nTicks, 3)(tick)
    val heap = Main.retainedHeapMb()

    // output check (run.py, in DuckDB): gold after the last tick equals the
    // WeatherOracle gold of one single-shot run over the union of every
    // slice landed, IncrementalSpec's convergence property
    val used = if (ticked.isEmpty) 0 else ticked.asScala.map(_.intValue).max + 1
    out.fact("hourly", s"""{"gold":${Json.str(lake.gold)},"corpus":${Json.str(o.corpus)},""" +
      s""""slices":${Json.arr((backfillDir +: (0 until used).map(tickDir)).map(Json.str))},""" +
      s""""gold_obs_sql":${Json.str(WeatherOracle.goldObsSql)},""" +
      s""""gold_fc_sql":${Json.str(WeatherOracle.goldFcSql)}}""")
    out.fact("setup_reps_s", Json.arr(setups.map(Json.num)))
    out.fact("latencies_s", Json.arr((plain.latencies ++ traced.map(_.latencies).getOrElse(Nil))
      .map(Json.num)))

    if (plain.ops > 0) Loop.endToEnd(out, plain, Main.median(plain.latencies), setupS,
      setups.size, o.genS)
    out.metric("retained_heap_mb", heap, "MB")
    if (plain.ops > 0) out.metric("tick_p50_s", Main.median(plain.latencies), "s", plain.ops)
    traced.foreach { t =>
      val tracedTicks = ticked.asScala.map(_.intValue).toSeq.sorted.takeRight(t.ops).map(tickDir)
      Layers.common(trace, plain, t, out)
      val sliceBytes = tracedTicks.map(d => Loop.dirBytes(s"$d/events.parquet")).sum.toDouble
      val ch = changed.asScala.map(_.doubleValue).toSeq
      Layers.pipeline(trace, t, out, sliceBytes / math.max(t.ops, 1),
        if (ch.isEmpty) None else Some(ch.sum / ch.size))
      out.metric("sources.bronze_land_s", Layers.spanS(trace, "tick.bronze_land", t.ops), "s", t.ops)
      out.metric("weather.tick.probe_s", Layers.spanS(trace, "tick.probe", t.ops), "s", t.ops)
      out.metric("weather.tick.pipeline_s", Layers.spanS(trace, "tick.pipeline", t.ops), "s", t.ops)
      out.metric("weather.silver.rows_in", 2 * rowsIn(spark, tracedTicks) / math.max(t.ops, 1),
        "count", t.ops)
      out.metric("weather.silver.rows_kept", rowsKept(spark, tracedTicks) / math.max(t.ops, 1),
        "count", t.ops)
    }
  }

  /** The hours (epoch ms) `latestObservations` over gold shows. */
  private def latest(spark: SparkSession, gold: String): Seq[Long] =
    WeatherPipeline.latestObservations(spark.read.parquet(gold)).collect().toSeq
      .map(_.getAs[java.sql.Timestamp]("timestamp").getTime)

  // --------------------------------------------------------------------
  // weather_serve: API-shaped reads over the z-clustered gold
  // --------------------------------------------------------------------

  final case class Req(kind: String, postal: String, window: Int, limit: Int,
      horizon: Int, startH: Int) {
    def key: String = kind match {
      case "latest" | "latest_fc" => s"$kind|$postal"
      case "history" => s"$kind|$postal|$window|$limit"
      case _ => s"$kind|$postal|$horizon|$startH"
    }
  }

  private def answer(spark: SparkSession, d: String, q: Req): Array[Row] = {
    val pc = col("postal_code") === q.postal
    q.kind match {
      case "latest" => WeatherQueries.latestObs(spark, d).filter(pc).collect()
      case "latest_fc" => WeatherQueries.latestFc(spark, d).filter(pc).collect()
      case "history" =>
        WeatherPipeline.history(WeatherZServe.zGold(spark, d), q.postal, q.window, q.limit).collect()
      case "forecast" =>
        val from = lit(WeatherPipeline.AsOf).cast("timestamp") - expr(s"INTERVAL ${q.startH} HOURS")
        WeatherPipeline.forecastHorizon(WeatherZServe.zGold(spark, d), q.postal, from, q.horizon)
          .collect()
    }
  }

  /** A response as JSON: column names and rows, timestamps as epoch µs. */
  private def responseJson(rows: Array[Row]): String = {
    def v(x: Any): String = x match {
      case null => "null"
      case t: java.sql.Timestamp => (t.getTime / 1000 * 1000000L + t.getNanos / 1000 % 1000000).toString
      case t: java.time.Instant => (t.getEpochSecond * 1000000L + t.getNano / 1000).toString
      case s: String => Json.str(s)
      case d: Double => Json.num(d)
      case f: Float => Json.num(f.toDouble)
      case n: Number => n.toString
      case b: Boolean => b.toString
      case other => Json.str(other.toString)
    }
    val cols = rows.headOption.map(_.schema.fieldNames.toSeq).getOrElse(Nil)
    s"""{"columns":${Json.arr(cols.map(Json.str))},"rows":${Json.arr(rows.toSeq.map(r =>
      Json.arr((0 until r.length).map(i => v(r.get(i))))))}}"""
  }

  /** Seconds of untimed requests before `weather_serve` measures. */
  val WarmupS = 2.0

  /** Geometric mean of the per-kind median latencies (seconds): with a
    * balanced mix of kinds whose latencies differ, the pooled median sits
    * between two kinds and jumps with their tails; this does not. */
  private def kindP50(lat: Seq[(String, Double, String)]): Double = {
    val meds = lat.groupBy(_._1).values.map(xs => Main.median(xs.map(_._2)))
    math.exp(meds.map(math.log).sum / meds.size)
  }

  def serve(spark: SparkSession, o: Main.Opts, trace: Trace, out: Out): Unit = {
    val reqs = scala.io.Source.fromFile(s"${o.work}/requests.tsv").getLines().map { l =>
      val f = l.split("\t")
      Req(f(0), f(1), f(2).toInt, f(3).toInt, f(4).toInt, f(5).toInt)
    }.toVector
    var corpus = ""
    // set-up lands gold and builds its z-clustered serve layouts
    // (WeatherZServe.prewarm), on a fresh corpus copy per repetition
    val (setupS, setups) = Loop.setup(SetupReps) { r =>
      corpus = corpusCopy(o, r)
      WeatherZServe.prewarm(spark, corpus)
    }
    val responses = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val byKind = new ConcurrentLinkedQueue[(String, Double, String)]()
    val next = new AtomicInteger(0)
    // untimed requests first: the serve path's first calls plan and
    // compile what later ones reuse
    Loop.closed(WarmupS, 2, next, reqs.size, 1) { i =>
      attempt(out, s"serve warm-up[$i]")(Loop.timed(answer(spark, corpus, reqs(i)))._1)
    }
    val (plain, traced) = Loop.measure(o, trace, 2, next, reqs.size) { i =>
      val q = reqs(i)
      val rid = s"r$i"
      val r = attempt(out, s"serve[$i] ${q.key}") {
        val (s, rows) = Loop.timed(trace.span(s"serve.${q.kind}", rid)(answer(spark, corpus, q)))
        val json = responseJson(rows)
        val prev = responses.putIfAbsent(q.key, json)
        if (prev != null && prev != json)
          throw new IllegalStateException(s"response to ${q.key} changed between calls")
        s
      }
      r.foreach(s => byKind.add((q.kind, s, rid)))
      r
    }
    val heap = Main.retainedHeapMb()

    // output check: run.py answers each distinct request on the gold the
    // WeatherOracle SQL derives from the same corpus in DuckDB
    val w = new java.io.PrintWriter(s"${o.work}/responses.jsonl", "UTF-8")
    try responses.asScala.foreach { case (k, v) =>
      w.println(s"""{"key":${Json.str(k)},"response":$v}""")
    } finally w.close()
    out.fact("serve", s"""{"corpus":${Json.str(corpus)},"as_of":${Json.str(WeatherPipeline.AsOf)},""" +
      s""""responses":${Json.str(s"${o.work}/responses.jsonl")},"distinct":${responses.size},""" +
      s""""gold_obs_sql":${Json.str(WeatherOracle.goldObsSql)},""" +
      s""""gold_fc_sql":${Json.str(WeatherOracle.goldFcSql)}}""")
    out.fact("setup_reps_s", Json.arr(setups.map(Json.num)))

    val plainLat = byKind.asScala.toSeq.take(plain.ops)
    if (plain.ops > 0) Loop.endToEnd(out, plain, kindP50(plainLat), setupS, setups.size, o.genS)
    out.metric("retained_heap_mb", heap, "MB")
    if (plain.ops > 0) {
      out.metric("serve_p50_ms", Main.median(plain.latencies) * 1e3, "ms", plain.ops)
      out.metric("serve_p90_ms", Main.quantile(plain.latencies, 0.9) * 1e3, "ms", plain.ops)
      out.metric("serve_rps", plain.ops / plain.wallS, "1/s", plain.ops)
    }
    traced.foreach { t =>
      Layers.common(trace, plain, t, out)
      val reqLat = byKind.asScala.toSeq.drop(plain.ops)
      reqLat.groupBy(_._1).foreach { case (k, xs) =>
        out.metric(s"weather.serve.$k.p50_ms", Main.median(xs.map(_._2)) * 1e3, "ms", xs.size)
      }
      out.metric("weather.serve.p90_ms", Main.quantile(t.latencies, 0.9) * 1e3, "ms", t.ops)
      val acts = Layers.attributed(trace).filter(_.span.startsWith("serve."))
      val planning = acts.groupBy(_.rid).map { case (rid, as) => rid -> as.map(_.a.planningMs).sum }
      val exec = reqLat.map { case (_, s, rid) => s * 1e3 - planning.getOrElse(rid, 0.0) }
      val n = math.max(reqLat.size, 1).toDouble
      if (exec.nonEmpty) out.metric("weather.serve.exec_ms", Main.median(exec), "ms", exec.size)
      out.metric("plans.serve_planning_ms", planning.values.sum / n, "ms", reqLat.size)
      out.metric("weather.serve.jobs_per_request",
        Layers.runtime(trace, _.startsWith("serve.")).jobs / n, "count", reqLat.size)
      val read = acts.map(_.a.filesRead).sum
      val total = acts.map(_.a.filesTotal).sum
      out.metric("weather.serve.files_read_per_request", read / n, "count", reqLat.size)
      if (total > 0)
        out.metric("weather.serve.files_pruned_frac", 1.0 - read.toDouble / total, "ratio", reqLat.size)
    }
  }
}
