package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: runs one workload against the program's
  * public entry points on inputs `run.py` generated from the seed, times
  * each call from outside, and writes `result.json` into the run's work
  * directory for `run.py` to check and summarize.
  *
  * {{{
  * java ... perfbench.Main --workload weather_hourly --work <dir>
  *   --seconds 10 --trace 0
  * }}}
  */
object Main {

  final case class Opts(workload: String, work: String, seconds: Double, trace: Boolean,
      args: Map[String, String]) {
    def corpus: String = s"$work/corpus"
    /** Seconds `run.py` spent generating the inputs, part of set-up. */
    def genS: Double = args.getOrElse("gen_s", "0").toDouble
  }

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(kv("workload"), kv("work"), kv("seconds").toDouble, kv("trace") == "1", kv)
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.ui.retainedExecutions", "20")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.util.Harness.quietLineageWarn()
    graft.util.Checkpoints.arm()
    val out = new Out
    val trace = new Trace(spark)
    try {
      o.workload match {
        case "weather_hourly" => Weather.hourly(spark, o, trace, out)
        case "weather_serve" => Weather.serve(spark, o, trace, out)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
    } catch {
      case e: Throwable =>
        out.fatal = Some(s"${e.getClass.getName}: ${e.getMessage}")
        e.printStackTrace()
    }
    if (o.trace) trace.writeSpans(s"${o.work}/spans.jsonl")
    out.write(s"${o.work}/result.json")
    spark.stop()
  }

  /** Live heap after full collections, in MB. */
  def retainedHeapMb(): Double = {
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(50) }
    mx.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1e3
  }

  /** CPU seconds of every thread of this JVM so far. */
  def cpuSeconds(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (q in [0, 1]) of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.floor.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

/** What the JVM side hands back: metrics with unit and sample count, the
  * attempted/failed tally with every failure named, and facts for the
  * output checks `run.py` makes. */
final class Out {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String, Int)]
  val facts = mutable.LinkedHashMap.empty[String, String] // name -> JSON value
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var fatal: Option[String] = None

  def metric(name: String, value: Double, unit: String, n: Int = 1): Unit =
    metrics(name) = (value, unit, n)
  def fact(name: String, json: String): Unit = facts(name) = json
  def fail(op: String, e: Throwable): Unit =
    failures.synchronized { failures += s"$op: ${e.getClass.getSimpleName}: ${e.getMessage}" }
  def mismatch(op: String, what: String): Unit =
    failures.synchronized { failures += s"$op: mismatch: $what" }

  def write(path: String): Unit = {
    val ms = metrics.map { case (k, (v, u, n)) =>
      s"${Json.str(k)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)},\"n\":$n}"
    }.mkString("{", ",", "}")
    val fs = facts.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}")
    val fl = failures.map(Json.str).mkString("[", ",", "]")
    val w = new java.io.PrintWriter(path, "UTF-8")
    try w.println(s"""{"metrics":$ms,"facts":$fs,"attempted":$attempted,"failures":$fl,""" +
      s""""fatal":${fatal.map(Json.str).getOrElse("null")}}""")
    finally w.close()
  }
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
}
