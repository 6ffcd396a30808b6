package perfbench

import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable

/** Closed-loop measurement shared by the workloads.
  *
  * A closed loop starts a client's next operation only when its previous
  * one has completed. An untraced run measures the whole window. A traced
  * run measures the first half untraced and the second half with the
  * listeners registered: the per-layer numbers come from the second half,
  * and the ratio of the halves' median latencies is the tracing overhead.
  */
object Loop {

  /** Latencies (seconds) of the operations completed in one window, the
    * window's wall time up to the last completion, and the JVM's GC and
    * CPU seconds over it. */
  final case class Window(latencies: Seq[Double], wallS: Double, gcS: Double, cpuS: Double) {
    def ops: Int = latencies.size
  }

  /** Run `op(i)` with `clients` threads until `seconds` have passed (each
    * client runs at least `minOps` operations, and no index reaches
    * `limit`). `op` returns its own latency in seconds, so that work the
    * benchmark does around the call stays out of it, or None for a failed
    * operation, which the caller has counted: failures are never timed. */
  def closed(seconds: Double, clients: Int, next: AtomicInteger, limit: Int, minOps: Int)(
      op: Int => Option[Double]): Window = {
    val lat = mutable.ArrayBuffer.empty[Double]
    val gc0 = Main.gcSeconds()
    val cpu0 = Main.cpuSeconds()
    val t0 = System.nanoTime()
    var lastEnd = t0
    val deadline = t0 + (seconds * 1e9).toLong
    val threads = (0 until clients).map { _ =>
      val th = new Thread(() => {
        var done = 0
        // an index is taken only when its operation is about to run
        def more(): Option[Int] =
          if (done >= minOps && System.nanoTime() >= deadline) None
          else Some(next.getAndIncrement()).filter(_ < limit)
        var i = more()
        while (i.isDefined) {
          done += 1
          val r = op(i.get)
          val e = System.nanoTime()
          lat.synchronized {
            r.foreach(lat += _)
            lastEnd = math.max(lastEnd, e)
          }
          i = more()
        }
      })
      th.start(); th
    }
    threads.foreach(_.join())
    Window(lat.toSeq, (lastEnd - t0) / 1e9, Main.gcSeconds() - gc0, Main.cpuSeconds() - cpu0)
  }

  /** The untraced window and, for a traced run, the traced one. Each
    * window, and each half of a traced run, runs at least `minOps`
    * operations per client. */
  def measure(o: Main.Opts, trace: Trace, clients: Int, next: AtomicInteger,
      limit: Int = Int.MaxValue, minOps: Int = 1)(
      op: Int => Option[Double]): (Window, Option[Window]) =
    if (!o.trace) (closed(o.seconds, clients, next, limit, minOps)(op), None)
    else {
      val plain = closed(o.seconds / 2, clients, next, limit, minOps)(op)
      trace.install()
      trace.reset()
      (plain, Some(closed(o.seconds / 2, clients, next, limit, minOps)(op)))
    }

  /** Seconds `f` takes, with its result. */
  def timed[T](f: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val r = f
    (Main.seconds(t0), r)
  }

  /** Setup repeated `reps` times; returns the median seconds. */
  def setup(reps: Int)(step: Int => Unit): (Double, Seq[Double]) = {
    val ts = (0 until reps).map { r =>
      val t0 = System.nanoTime()
      step(r)
      Main.seconds(t0)
    }
    (Main.median(ts), ts)
  }

  /** The headline metrics every workload reports from its untraced window;
    * `p50S` is the workload's median operation latency in seconds. Of these,
    * `setup_s` and `op_p50_ms` are end-to-end metrics; CPU time and
    * throughput are printed for reading only (see README.md). */
  def endToEnd(out: Out, w: Window, p50S: Double, setupS: Double, setupN: Int,
      genS: Double): Unit = {
    out.metric("setup_s", genS + setupS, "s", setupN)
    out.metric("op_p50_ms", p50S * 1e3, "ms", w.ops)
    out.metric("op_cpu_ms", w.cpuS / w.ops * 1e3, "ms", w.ops)
    out.metric("ops_per_s", w.ops / w.wallS, "1/s", w.ops)
  }

  def copyDir(from: String, to: String): Unit = {
    import java.nio.file._
    val src = Paths.get(from)
    Files.walk(src).forEach { p =>
      val d = Paths.get(to).resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(d)
      else Files.copy(p, d, StandardCopyOption.REPLACE_EXISTING)
    }
  }

  def deleteDir(path: String): Unit = {
    import java.nio.file._
    val p = Paths.get(path)
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
  }

  def dirBytes(path: String): Long = {
    import java.nio.file._
    val p = Paths.get(path)
    if (!Files.exists(p)) 0L
    else Files.walk(p).filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum
  }
}
