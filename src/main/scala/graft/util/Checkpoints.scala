package graft.util

import org.apache.spark.sql.DataFrame

/** Lifecycle helper for eager `localCheckpoint` frames. A checkpoint pins
  * its blocks in the block manager until the session stops; iterative
  * loops and memo caches that mint checkpoints therefore need an explicit
  * release for superseded frames — measured in GraphOps: a second q77 run
  * in one JVM went 8 s → 26 s purely from leaked round states.
  */
object Checkpoints {

  /** Unpersist the storage behind a frame once it is superseded: the
    * cached blocks of an eager `localCheckpoint`, or the CacheManager
    * entry of a `.cache()`d plan (a no-op for plans with neither). Only
    * call when every consumer of the frame has already been materialized
    * (into its own checkpoint, a written file, or a collected result) —
    * a released localCheckpoint is UNRECOMPUTABLE (lineage truncated).
    */
  def release(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(false)
      case _ => df.unpersist(blocking = false)
    }

  // Per-invocation transients (q81's truth checkpoints, q77's final label
  // frame, q93/q94's detached results, q45/q46/q78's scratch caches) have
  // no owner that outlives the query, so in a 94-query suite they pile up
  // in the block manager until teardown — measured as the late-suite bench
  // inflation of round 5 (q81 63.5 s in-suite vs 5.65 s isolated). Sites
  // that mint such a frame register it here; the harness (Bench/Verify)
  // sweeps between queries, AFTER the query's result is materialized.
  // The registry is ARMED only by harness mains (`Harness.session` calls
  // [[arm]] at startup). A library caller that never sweeps must not
  // feed it: strong references here would pin every transient for the
  // process lifetime in a long-lived service (the pre-registry lifecycle
  // — GC + ContextCleaner for checkpoints, CacheManager until an
  // explicit clear for caches — is the correct one there). Weak
  // references are NOT a fix: a cached frame's wrapper can be collected
  // between query end and sweep, and its CacheManager entry (held
  // strongly by the session) would then leak past the sweep it was
  // registered for.
  private val tracked = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
  @volatile private var armed = false

  /** Enable the registry — harness mains only, before the query loop. */
  def arm(): Unit = armed = true

  /** Register a per-query transient frame for the harness sweep (no-op
    * unless [[arm]]ed); returns the frame unchanged.
    */
  def track(df: DataFrame): DataFrame =
    if (!armed) df
    else tracked.synchronized { tracked += df; df }

  /** Release every tracked transient (see [[track]]); returns how many
    * were swept. Callers must first materialize all consumers of the
    * current query's result.
    */
  def sweep(): Int = tracked.synchronized {
    val n = tracked.size
    tracked.foreach(release)
    tracked.clear()
    n
  }
}
