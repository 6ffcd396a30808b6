package graft

import graft.util.Harness

/** Bench-only single-query runner with visible ROWS: times one query at
  * full bench conditions and prints its result, so scale cross-checks
  * (e.g. q125's sf2 broadcast-vs-bloom-shuffle exact-count comparison)
  * can assert output equality across regime branches, not just wall
  * time — Bench prints timings only, Verify writes parquet at gate
  * scale. Extra Spark confs ride in as `k=v` args after the query name.
  *
  * Usage: runMain graft.RunOne <query> [conf=value ...]
  */
object RunOne {
  def main(args: Array[String]): Unit = {
    val q = args(0)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = Harness.session(defaultCpus = 32,
      confs = args.toSeq.drop(1).map(Harness.confArg))
    // SPARK_GRAFT_STAGE_METRICS=1: per-stage GC/spill/shuffle counters,
    // printed per rep — the attribution harness for wall-time outliers
    // (e.g. the r8 q141 237 s single-rep spike recorded as "OS-level");
    // a repeat now lands with the stage, its GC share and its spill on
    // record instead of a shrug.
    val stageMetrics = sys.env.get("SPARK_GRAFT_STAGE_METRICS").contains("1")
    val stageLog =
      new java.util.concurrent.ConcurrentLinkedQueue[(Int, String)]()
    if (stageMetrics) spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val si = sc.stageInfo
          val m = si.taskMetrics
          val wall = (for { s <- si.submissionTime; c <- si.completionTime }
            yield (c - s) / 1e3).getOrElse(-1.0)
          stageLog.add((si.stageId, f"[stage] id=${si.stageId} " +
            f"name=${si.name.takeWhile(_ != '\n').take(60)} tasks=${si.numTasks} " +
            f"wall=$wall%.1fs run=${m.executorRunTime / 1e3}%.1fs " +
            f"gc=${m.jvmGCTime / 1e3}%.1fs " +
            f"memSpill=${m.memoryBytesSpilled >> 20}MB " +
            f"diskSpill=${m.diskBytesSpilled >> 20}MB " +
            f"shufRead=${m.shuffleReadMetrics.totalBytesRead >> 20}MB " +
            f"shufWrite=${m.shuffleWriteMetrics.bytesWritten >> 20}MB"))
        }
      })
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "1").toInt
    for (r <- 1 to reps) {
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(q)(spark, sfDir)
      val rows = df.collect()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[runone] $q rep $r: $sec%.1f s, ${rows.length} rows")
      if (stageMetrics) {
        // drain: stages completed during this rep, heaviest GC+spill first
        val snap = scala.collection.mutable.ArrayBuffer.empty[(Int, String)]
        while (!stageLog.isEmpty) snap += stageLog.poll()
        snap.sortBy(_._1).foreach { case (_, line) => println(s"[runone rep $r] $line") }
      }
      if (r == reps) {
        rows.take(50).foreach(row => println(s"[runone] $row"))
        // SPARK_GRAFT_OUT=<dir>: dump the full result for offline
        // cross-engine diffs (the scale corpora Verify never sees)
        sys.env.get("SPARK_GRAFT_OUT").foreach(out =>
          df.write.mode("overwrite").parquet(s"$out/$q.parquet"))
      }
      Harness.sweep(spark)
    }
    spark.stop()
  }
}
