package graft
import graft.util.Harness
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Harness.session(defaultCpus = 4)
    new java.io.File(outDir).mkdirs()
    // builder-side convenience: SPARK_GRAFT_ONLY="q62,q34" limits the dump
    // to those queries (unset → all, which is what the driver runs)
    val selected = Harness.selection()
    val chosen = SparkEntry.queries.filter { case (name, _) => selected(name) }
    val failed = chosen.toSeq.flatMap { case (name, fn) =>
      val ok = try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        true
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        false
      }
      // release this query's transients (result already written) so the
      // 90+-query dump doesn't accumulate suite-long debris — see Harness
      Harness.sweep(spark)
      if (ok) None else Some(name)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Harness.teardown(spark)
    // the run still exits 0 on failures (the driver reads the outputs);
    // the tally is the one line that says whether any query failed
    System.err.println(s"[verify] failed ${failed.size}/${chosen.size}" +
      (if (failed.isEmpty) "" else failed.sorted.mkString(": ", ", ", "")))
    spark.stop()
  }
}
