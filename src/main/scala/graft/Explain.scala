package graft
import graft.util.Harness
object Explain {
  def main(args: Array[String]): Unit = {
    // extra Spark confs ride in as k=v args (the RunOne convention) so
    // regime branches (e.g. q125's bloom-shuffle under
    // spark.graft.triangles.broadcastMaxEdges=0) can be dumped too
    val (confs, queries) = args.toSeq.partition(_.contains("="))
    val spark = Harness.session(defaultCpus = 8,
      confs = confs.map(Harness.confArg))
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    queries.foreach { q =>
      println(s"========== $q ==========")
      SparkEntry.queries(q)(spark, dir).explain("formatted")
    }
    spark.stop()
  }
}
