package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.util.Harness

/** Bench-only corpus scale-up: replicate the driver-generated sf0.1
  * tables `factor`× with referential-integrity-preserving key offsets, so
  * the suite can be measured one order of magnitude up (VERDICT-r2 #7).
  *
  * NOT a correctness input — Verify always runs on the driver's own
  * parquet. This exists purely to observe which plans leave the broadcast
  * regime / flip under AQE at 10× scale, recorded in PLANS.md §sf1.
  *
  * Replica semantics:
  *   - fixed dims (region, nation) are copied once;
  *   - every surrogate key gets `+ r*STRIDE`, applied consistently on both
  *     sides of each FK (orders.o_custkey ↔ customer.c_custkey, …), so
  *     join selectivities and group cardinalities scale linearly;
  *   - document text gets a per-replica suffix on every token (r>0), so
  *     shingle/minhash/simhash content is DISTINCT across replicas and the
  *     dedup candidate space grows linearly, not quadratically (10× data =
  *     10× index, the realistic shape — not 10 identical corpus copies);
  *   - embeddings get a tiny deterministic per-replica perturbation so
  *     vectors are distinct (pure scaling would leave cosine signs — and
  *     hence every LSH bucket — exactly duplicated).
  *
  * Usage: runMain graft.ScaleUp <srcDir> <outDir> <factor> [tables]
  * — `tables` (optional, comma-separated) restricts the replica to a
  * subset, e.g. `events` for the sf30 stats-wall measurement corpus:
  * a full sf30 replica is tens of GB of tables the measurement never
  * reads.
  */
object ScaleUp {
  private val Stride = 10000000L

  def main(args: Array[String]): Unit = {
    val (srcDir, outDir, factorS) = (args(0), args(1), args(2))
    val tableFilter: Option[Set[String]] =
      if (args.length > 3) Some(args(3).split(",").map(_.trim).toSet)
      else None
    def wanted(t: String): Boolean = tableFilter.forall(_.contains(t))
    val factor = factorS.toInt
    // events.ts is TIMESTAMP(NANOS): read as long; the replica keeps it
    // as plain INT64 nanos, which Tables.events handles identically
    val spark = Harness.session(defaultCpus = 16,
      confs = Seq("spark.sql.legacy.parquet.nanosAsLong" -> "true"))

    def src(t: String): DataFrame = spark.read.parquet(s"$srcDir/$t.parquet")
    // the +r*STRIDE offset is collision-free only while every source key
    // fits under one stride; a silent overflow would alias keys ACROSS
    // replicas and corrupt the join selectivities this corpus exists to
    // measure — so check loudly, per keyed table, before writing anything
    def assertKeysUnderStride(t: String, keyCols: Seq[String]): Unit = {
      val maxCols = keyCols.map(c => max(col(c).cast("long")))
      val maxes = src(t).agg(maxCols.head, maxCols.tail: _*).collect()(0)
      keyCols.zipWithIndex.foreach { case (c, i) =>
        val m = maxes.getLong(i)
        require(m < Stride,
          s"$t.$c max $m >= stride $Stride: replica keys would collide")
      }
    }
    // one scan fanned out `factor`×; the fan preserves the source's
    // (often single-file) partitioning, so spread the output across
    // the box — a one-file replica serializes every reader task and
    // measures the fixture, not the engine (the r16 q191 lesson)
    def fan(t: String): DataFrame =
      src(t).crossJoin(broadcast(spark.range(factor).toDF("__r")))
        .repartition(32)
    def off(c: String): org.apache.spark.sql.Column =
      col(c) + col("__r") * Stride

    def write(df: DataFrame, t: String): Unit = if (wanted(t)) {
      df.write.mode("overwrite").parquet(s"$outDir/$t.parquet")
      println(s"[scaleup] $t: ${spark.read.parquet(s"$outDir/$t.parquet").count()} rows")
    }

    Seq(
      "customer" -> Seq("c_custkey"), "supplier" -> Seq("s_suppkey"),
      "part" -> Seq("p_partkey"), "orders" -> Seq("o_orderkey", "o_custkey"),
      "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
      "events" -> Seq("event_id", "user_id"),
      "documents" -> Seq("doc_id"), "embeddings" -> Seq("vec_id")
    ).filter(p => wanted(p._1))
      .foreach { case (t, ks) => assertKeysUnderStride(t, ks) }

    write(src("region"), "region")
    write(src("nation"), "nation")
    write(fan("customer").withColumn("c_custkey", off("c_custkey"))
      .drop("__r"), "customer")
    write(fan("supplier").withColumn("s_suppkey", off("s_suppkey"))
      .drop("__r"), "supplier")
    write(fan("part").withColumn("p_partkey", off("p_partkey"))
      .drop("__r"), "part")
    write(fan("orders").withColumn("o_orderkey", off("o_orderkey"))
      .withColumn("o_custkey", off("o_custkey")).drop("__r"), "orders")
    write(fan("lineitem").withColumn("l_orderkey", off("l_orderkey"))
      .withColumn("l_partkey", off("l_partkey"))
      .withColumn("l_suppkey", off("l_suppkey")).drop("__r"), "lineitem")
    write(fan("events").withColumn("event_id", off("event_id"))
      .withColumn("user_id", off("user_id")).drop("__r"), "events")
    write(fan("documents").withColumn("doc_id", off("doc_id"))
      .withColumn("text", when(col("__r") === 0, col("text")).otherwise(
        // per-replica token suffix → shingles distinct across replicas
        regexp_replace(col("text"), lit("(\\S+)"),
          concat(lit("$1_"), col("__r")))))
      .withColumn("n_chars", length(col("text"))).drop("__r"), "documents")
    write(fan("embeddings").withColumn("vec_id", off("vec_id"))
      .withColumn("embedding", expr(
        // deterministic ±5e-3 per-component jitter keyed by (vec_id, i);
        // r=0 keeps the original vectors bit-for-bit
        """CASE WHEN __r = 0 THEN embedding ELSE
           transform(embedding, (x, i) ->
             x + CAST(pmod(hash(vec_id, i), 1000) - 500 AS FLOAT) * 1e-5f)
           END"""))
      .drop("__r"), "embeddings")

    spark.stop()
  }
}
