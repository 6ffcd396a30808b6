package graft.operators

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.util.Md5

/** The DURABLE verified-pairs store (r15 verdict #1): the MinHash+LSH
  * verified near-duplicate pairs that q45 declares and q77/q103/q144
  * consume, persisted under the generation contract (consumed-file
  * identity, `_COMMITTED`, crash sweep, one-prior retention) so a
  * fresh JVM LOADS the artifact instead of recomputing it — the last
  * per-JVM corpus-scale rebuild (`prewarm_lsh_pairs`, 18.9 s at sf0.1
  * and 266 s-scale at sf10, previously paid by every session) retired
  * to O(read) on an unchanged corpus.
  *
  * Content contract: `pairs` is EXACTLY the output of the q45 family's
  * construction (reference dedup family at `transform/cleaning.py` /
  * SURVEY §9) — df-capped 3-gram shingles ([[TextOps.MaxShingleDf]]),
  * 16 md5-permutation min-hashes, 4×4 banded candidates, exact-Jaccard
  * verify at ≥ 0.5 — so every consumer's DuckDB oracle is unchanged.
  *
  * INCREMENTAL appends are the reason the store persists more than the
  * pairs. The df-cap is a CORPUS-GLOBAL property (unlike q184's
  * deliberately doc-local signatures), so each generation records four
  * deltas: `pairs_delta`, the capped `shingles_delta`, `sigs_delta`,
  * and the raw pre-cap `df_delta`. An append then:
  *
  *  1. shingles ONLY the new feed files — O(delta);
  *  2. checks the CAP FRONTIER: a shingle standing at df ≤ cap that
  *     the delta pushes over the cap lives in standing capped sets —
  *     their signatures, bands and Jaccards would all change, so that
  *     (rare, counted) case triggers the full rebuild the semantics
  *     demand; a delta-only shingle going hot affects no standing doc;
  *  3. otherwise signs the delta, candidates new bands against the
  *     STORED standing bands (derived from `sigs_delta` — 4 rows/doc,
  *     no corpus re-read), and exact-verifies ONLY the new candidate
  *     pairs against the stored capped shingle sets, semi-joined down
  *     to the touched docs. Standing pairs are provably unchanged
  *     (their capped sets did not move), so the new generation appends
  *     only the delta pairs.
  *
  * At 100 TB: the one corpus-scale job is the first-ever build (paid
  * once, durably); appends cost O(delta) shingling + one aggregate
  * over the shingle-vocabulary table for the frontier check + the
  * touched docs' verify; consumers pay O(pairs) reads. Cap-crossing
  * rebuilds amortize like ZIndex's periodic recluster: the cap is 100×
  * the expected df of a content shingle, so organic appends cross it
  * at most |vocab|/cap times over a corpus's lifetime.
  */
object LshPairs {

  private val NumHashes = 16
  private val BandSize = 4
  private val NumBands = NumHashes / BandSize
  private val MinJaccard = 0.5

  /** Spec observables (the LshIndexSpec counter convention). */
  private[graft] val fullBuilds = new AtomicLong
  private[graft] val appends = new AtomicLong
  private[graft] val capCrossRebuilds = new AtomicLong
  private[graft] val feedFilesScanned = new AtomicLong

  /** (root → (feed stamp, committed gen)) — one feed listStatus on the
    * warm path, the [[ZIndex]] memo discipline. */
  private val memo =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Long)]()
  def clearMemo(): Unit = memo.clear()

  private val rootLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private[graft] def root(spark: SparkSession, dir: String): String =
    spark.conf.getOption("spark.graft.lshpairs.dir")
      .map(base => s"$base/${Md5.hex(dir).take(8)}")
      .getOrElse(sys.props("java.io.tmpdir") +
        s"/graft_lsh_pairs/${Md5.hex(dir)}")

  private def feedOf(dir: String): String = s"$dir/documents.parquet"

  private def stampOf(feed: Seq[KmvTable.PartFile]): String =
    feed.map(f => s"${f.name}\t${f.len}\t${f.mtime}").mkString("\n")

  // ------------------------------------------------------------------
  // The q44/q45 shingle/signature arithmetic, verbatim (the oracle
  // replays it in SQL — any drift here is a hash mismatch on q45)
  // ------------------------------------------------------------------

  /** Raw distinct 3-gram shingles of (doc_id, text) rows. The
    * short-doc guard is a FILTER, not a clamp: sequence(1, 0) is
    * [1, 0] (negative default step) and slice would throw. */
  private def rawShingles(docs: DataFrame): DataFrame =
    docs
      .withColumn("toks", split(trim(col("text")), "\\s+"))
      .filter(size(col("toks")) >= 3)
      .withColumn("sh", explode(expr(
        "transform(sequence(1, size(toks) - 2), " +
          "i -> concat_ws(' ', slice(toks, i, 3)))")))
      .select(col("doc_id"), col("sh")).distinct()

  /** 16 md5-permutation min-hashes over a capped shingle frame. */
  private def sigsOf(sh: DataFrame): DataFrame = {
    val sigCols = (0 until NumHashes).map(i =>
      min(md5(concat(lit(s"$i|"), col("sh")))).as(s"h$i"))
    sh.groupBy(col("doc_id")).agg(sigCols.head, sigCols.tail: _*)
  }

  /** Band rows of a signature frame: (idAs, band_id, band_hash). */
  private def bandsOf(sig: DataFrame, idAs: String): DataFrame =
    sig.select(col("doc_id").as(idAs), explode(array(
      (0 until NumBands).map { b =>
        struct(lit(b).as("band_id"),
          md5(concat_ws("|",
            (0 until BandSize).map(r => col(s"h${b * BandSize + r}")): _*))
            .as("band_hash"))
      }: _*)).as("band"))
      .select(col(idAs), col("band.band_id"), col("band.band_hash"))

  /** Exact-Jaccard verify of candidate (doc_a, doc_b) pairs against a
    * capped shingle frame — the q44 machinery, threshold 0.5. */
  private def verify(cand: DataFrame, sh: DataFrame): DataFrame = {
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val common = cand
      .join(sh.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("sh", "sh_a"), "doc_a")
      .join(sh.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("sh", "sh_b"), "doc_b")
      .filter(col("sh_a") === col("sh_b"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("common"))
    common
      .join(sizes.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("n_sh", "n_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("n_sh", "n_b"), "doc_b")
      .withColumn("jaccard",
        col("common").cast("double") / (col("n_a") + col("n_b") - col("common")))
      .filter(col("jaccard") >= MinJaccard)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  // ------------------------------------------------------------------
  // Generation machinery
  // ------------------------------------------------------------------

  private val GenRe = "gen-(\\d+)".r

  /** Union-read one delta sub-table across the live generations. */
  private def readUnion(spark: SparkSession, r: String, gens: Seq[Long],
      sub: String): DataFrame =
    spark.read.parquet(gens.sorted.map(g => s"$r/gen-$g/$sub"): _*)

  private def readLive(spark: SparkSession, r: String, g: Long): Seq[Long] =
    spark.read.textFile(s"$r/gen-$g/live").collect().toSeq.map(_.toLong)

  /** Land-or-refresh the store; returns (root, committed gen). */
  def ensure(spark: SparkSession, dir: String): (String, Long) = {
    val r = root(spark, dir)
    rootLocks.computeIfAbsent(r, _ => new Object).synchronized {
      val feed = KmvTable.partsOf(spark, feedOf(dir))
      val stamp = stampOf(feed)
      val rp = new org.apache.hadoop.fs.Path(r)
      val fs = rp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      Option(memo.get(r)) match {
        case Some((s, g)) if s == stamp && fs.exists(
            new org.apache.hadoop.fs.Path(s"$r/gen-$g/_COMMITTED")) =>
          return (r, g)
        case _ => ()
      }
      val gens: Seq[Long] =
        if (!fs.exists(rp)) Seq.empty
        else fs.listStatus(rp).toSeq.collect {
          case s if s.isDirectory => s.getPath.getName
        }.collect { case GenRe(n) => n.toLong }.sorted
      val committed = gens.filter(g =>
        fs.exists(new org.apache.hadoop.fs.Path(s"$r/gen-$g/_COMMITTED")))
      (gens.toSet -- committed.toSet).foreach(g =>
        fs.delete(new org.apache.hadoop.fs.Path(s"$r/gen-$g"), true))
      val latest = committed.lastOption
      val nextN = committed.lastOption.map(_ + 1).getOrElse(0L)
      val genDir = s"$r/gen-$nextN"

      val consumedLines: Set[String] = latest.map { g =>
        spark.read.textFile(s"$r/gen-$g/consumed").collect().toSet
      }.getOrElse(Set.empty)
      val currentLines = feed.map(f => s"${f.name}\t${f.len}\t${f.mtime}").toSet
      val mutated = latest.isDefined && !consumedLines.subsetOf(currentLines)
      val newFeed = feed.filter(f =>
        !consumedLines.contains(s"${f.name}\t${f.len}\t${f.mtime}"))

      if (latest.isDefined && !mutated && newFeed.isEmpty) {
        memo.put(r, (stamp, latest.get))
        return (r, latest.get)
      }

      val liveGens: Seq[Long] =
        latest.map(g => readLive(spark, r, g)).getOrElse(Seq.empty)
      val maxGens = spark.conf
        .getOption("spark.graft.lshpairs.maxGenerations")
        .flatMap(v => scala.util.Try(v.trim.toInt).toOption)
        .filter(_ >= 1).getOrElse(8)

      def commit(newLiveGens: Seq[Long]): Unit = {
        spark.createDataset(newLiveGens.map(_.toString))(
          org.apache.spark.sql.Encoders.STRING)
          .coalesce(1).write.mode("overwrite").text(s"$genDir/live")
        spark.createDataset(
          feed.map(f => s"${f.name}\t${f.len}\t${f.mtime}"))(
          org.apache.spark.sql.Encoders.STRING)
          .coalesce(1).write.mode("overwrite").text(s"$genDir/consumed")
        fs.create(new org.apache.hadoop.fs.Path(s"$genDir/_COMMITTED"),
          false).close()
        // one-prior retention (the ZIndex rule): gens the NEW live list
        // references, plus the prior committed gen AND everything ITS
        // live list references (an in-flight reader holding the prior
        // list must still find every delta it names — on a full
        // rebuild the new list references only nextN, so without the
        // prior's references the whole standing chain would vanish
        // under that reader; r16 self-review), survive
        val keep: Set[Long] =
          newLiveGens.toSet ++ liveGens.toSet ++ latest.toSet + nextN
        committed.filterNot(keep.contains).foreach(g =>
          fs.delete(new org.apache.hadoop.fs.Path(s"$r/gen-$g"), true))
        memo.put(r, (stamp, nextN))
      }

      def fullBuild(): Unit = {
        fullBuilds.incrementAndGet()
        feedFilesScanned.addAndGet(feed.size)
        // per-stage stderr attribution (the [bench] line convention):
        // the cold build is a driver-visible prewarm key, so its cost
        // split must be readable from the log, not re-instrumented
        var t0 = System.nanoTime()
        def stamp(s: String): Unit = {
          System.err.println(f"[lshpairs] $s ${(System.nanoTime() - t0) / 1e9}%.3f")
          t0 = System.nanoTime()
        }
        val docs = Tables.documents(spark, dir)
          .select(col("doc_id"), col("text"))
          // fan before the expensive shingle explode: the feed may be
          // one parquet row group, which would tokenize+shingle the
          // whole corpus on ONE core (the r16 prepFan lesson)
          .repartition(32)
        val raw = rawShingles(docs).cache()
        try {
          val dfTab = raw.groupBy(col("sh")).agg(count(lit(1)).as("df"))
          dfTab.write.mode("overwrite").parquet(s"$genDir/df_delta")
          stamp("shingle+df")
          val hot = spark.read.parquet(s"$genDir/df_delta")
            .filter(col("df") > TextOps.MaxShingleDf).select(col("sh"))
          raw.join(broadcast(hot), Seq("sh"), "left_anti")
            .write.mode("overwrite").parquet(s"$genDir/shingles_delta")
          stamp("cap+write_shingles")
        } finally { raw.unpersist(); () }
        // write-then-reread at each stage: the self-joined frames come
        // off the just-written parquet, so nothing recomputes and the
        // durable bytes ARE the bytes every later stage verified against
        val capped = spark.read.parquet(s"$genDir/shingles_delta")
        sigsOf(capped).write.mode("overwrite").parquet(s"$genDir/sigs_delta")
        stamp("sign")
        val sigs = spark.read.parquet(s"$genDir/sigs_delta")
        val bands = bandsOf(sigs, "doc_id")
        val cand = bands.as("a").join(bands.as("b"),
            col("a.band_id") === col("b.band_id") &&
            col("a.band_hash") === col("b.band_hash") &&
            col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
          .distinct()
        verify(cand, capped)
          .write.mode("overwrite").parquet(s"$genDir/pairs_delta")
        stamp("candidate+verify")
        commit(Seq(nextN))
        stamp("commit")
      }

      if (latest.isEmpty || mutated || liveGens.size + 1 > maxGens) {
        fullBuild()
        return (r, nextN)
      }

      // ---------------- incremental append ----------------
      val delta = spark.read.parquet(newFeed.map(_.path): _*)
        .select(col("doc_id"), col("text"))
        .repartition(32) // same fan as the full build
      val newShRaw = rawShingles(delta).cache()
      try {
        val deltaDf = newShRaw.groupBy(col("sh"))
          .agg(count(lit(1)).as("ddf"))
        val standingDf = readUnion(spark, r, liveGens, "df_delta")
          .groupBy(col("sh")).agg(sum(col("df")).as("sdf"))
        // the cap frontier, restricted to delta shingles (a shingle the
        // delta never touches cannot change state): sdf in (0, cap] and
        // sdf + ddf > cap means standing capped sets must shrink —
        // standing signatures/pairs all move, the one case that is
        // honestly a rebuild
        val joined = deltaDf.join(standingDf, Seq("sh"), "left_outer")
          .select(col("sh"), col("ddf"),
            coalesce(col("sdf"), lit(0L)).as("sdf"))
          .cache()
        try {
          val cap = lit(TextOps.MaxShingleDf.toLong)
          val crossing = joined.filter(col("sdf") > 0 &&
            col("sdf") <= cap && col("sdf") + col("ddf") > cap)
          if (crossing.limit(1).count() > 0) {
            capCrossRebuilds.incrementAndGet()
            fullBuild()
            return (r, nextN)
          }
          appends.incrementAndGet()
          feedFilesScanned.addAndGet(newFeed.size)
          deltaDf.withColumnRenamed("ddf", "df")
            .write.mode("overwrite").parquet(s"$genDir/df_delta")
          // a shingle hot over the COMBINED corpus is excluded from the
          // delta's capped sets; no standing-present shingle crossed,
          // so standing capped sets are untouched — exactness holds
          val hotForNew = joined.filter(col("sdf") + col("ddf") > cap)
            .select(col("sh"))
          newShRaw.join(broadcast(hotForNew), Seq("sh"), "left_anti")
            .write.mode("overwrite").parquet(s"$genDir/shingles_delta")
        } finally { joined.unpersist(); () }
      } finally { newShRaw.unpersist(); () }
      val newSh = spark.read.parquet(s"$genDir/shingles_delta")
      sigsOf(newSh).write.mode("overwrite").parquet(s"$genDir/sigs_delta")
      val newSigs = spark.read.parquet(s"$genDir/sigs_delta")
      val standingSigs = readUnion(spark, r, liveGens, "sigs_delta")
      // every candidate pair involves ≥ 1 NEW doc (standing signatures
      // did not move, so standing-standing candidacy and verification
      // are exactly the recorded pairs); new-new duplicates collapse in
      // the canonicalized distinct
      val nb = bandsOf(newSigs, "n_id")
      val ab = bandsOf(standingSigs.unionByName(newSigs), "a_id")
      val cand = nb.join(ab, Seq("band_id", "band_hash"))
        .filter(col("n_id") =!= col("a_id"))
        .select(least(col("n_id"), col("a_id")).as("doc_a"),
          greatest(col("n_id"), col("a_id")).as("doc_b"))
        .distinct()
      // verify only the touched docs' shingle sets: semi-join the
      // stored capped shingles down to candidate participants before
      // the pair-expansion join — O(touched), never O(corpus)
      val candIds = cand.select(col("doc_a").as("doc_id"))
        .unionByName(cand.select(col("doc_b").as("doc_id"))).distinct()
      val allSh = readUnion(spark, r, liveGens, "shingles_delta")
        .unionByName(newSh)
        .join(candIds, Seq("doc_id"), "left_semi")
      verify(cand, allSh)
        .write.mode("overwrite").parquet(s"$genDir/pairs_delta")
      commit(liveGens :+ nextN)
      (r, nextN)
    }
  }

  /** The verified pairs (doc_a, doc_b, jaccard) — resolving maintains
    * the store (per-query freshness, the ZIndex contract), then reads
    * the live generations' pair deltas: O(pairs), no recompute. */
  def pairs(spark: SparkSession, dir: String): DataFrame = {
    val (r, g) = ensure(spark, dir)
    readUnion(spark, r, readLive(spark, r, g), "pairs_delta")
  }

  /** The df-capped shingle index (doc_id, sh) — the store's own
    * verify input, exposed so q44's inverted-index join loads it
    * instead of re-shingling per JVM (same content as the pre-r16
    * in-memory build: raw distinct 3-grams minus the over-cap hot
    * set, over the full corpus). */
  def shingles(spark: SparkSession, dir: String): DataFrame = {
    val (r, g) = ensure(spark, dir)
    readUnion(spark, r, readLive(spark, r, g), "shingles_delta")
  }

  /** Spec observable: durable label-artifact computations. */
  private[graft] val labelBuilds = new AtomicLong

  /** The dedup CLUSTER LABELS (doc_id, label) over the pairs — the
    * star-contraction connected components q77/q103/q144 share,
    * persisted ALONGSIDE the pair generation they derive from: labels
    * are a corpus-GLOBAL function of the full live pair set (an
    * appended edge can merge standing components), so they are keyed
    * by the committed generation and recomputed lazily per commit —
    * the O(log n) contraction over the pair set, KB-to-MB scale, never
    * the corpus. A fresh JVM on an unchanged corpus LOADS them (with
    * the pairs, this retires the whole `prewarm_lsh_pairs` rebuild to
    * O(read)). Written once per generation under its own marker; the
    * generation's own `_COMMITTED` content contract is untouched
    * (pairs readers never list the gen dir). */
  def labels(spark: SparkSession, dir: String): DataFrame = {
    val (r, g) = ensure(spark, dir)
    val labDir = s"$r/gen-$g/labels"
    val marker = new org.apache.hadoop.fs.Path(s"$labDir/_LABELS_COMMITTED")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(marker))
      rootLocks.computeIfAbsent(r, _ => new Object).synchronized {
        if (!fs.exists(marker)) {
          labelBuilds.incrementAndGet()
          val p = readUnion(spark, r, readLive(spark, r, g), "pairs_delta")
          GraphOps.connectedComponentsStar(
            p.select(col("doc_a"), col("doc_b")))
            .write.mode("overwrite").parquet(s"$labDir/data")
          fs.create(marker, false).close()
        }
      }
    spark.read.parquet(s"$labDir/data")
  }
}
