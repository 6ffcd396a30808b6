package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Large-scale training-data text operators over the `documents` table:
  * quality stats, language ID, token counting, fingerprinting, and the
  * dedup family (exact, n-gram Jaccard, MinHash+LSH, SimHash).
  *
  * All content hashing is md5-string-based: both engines produce identical
  * lowercase hex, and a lexicographic MIN over hex strings is a valid
  * min-hash (128-bit uniform order), so MinHash signatures need no
  * integer-conversion functions (DuckDB has no conv/xxhash64).
  *
  * Scale posture: everything is shuffle-by-key (doc_id, shingle, band,
  * fingerprint) — no driver-side loops; the pairwise stages are
  * candidate-generated (inverted index / LSH bands / fingerprint buckets),
  * never all-pairs, except the intentionally-bounded SimHash verify whose
  * 32-bit space keeps expected collisions tiny.
  */
object TextOps {

  private val Stop = Map(
    "en" -> Seq("the", "and", "is", "of", "to"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "fr" -> Seq("le", "la", "et", "est", "les"),
    "es" -> Seq("el", "los", "y", "es", "las"),
    "zh" -> Seq("的", "是", "了", "我", "不"))

  /** Whitespace tokens of the raw text. */
  private def withToks(df: DataFrame): DataFrame =
    df.withColumn("toks", split(trim(col("text")), "\\s+"))

  private def inList(vs: Seq[String]): String = vs.map(s => s"'$s'").mkString(", ")

  // ------------------------------------------------------------------
  // q40 — text quality stats: lengths, token counts (whitespace + a
  // BPE-ish longest-run regex), punctuation and stopword ratios.
  // Ratios are single double divisions of exact ints — cross-engine safe
  // unrounded.
  // ------------------------------------------------------------------
  def q40TextStats(spark: SparkSession, dir: String): DataFrame =
    withToks(Tables.documents(spark, dir))
      .withColumn("n_ws_tokens", size(col("toks")))
      .withColumn("n_bpeish",
        size(regexp_extract_all(col("text"), lit("([A-Za-z]+|[0-9]|[^A-Za-z0-9\\s])"), lit(1))))
      .withColumn("n_punct",
        length(regexp_replace(col("text"), "[A-Za-z0-9\\s]", "")))
      .withColumn("n_stop",
        expr(s"size(filter(toks, t -> t IN (${inList(Stop("en"))})))"))
      .select(col("doc_id"), col("n_chars"), col("n_ws_tokens"), col("n_bpeish"),
        col("n_punct"),
        (col("n_punct").cast("double") / col("n_chars")).as("punct_ratio"),
        (col("n_stop").cast("double") / col("n_ws_tokens")).as("stopword_ratio"))
      .orderBy(col("doc_id"))

  val q40Sql: String =
    """WITH t AS (
      |  SELECT doc_id, n_chars, regexp_split_to_array(trim(text), '\s+') AS toks,
      |    CAST(len(regexp_extract_all(text, '([A-Za-z]+|[0-9]|[^A-Za-z0-9\s])', 1)) AS INT) AS n_bpeish,
      |    CAST(length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS INT) AS n_punct,
      |    CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
      |      x -> x IN ('the', 'and', 'is', 'of', 'to'))) AS INT) AS n_stop
      |  FROM documents)
      |SELECT doc_id, n_chars, CAST(len(toks) AS INT) AS n_ws_tokens, n_bpeish, n_punct,
      |  CAST(n_punct AS DOUBLE)/n_chars AS punct_ratio,
      |  CAST(n_stop AS DOUBLE)/len(toks) AS stopword_ratio
      |FROM t ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------------
  // q41 — language ID: stopword-count heuristic with a fixed priority
  // order on ties (en > de > fr > es > zh). Integer scores → deterministic.
  // ------------------------------------------------------------------
  def q41LangId(spark: SparkSession, dir: String): DataFrame = {
    val langs = Seq("en", "de", "fr", "es", "zh")
    val scored = langs.foldLeft(withToks(Tables.documents(spark, dir))) { (df, l) =>
      df.withColumn(s"s_$l", expr(s"size(filter(toks, t -> t IN (${inList(Stop(l))})))"))
    }
    val pred = when(col("s_en") >= col("s_de") && col("s_en") >= col("s_fr") &&
        col("s_en") >= col("s_es") && col("s_en") >= col("s_zh"), "en")
      .when(col("s_de") >= col("s_fr") && col("s_de") >= col("s_es") &&
        col("s_de") >= col("s_zh"), "de")
      .when(col("s_fr") >= col("s_es") && col("s_fr") >= col("s_zh"), "fr")
      .when(col("s_es") >= col("s_zh"), "es")
      .otherwise("zh")
    scored.withColumn("lang_pred", pred)
      .groupBy(col("lang_pred"), col("lang").as("lang_label"))
      .agg(count(lit(1)).as("n"), min(col("doc_id")).as("min_doc"))
      .orderBy(col("lang_pred"), col("lang_label"))
  }

  val q41Sql: String = {
    def s(l: String) =
      s"len(list_filter(toks, x -> x IN (${TextOps.Stop(l).map(v => s"'$v'").mkString(", ")})))"
    s"""WITH t AS (
       |  SELECT doc_id, lang, regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents),
       |scored AS (
       |  SELECT doc_id, lang, ${s("en")} AS s_en, ${s("de")} AS s_de,
       |    ${s("fr")} AS s_fr, ${s("es")} AS s_es, ${s("zh")} AS s_zh
       |  FROM t),
       |pred AS (
       |  SELECT doc_id, lang,
       |    CASE WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es AND s_en >= s_zh THEN 'en'
       |         WHEN s_de >= s_fr AND s_de >= s_es AND s_de >= s_zh THEN 'de'
       |         WHEN s_fr >= s_es AND s_fr >= s_zh THEN 'fr'
       |         WHEN s_es >= s_zh THEN 'es'
       |         ELSE 'zh' END AS lang_pred
       |  FROM scored)
       |SELECT lang_pred, lang AS lang_label, CAST(COUNT(*) AS BIGINT) AS n,
       |  MIN(doc_id) AS min_doc
       |FROM pred GROUP BY lang_pred, lang ORDER BY lang_pred, lang_label""".stripMargin
  }

  // ------------------------------------------------------------------
  // q42 — document fingerprinting: (a) polynomial rolling hash over the
  // first 64 chars (base 31 mod 1e9+7, exact int64 arithmetic), (b) md5 of
  // the 10-token normalized prefix; dup groups by prefix fingerprint.
  // ------------------------------------------------------------------
  def q42Fingerprint(spark: SparkSession, dir: String): DataFrame =
    withToks(Tables.documents(spark, dir))
      .withColumn("rolling_hash", expr(
        "aggregate(transform(sequence(1, length(substring(text, 1, 64))), " +
          "i -> ascii(substring(substring(text, 1, 64), i, 1))), " +
          "0L, (acc, c) -> (acc * 31 + c) % 1000000007L)"))
      .withColumn("prefix_fp", md5(concat_ws(" ", expr("slice(toks, 1, 10)"))))
      .groupBy(col("prefix_fp"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keeper"),
        max(col("doc_id")).as("max_doc"), min(col("rolling_hash")).as("min_rh"))
      .filter(col("n_docs") > 1)
      .orderBy(col("prefix_fp"))

  val q42Sql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    list_reduce(
      |      list_prepend(0::BIGINT, list_transform(generate_series(1, length(substring(text,1,64))),
      |        i -> ascii(substring(substring(text,1,64), i, 1))::BIGINT)),
      |      (acc, c) -> (acc * 31 + c) % 1000000007) AS rolling_hash,
      |    md5(array_to_string(list_slice(regexp_split_to_array(trim(text), '\s+'), 1, 10), ' ')) AS prefix_fp
      |  FROM documents)
      |SELECT prefix_fp, CAST(COUNT(*) AS BIGINT) AS n_docs, MIN(doc_id) AS keeper,
      |  MAX(doc_id) AS max_doc, MIN(rolling_hash) AS min_rh
      |FROM t GROUP BY prefix_fp HAVING COUNT(*) > 1
      |ORDER BY prefix_fp""".stripMargin

  // ------------------------------------------------------------------
  // q43 — exact dedup: hash-groupBy on md5(text) (corpus summary + group
  // stats; the corpus has no byte-identical dups, so the summary row is
  // the assertion).
  // ------------------------------------------------------------------
  def q43DedupExact(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).withColumn("h", md5(col("text")))
    docs.groupBy(col("h")).agg(count(lit(1)).as("n")).agg(
      count(lit(1)).as("n_distinct"),
      sum(col("n")).as("n_docs"),
      count(when(col("n") > 1, 1)).as("n_dup_groups"))
      .select(lit("exact_dedup").as("op"), col("n_distinct"), col("n_docs"), col("n_dup_groups"))
  }

  val q43Sql: String =
    """WITH g AS (SELECT md5(text) AS h, COUNT(*) AS n FROM documents GROUP BY md5(text))
      |SELECT 'exact_dedup' AS op, CAST(COUNT(*) AS BIGINT) AS n_distinct,
      |  CAST(SUM(n) AS BIGINT) AS n_docs,
      |  CAST(COUNT(*) FILTER (WHERE n > 1) AS BIGINT) AS n_dup_groups
      |FROM g""".stripMargin

  // ------------------------------------------------------------------
  // Shared: per-doc DISTINCT word 3-shingles (inverted-index base).
  //
  // Hot-key guard: a shingle appearing in K docs contributes K² candidate
  // pairs to the self-join, so one boilerplate phrase ("terms of service
  // apply") turns the inverted index into a skewed quadratic blow-up at
  // corpus scale. Shingles with document frequency > MaxShingleDf are
  // dropped BEFORE any join — standard stop-shingle removal (they carry no
  // near-dup signal precisely because they are everywhere). The hot list
  // is tiny by construction (≤ |shingles|/MaxShingleDf entries can exceed
  // the cap), so it broadcasts and the filter is a broadcast anti-join —
  // no extra shuffle on the fact side.
  // ------------------------------------------------------------------
  val MaxShingleDf = 100

  // q44 and q45 share the (exploded + df-capped) inverted index; since
  // r16 it is the durable store's own capped shingle table
  // ([[LshPairs]] persists it per generation for the incremental
  // verify), so this is a LOAD — the explode+distinct+cap runs only on
  // a first-ever corpus, inside the store build. Memoize + cache per
  // (session, dir); evict via clear() — same contract as
  // WeatherQueries.
  private val memo =
    scala.collection.mutable.Map.empty[(SparkSession, String), DataFrame]

  private def docShingles(spark: SparkSession, dir: String): DataFrame =
    memo.synchronized {
      memo.getOrElseUpdate((spark, dir), {
        LshPairs.shingles(spark, dir).cache()
      })
    }

  /** Unpersist + drop memoized frames (see [[graft.weather.WeatherQueries.clear]]). */
  def clear(): Unit = memo.synchronized {
    memo.values.foreach(graft.util.Checkpoints.release) // caches AND checkpoints
    memo.clear()
  }

  private val docShinglesSqlCte: String =
    s"""shingled0 AS (
       |  SELECT DISTINCT doc_id, sh FROM (
       |    SELECT doc_id,
       |      unnest(list_transform(generate_series(1, greatest(len(toks) - 2, 0)),
       |        i -> array_to_string(toks[i:i+2], ' '))) AS sh
       |    FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents))),
       |shingled AS (
       |  SELECT * FROM shingled0 WHERE sh NOT IN (
       |    SELECT sh FROM shingled0 GROUP BY sh HAVING COUNT(*) > $MaxShingleDf))""".stripMargin

  // ------------------------------------------------------------------
  // q44 — n-gram Jaccard near-dup: inverted-index self-join on shingles
  // (candidate pairs share ≥1 shingle — never all-pairs), exact Jaccard
  // |A∩B| / (|A|+|B|−|A∩B|) from integer counts, threshold 0.6.
  // ------------------------------------------------------------------
  def q44NgramJaccard(spark: SparkSession, dir: String): DataFrame = {
    val sh = docShingles(spark, dir)
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val pairs = sh.as("a").join(sh.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("common"))
    pairs
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_sh", "n_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_sh", "n_b"), "doc_b")
      .withColumn("jaccard",
        col("common").cast("double") / (col("n_a") + col("n_b") - col("common")))
      .filter(col("jaccard") >= 0.6)
      .select(col("doc_a"), col("doc_b"), col("common"), col("n_a"), col("n_b"), col("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val q44Sql: String =
    s"""WITH $docShinglesSqlCte,
       |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shingled GROUP BY doc_id),
       |pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS common
       |  FROM shingled a JOIN shingled b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY a.doc_id, b.doc_id)
       |SELECT doc_a, doc_b, common,
       |  CAST(sa.n_sh AS BIGINT) AS n_a, CAST(sb.n_sh AS BIGINT) AS n_b,
       |  CAST(common AS DOUBLE)/(sa.n_sh + sb.n_sh - common) AS jaccard
       |FROM pairs JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id
       |WHERE CAST(common AS DOUBLE)/(sa.n_sh + sb.n_sh - common) >= 0.6
       |ORDER BY doc_a, doc_b""".stripMargin

  // ------------------------------------------------------------------
  // q45 — MinHash + LSH: 16 md5-permutation min-hashes per doc, 4 bands ×
  // 4 rows; candidates join on band hash; verified with exact Jaccard.
  // ------------------------------------------------------------------
  private val NumHashes = 16
  private val BandSize = 4

  /** The verified-pairs table feeds THREE queries — q45 itself, q77's
    * clustering, q103's applied dedup — and since r16 it is a DURABLE
    * artifact ([[LshPairs]]): a fresh JVM LOADS the store's committed
    * generation instead of recomputing the signature build + Jaccard
    * verify (the last per-JVM corpus-scale rebuild, r15 verdict #1 —
    * `prewarm_lsh_pairs` drops to O(read) on an unchanged corpus, and
    * appends verify only new candidate pairs). The per-(session,
    * corpus) memo remains as the in-JVM read cache, released by
    * [[clear]]. */
  private def lshVerifiedPairs(spark: SparkSession, dir: String): DataFrame =
    memo.synchronized {
      memo.getOrElseUpdate((spark, dir + "|lshpairs"), {
        LshPairs.pairs(spark, dir).cache()
      })
    }

  def q45MinhashLsh(spark: SparkSession, dir: String): DataFrame =
    lshVerifiedPairs(spark, dir).orderBy(col("doc_a"), col("doc_b"))

  /** Bench warmup hook: force-resolves the per-corpus shared artifacts
    * — the durable verified-pairs store ([[LshPairs]]; a LOAD on a
    * warm store, the full build only on a first-ever corpus) and the
    * cluster-label memo that q45, q77 and q103 all consume — OUTSIDE
    * any per-query timing, the same convention as the weather bronze
    * pre-land (`Bench.scala`). Without this the one-time resolution
    * lands on whichever consumer the suite's string order runs first
    * (q103), which is how r6 archived q103 at 38.7 s while its own
    * CC + join-back work measures ~7 s. */
  def prewarmSharedArtifacts(spark: SparkSession, dir: String): Unit = {
    lshVerifiedPairs(spark, dir).count()
    dedupLabels(spark, dir).count()
  }

  /** Memoized dedup-cluster labels (id, label) over the shared verified
    * pairs — q77/q103/q144/q145 all consume the SAME components. Since
    * r16 the star-contraction CC is a DURABLE side artifact of the
    * pairs store ([[LshPairs.labels]] — computed once per committed
    * generation, loaded thereafter), so a warm JVM pays an O(labels)
    * read; the memo is the in-JVM cache, released via [[clear]].
    * Star contraction is the ONE production CC (r9 unified q142 on it;
    * r10 this memo): GraphOpsSpec pins output equality with the
    * label-propagation variant (q77's declared operator) on
    * chains/stars/cliques/blobs.
    */
  private def dedupLabels(spark: SparkSession, dir: String): DataFrame = {
    val key = (spark, dir + "|cclabels")
    memo.synchronized(memo.get(key)) match {
      case Some(df) => df
      case None =>
        // resolve OUTSIDE the lock: a first-ever corpus pays the
        // contraction rounds inside LshPairs (serialized per store
        // root), and holding the memo lock that long would block every
        // other memoized artifact in any concurrent caller.
        // Double-checked put: a losing racer unpersists its duplicate.
        val built = LshPairs.labels(spark, dir).cache()
        memo.synchronized {
          memo.get(key) match {
            case Some(winner) =>
              built.unpersist(blocking = false)
              winner
            case None =>
              memo.put(key, built)
              built
          }
        }
    }
  }

  /** q45 as an ORDER-BY-free body so q77 can embed it as a CTE without
    * string surgery. */
  val q45SqlBody: String = {
    val sigCols = (0 until NumHashes)
      .map(i => s"MIN(md5('$i|' || sh)) AS h$i").mkString(",\n       |    ")
    val bandRows = (0 until NumHashes / BandSize).map { b =>
      val cols = (0 until BandSize).map(r => s"h${b * BandSize + r}").mkString(" || '|' || ")
      s"SELECT doc_id, $b AS band_id, md5($cols) AS band_hash FROM sig"
    }.mkString("\n       |  UNION ALL ")
    s"""WITH $docShinglesSqlCte,
       |sig AS (
       |  SELECT doc_id,
       |    $sigCols
       |  FROM shingled GROUP BY doc_id),
       |bands AS (
       |  $bandRows),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b ON a.band_id = b.band_id
       |    AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id),
       |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shingled GROUP BY doc_id),
       |common AS (
       |  SELECT doc_a, doc_b, COUNT(*) AS common
       |  FROM cand c JOIN shingled sa ON sa.doc_id = c.doc_a
       |    JOIN shingled sb ON sb.doc_id = c.doc_b AND sa.sh = sb.sh
       |  GROUP BY doc_a, doc_b)
       |SELECT doc_a, doc_b,
       |  CAST(common AS DOUBLE)/(sa.n_sh + sb.n_sh - common) AS jaccard
       |FROM common JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id
       |WHERE CAST(common AS DOUBLE)/(sa.n_sh + sb.n_sh - common) >= 0.5""".stripMargin
  }

  val q45Sql: String = q45SqlBody + "\nORDER BY doc_a, doc_b"

  // ------------------------------------------------------------------
  // q46 — SimHash near-dup: 32-bit fingerprint from per-token md5 nibble
  // high-bits, weighted by token multiplicity; pairs at Hamming ≤ 1 (tiny
  // corpus vocabulary clusters fingerprints). Candidate generation is
  // BANDED, never all-pairs: split the fingerprint into 4 bytes — at
  // Hamming ≤ 1 the differing bit lives in exactly one byte, so every
  // qualifying pair agrees exactly on one of the 4 leave-one-out band
  // triples. Four equi-joins on 24-bit keys replace the O(N²) nested loop
  // (the pigeonhole banding that scales simhash dedup to corpus size).
  // ------------------------------------------------------------------
  private val SimBits = 32
  private val SimBands = 4 // 8-bit bands

  def q46Simhash(spark: SparkSession, dir: String): DataFrame = {
    val toks = withToks(Tables.documents(spark, dir))
      .select(col("doc_id"), explode(col("toks")).as("tok"))
      .withColumn("h", md5(col("tok")))
    // Fold the 32 per-bit string probes into integer bit arithmetic: parse
    // the 32 hex chars once into 4×32-bit chunks, pack each char's
    // top-nibble bit ('8'..'f' ⟺ nibble ≥ 8) into one 32-bit mask in the
    // projection, then aggregate shift-and-mask bit sums on that long.
    // Same fingerprint — sum(±1) ≥ 0 ⟺ 2·ones ≥ n — but the aggregate
    // update path is pure long ops in codegen, no per-row substring/instr.
    val chunks = (0 until 4).map(j =>
      conv(substring(col("h"), 8 * j + 1, 8), 16, 10).cast("long"))
    val mask = (0 until SimBits).map { b =>
      val j = b / 8; val i = b % 8 // hex char b+1 = nibble (7-i) of chunk j
      shiftleft(shiftright(chunks(j), 4 * (7 - i) + 3).bitwiseAND(lit(1L)), b)
    }.reduce(_ + _) // disjoint bit positions — sum == bitwise OR
    val masked = toks.select(col("doc_id"), mask.as("m"))
    val aggCols = count(lit(1)).as("n") +: (0 until SimBits).map(b =>
      sum(shiftright(col("m"), b).bitwiseAND(lit(1L))).as(s"o$b"))
    val sums = masked.groupBy(col("doc_id")).agg(aggCols.head, aggCols.tail: _*)
    // localCheckpoint, not cache (optimization r17, guide §7.3 planning
    // cost): the fingerprint frame feeds BOTH sides of all four band
    // joins, so a cached plan re-embeds the 33-column bit-sum aggregate
    // tree 8x in the union and the optimizer/codegen pass dominates the
    // query (no stage reaches 0.15 s at sf0.1 — the 2.5 s was driver
    // planning). The checkpoint truncates each branch to an RDD scan.
    val fp = sums.select(col("doc_id"),
      (0 until SimBits).map(b =>
        when(col(s"o$b") * 2 >= col("n"), lit(math.pow(2, b).toLong))
          .otherwise(0L))
        .reduce(_ + _).as("fingerprint"))
      .localCheckpoint(true)
      .transform(graft.util.Checkpoints.track) // harness-swept
    // leave-one-out band keys: drop band e, concat the remaining three
    def bandKey(e: Int): Column =
      (0 until SimBands).filter(_ != e)
        .map(b => shiftright(col("fingerprint"), 8 * b).bitwiseAND(lit(255L)))
        .zipWithIndex.map { case (c, i) => c * math.pow(256, i).toLong }
        .reduce(_ + _)
    val cand = (0 until SimBands).map { e =>
      val a = fp.select(col("doc_id").as("doc_a"), col("fingerprint").as("fp_a"),
        bandKey(e).as("k"))
      val b = fp.select(col("doc_id").as("doc_b"), col("fingerprint").as("fp_b"),
        bandKey(e).as("k"))
      a.join(b, Seq("k")).filter(col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b"), col("fp_a"), col("fp_b"))
    }.reduce(_ unionByName _).distinct()
    cand
      .withColumn("hamming", bit_count(col("fp_a").bitwiseXOR(col("fp_b"))))
      .filter(col("hamming") <= 1)
      .select(col("doc_a"), col("doc_b"), col("hamming").cast("int").as("hamming"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val q46Sql: String = {
    val sumCols = (0 until SimBits)
      .map(b => s"SUM(CASE WHEN instr('89abcdef', substring(h, ${b + 1}, 1)) > 0 THEN 1 ELSE -1 END) AS s$b")
      .mkString(",\n       |    ")
    val fpExpr = (0 until SimBits)
      .map(b => s"CASE WHEN s$b >= 0 THEN ${math.pow(2, b).toLong}::BIGINT ELSE 0::BIGINT END")
      .mkString(" + ")
    s"""WITH toks AS (
       |  SELECT doc_id, md5(tok) AS h FROM (
       |    SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
       |    FROM documents)),
       |sums AS (
       |  SELECT doc_id,
       |    $sumCols
       |  FROM toks GROUP BY doc_id),
       |fp AS (SELECT doc_id, $fpExpr AS fingerprint FROM sums),
       |cand AS (
       |  $bandCandSql)
       |SELECT DISTINCT doc_a, doc_b,
       |  CAST(bit_count(xor(fp_a, fp_b)) AS INT) AS hamming
       |FROM cand
       |WHERE bit_count(xor(fp_a, fp_b)) <= 1
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** Leave-one-out banded candidate SQL mirroring q46Simhash's joins. */
  private def bandCandSql: String =
    (0 until SimBands).map { e =>
      val key = (0 until SimBands).filter(_ != e).zipWithIndex
        .map { case (b, i) =>
          s"(((fingerprint >> ${8 * b}) & 255) * ${math.pow(256, i).toLong})" }
        .mkString(" + ")
      s"""SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.fingerprint AS fp_a, b.fingerprint AS fp_b
         |  FROM (SELECT doc_id, fingerprint, $key AS k FROM fp) a
         |  JOIN (SELECT doc_id, fingerprint, $key AS k FROM fp) b
         |    ON a.k = b.k AND a.doc_id < b.doc_id""".stripMargin
    }.mkString("\n  UNION ALL ")

  // ------------------------------------------------------------------
  // q70 — deterministic hash sampling: the training-data selection
  // primitive. `rand()`-based sampling is irreproducible across runs and
  // engines; hashing the key and comparing the hex prefix
  // lexicographically (== numerically for fixed width) gives an exact,
  // engine-independent ~5% sample ('0d'/'100' = 13/256 ≈ 5.08%) that is
  // STABLE under re-runs, repartitioning, and engine swaps — the
  // property that makes ablation experiments comparable.
  // ------------------------------------------------------------------
  def q70HashSample(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .filter(substring(md5(col("doc_id").cast("string")), 1, 2) < "0d")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_sampled"), sum(col("n_chars")).as("sampled_chars"),
        min(col("doc_id")).as("min_doc"))
      .orderBy(col("source"))

  val q70Sql: String =
    """SELECT source, CAST(COUNT(*) AS BIGINT) AS n_sampled,
      |  CAST(SUM(n_chars) AS BIGINT) AS sampled_chars, MIN(doc_id) AS min_doc
      |FROM documents
      |WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '0d'
      |GROUP BY source ORDER BY source""".stripMargin

  // ------------------------------------------------------------------
  // q71 — deterministic train/val/test split (80/10/10) by the same hex
  // trick ('cc' = 204/256 ≈ 79.7%, 'e6' = 230/256 ≈ 89.8%). Split
  // membership is a pure function of doc_id: adding documents never
  // reshuffles existing assignments (critical: no eval-set leakage
  // between training runs as the corpus grows).
  // ------------------------------------------------------------------
  def q71DatasetSplit(spark: SparkSession, dir: String): DataFrame = {
    val h = substring(md5(col("doc_id").cast("string")), 1, 2)
    Tables.documents(spark, dir)
      .withColumn("split",
        when(h < "cc", "train").when(h < "e6", "val").otherwise("test"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars_total"),
        countDistinct(col("source")).as("n_sources"))
      .orderBy(col("split"))
  }

  val q71Sql: String =
    """WITH s AS (
      |  SELECT *, CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cc' THEN 'train'
      |                 WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
      |                 ELSE 'test' END AS split
      |  FROM documents)
      |SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS n_chars_total,
      |  CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
      |FROM s GROUP BY split ORDER BY split""".stripMargin

  // ------------------------------------------------------------------
  // q72 — end-to-end corpus curation: quality gate (token count + punct
  // ratio) → exact dedup keeping the lowest doc_id per content hash →
  // per-source yield report. The composition query: every stage is an
  // operator proven elsewhere (q40's stats, q43's dedup), chained the
  // way a real pre-training data pipeline chains them, with loss
  // accounting per stage.
  // ------------------------------------------------------------------
  def q72CorpusCuration(spark: SparkSession, dir: String): DataFrame = {
    val base = withToks(Tables.documents(spark, dir))
      .withColumn("n_toks", size(col("toks")))
      .withColumn("n_punct",
        length(regexp_replace(col("text"), "[A-Za-z0-9\\s]", "")))
    val quality = base.filter(col("n_toks") >= 5 &&
      col("n_punct").cast("double") / col("n_chars") < 0.2)
    val keepers = quality
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(md5(col("text"))).orderBy(col("doc_id"))))
      .filter(col("__rn") === 1)
    val perSourceTotal = Tables.documents(spark, dir)
      .groupBy(col("source")).agg(count(lit(1)).as("n_raw"))
    keepers.groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"), sum(col("n_chars")).as("kept_chars"))
      .join(perSourceTotal, "source")
      .select(col("source"), col("n_raw"), col("n_kept"), col("kept_chars"),
        (col("n_kept").cast("double") / col("n_raw")).as("yield_ratio"))
      .orderBy(col("source"))
  }

  val q72Sql: String =
    """WITH base AS (
      |  SELECT doc_id, source, text, n_chars,
      |    len(regexp_split_to_array(trim(text), '\s+')) AS n_toks,
      |    length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS n_punct
      |  FROM documents),
      |quality AS (
      |  SELECT * FROM base
      |  WHERE n_toks >= 5 AND CAST(n_punct AS DOUBLE)/n_chars < 0.2),
      |keepers AS (
      |  SELECT * FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
      |    FROM quality) WHERE rn = 1),
      |totals AS (SELECT source, COUNT(*) AS n_raw FROM documents GROUP BY source)
      |SELECT k.source AS source, CAST(t.n_raw AS BIGINT) AS n_raw,
      |  CAST(COUNT(*) AS BIGINT) AS n_kept,
      |  CAST(SUM(k.n_chars) AS BIGINT) AS kept_chars,
      |  CAST(COUNT(*) AS DOUBLE)/t.n_raw AS yield_ratio
      |FROM keepers k JOIN totals t ON k.source = t.source
      |GROUP BY k.source, t.n_raw ORDER BY k.source""".stripMargin

  // ------------------------------------------------------------------
  // q77 — dedup clusters: connected components over the q45 MinHash+LSH
  // verified pairs ([[GraphOps.connectedComponents]]); canonical = min
  // doc_id per component. This is the step that turns pairwise hits into
  // keep/drop decisions — (A,B),(B,C) is ONE cluster keeping A, not two
  // overlapping pairs. Oracle: recursive-CTE transitive closure over the
  // same pairs (min reachable doc_id per node — the same unique fixpoint
  // label propagation converges to).
  // ------------------------------------------------------------------
  def q77DedupClusters(spark: SparkSession, dir: String): DataFrame = {
    dedupLabels(spark, dir) // shared memoized components
      .groupBy(col("label").as("canonical"))
      .agg(count(lit(1)).as("n_members"), max(col("id")).as("max_member"))
      .orderBy(col("canonical"))
  }

  val q77Sql: String = {
    val pairsSelect = q45SqlBody
    s"""WITH RECURSIVE pairs AS (
       |$pairsSelect),
       |nodes AS (
       |  SELECT DISTINCT doc_id FROM (
       |    SELECT doc_a AS doc_id FROM pairs UNION SELECT doc_b FROM pairs)),
       |e2 AS (
       |  SELECT doc_a AS a, doc_b AS b FROM pairs
       |  UNION SELECT doc_b, doc_a FROM pairs),
       |reach AS (
       |  SELECT doc_id AS node, doc_id AS m FROM nodes
       |  UNION
       |  SELECT e.b AS node, r.m FROM reach r JOIN e2 e ON e.a = r.node),
       |comp AS (SELECT node, MIN(m) AS canonical FROM reach GROUP BY node)
       |SELECT canonical, CAST(COUNT(*) AS BIGINT) AS n_members,
       |  MAX(node) AS max_member
       |FROM comp GROUP BY canonical ORDER BY canonical""".stripMargin
  }

  // ------------------------------------------------------------------
  // q78 — temperature-based source mixing (α = 0.5): pretraining corpora
  // rebalance over-represented sources by sampling source s at rate
  // ∝ n_s^α / n_s — big sources are downsampled toward √n. α is fixed at
  // 1/2 deliberately: the keep-fraction then needs only sqrt and
  // division (IEEE-exact cross-engine), never pow (library call, ±1 ulp
  // — the determinism rule at the top of Relational). Membership is the
  // same hash-prefix trick as q70, with the per-source threshold
  // rendered as an 8-hex-digit string via exact integer floor.
  // ------------------------------------------------------------------
  def q78SourceMixing(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val counts = docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
    // n'_s = sqrt(min_n * n_s): the smallest source is kept fully and a
    // source k-times larger keeps only sqrt(k)-times as many docs -- the
    // alpha=0.5 geometric compromise between natural (alpha=1) and uniform
    // (alpha=0) mixing. keep_frac(s) = n'_s / n_s = min(1, sqrt(min_n*n_s)/n_s).
    val minN = counts.agg(min(col("n_docs")).as("min_n"))
    val frac = counts.crossJoin(broadcast(minN))
      .withColumn("keep_frac_raw",
        least(lit(1.0), sqrt(col("min_n").cast("double") * col("n_docs")) / col("n_docs")))
      .select(col("source"), col("n_docs"),
        graft.weather.WeatherPipeline.roundSafe(col("keep_frac_raw"), 6).as("keep_frac"),
        lpad(lower(hex(floor(col("keep_frac_raw") * 4294967296.0).cast("long"))), 9, "0")
          .as("thresh_hex"))
      .cache().transform(graft.util.Checkpoints.track) // swept per-query; feeds both the filter join and the output
    docs.join(broadcast(frac), "source")
      .filter(lpad(substring(md5(col("doc_id").cast("string")), 1, 8), 9, "0") < col("thresh_hex"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"), min(col("doc_id")).as("min_doc"))
      .join(broadcast(frac.drop("thresh_hex")), "source")
      .select(col("source"), col("n_docs"), col("keep_frac"), col("n_kept"), col("min_doc"))
      .orderBy(col("source"))
  }

  val q78Sql: String =
    """WITH counts AS (
      |  SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source),
      |mn AS (SELECT MIN(n_docs) AS min_n FROM counts),
      |frac AS (
      |  SELECT source, n_docs,
      |    least(1.0, sqrt(CAST(min_n AS DOUBLE) * n_docs) / n_docs) AS keep_frac,
      |    lpad(lower(to_hex(CAST(floor(least(1.0, sqrt(CAST(min_n AS DOUBLE) * n_docs) / n_docs) * 4294967296.0) AS BIGINT))), 9, '0') AS thresh_hex
      |  FROM counts, mn),
      |kept AS (
      |  SELECT d.source, d.doc_id
      |  FROM documents d JOIN frac f ON d.source = f.source
      |  WHERE lpad(substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8), 9, '0') < f.thresh_hex)
      |SELECT f.source AS source, CAST(f.n_docs AS BIGINT) AS n_docs,
      |  round(round(f.keep_frac*1e8)/1e2)/1e6 + 0.0 AS keep_frac,
      |  CAST(COUNT(*) AS BIGINT) AS n_kept, MIN(k.doc_id) AS min_doc
      |FROM kept k JOIN frac f ON k.source = f.source
      |GROUP BY f.source, f.n_docs, f.keep_frac
      |ORDER BY f.source""".stripMargin

  // ------------------------------------------------------------------
  // q101 — deterministic stratified sample: EXACTLY k docs per source,
  // chosen by rank over md5(doc_id) — the balanced eval-subset builder
  // (k-per-stratum where q70/q78 are rate-per-stratum). Membership is a
  // pure function of the ids present, so re-runs are stable and the
  // sample is reproducible from the corpus alone. One shuffle (by
  // source); the per-group sort is the top-k pattern — at 100 TB
  // pre-filter each partition to its local top-k by hash before the
  // exchange (rank ≤ k survives iff it survives partition-locally), so
  // the sort never sees the full stratum.
  // ------------------------------------------------------------------
  private val StratK = 40

  def q101StratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("source"))
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    Tables.documents(spark, dir)
      .withColumn("samp_rank", row_number().over(w).cast("long"))
      .filter(col("samp_rank") <= StratK)
      .select(col("source"), col("samp_rank"), col("doc_id"), col("n_chars"))
      .orderBy(col("source"), col("samp_rank"))
  }

  val q101Sql: String =
    s"""SELECT source,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY source
       |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS samp_rank,
       |  doc_id, n_chars
       |FROM documents
       |QUALIFY samp_rank <= $StratK
       |ORDER BY source, samp_rank""".stripMargin

  // ------------------------------------------------------------------
  // q103 — the APPLIED near-dup dedup pass: q45's verified MinHash+LSH
  // pairs → q77's connected components → keep only each cluster's
  // canonical (min doc_id) member → per-source corpus yield. q77 reports
  // the clusters; this is the step a pipeline actually ships — the
  // deduplicated corpus and what the policy cost per source (docs
  // dropped, tokens kept). Left-anti semantics via a left join on the
  // component labels: a doc survives iff it is unpaired or canonical.
  // Cost is q45 + an O(pairs) label propagation + one equi-join back to
  // the corpus (label side = paired docs only, ≪ corpus at real dup
  // rates — AQE broadcasts it when it fits; unhinted on purpose).
  // ------------------------------------------------------------------
  def q103DedupApply(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val labels = dedupLabels(spark, dir).withColumnRenamed("id", "doc_id")
    val kept = docs.join(labels, Seq("doc_id"), "left")
      .filter(col("label").isNull || col("label") === col("doc_id"))
    kept.groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"),
        sum(size(split(trim(col("text")), "\\s+")).cast("long")).as("kept_tokens"))
      .join(docs.groupBy(col("source")).agg(count(lit(1)).as("n_raw")), "source")
      .select(col("source"), col("n_raw"), col("n_kept"),
        (col("n_raw") - col("n_kept")).as("n_dropped"), col("kept_tokens"))
      .orderBy(col("source"))
  }

  val q103Sql: String = {
    val pairsSelect = q45SqlBody
    s"""WITH RECURSIVE pairs AS (
       |$pairsSelect),
       |nodes AS (
       |  SELECT DISTINCT doc_id FROM (
       |    SELECT doc_a AS doc_id FROM pairs UNION SELECT doc_b FROM pairs)),
       |e2 AS (
       |  SELECT doc_a AS a, doc_b AS b FROM pairs
       |  UNION SELECT doc_b, doc_a FROM pairs),
       |reach AS (
       |  SELECT doc_id AS node, doc_id AS m FROM nodes
       |  UNION
       |  SELECT e.b AS node, r.m FROM reach r JOIN e2 e ON e.a = r.node),
       |comp AS (SELECT node, MIN(m) AS label FROM reach GROUP BY node),
       |kept AS (
       |  SELECT d.source, d.text FROM documents d
       |  LEFT JOIN comp ON d.doc_id = comp.node
       |  WHERE comp.node IS NULL OR comp.label = d.doc_id),
       |raw AS (SELECT source, COUNT(*) AS n_raw FROM documents GROUP BY source)
       |SELECT k.source AS source, CAST(r.n_raw AS BIGINT) AS n_raw,
       |  CAST(COUNT(*) AS BIGINT) AS n_kept,
       |  CAST(r.n_raw - COUNT(*) AS BIGINT) AS n_dropped,
       |  CAST(SUM(len(regexp_split_to_array(trim(k.text), '\\s+'))) AS BIGINT) AS kept_tokens
       |FROM kept k JOIN raw r ON k.source = r.source
       |GROUP BY k.source, r.n_raw
       |ORDER BY k.source""".stripMargin
  }

  // ------------------------------------------------------------------
  // q80 — PII scan + redaction: the compliance gate every training
  // corpus passes before release. The corpus has no organic PII, so
  // emails/URLs are synthesized deterministically onto residue classes
  // (the WeatherSynth pattern) with IDENTICAL string construction in
  // both engines; detection = regexp_extract_all counts, redaction =
  // regexp_replace to placeholder tags; the oracle-checked invariant is
  // n_residual = 0 (nothing survives redaction) plus exact counts and a
  // content hash of the redacted text. Per-row regex work, no shuffle
  // until the per-source report — scales like every other row-local op.
  // ------------------------------------------------------------------
  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val UrlRe = "https?://[^\\s]+"

  def q80PiiRedact(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val enriched = docs.withColumn("text2",
      concat(col("text"),
        when(col("doc_id") % 7 === 0,
          concat(lit(" contact user"), col("doc_id"), lit("@example.com"))).otherwise(lit("")),
        when(col("doc_id") % 11 === 0,
          concat(lit(" see https://site"), col("doc_id"), lit(".example/page"))).otherwise(lit(""))))
    val scanned = enriched
      .withColumn("n_emails", size(regexp_extract_all(col("text2"), lit(EmailRe), lit(0))))
      .withColumn("n_urls", size(regexp_extract_all(col("text2"), lit(UrlRe), lit(0))))
      .withColumn("redacted",
        regexp_replace(regexp_replace(col("text2"), UrlRe, "<URL>"), EmailRe, "<EMAIL>"))
      .withColumn("n_residual",
        size(regexp_extract_all(col("redacted"), lit(EmailRe), lit(0)))
          + size(regexp_extract_all(col("redacted"), lit(UrlRe), lit(0))))
    scanned.groupBy(col("source"))
      .agg(
        sum((col("n_emails") + col("n_urls") > 0).cast("long")).as("n_docs_with_pii"),
        sum(col("n_emails")).as("n_emails"),
        sum(col("n_urls")).as("n_urls"),
        sum(col("n_residual")).as("n_residual"),
        min(md5(col("redacted"))).as("min_redacted_md5"))
      .orderBy(col("source"))
  }

  val q80Sql: String = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val url = "https?://[^\\s]+"
    s"""WITH enriched AS (
       |  SELECT source, text
       |    || CASE WHEN doc_id % 7 = 0 THEN ' contact user' || doc_id || '@example.com' ELSE '' END
       |    || CASE WHEN doc_id % 11 = 0 THEN ' see https://site' || doc_id || '.example/page' ELSE '' END
       |    AS text2
       |  FROM documents),
       |scanned AS (
       |  SELECT source,
       |    len(regexp_extract_all(text2, '$email')) AS n_emails,
       |    len(regexp_extract_all(text2, '$url')) AS n_urls,
       |    regexp_replace(regexp_replace(text2, '$url', '<URL>', 'g'), '$email', '<EMAIL>', 'g') AS redacted
       |  FROM enriched)
       |SELECT source,
       |  CAST(SUM(CASE WHEN n_emails + n_urls > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_with_pii,
       |  CAST(SUM(n_emails) AS BIGINT) AS n_emails,
       |  CAST(SUM(n_urls) AS BIGINT) AS n_urls,
       |  CAST(SUM(len(regexp_extract_all(redacted, '$email'))
       |         + len(regexp_extract_all(redacted, '$url'))) AS BIGINT) AS n_residual,
       |  MIN(md5(redacted)) AS min_redacted_md5
       |FROM scanned GROUP BY source ORDER BY source""".stripMargin
  }

  // ------------------------------------------------------------------
  // q85 — TF-IDF relevance scoring: per-document top-3 terms by
  // tf · ln(N/df) over lowercased whitespace tokens (len ≥ 3). The
  // curation-side use is quality/topicality weighting before sampling.
  // ln() is a library call (≤1 ulp cross-engine), so the score takes the
  // mandatory two-stage rounding and ranks break ties on the term string
  // — never on the raw double (MEMORY determinism rules).
  // ------------------------------------------------------------------
  def q85Tfidf(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
    val tf = docs
      .select(col("doc_id"),
        explode(split(trim(lower(col("text"))), "\\s+")).as("term"))
      .filter(length(col("term")) >= 3)
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("score6").desc, col("term"))
    tf.join(dfreq, "term").crossJoin(broadcast(n))
      .withColumn("score6", graft.weather.WeatherPipeline.roundSafe(
        col("tf") * log(col("n_docs").cast("double") / col("df")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("term"), col("rank").cast("int").as("rank"), col("score6"))
      .orderBy(col("doc_id"), col("rank"))
  }

  val q85Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
      |  FROM documents),
      |t AS (
      |  SELECT doc_id, term, COUNT(*) AS tf FROM toks
      |  WHERE length(term) >= 3 GROUP BY 1, 2),
      |d AS (SELECT term, COUNT(*) AS df FROM t GROUP BY 1),
      |n AS (SELECT COUNT(*) AS n_docs FROM documents),
      |scored AS (
      |  SELECT t.doc_id, t.term,
      |    round(round(t.tf * ln(CAST(n_docs AS DOUBLE) / df) * 1e8) / 100) / 1e6 + 0.0 AS score6
      |  FROM t JOIN d USING (term), n),
      |ranked AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score6 DESC, term) AS rank
      |  FROM scored)
      |SELECT doc_id, term, CAST(rank AS INT) AS rank, score6
      |FROM ranked WHERE rank <= 3
      |ORDER BY doc_id, rank""".stripMargin

  // ------------------------------------------------------------------
  // q86 — INCREMENTAL exact dedup: admit a new batch (doc_id%10=0 plays
  // the role of today's crawl) against the already-curated corpus (the
  // rest) without reprocessing the corpus. Batch-internal dedup keeps the
  // min doc_id per fingerprint; the cross-corpus check is a left-anti
  // join against the corpus's fingerprint column. At 100 TB the corpus
  // side is the persisted fingerprint INDEX (one md5 per kept doc,
  // bucketed by fp) — since r16 that index is REAL ([[FpIndex.Fps]],
  // fp-range-clustered under the ZIndex generation contract, O(delta)
  // appends) and q190 runs this admission as a continuous stream-static
  // gate against it; the batch formulation here stays the oracle-exact
  // declaration (min-doc_id-per-fp collapse included). Either way the
  // corpus text is never rescanned, which is the whole point of running
  // curation incrementally.
  // ------------------------------------------------------------------
  def q86IncrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir).withColumn("fp", md5(col("text")))
    val corpus = docs.filter(col("doc_id") % 10 =!= 0).select(col("fp"))
    val batch = docs.filter(col("doc_id") % 10 === 0)
    val w = Window.partitionBy(col("fp")).orderBy(col("doc_id"))
    batch.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .join(corpus, Seq("fp"), "left_anti")
      .select(col("doc_id"), col("fp"))
      .orderBy(col("doc_id"))
  }

  val q86Sql: String =
    """WITH d AS (SELECT doc_id, md5(text) AS fp FROM documents),
      |corpus AS (SELECT fp FROM d WHERE doc_id % 10 <> 0),
      |batch AS (
      |  SELECT doc_id, fp, ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
      |  FROM d WHERE doc_id % 10 = 0)
      |SELECT doc_id, fp FROM batch b
      |WHERE rn = 1 AND NOT EXISTS (SELECT 1 FROM corpus c WHERE c.fp = b.fp)
      |ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------------
  // q95 — sequence packing: assign every document a (sequence, offset)
  // position in fixed 2048-token training windows — the layout step
  // between a curated corpus and a pretraining data loader. Documents
  // pack in doc_id order by cumulative token offset (q40's whitespace
  // token count); a document starting at offset `s` belongs to sequence
  // floor(s/2048) at offset s mod 2048 — exact integer arithmetic in
  // both engines. Packing is PER SOURCE (the shard): the cumulative sum
  // is a window partitioned by source, so shards pack in parallel — a
  // single global pack would serialize into one sorted partition, which
  // is exactly what a training loader's sharded layout avoids anyway.
  // ------------------------------------------------------------------
  /** Shared packing core: ONE documents scan + ONE source-partitioned
    * window yields (source, doc_id, text, n_tokens, start) — q95 projects
    * the layout from it, q96 aggregates the artifact from it; neither
    * re-scans or self-joins the corpus.
    */
  private def packingCore(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    withToks(Tables.documents(spark, dir))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("start", sum(col("n_tokens")).over(w) - col("n_tokens"))
  }

  def q95SequencePacking(spark: SparkSession, dir: String): DataFrame =
    packingCore(spark, dir)
      .select(col("source"), col("doc_id"), col("n_tokens"),
        expr("start div 2048").as("seq_id"),
        (col("start") % 2048L).as("seq_offset"))
      .orderBy(col("source"), col("doc_id"))

  val q95Sql: String =
    """WITH t AS (
      |  SELECT source, doc_id,
      |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens
      |  FROM documents),
      |c AS (
      |  SELECT source, doc_id, n_tokens,
      |    CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) - n_tokens AS start
      |  FROM t)
      |SELECT source, doc_id, n_tokens,
      |  CAST(start // 2048 AS BIGINT) AS seq_id,
      |  CAST(start % 2048 AS BIGINT) AS seq_offset
      |FROM c ORDER BY source, doc_id""".stripMargin

  // ------------------------------------------------------------------
  // q96 — packed-sequence materialization: the loader-facing artifact
  // q95's layout describes. Per (source, sequence): member count, token
  // total, and the md5 of the member texts concatenated in pack order —
  // the oracle hashes the content instead of shipping multi-KB strings
  // through the compare. Attribution is DOCUMENT-level by design: a
  // document belongs to the window its offset STARTS in (a straddling
  // doc carries its tokens with it, so a start-window's total may exceed
  // 2048 and the spanned window gets no row) — the loader token-splits
  // at read time using q95's seq_offset; this artifact indexes documents,
  // it does not re-chunk them. One groupBy over the shared packingCore
  // (no corpus re-scan, no self-join); in-group order is reconstructed
  // engine-side (array_sort on (doc_id, text) structs vs string_agg
  // ORDER BY), so no engine depends on physical row order.
  // ------------------------------------------------------------------
  def q96PackedSequences(spark: SparkSession, dir: String): DataFrame =
    packingCore(spark, dir)
      .withColumn("seq_id", expr("start div 2048"))
      .groupBy(col("source"), col("seq_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        md5(concat_ws(" ",
          expr("transform(array_sort(collect_list(struct(doc_id, text))), x -> x.text)")))
          .as("content_md5"))
      .orderBy(col("source"), col("seq_id"))

  // ------------------------------------------------------------------
  // q97 — repetition quality signals (the Gopher/Dolma-style filter
  // family): per document, the share of bigram occurrences claimed by
  // the single most frequent bigram and the share belonging to any
  // repeated bigram — high values mark boilerplate/spam that length and
  // stopword stats (q40) miss. The corpus is single-line so the signals
  // are token-level: bigrams explode once, aggregate by (doc, bigram),
  // then per-doc max/sum — two shuffles, all-integer until the final
  // division (exact cross-engine unrounded, same rule as q40's ratios).
  // A document with < 2 tokens has no bigrams and hence NO ROW (it
  // cannot be repetitive), so a row's n_bigrams is always ≥ 1. The
  // Spark side must guard that case EXPLICITLY: `sequence(0, size-2)`
  // steps BACKWARD when size = 1 (sequence(0,-1) = [0,-1]), which would
  // emit two null-bigram rows where DuckDB's generate_series(1, len-1)
  // emits none — a phantom mismatch on any corpus with a short doc
  // (CorpusPipelineSpec pins the guard; every shipped corpus happens to be
  // ≥ 10 tokens/doc, which is why the bug never fired).
  // ------------------------------------------------------------------
  def q97Repetition(spark: SparkSession, dir: String): DataFrame = {
    val grams = withToks(Tables.documents(spark, dir))
      .select(col("doc_id"),
        explode(when(size(col("toks")) >= 2, expr(
          "transform(sequence(0, size(toks) - 2), i -> concat(toks[i], ' ', toks[i + 1]))"))
          .otherwise(typedLit(Seq.empty[String])))
          .as("bigram"))
      .groupBy(col("doc_id"), col("bigram")).agg(count(lit(1)).as("cnt"))
    grams.groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_bigrams"),
        max(col("cnt")).as("top_cnt"),
        sum(when(col("cnt") > 1, col("cnt")).otherwise(lit(0L))).as("dup_cnt"))
      .select(col("doc_id"), col("n_bigrams"), col("top_cnt"),
        (col("top_cnt").cast("double") / col("n_bigrams")).as("top_bigram_frac"),
        (col("dup_cnt").cast("double") / col("n_bigrams")).as("dup_bigram_frac"))
      .orderBy(col("doc_id"))
  }

  val q97Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
      |grams AS (
      |  SELECT doc_id,
      |    unnest(list_transform(generate_series(1, len(t) - 1),
      |      i -> t[i] || ' ' || t[i + 1])) AS bigram
      |  FROM toks),
      |cnts AS (
      |  SELECT doc_id, bigram, COUNT(*) AS cnt FROM grams GROUP BY doc_id, bigram)
      |SELECT doc_id,
      |  CAST(SUM(cnt) AS BIGINT) AS n_bigrams,
      |  CAST(MAX(cnt) AS BIGINT) AS top_cnt,
      |  CAST(MAX(cnt) AS DOUBLE) / SUM(cnt) AS top_bigram_frac,
      |  CAST(SUM(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS DOUBLE) / SUM(cnt) AS dup_bigram_frac
      |FROM cnts GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  val q96Sql: String =
    """WITH t AS (
      |  SELECT source, doc_id, text,
      |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens
      |  FROM documents),
      |c AS (
      |  SELECT source, doc_id, text, n_tokens,
      |    (CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) - n_tokens) // 2048 AS seq_id
      |  FROM t)
      |SELECT source, CAST(seq_id AS BIGINT) AS seq_id,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
      |  md5(string_agg(text, ' ' ORDER BY doc_id)) AS content_md5
      |FROM c GROUP BY source, seq_id
      |ORDER BY source, seq_id""".stripMargin

  // ------------------------------------------------------------------
  // q110 — token-window chunking with overlap: the corpus→context-window
  // step every RAG index and long-document pretraining pipeline runs
  // (size 32, stride 24 → 8-token overlap). Chunk starts are a generated
  // sequence per doc — explode is row-local, no shuffle at all until the
  // final ORDER BY; at 100 TB this is a map-only pass whose output
  // partitioning inherits the input's. A trailing start that adds no NEW
  // tokens beyond the previous chunk (start + overlap ≥ n_toks) is
  // dropped — the standard no-fully-contained-chunk rule, applied
  // identically in both engines. Chunk identity travels as md5 of the
  // joined tokens, not the text itself — the compare stays narrow and
  // offset bugs still flip the hash.
  // ------------------------------------------------------------------
  private val ChunkTokens = 32
  private val ChunkStride = 24

  def q110Chunking(spark: SparkSession, dir: String): DataFrame =
    withToks(Tables.documents(spark, dir))
      .withColumn("start", explode(expr(
        s"filter(sequence(0, size(toks) - 1, $ChunkStride), " +
          s"s -> s = 0 OR s + ${ChunkTokens - ChunkStride} < size(toks))")))
      .withColumn("chunk", expr(s"slice(toks, start + 1, $ChunkTokens)"))
      .select(col("doc_id"),
        (col("start") / ChunkStride).cast("long").as("chunk_id"),
        col("start").cast("long").as("start_tok"),
        size(col("chunk")).cast("long").as("n_tokens"),
        md5(concat_ws(" ", col("chunk"))).as("chunk_md5"))
      .orderBy(col("doc_id"), col("chunk_id"))

  val q110Sql: String =
    s"""WITH t AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents),
       |s AS (
       |  SELECT doc_id, toks, unnest(generate_series(0, len(toks) - 1, $ChunkStride)) AS start
       |  FROM t),
       |k AS (
       |  SELECT doc_id, start,
       |    toks[start + 1 : least(start + $ChunkTokens, len(toks))] AS chunk
       |  FROM s
       |  WHERE start = 0 OR start + ${ChunkTokens - ChunkStride} < len(toks))
       |SELECT doc_id, CAST(start // $ChunkStride AS BIGINT) AS chunk_id,
       |  CAST(start AS BIGINT) AS start_tok,
       |  CAST(len(chunk) AS BIGINT) AS n_tokens,
       |  md5(array_to_string(chunk, ' ')) AS chunk_md5
       |FROM k ORDER BY doc_id, chunk_id""".stripMargin

  // ------------------------------------------------------------------
  // q111 — benchmark decontamination: for every eval-split document
  // (q71's h ≥ 'e6' test bucket), the fraction of its distinct word
  // 5-grams that appear ANYWHERE in the train split (h < 'cc') — the
  // GPT-3-style n-gram overlap check run before trusting an eval number.
  // The key scale move: the train side collapses to a DISTINCT gram SET
  // before the join, so a gram shared by a million train docs costs one
  // row, not a million candidate pairs — membership, never pairing. The
  // probe is then one equi-join keyed on the gram (eval side is the
  // small side; at 100 TB the set is also the natural seed for a bloom
  // runtime filter, RuntimeFilterSpec's shape). Docs under 5 tokens have
  // no 5-grams and no row — guarded explicitly (q97's sequence()
  // backward-step lesson).
  // ------------------------------------------------------------------
  private val ContamGram = 5

  def q111Decontamination(spark: SparkSession, dir: String): DataFrame = {
    val h = substring(md5(col("doc_id").cast("string")), 1, 2)
    val grams = withToks(Tables.documents(spark, dir))
      .withColumn("h", h)
      .select(col("doc_id"), col("h"), explode(
        when(size(col("toks")) >= ContamGram, expr(
          s"transform(sequence(0, size(toks) - $ContamGram), " +
            s"i -> array_join(slice(toks, i + 1, $ContamGram), ' '))"))
          .otherwise(typedLit(Seq.empty[String]))).as("gram"))
      .distinct()
    val trainGrams = grams.filter(col("h") < "cc")
      .select(col("gram").as("tg")).distinct()
    grams.filter(col("h") >= "e6")
      .join(trainGrams, col("gram") === col("tg"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"), count(col("tg")).as("n_hit"))
      .select(col("doc_id"), col("n_grams"), col("n_hit"),
        (col("n_hit").cast("double") / col("n_grams")).as("contamination_rate"))
      .orderBy(col("doc_id"))
  }

  val q111Sql: String =
    s"""WITH t AS (
       |  SELECT doc_id, substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS h,
       |    regexp_split_to_array(trim(text), '\\s+') AS toks
       |  FROM documents),
       |g AS (
       |  SELECT DISTINCT doc_id, h, gram FROM (
       |    SELECT doc_id, h,
       |      unnest(list_transform(generate_series(1, len(toks) - ${ContamGram - 1}),
       |        i -> array_to_string(toks[i : i + ${ContamGram - 1}], ' '))) AS gram
       |    FROM t WHERE len(toks) >= $ContamGram)),
       |tg AS (SELECT DISTINCT gram FROM g WHERE h < 'cc'),
       |eg AS (SELECT doc_id, gram FROM g WHERE h >= 'e6')
       |SELECT eg.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
       |  CAST(COUNT(tg.gram) AS BIGINT) AS n_hit,
       |  CAST(COUNT(tg.gram) AS DOUBLE) / COUNT(*) AS contamination_rate
       |FROM eg LEFT JOIN tg ON eg.gram = tg.gram
       |GROUP BY eg.doc_id ORDER BY eg.doc_id""".stripMargin

  // ------------------------------------------------------------------
  // q114 — length-bucketed batching report: group documents into
  // power-of-two token-length buckets (the inference/serving batching
  // scheme) and report per-bucket padding waste — the measurement that
  // justifies sequence packing (q95) over naive pad-to-bucket. The
  // bucket is an exact integer CASE ladder, NOT ceil(log2(n)): a float
  // log at an exact power of two can land on either side of the bucket
  // edge depending on the engine's libm, and the ladder costs the same.
  // Docs past the top rung surface as an explicit overflow bucket (-1,
  // NULL padding columns) rather than a silently-wrong capped number.
  // All-integer until the final division; one map-side-combinable
  // aggregate.
  // ------------------------------------------------------------------
  def q114LengthBuckets(spark: SparkSession, dir: String): DataFrame = {
    val n = size(col("toks")).cast("long")
    // docs past the top rung land in bucket -1 (overflow) with NULL
    // padding columns: a doc longer than every bucket cannot be padded
    // INTO one, and a silent 512-cap would report padded < real (a
    // negative, physically meaningless waste) while both engines agree
    val bucket = when(n <= 16L, 16L).when(n <= 32L, 32L).when(n <= 64L, 64L)
      .when(n <= 128L, 128L).when(n <= 256L, 256L).when(n <= 512L, 512L)
      .otherwise(-1L)
    withToks(Tables.documents(spark, dir))
      .select(bucket.as("bucket"), n.as("n_toks"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("real_tokens"))
      .select(col("bucket"), col("n_docs"), col("real_tokens"),
        when(col("bucket") > 0, col("bucket") * col("n_docs")).as("padded_tokens"),
        when(col("bucket") > 0, lit(1.0) - col("real_tokens").cast("double")
          / (col("bucket") * col("n_docs"))).as("padding_waste"))
      .orderBy(col("bucket"))
  }

  val q114Sql: String =
    """WITH t AS (
      |  SELECT len(regexp_split_to_array(trim(text), '\s+')) AS n_toks
      |  FROM documents),
      |b AS (
      |  SELECT CASE WHEN n_toks <= 16 THEN 16 WHEN n_toks <= 32 THEN 32
      |              WHEN n_toks <= 64 THEN 64 WHEN n_toks <= 128 THEN 128
      |              WHEN n_toks <= 256 THEN 256 WHEN n_toks <= 512 THEN 512
      |              ELSE -1 END AS bucket, n_toks
      |  FROM t)
      |SELECT CAST(bucket AS BIGINT) AS bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_toks) AS BIGINT) AS real_tokens,
      |  CASE WHEN bucket > 0 THEN CAST(bucket * COUNT(*) AS BIGINT) END AS padded_tokens,
      |  CASE WHEN bucket > 0
      |    THEN 1.0 - CAST(SUM(n_toks) AS DOUBLE) / (bucket * COUNT(*)) END AS padding_waste
      |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin

  // ------------------------------------------------------------------
  // q120 — term co-occurrence lift: which vocabulary terms appear
  // together in documents far more than independence predicts — the
  // corpus-analysis pass behind topic discovery and collocation
  // extraction. Vocabulary is capped at the top-40 document-frequency
  // terms (deterministic df-then-term tie-break), so the per-document
  // pair fan-out is bounded by C(40,2) no matter how large the corpus:
  // the self-join is doc_id-equi over a broadcast-pruned term set, never
  // all-pairs. Lift = N·c_xy / (c_x·c_y) is one IEEE division of exact
  // int64 products (no logs — bit-identical cross-engine, same reason
  // q112 keeps its ratios raw), so the ORDER BY lift is stable.
  // ------------------------------------------------------------------
  def q120Cooccurrence(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // dt feeds both the df ranking and the pair join — checkpoint the
    // tokenize+distinct once (harness-swept) rather than re-scan the corpus
    val dt = graft.util.Checkpoints.track(docs
      .select(col("doc_id"),
        explode(split(trim(lower(col("text"))), "\\s+")).as("term"))
      .filter(length(col("term")) >= 3)
      .distinct()
      .localCheckpoint(true))
    val top = dt.groupBy(col("term")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("term")).limit(40)
    val k = dt.join(broadcast(top.select(col("term"))), "term")
      .select(col("doc_id"), col("term"))
    val pairs = k.alias("x").join(k.alias("y"),
        col("x.doc_id") === col("y.doc_id") && col("x.term") < col("y.term"))
      .groupBy(col("x.term").as("t1"), col("y.term").as("t2"))
      .agg(count(lit(1)).as("c_xy"))
      .filter(col("c_xy") >= 5)
    val n = docs.agg(count(lit(1)).as("n_docs"))
    pairs
      .join(broadcast(top.select(col("term").as("t1"), col("c").as("c_x"))), "t1")
      .join(broadcast(top.select(col("term").as("t2"), col("c").as("c_y"))), "t2")
      .crossJoin(broadcast(n))
      .select(col("t1"), col("t2"), col("c_xy"), col("c_x"), col("c_y"),
        ((col("n_docs") * col("c_xy")).cast("double") / (col("c_x") * col("c_y")))
          .as("lift"))
      .orderBy(col("lift").desc, col("t1"), col("t2"))
      .limit(100)
  }

  val q120Sql: String =
    """WITH dt AS (
      |  SELECT DISTINCT doc_id, term FROM (
      |    SELECT doc_id,
      |      unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
      |    FROM documents)
      |  WHERE length(term) >= 3),
      |top AS (
      |  SELECT term, COUNT(*) AS c FROM dt GROUP BY 1
      |  ORDER BY c DESC, term LIMIT 40),
      |k AS (SELECT dt.doc_id, dt.term FROM dt JOIN top USING (term)),
      |p AS (
      |  SELECT x.term AS t1, y.term AS t2, COUNT(*) AS c_xy
      |  FROM k x JOIN k y ON x.doc_id = y.doc_id AND x.term < y.term
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 5),
      |n AS (SELECT COUNT(*) AS n_docs FROM documents)
      |SELECT t1, t2, CAST(c_xy AS BIGINT) AS c_xy,
      |  CAST(cx.c AS BIGINT) AS c_x, CAST(cy.c AS BIGINT) AS c_y,
      |  CAST(n_docs * c_xy AS DOUBLE) / (cx.c * cy.c) AS lift
      |FROM p JOIN top cx ON cx.term = p.t1 JOIN top cy ON cy.term = p.t2, n
      |ORDER BY lift DESC, t1, t2 LIMIT 100""".stripMargin

  // ------------------------------------------------------------------
  // q123 — BM25 relevance scoring (k1 = 1.2, b = 0.75): rank documents
  // against the corpus's top-3-df term "query" — the retrieval scorer
  // behind search-based data curation. Per-term scores land as pivoted
  // COLUMNS (conditional max per query rank), so the final score is an
  // explicitly-ordered 3-term sum — never a float SUM across rows,
  // whose accumulation order an engine is free to choose. idf's ln sits
  // on identical double inputs in both engines and the score is rounded
  // via roundSafe (same double-rounding guard as q85's tf-idf). At
  // 100 TB: the tf pass is the only corpus shuffle; the query terms,
  // doc-length stats, and N ride broadcasts.
  // ------------------------------------------------------------------
  def q123Bm25(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
    // tf feeds three consumers (df, dl, the scoring join) — checkpoint the
    // tokenize+explode once (harness-swept) instead of re-scanning the
    // corpus per consumer: sf10 measured 140 s → the explode was 3× the cost
    val tf = graft.util.Checkpoints.track(docs
      .select(col("doc_id"),
        explode(split(trim(lower(col("text"))), "\\s+")).as("term"))
      .filter(length(col("term")) >= 3)
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      .localCheckpoint(true))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val qterms = dfreq.orderBy(col("df").desc, col("term")).limit(3)
      .withColumn("qrank",
        row_number().over(Window.orderBy(col("df").desc, col("term"))))
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val st = dl.agg(sum(col("dl")).as("tot"), count(lit(1)).as("nd"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val idf = log((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0))
    val tfNorm = (col("tf") * lit(2.2)) /
      (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) *
        (col("dl").cast("double") / (col("tot").cast("double") / col("nd")))))
    val scored = tf.join(broadcast(qterms), "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(st)).crossJoin(broadcast(n))
      .select(col("doc_id"), col("dl"), col("qrank"), (idf * tfNorm).as("sc"))
    scored.groupBy(col("doc_id"), col("dl"))
      .agg(max(when(col("qrank") === 1, col("sc"))).as("s1"),
        max(when(col("qrank") === 2, col("sc"))).as("s2"),
        max(when(col("qrank") === 3, col("sc"))).as("s3"))
      .select(col("doc_id"), col("dl"),
        graft.weather.WeatherPipeline.roundSafe(
          coalesce(col("s1"), lit(0.0)) + coalesce(col("s2"), lit(0.0))
            + coalesce(col("s3"), lit(0.0)), 6).as("score6"))
      .orderBy(col("score6").desc, col("doc_id")).limit(20)
  }

  val q123Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
      |  FROM documents),
      |t AS (
      |  SELECT doc_id, term, COUNT(*) AS tf FROM toks
      |  WHERE length(term) >= 3 GROUP BY 1, 2),
      |d AS (SELECT term, COUNT(*) AS df FROM t GROUP BY 1),
      |q AS (
      |  SELECT term, df, ROW_NUMBER() OVER (ORDER BY df DESC, term) AS qrank
      |  FROM d ORDER BY df DESC, term LIMIT 3),
      |dl AS (SELECT doc_id, SUM(tf) AS dl FROM t GROUP BY 1),
      |st AS (SELECT SUM(dl) AS tot, COUNT(*) AS nd FROM dl),
      |n AS (SELECT COUNT(*) AS n_docs FROM documents),
      |s AS (
      |  SELECT t.doc_id, dl.dl, q.qrank,
      |    ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
      |      * ((t.tf * 2.2) / (t.tf + 1.2 * (0.25 + 0.75 *
      |          (CAST(dl.dl AS DOUBLE) / (CAST(st.tot AS DOUBLE) / st.nd))))) AS sc
      |  FROM t JOIN q USING (term) JOIN dl USING (doc_id), st, n),
      |p AS (
      |  SELECT doc_id, dl,
      |    MAX(CASE WHEN qrank = 1 THEN sc END) AS s1,
      |    MAX(CASE WHEN qrank = 2 THEN sc END) AS s2,
      |    MAX(CASE WHEN qrank = 3 THEN sc END) AS s3
      |  FROM s GROUP BY 1, 2)
      |SELECT doc_id, CAST(dl AS BIGINT) AS dl,
      |  round(round((coalesce(s1, 0.0) + coalesce(s2, 0.0) + coalesce(s3, 0.0))
      |    * 1e8) / 100) / 1e6 + 0.0 AS score6
      |FROM p ORDER BY score6 DESC, doc_id LIMIT 20""".stripMargin

  // ------------------------------------------------------------------
  // q126 — character-class entropy: Shannon entropy over five character
  // classes (vowels / consonants / digits / whitespace / other) per
  // document — the cheap gibberish detector that separates prose from
  // minified code, base64 blobs, and table dumps in a crawl. The class
  // histogram makes the float discipline tractable: FIVE -p·ln(p) terms
  // summed in one explicitly-ordered expression chain (never a float
  // aggregation across rows), each ln on identical double inputs in
  // both engines, rounded via roundSafe. Entirely row-local (regex
  // counts + scalar math) — embarrassingly parallel at any scale.
  // ------------------------------------------------------------------
  def q126CharEntropy(spark: SparkSession, dir: String): DataFrame = {
    val s = lower(col("text"))
    def cnt(re: String): Column =
      size(regexp_extract_all(s, lit(re), lit(0))).cast("long")
    def term(c: Column): Column = {
      val p = c.cast("double") / col("len")
      when(c > 0, -(p * log(p))).otherwise(lit(0.0))
    }
    Tables.documents(spark, dir)
      .withColumn("len", length(s).cast("long"))
      .filter(col("len") > 0)
      .withColumn("n_vowel", cnt("[aeiou]"))
      .withColumn("n_cons", cnt("[b-df-hj-np-tv-z]"))
      .withColumn("n_digit", cnt("[0-9]"))
      .withColumn("n_space", cnt("\\s"))
      .withColumn("n_other",
        col("len") - col("n_vowel") - col("n_cons") - col("n_digit") - col("n_space"))
      .select(col("doc_id"), col("len"),
        graft.weather.WeatherPipeline.roundSafe(
          term(col("n_vowel")) + term(col("n_cons")) + term(col("n_digit"))
            + term(col("n_space")) + term(col("n_other")), 6).as("entropy6"),
        ((col("n_vowel") + col("n_cons")).cast("double") / col("len")).as("frac_alpha"))
      .orderBy(col("doc_id"))
  }

  val q126Sql: String = {
    def cnt(re: String) = s"len(regexp_extract_all(lower(text), '$re'))"
    def term(c: String) =
      s"CASE WHEN $c > 0 THEN -((CAST($c AS DOUBLE) / len) * ln(CAST($c AS DOUBLE) / len)) ELSE 0.0 END"
    s"""WITH c AS (
       |  SELECT doc_id, CAST(length(lower(text)) AS BIGINT) AS len,
       |    CAST(${cnt("[aeiou]")} AS BIGINT) AS n_vowel,
       |    CAST(${cnt("[b-df-hj-np-tv-z]")} AS BIGINT) AS n_cons,
       |    CAST(${cnt("[0-9]")} AS BIGINT) AS n_digit,
       |    CAST(${cnt("\\s")} AS BIGINT) AS n_space
       |  FROM documents),
       |f AS (
       |  SELECT doc_id, len, n_vowel, n_cons, n_digit, n_space,
       |    len - n_vowel - n_cons - n_digit - n_space AS n_other
       |  FROM c WHERE len > 0)
       |SELECT doc_id, len,
       |  round(round((${term("n_vowel")} + ${term("n_cons")} + ${term("n_digit")}
       |    + ${term("n_space")} + ${term("n_other")}) * 1e8) / 100) / 1e6 + 0.0 AS entropy6,
       |  CAST(n_vowel + n_cons AS DOUBLE) / len AS frac_alpha
       |FROM f ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------------------------------------
  // q133 — vocabulary coverage / OOV audit: fix a top-1000 vocabulary by
  // global term frequency (count DESC, term ASC — the deterministic
  // tie-break every top-k here uses) and report, per source, how much of
  // its token mass the vocab covers — the measurement behind "train the
  // tokenizer on THIS corpus slice" decisions. The token stream is
  // aggregated to (source, term) BEFORE any join, so vocab membership
  // probes rows bounded by |sources|·|vocab∪corpus terms|, never the raw
  // token stream; the vocab itself rides a broadcast. All-integer until
  // the one coverage division. At 100 TB: term counts partial-combine;
  // the global top-k is a skyline over the (already tiny) distinct-term
  // table; membership becomes the same broadcast-semi-join shape as
  // q111's decontamination gram set.
  // ------------------------------------------------------------------
  def q133VocabCoverage(spark: SparkSession, dir: String): DataFrame = {
    val bySource = Tables.documents(spark, dir)
      .select(col("source"),
        explode(split(trim(lower(col("text"))), "\\s+")).as("term"))
      .filter(length(col("term")) >= 3)
      .groupBy(col("source"), col("term")).agg(count(lit(1)).as("c"))
    val vocab = bySource.groupBy(col("term")).agg(sum(col("c")).as("n"))
      .orderBy(col("n").desc, col("term")).limit(1000)
      .select(col("term"), lit(1L).as("in_v"))
    bySource.join(broadcast(vocab), Seq("term"), "left")
      .groupBy(col("source"))
      .agg(sum(col("c")).as("n_tokens"),
        sum(when(col("in_v").isNotNull, col("c")).otherwise(0L)).as("n_covered"),
        count(lit(1)).as("n_terms"),
        sum(when(col("in_v").isNull, 1L).otherwise(0L)).as("n_oov_terms"))
      .select(col("source"), col("n_tokens"), col("n_covered"),
        (col("n_tokens") - col("n_covered")).as("n_oov_tokens"),
        col("n_terms"), col("n_oov_terms"),
        graft.weather.WeatherPipeline.roundSafe(
          col("n_covered").cast("double") / col("n_tokens"), 6).as("coverage6"))
      .orderBy(col("source"))
  }

  val q133Sql: String =
    """WITH toks AS (
      |  SELECT source, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
      |  FROM documents),
      |bs AS (
      |  SELECT source, term, COUNT(*) AS c FROM toks
      |  WHERE length(term) >= 3 GROUP BY 1, 2),
      |v AS (
      |  SELECT term FROM (SELECT term, SUM(c) AS n FROM bs GROUP BY 1)
      |  ORDER BY n DESC, term LIMIT 1000)
      |SELECT bs.source AS source,
      |  CAST(SUM(bs.c) AS BIGINT) AS n_tokens,
      |  CAST(SUM(CASE WHEN v.term IS NOT NULL THEN bs.c ELSE 0 END) AS BIGINT) AS n_covered,
      |  CAST(SUM(CASE WHEN v.term IS NULL THEN bs.c ELSE 0 END) AS BIGINT) AS n_oov_tokens,
      |  CAST(COUNT(*) AS BIGINT) AS n_terms,
      |  CAST(SUM(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov_terms,
      |  round(round((CAST(SUM(CASE WHEN v.term IS NOT NULL THEN bs.c ELSE 0 END) AS DOUBLE)
      |    / SUM(bs.c)) * 1e8) / 100) / 1e6 + 0.0 AS coverage6
      |FROM bs LEFT JOIN v ON bs.term = v.term
      |GROUP BY bs.source ORDER BY bs.source""".stripMargin

  // ------------------------------------------------------------------
  // q134 — reciprocal-rank fusion (k = 60): merge two retrieval signals
  // — the q123 BM25 top-20 and a length-prior top-20 — into one ranking,
  // the standard ensemble step in front of a reranker. RRF is chosen
  // over score averaging deliberately: it consumes only RANKS, so the
  // two signals' incomparable score scales never meet, and the floats
  // are each 1/(60+r) — an int-derived division, added in one explicit
  // order — so the cross-engine result is exact before the 1e-6 round.
  // A doc missing from one list contributes 0 from it (union-of-top-k
  // semantics). Scale posture: RRF fuses top-k LISTS (k = 20 here) — a
  // driver-scale join by construction; all the data-scale work lives in
  // the underlying retrieval queries, which carry their own plans.
  // ------------------------------------------------------------------
  def q134RrfFusion(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rb = q123Bm25(spark, dir)
      .select(col("doc_id"),
        row_number().over(Window.orderBy(col("score6").desc, col("doc_id")))
          .cast("long").as("rb"))
    val rl = Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars"))
      .orderBy(col("n_chars").desc, col("doc_id")).limit(20)
      .select(col("doc_id"),
        row_number().over(Window.orderBy(col("n_chars").desc, col("doc_id")))
          .cast("long").as("rl"))
    rb.join(rl, Seq("doc_id"), "full")
      .select(col("doc_id"), col("rb"), col("rl"),
        graft.weather.WeatherPipeline.roundSafe(
          coalesce(lit(1.0) / (lit(60) + col("rb")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60) + col("rl")), lit(0.0)), 6).as("rrf6"))
      .orderBy(col("rrf6").desc, col("doc_id"))
  }

  val q134Sql: String =
    s"""WITH bm AS (
       |${q123Sql}
       |),
       |bmr AS (
       |  SELECT doc_id,
       |    CAST(ROW_NUMBER() OVER (ORDER BY score6 DESC, doc_id) AS BIGINT) AS rb
       |  FROM bm),
       |lenr AS (
       |  SELECT doc_id,
       |    CAST(ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id) AS BIGINT) AS rl
       |  FROM (SELECT doc_id, n_chars FROM documents
       |        ORDER BY n_chars DESC, doc_id LIMIT 20))
       |SELECT COALESCE(b.doc_id, l.doc_id) AS doc_id, b.rb, l.rl,
       |  round(round((COALESCE(1.0 / (60 + b.rb), 0.0)
       |    + COALESCE(1.0 / (60 + l.rl), 0.0)) * 1e8) / 100) / 1e6 + 0.0 AS rrf6
       |FROM bmr b FULL JOIN lenr l ON b.doc_id = l.doc_id
       |ORDER BY rrf6 DESC, doc_id""".stripMargin

  // ------------------------------------------------------------------
  // q136 — sorted-neighborhood near-dup detection (SNM): the classic
  // windowed-scan dedup family (Hernández & Stolfo) the engine did not
  // yet carry — exact (q43), fingerprint (q42), shingle-Jaccard (q44),
  // MinHash-LSH (q45), SimHash (q46) and embedding (q47/q89) all pair by
  // CONTENT keys; SNM pairs by SORT ADJACENCY: order the corpus by a
  // discriminating key and compare each record only to its w−1 successors.
  // Implementation is deliberately shard-parallel: records are windowed
  // PARTITIONED BY a blocking key (the text's first token, extended
  // token-by-token up to four for blocks past the HotBlock threshold —
  // see the recursion note in the method), ordered by
  // (text, doc_id) within the block, and the w−1 = 2 successors arrive
  // via lead() — one exchange on the block key, a per-block sort, and
  // O(N·w) candidate verifies; never a global ORDER BY (single-partition
  // sort) and never a pairwise block self-join (quadratic in a hot
  // block). Candidates verify with unit-cost Levenshtein over the 80-char
  // prefix — integer DP, bit-identical across engines. Threshold d ≤ 10
  // is calibrated on the corpus's measured separation: clone pairs land
  // at d ≤ 10, unrelated neighbors at d > 40 (one straggler at 21–40),
  // so the gate sits inside a 4× gap, not on a knife edge. At 100 TB the
  // plan IS the scale story: blocks shard freely, a skewed block costs
  // O(|block|·w) — linear, unlike the quadratic self-join SNM naively
  // compiles to.
  //
  // Cross-engine unit contract: Spark's levenshtein counts CODE POINTS,
  // DuckDB's counts BYTES (levenshtein('é','a') = 1 vs 2), so the
  // compared prefix is first projected to printable ASCII — where byte
  // = code point and the two metrics coincide — by stripping
  // [^\x20-\x7E] on BOTH sides. The strip happens BEFORE the 80-char
  // cut so both engines also slice an identical pure-ASCII string
  // (substring is code-point-based in Spark, byte-stable only on
  // ASCII). On an ASCII corpus this is the identity projection.
  // ------------------------------------------------------------------
  def q136SortedNeighborhood(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Hot-block refinement (r7): a corpus where many documents share
    // the same first token ("the ...") funnels them into ONE window
    // partition — still the linear O(|block|·w) bound (measured: a
    // 250k-doc hot block cost 3.3× wall, not the 60 000× a block
    // self-join would), but one task owns the whole block while the
    // rest of the cluster idles. So blocks past HotBlock docs get a
    // COMPOSITE key (first TWO tokens) — classic multi-pass SNM
    // blocking, as an executable regime rule like lshBitsFor: the
    // hot-block membership is decided from a per-key count aggregate
    // computed identically in both engines. HotBlock = 10 000 sits two
    // orders above every gate corpus's max block (197 at sf10), so
    // oracle-scale output is byte-identical; the skewed-corpus
    // measurement in PLANS §r7 shows the refinement restoring the
    // uniform-corpus wall.
    //
    // Probe cost (r7 verdict #3): the r7 probe aggregated the FULL
    // corpus (500k tokenizations, ~4 s at sf10 — a 43% tax on uniform
    // corpora that have no hot block). The probe now counts only a
    // deterministic md5-sampled slice — doc_ids whose md5 hex starts
    // ≤ '03', p = 4/256 = 1/64 — against the scaled threshold
    // HotBlock/64 ≈ 156. Detection of a real hot block is effectively
    // certain (a 250k block expects ~3 900 sampled docs, σ ≈ 62,
    // threshold 156) and EXACTLY reproducible in DuckDB (md5 of the
    // same decimal string), so both engines derive the identical hot
    // set at every scale — near-threshold blocks may flip in or out of
    // refinement, but identically on both sides.
    // Threshold conf-overridable; < 0 declares the corpus uniform and
    // skips the probe pass entirely — the escape hatch for pipelines
    // that KNOW their blocking keys are well-distributed (the probe is
    // one text-column scan, the only extra cost refinement adds to a
    // uniform corpus), and the in-session A/B lever for pricing it.
    val hotBlockDocs = spark.conf.getOption("spark.graft.snm.hotBlockDocs")
      .flatMap(_.toLongOption).getOrElse(10000L)
    val HotSampled = math.max(1L, hotBlockDocs * 4 / 256) // default 156
    val sampled = substring(md5(col("doc_id").cast("string")), 1, 2) <= "03"
    val w = Window.partitionBy(col("blk")).orderBy(col("text"), col("doc_id"))
    // only the stripped 80-char ASCII prefix is ever compared, so the
    // window/lead/verify path carries `pfx` (≤80 B), not the full text
    // (the full text still drives the window ORDER BY — prefix order
    // would merge distinct neighborhoods that share an 80-char prefix)
    def asciiPrefix(c: Column): Column =
      substring(regexp_replace(c, "[^\\x20-\\x7E]", ""), 1, 80)
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"),
        expr("split_part(text, ' ', 1)").as("t1"),
        expr("split_part(text, ' ', 2)").as("t2"),
        expr("split_part(text, ' ', 3)").as("t3"),
        expr("split_part(text, ' ', 4)").as("t4"))
    val samp = d.filter(sampled)
    val hot1 = samp.groupBy(col("t1")).agg(count(lit(1)).as("n"))
      .filter(col("n") > HotSampled).select(col("t1"))
    // q125-style regime branch off the materialized hot-block probe: a
    // uniform corpus (no hot block — every gate corpus, and the sf10
    // replica) skips the composite-key joins entirely and pays only the
    // one sampled probe; the oracle SQL keeps the single general form,
    // whose CASE reduces to the plain first-token key exactly when the
    // probe comes back empty, so both branches hash identically.
    val skewed = hotBlockDocs >= 0 && !hot1.isEmpty
    // The composite key RECURSES (r8): one extra token cannot
    // discriminate a corpus whose boilerplate prefix is two tokens long
    // ("the quick " prepended to half the docs re-degenerated the
    // two-token key into one 250k-doc window partition — measured 2.7×
    // uniform wall). Each level re-probes the SAME 1/64 md5 sample for
    // blocks still hot under the extended key and extends ONLY those by
    // one more token, capped at four (a >4-token shared prefix past
    // HotBlock docs is left to the round-robin verify split below — the
    // salt alternative would cut sort adjacency, i.e. change the pair
    // set). Levels short-circuit driver-side: a uniform corpus pays one
    // probe, a depth-k corpus pays k tiny sampled aggregates. Both
    // engines derive the identical nested hot sets from the identical
    // sample, so the key — and hence the pair set — stays byte-equal.
    val keyed = if (!skewed)
      d.select(col("doc_id"), col("text"), asciiPrefix(col("text")).as("pfx"),
        col("t1").as("blk"))
    else {
      val hot2 = samp.join(broadcast(hot1), Seq("t1"))
        .groupBy(col("t1"), col("t2")).agg(count(lit(1)).as("n"))
        .filter(col("n") > HotSampled).select(col("t1"), col("t2"))
      val deep2 = !hot2.isEmpty
      val hot3 =
        if (deep2) samp.join(broadcast(hot2), Seq("t1", "t2"))
          .groupBy(col("t1"), col("t2"), col("t3")).agg(count(lit(1)).as("n"))
          .filter(col("n") > HotSampled).select(col("t1"), col("t2"), col("t3"))
        else null
      val deep3 = deep2 && !hot3.isEmpty
      var j = d.join(broadcast(hot1.withColumn("__h1", lit(true))), Seq("t1"), "left")
      j = if (deep2)
        j.join(broadcast(hot2.withColumn("__h2", lit(true))), Seq("t1", "t2"), "left")
      else j.withColumn("__h2", lit(null).cast("boolean"))
      j = if (deep3)
        j.join(broadcast(hot3.withColumn("__h3", lit(true))), Seq("t1", "t2", "t3"), "left")
      else j.withColumn("__h3", lit(null).cast("boolean"))
      j.select(col("doc_id"), col("text"), asciiPrefix(col("text")).as("pfx"),
        when(col("__h3").isNotNull, concat(col("t1"), lit(" "), col("t2"),
            lit(" "), col("t3"), lit(" "), col("t4")))
          .when(col("__h2").isNotNull, concat(col("t1"), lit(" "), col("t2"),
            lit(" "), col("t3")))
          .when(col("__h1").isNotNull, concat(col("t1"), lit(" "), col("t2")))
          .otherwise(col("t1")).as("blk"))
    }
    val r = keyed
      .withColumn("n1_id", lead(col("doc_id"), 1).over(w))
      .withColumn("n1_px", lead(col("pfx"), 1).over(w))
      .withColumn("n2_id", lead(col("doc_id"), 2).over(w))
      .withColumn("n2_px", lead(col("pfx"), 2).over(w))
    val cands = r.select(col("doc_id").as("doc_a"), col("pfx").as("pa"),
        explode(array(
          struct(col("n1_id").as("doc_b"), col("n1_px").as("pb")),
          struct(col("n2_id").as("doc_b"), col("n2_px").as("pb")))).as("c"))
      .select(col("doc_a"), col("c.doc_b").as("doc_b"), col("pa"), col("c.pb").as("pb"))
      .filter(col("doc_b").isNotNull)
    // Second-order skew guard (r7 verdict #4): when blocks share the
    // first TWO tokens (boilerplate prefixes — common in scraped text),
    // the composite key re-degenerates and ONE task owns the hot
    // block's window AND all its Levenshtein verifies. The window pass
    // is genuinely cheap in that regime (a per-block sort + lead —
    // O(|block| log |block|) on slim rows); the VERIFY pass is the
    // expensive term (80×80 DP per candidate), so in the skew regime
    // the candidate stream is round-robin repartitioned before the
    // verify — every core shares the DP work no matter how deep the
    // key degeneracy goes. Pair set is untouched (the repartition sits
    // after candidate generation), so output is byte-identical; uniform
    // corpora skip the extra exchange entirely.
    val np = spark.conf.get("spark.sql.shuffle.partitions").toIntOption
      .getOrElse(spark.sparkContext.defaultParallelism)
    val verified = if (skewed) cands.repartition(np) else cands
    verified
      .select(col("doc_a"), col("doc_b"),
        levenshtein(col("pa"), col("pb")).cast("long").as("d"))
      .filter(col("d") <= 10)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val q136Sql: String =
    """WITH d AS (
      |  SELECT doc_id, text,
      |    split_part(text, ' ', 1) AS t1, split_part(text, ' ', 2) AS t2,
      |    split_part(text, ' ', 3) AS t3, split_part(text, ' ', 4) AS t4,
      |    substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) <= '03' AS smp
      |  FROM documents),
      |h1 AS (
      |  SELECT t1 FROM d WHERE smp GROUP BY t1 HAVING COUNT(*) > 156),
      |h2 AS (
      |  SELECT t1, t2 FROM d WHERE smp AND t1 IN (SELECT t1 FROM h1)
      |  GROUP BY t1, t2 HAVING COUNT(*) > 156),
      |h3 AS (
      |  SELECT t1, t2, t3 FROM d
      |  WHERE smp AND EXISTS (SELECT 1 FROM h2
      |    WHERE h2.t1 = d.t1 AND h2.t2 = d.t2)
      |  GROUP BY t1, t2, t3 HAVING COUNT(*) > 156),
      |k AS (
      |  SELECT doc_id, text,
      |    CASE WHEN EXISTS (SELECT 1 FROM h3
      |           WHERE h3.t1 = d.t1 AND h3.t2 = d.t2 AND h3.t3 = d.t3)
      |           THEN t1 || ' ' || t2 || ' ' || t3 || ' ' || t4
      |         WHEN EXISTS (SELECT 1 FROM h2
      |           WHERE h2.t1 = d.t1 AND h2.t2 = d.t2)
      |           THEN t1 || ' ' || t2 || ' ' || t3
      |         WHEN t1 IN (SELECT t1 FROM h1)
      |           THEN t1 || ' ' || t2
      |         ELSE t1 END AS blk
      |  FROM d),
      |r AS (
      |  SELECT doc_id, text, blk,
      |    LEAD(doc_id, 1) OVER w AS n1_id, LEAD(text, 1) OVER w AS n1_tx,
      |    LEAD(doc_id, 2) OVER w AS n2_id, LEAD(text, 2) OVER w AS n2_tx
      |  FROM k
      |  WINDOW w AS (PARTITION BY blk ORDER BY text, doc_id)),
      |cands AS (
      |  SELECT doc_id AS doc_a, n1_id AS doc_b,
      |    levenshtein(substring(regexp_replace(text, '[^\x20-\x7E]', '', 'g'), 1, 80),
      |                substring(regexp_replace(n1_tx, '[^\x20-\x7E]', '', 'g'), 1, 80)) AS d
      |  FROM r WHERE n1_id IS NOT NULL
      |  UNION ALL
      |  SELECT doc_id, n2_id,
      |    levenshtein(substring(regexp_replace(text, '[^\x20-\x7E]', '', 'g'), 1, 80),
      |                substring(regexp_replace(n2_tx, '[^\x20-\x7E]', '', 'g'), 1, 80))
      |  FROM r WHERE n2_id IS NOT NULL)
      |SELECT doc_a, doc_b, CAST(d AS BIGINT) AS d
      |FROM cands WHERE d <= 10 ORDER BY doc_a, doc_b""".stripMargin

  // ------------------------------------------------------------------
  // q138 — epoch assembly to an EXACT token budget: the step after q78's
  // rate-based mixing when a training run needs "fill source s to
  // budget_s tokens, stop there" — sampling at a rate only hits a budget
  // in expectation; an epoch manifest admits documents in a fixed
  // pseudorandom order until the budget is reached. Weights are
  // temperature mixing at τ=2 over TOKENS (w_s = ⌊√tot_s⌋, integral so
  // the Σw normalizer is order-independent — a double Σ√ would not be),
  // the global budget is half the corpus, and per-source budgets are
  // wide-integer floor arithmetic (decimal(38) × / HUGEINT — bg·w
  // overflows int64 at real corpus sizes). Admission order is the
  // q70/q101 md5 convention; a doc is admitted iff the tokens BEFORE it
  // in that order are under budget (greedy-with-overflow, q95's
  // straddle rule). The cumulative sum is the scale trap: a per-source
  // window is 20 single-task sorts over the whole corpus, so this is
  // the q113 two-phase shape generalized to HASH order — the 2-hex-char
  // md5 prefix is a monotonic bucket of the sort key, per-(source,
  // bucket) cumsums run partition-parallel after the one wide shuffle,
  // and bucket offsets cascade over a source×256-row table joined back
  // as a broadcast. Nothing funnels through one task at any corpus size.
  // ------------------------------------------------------------------
  def q138TokenBudget(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = withToks(Tables.documents(spark, dir))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("h", md5(col("doc_id").cast("string")))
      .withColumn("b", substring(col("h"), 1, 2))
      .select(col("source"), col("doc_id"), col("n_tokens"), col("h"), col("b"))
    val s = t.groupBy(col("source")).agg(sum(col("n_tokens")).as("tot_tokens"))
      .withColumn("weight", floor(sqrt(col("tot_tokens").cast("double"))).cast("long"))
    val g = s.agg(expr("sum(tot_tokens) div 2").as("bg"), sum(col("weight")).as("sw"))
    val budgets = s.crossJoin(broadcast(g))
      .withColumn("budget_tokens",
        expr("CAST((CAST(bg AS DECIMAL(38,0)) * weight) DIV sw AS BIGINT)"))
      .select(col("source"), col("tot_tokens"), col("weight"), col("budget_tokens"))
      .cache().transform(graft.util.Checkpoints.track) // feeds filter join + output
    // two-phase hash-order cumsum (q113 pattern): per-bucket parallel
    // sort + tiny cascaded bucket offsets, never one task per source
    val wIn = Window.partitionBy(col("source"), col("b"))
      .orderBy(col("h"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offs = t.groupBy(col("source"), col("b")).agg(sum(col("n_tokens")).as("bt"))
      .withColumn("off", coalesce(sum(col("bt")).over(
        Window.partitionBy(col("source")).orderBy(col("b"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("source"), col("b"), col("off"))
    val kept = t
      .withColumn("start_in_b", sum(col("n_tokens")).over(wIn) - col("n_tokens"))
      .join(broadcast(offs), Seq("source", "b"))
      .join(broadcast(budgets.select(col("source"), col("budget_tokens"))), "source")
      .filter(col("off") + col("start_in_b") < col("budget_tokens"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs_kept"), sum(col("n_tokens")).as("tokens_kept"))
    budgets.join(broadcast(kept), Seq("source"), "left")
      .select(col("source"), col("tot_tokens"), col("weight"), col("budget_tokens"),
        coalesce(col("n_docs_kept"), lit(0L)).as("n_docs_kept"),
        coalesce(col("tokens_kept"), lit(0L)).as("tokens_kept"),
        (coalesce(col("tokens_kept"), lit(0L)).cast("double")
          / col("budget_tokens").cast("double")).as("fill_ratio"))
      .orderBy(col("source"))
  }

  val q138Sql: String =
    """WITH t AS (
      |  SELECT source, doc_id,
      |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
      |    md5(CAST(doc_id AS VARCHAR)) AS h
      |  FROM documents),
      |s AS (
      |  SELECT source, SUM(n_tokens) AS tot_tokens,
      |    CAST(FLOOR(SQRT(CAST(SUM(n_tokens) AS DOUBLE))) AS BIGINT) AS weight
      |  FROM t GROUP BY 1),
      |g AS (SELECT SUM(tot_tokens) // 2 AS bg, SUM(weight) AS sw FROM s),
      |b AS (
      |  SELECT source, tot_tokens, weight,
      |    CAST(CAST(bg AS HUGEINT) * weight // sw AS BIGINT) AS budget_tokens
      |  FROM s, g),
      |c AS (
      |  SELECT t.source, n_tokens, budget_tokens,
      |    SUM(n_tokens) OVER (PARTITION BY t.source ORDER BY h, doc_id
      |      ROWS UNBOUNDED PRECEDING) - n_tokens AS start
      |  FROM t JOIN b USING (source)),
      |k AS (
      |  SELECT source, COUNT(*) AS n_docs_kept, SUM(n_tokens) AS tokens_kept
      |  FROM c WHERE start < budget_tokens GROUP BY 1)
      |SELECT b.source, CAST(tot_tokens AS BIGINT) AS tot_tokens, weight, budget_tokens,
      |  CAST(COALESCE(n_docs_kept, 0) AS BIGINT) AS n_docs_kept,
      |  CAST(COALESCE(tokens_kept, 0) AS BIGINT) AS tokens_kept,
      |  CAST(COALESCE(tokens_kept, 0) AS DOUBLE) / budget_tokens AS fill_ratio
      |FROM b LEFT JOIN k ON b.source = k.source
      |ORDER BY b.source""".stripMargin

  // ------------------------------------------------------------------
  // q141 — exact repeated-substring detection: the within-corpus
  // substring dedup of Lee et al. 2022 ("Deduplicating Training Data
  // Makes Language Models Better" — their ExactSubstr over a suffix
  // array, re-expressed as the distributed k-gram formulation): flag
  // every token position whose k-gram (k = 8 tokens) occurs more than
  // once ANYWHERE in the corpus — another doc or another offset of the
  // same doc — then merge overlapping flagged extents [pos, pos+k-1]
  // into maximal duplicated spans per doc and report, per source, the
  // span census and the duplicated-token fraction a substring-dedup
  // pass would cut. This is the one dedup the doc-level family (q43–
  // q46, q136) cannot see: two long docs sharing one boilerplate
  // paragraph are no doc pair at all, but every token of the shared
  // paragraph is training-data duplication.
  //
  // Scale posture: gram strings are hashed row-local to the FULL
  // 128-bit md5 as 16 raw bytes (unhex — same width as a 16-hex
  // truncation, but collision-free: a 64-bit key at ~1e13 grams
  // yields millions of birthday-collision false-dup positions, which
  // would breach the operator's exactness claim) BEFORE the explode
  // ships anything (the shuffle carries (doc_id,
  // pos, 16-byte hash), never the k-token text); the duplicated-gram
  // set comes out of one partial-agged count (map-side combine absorbs
  // each doc's self-repeats); flagging is a semi join by gram hash —
  // at 100 TB the dup-gram set is the SMALL side (duplication is the
  // exception, not the rule) and Catalyst's broadcast threshold or the
  // q125-style bloom regime prunes map-side, while at gate scale both
  // sides share one hash exchange. Span merge is the q119
  // gaps-and-islands window, partitioned by doc_id — per-doc state
  // only, no global sort. The k-gram frame is cached once (harness-
  // swept) because both the dup-set agg and the flag join consume it.
  // ------------------------------------------------------------------
  def q141SubstringDedup(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val k = 8
    val toks = Tables.documents(spark, dir)
      .withColumn("toks", split(trim(lower(col("text"))), "\\s+"))
      .select(col("doc_id"), col("source"), col("toks"),
        size(col("toks")).cast("long").as("nt"))
    // the token array is BOUND as a lambda variable (ts) instead of
    // referenced from the outer projection: an outer `toks` reference
    // inside the per-gram lambda gets the full split(trim(lower(text)))
    // subtree substituted at every evaluation — one regex split PER GRAM,
    // measured 370× (140 s) instead of ~linear at sf10. A lambda
    // argument evaluates once per row.
    //
    // The upfront doc_id repartition decouples the expensive interpreted
    // gram map from the SCAN split count (a compactly-written corpus can
    // pack into a couple of 128 MB splits and starve the map of cores),
    // and its partitioning is exactly what the island windows need — the
    // cached frame keeps it, so the window pass plans NO exchange of its
    // own: the shuffle is moved, not added.
    val np = spark.conf.get("spark.sql.shuffle.partitions").toIntOption
      .getOrElse(spark.sparkContext.defaultParallelism)
    val grams = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .repartition(np, col("doc_id"))
      .select(col("doc_id"), explode(expr(
        s"""flatten(transform(array(split(trim(lower(text)), '\\\\s+')), ts ->
           |  if(size(ts) >= $k,
           |    transform(sequence(0, size(ts) - $k), i ->
           |      struct(i AS pos, unhex(md5(concat_ws(' ', slice(ts, i + 1, $k)))) AS h)),
           |    CAST(array() AS array<struct<pos:int,h:binary>>))))""".stripMargin)).as("pg"))
      .select(col("doc_id"), col("pg.pos").as("pos"), col("pg.h").as("h"))
      .cache().transform(graft.util.Checkpoints.track) // feeds dup-set agg + flag semi join
    val dup = grams.groupBy(col("h")).agg(count(lit(1)).as("c"))
      .filter(col("c") > 1).select(col("h"))
    val flagged = grams.join(dup, Seq("h"), "leftsemi")
    val isl = flagged
      .withColumn("prev",
        lag(col("pos"), 1).over(Window.partitionBy(col("doc_id")).orderBy(col("pos"))))
      .withColumn("brk",
        when(col("prev").isNull || col("pos") - col("prev") > k, 1L).otherwise(0L))
      .withColumn("grp", sum(col("brk")).over(
        Window.partitionBy(col("doc_id")).orderBy(col("pos"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val spans = isl.groupBy(col("doc_id"), col("grp"))
      .agg((max(col("pos")) - min(col("pos")) + lit(k)).cast("long").as("span_len"))
    val perDoc = spans.groupBy(col("doc_id"))
      .agg(sum(col("span_len")).as("dup_tokens"), count(lit(1)).as("n_spans"),
        max(col("span_len")).as("max_span"))
    toks.select(col("doc_id"), col("source"), col("nt"))
      .join(perDoc, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("dup_tokens").isNotNull, 1L).otherwise(0L)).as("n_docs_with_dup"),
        sum(col("nt")).as("total_tokens"),
        sum(coalesce(col("dup_tokens"), lit(0L))).as("dup_tokens"),
        sum(coalesce(col("n_spans"), lit(0L))).as("n_spans"),
        coalesce(max(col("max_span")), lit(0L)).as("max_span_len"))
      .select(col("source"), col("n_docs"), col("n_docs_with_dup"),
        col("total_tokens"), col("dup_tokens"), col("n_spans"), col("max_span_len"),
        graft.weather.WeatherPipeline.roundSafe(
          col("dup_tokens").cast("double") / col("total_tokens"), 6).as("dup_frac6"))
      .orderBy(col("source"))
  }

  val q141Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, source, regexp_split_to_array(trim(lower(text)), '\s+') AS t
      |  FROM documents),
      |base AS (SELECT doc_id, source, len(t) AS nt FROM toks),
      |grams AS (
      |  SELECT doc_id, i AS pos,
      |    unhex(md5(array_to_string(t[CAST(i + 1 AS INT):CAST(i + 8 AS INT)], ' '))) AS h
      |  FROM toks, UNNEST(range(len(t) - 7)) AS u(i)
      |  WHERE len(t) >= 8),
      |dup AS (SELECT h FROM grams GROUP BY h HAVING COUNT(*) > 1),
      |fl AS (SELECT g.doc_id, g.pos FROM grams g JOIN dup ON g.h = dup.h),
      |pr AS (SELECT doc_id, pos, lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev FROM fl),
      |isl AS (SELECT doc_id, pos,
      |    SUM(CASE WHEN prev IS NULL OR pos - prev > 8 THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY doc_id ORDER BY pos) AS grp FROM pr),
      |spans AS (SELECT doc_id, grp, MAX(pos) - MIN(pos) + 8 AS span_len FROM isl GROUP BY 1, 2),
      |perdoc AS (SELECT doc_id, SUM(span_len) AS dup_tokens, COUNT(*) AS n_spans,
      |    MAX(span_len) AS max_span FROM spans GROUP BY 1)
      |SELECT b.source AS source,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(CASE WHEN p.dup_tokens IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_with_dup,
      |  CAST(SUM(b.nt) AS BIGINT) AS total_tokens,
      |  CAST(SUM(COALESCE(p.dup_tokens, 0)) AS BIGINT) AS dup_tokens,
      |  CAST(SUM(COALESCE(p.n_spans, 0)) AS BIGINT) AS n_spans,
      |  CAST(COALESCE(MAX(p.max_span), 0) AS BIGINT) AS max_span_len,
      |  round(round((CAST(SUM(COALESCE(p.dup_tokens, 0)) AS DOUBLE)
      |    / SUM(b.nt)) * 1e8) / 100) / 1e6 + 0.0 AS dup_frac6
      |FROM base b LEFT JOIN perdoc p ON b.doc_id = p.doc_id
      |GROUP BY b.source ORDER BY b.source""".stripMargin

  // ------------------------------------------------------------------
  // q143 — BPE merge training (Sennrich et al. 2016, the tokenizer-
  // training loop): five rounds of "count adjacent symbol pairs over
  // the word-frequency dictionary, merge the most frequent pair
  // everywhere". The output is the merge table itself — (round, pair,
  // merged symbol, frequency) — the artifact a tokenizer ships.
  //
  // Representation: a word's symbol sequence is a -wrapped string
  // ("␟c1␟␟c2␟…"); merging pair (a,b) is then literal
  // replace("␟a␟␟b␟" → "␟ab␟") — left-to-right non-overlapping in BOTH
  // engines, which IS greedy BPE merge order, and the per-symbol
  // wrappers make cross-symbol false matches impossible (symbol "b"
  // can never match inside symbol "ab"). No fold needed — important
  // because DuckDB 1.0's list_reduce cannot carry a list accumulator.
  //
  // Scale posture: BPE trains on the word-frequency DICTIONARY, not
  // the corpus — the one corpus-scale stage is the tokenize + count
  // shuffle (map-side combined); all five rounds run over distinct
  // words. The per-round argmax is a driver scalar (the watermark
  // precedent), rebroadcast into the next round's replace. Pair
  // extraction binds the symbol array as a lambda argument (the q141
  // lesson — an outer reference would re-split per pair).
  // ------------------------------------------------------------------
  /** The BPE training loop, parameterized by round count so
    * [[q143BpeMerges]] (5 rounds, the oracle gate), [[q147BpeEncode]]
    * and BpeLocalSpec's parity check against [[bpeTrainLocal]] share ONE
    * implementation. Each round's dictionary is cached and registered
    * for the harness sweep.
    */
  private[graft] def bpeTrain(spark: SparkSession, dir: String, nRounds: Int)
      : Seq[(Int, String, String, String, Long)] = {
    val D = "\u001f" // unit separator: absent from any token
    val vocab = Tables.documents(spark, dir)
      .select(explode(split(trim(lower(col("text"))), "\\s+")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .withColumn("seq", concat(lit(D),
        array_join(expr("filter(split(w, ''), c -> c <> '')"), D + D), lit(D)))
      .select(col("cnt"), col("seq"))
      .cache().transform(graft.util.Checkpoints.track) // round 0 of the loop below
    var cur = vocab
    val merges = scala.collection.mutable.ArrayBuffer[(Int, String, String, String, Long)]()
    var exhausted = false // a vocab can run out of pairs before nRounds
    for (r <- 1 to nRounds if !exhausted) {
      val pairs = cur
        .select(col("cnt"), explode(expr(
          s"""flatten(transform(array(filter(split(substring(seq, 2, length(seq) - 2), '$D$D'), s -> s <> '')), ss ->
             |  if(size(ss) >= 2,
             |    transform(sequence(0, size(ss) - 2), i ->
             |      struct(element_at(ss, i + 1) AS a, element_at(ss, i + 2) AS b)),
             |    CAST(array() AS array<struct<a:string,b:string>>))))""".stripMargin)).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("cnt")).as("freq"))
      val bestRows = pairs.orderBy(col("freq").desc, col("a"), col("b")).limit(1).collect()
      if (bestRows.isEmpty) exhausted = true // oracle parity: its empty bN
      else {                                 // empties every later round too
        val best = bestRows(0)
        val (a, b, freq) = (best.getString(0), best.getString(1), best.getLong(2))
        merges += ((r, a, b, a + b, freq))
        // lit() args, not SQL literals: a symbol containing a quote or
        // backslash must never be able to break the expression
        cur = cur.withColumn("seq",
          org.apache.spark.sql.functions.replace(col("seq"),
            lit(D + a + D + D + b + D), lit(D + a + b + D)))
          .cache().transform(graft.util.Checkpoints.track) // harness-swept
      }
    }
    merges.toSeq
  }

  /** Driver-local BPE rounds over a collected dictionary — the deep-
    * merge tail. The corpus-scale stage (tokenize + count) is ALWAYS
    * Spark's; but the dictionary it produces is tiny (~60k words at
    * sf10), and past a few hundred rounds the per-round Spark job
    * overhead (~0.6 s, PLANS §r9) dominates a computation that touches
    * kilobytes. This is the same loop — IDENTICAL pair-count semantics
    * (every adjacent position, overlapping included) and merge
    * semantics (left-to-right non-overlapping) — run in-process;
    * BpeLocalSpec asserts merge-table parity with the Spark rounds on
    * the shared prefix. Tie-break order is freq DESC, then
    * (a, b) ascending by UTF-8 BYTES, matching Spark/DuckDB string
    * ordering (Java String.compareTo is UTF-16 code-unit order, which
    * diverges for supplementary characters).
    */
  private[graft] def bpeTrainLocal(
      dict0: Array[(Long, Array[String])], nRounds: Int,
      onRound: (Int, String, String, Long, Double, Long) => Unit =
        (_, _, _, _, _, _) => ())
      : Seq[(Int, String, String, String, Long)] = {
    def utf8Lt(x: String, y: String): Boolean = {
      val a = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val b = y.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var i = 0
      while (i < a.length && i < b.length) {
        val c = (a(i) & 0xff) - (b(i) & 0xff)
        if (c != 0) return c < 0
        i += 1
      }
      a.length < b.length
    }
    var dict = dict0
    val merges = scala.collection.mutable.ArrayBuffer[(Int, String, String, String, Long)]()
    var exhausted = false
    for (r <- 1 to nRounds if !exhausted) {
      val t0 = System.nanoTime()
      val counts = new java.util.HashMap[(String, String), Long]()
      dict.foreach { case (cnt, syms) =>
        var i = 0
        while (i + 1 < syms.length) {
          counts.merge((syms(i), syms(i + 1)), cnt, _ + _)
          i += 1
        }
      }
      if (counts.isEmpty) exhausted = true
      else {
        var best: ((String, String), Long) = null
        counts.forEach { (k, v) =>
          if (best == null || v > best._2 ||
            (v == best._2 && (utf8Lt(k._1, best._1._1) ||
              (k._1 == best._1._1 && utf8Lt(k._2, best._1._2))))) best = (k, v)
        }
        val ((a, b), freq) = best
        merges += ((r, a, b, a + b, freq))
        var syms = 0L
        dict = dict.map { case (cnt, ss) =>
          var has = false
          var i = 0
          while (!has && i + 1 < ss.length) { // cheap probe before allocating
            if (ss(i) == a && ss(i + 1) == b) has = true
            i += 1
          }
          val next = if (!has) ss else {
            val out = scala.collection.mutable.ArrayBuffer.empty[String]
            var j = 0
            while (j < ss.length) {
              if (j + 1 < ss.length && ss(j) == a && ss(j + 1) == b) {
                out += a + b; j += 2
              } else { out += ss(j); j += 1 }
            }
            out.toArray
          }
          syms += cnt * next.length
          (cnt, next)
        }
        onRound(r, a, b, freq, (System.nanoTime() - t0) / 1e9, syms)
      }
    }
    merges.toSeq
  }

  /** The Spark-side dictionary in collectable form: (cnt, symbol array),
    * the input [[bpeTrainLocal]] takes over from. One corpus-scale
    * tokenize + count shuffle — identical to [[bpeTrain]]'s round 0.
    */
  private[graft] def bpeDictionary(spark: SparkSession, dir: String): Array[(Long, Array[String])] =
    Tables.documents(spark, dir)
      .select(explode(split(trim(lower(col("text"))), "\\s+")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .select(col("cnt"), expr("filter(split(w, ''), c -> c <> '')").as("syms"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[String](1).toArray))

  def q143BpeMerges(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    bpeTrain(spark, dir, 5).toDF("round", "sym_a", "sym_b", "merged", "freq")
      .select(col("round").cast("long").as("round"), col("sym_a"), col("sym_b"),
        col("merged"), col("freq"))
      .orderBy(col("round"))
  }

  val q143Sql: String = {
    val D = "\u001f" // unit separator: absent from any token
    def pairsOf(src: String, n: Int): String =
      s"""p$n AS (
         |  SELECT syms[CAST(i + 1 AS INT)] AS a, syms[CAST(i + 2 AS INT)] AS b,
         |    SUM(cnt) AS freq
         |  FROM (SELECT cnt, string_split(substr(seq, 2, length(seq) - 2), '$D$D') AS syms
         |        FROM $src), UNNEST(range(len(syms) - 1)) AS t(i)
         |  GROUP BY 1, 2),
         |b$n AS (SELECT a, b, freq FROM p$n ORDER BY freq DESC, a, b LIMIT 1)""".stripMargin
    def mergeOf(src: String, n: Int): String =
      s"""w$n AS (
         |  SELECT cnt, replace(seq, '$D' || b$n.a || '$D$D' || b$n.b || '$D',
         |    '$D' || b$n.a || b$n.b || '$D') AS seq
         |  FROM $src, b$n)""".stripMargin
    val rounds = (1 to 5).map { r =>
      val src = if (r == 1) "w0" else s"w${r - 1}"
      if (r < 5) pairsOf(src, r) + ",\n" + mergeOf(src, r)
      else pairsOf(src, r)
    }.mkString(",\n")
    val selects = (1 to 5).map(r =>
      s"SELECT CAST($r AS BIGINT) AS round, a AS sym_a, b AS sym_b, a || b AS merged, CAST(freq AS BIGINT) AS freq FROM b$r")
      .mkString("\nUNION ALL ")
    s"""WITH toks AS (
       |  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w FROM documents),
       |vocab AS (SELECT w, COUNT(*) AS cnt FROM toks WHERE w <> '' GROUP BY 1),
       |w0 AS (SELECT cnt,
       |  '$D' || array_to_string(string_split(w, ''), '$D$D') || '$D' AS seq FROM vocab),
       |$rounds
       |$selects
       |ORDER BY round""".stripMargin
  }

  // ------------------------------------------------------------------
  // q147 — BPE ENCODE (the apply half of q143, the q142-to-q140
  // pairing): tokenize the corpus with the trained merge table and
  // report per-source token economics — weighted symbol counts before
  // and after the merges, vocabulary size, and the compression ratio a
  // tokenizer buys. Training is [[bpeTrain]] (the SAME loop q143
  // gates); encoding applies the merge list IN ORDER, which is exactly
  // greedy BPE inference.
  //
  // Scale posture: the merge table is driver-sized (5 rows here, 30k in
  // production) and rides into the plan as literal replace() chains —
  // the corpus-scale work is ONE tokenize + (source, word) count
  // shuffle (map-side combined, same stage q143 pays), after which the
  // replaces run over the per-source word DICTIONARY, not the corpus:
  // encoding cost is dictionary-bound exactly like training rounds.
  // ------------------------------------------------------------------
  def q147BpeEncode(spark: SparkSession, dir: String): DataFrame = {
    val D = "\u001f" // unit separator: absent from any token
    val merges = bpeTrain(spark, dir, 5)
    val dict = Tables.documents(spark, dir)
      .select(col("source"), explode(split(trim(lower(col("text"))), "\\s+")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("cnt"))
      .withColumn("seq", concat(lit(D),
        array_join(expr("filter(split(w, ''), c -> c <> '')"), D + D), lit(D)))
    // the trained merges, applied in order as literal replaces (lit()
    // args — a symbol containing a quote must never break the plan)
    val encoded = merges.foldLeft(dict) { case (df, (_, a, b, _, _)) =>
      df.withColumn("seq", org.apache.spark.sql.functions.replace(col("seq"),
        lit(D + a + D + D + b + D), lit(D + a + b + D)))
    }
    encoded
      .withColumn("syms_before",
        size(expr("filter(split(w, ''), c -> c <> '')")).cast("long"))
      .withColumn("syms_after",
        size(split(substring(col("seq"), lit(2), length(col("seq")) - 2), D + D)).cast("long"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("cnt")).as("total_words"),
        sum(col("cnt") * col("syms_before")).as("tok_before"),
        sum(col("cnt") * col("syms_after")).as("tok_after"))
      .withColumn("compression",
        col("tok_before").cast("double") / col("tok_after").cast("double"))
      .select(col("source"), col("n_words"), col("total_words"),
        col("tok_before"), col("tok_after"), col("compression"))
      .orderBy(col("source"))
  }

  val q147Sql: String = {
    val D = "\u001f"
    def pairsOf(src: String, n: Int): String =
      s"""p$n AS (
         |  SELECT syms[CAST(i + 1 AS INT)] AS a, syms[CAST(i + 2 AS INT)] AS b,
         |    SUM(cnt) AS freq
         |  FROM (SELECT cnt, string_split(substr(seq, 2, length(seq) - 2), '$D$D') AS syms
         |        FROM $src), UNNEST(range(len(syms) - 1)) AS t(i)
         |  GROUP BY 1, 2),
         |b$n AS (SELECT a, b, freq FROM p$n ORDER BY freq DESC, a, b LIMIT 1)""".stripMargin
    def mergeOf(src: String, n: Int): String =
      s"""w$n AS (
         |  SELECT cnt, replace(seq, '$D' || b$n.a || '$D$D' || b$n.b || '$D',
         |    '$D' || b$n.a || b$n.b || '$D') AS seq
         |  FROM $src, b$n)""".stripMargin
    def encOf(src: String, n: Int): String =
      s"""e$n AS (
         |  SELECT source, w, cnt, replace(seq, '$D' || b$n.a || '$D$D' || b$n.b || '$D',
         |    '$D' || b$n.a || b$n.b || '$D') AS seq
         |  FROM $src, b$n)""".stripMargin
    val train = (1 to 5).map { r =>
      val src = if (r == 1) "w0" else s"w${r - 1}"
      if (r < 5) pairsOf(src, r) + ",\n" + mergeOf(src, r)
      else pairsOf(src, r)
    }.mkString(",\n")
    val enc = (1 to 5).map { r =>
      val src = if (r == 1) "e0" else s"e${r - 1}"
      encOf(src, r)
    }.mkString(",\n")
    s"""WITH toks AS (
       |  SELECT source, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
       |  FROM documents),
       |vocab AS (SELECT w, COUNT(*) AS cnt FROM toks WHERE w <> '' GROUP BY 1),
       |w0 AS (SELECT cnt,
       |  '$D' || array_to_string(string_split(w, ''), '$D$D') || '$D' AS seq FROM vocab),
       |$train,
       |e0 AS (SELECT source, w, COUNT(*) AS cnt,
       |  '$D' || array_to_string(string_split(w, ''), '$D$D') || '$D' AS seq
       |  FROM toks WHERE w <> '' GROUP BY 1, 2),
       |$enc,
       |agg AS (
       |  SELECT source, COUNT(*) AS n_words, SUM(cnt) AS total_words,
       |    SUM(cnt * len(string_split(w, ''))) AS tok_before,
       |    SUM(cnt * len(string_split(substr(seq, 2, length(seq) - 2), '$D$D'))) AS tok_after
       |  FROM e5 GROUP BY 1)
       |SELECT source, CAST(n_words AS BIGINT) AS n_words,
       |  CAST(total_words AS BIGINT) AS total_words,
       |  CAST(tok_before AS BIGINT) AS tok_before,
       |  CAST(tok_after AS BIGINT) AS tok_after,
       |  CAST(tok_before AS DOUBLE) / CAST(tok_after AS DOUBLE) AS compression
       |FROM agg ORDER BY source""".stripMargin
  }

  // ------------------------------------------------------------------
  // q144 — leakage-safe dataset split: q71's md5 train/val/test split,
  // but keyed by the DEDUP-CLUSTER representative instead of the doc —
  // with a per-doc split, two near-duplicate documents routinely land
  // on opposite sides of the train/test boundary and the test set is
  // contaminated by construction. The cluster labels are the q103
  // components over the shared (memoized, bench-prewarmed) LSH verified
  // pairs; singleton docs key by themselves. Same thresholds as q71
  // ('cc'/'e6' ≈ 80/10/10), so the two queries differ ONLY in the
  // hashing key — which is the point.
  // ------------------------------------------------------------------

  /** Per-doc assignments (doc_id, source, n_chars, ck, split) — split
    * out so the spec can assert the structural guarantee (a verified
    * pair NEVER spans splits) directly.
    */
  def leakageSafeAssignments(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val labels = dedupLabels(spark, dir).withColumnRenamed("id", "doc_id")
    val h = substring(md5(col("ck").cast("string")), 1, 2)
    docs.join(labels, Seq("doc_id"), "left")
      .withColumn("ck", coalesce(col("label"), col("doc_id")))
      .withColumn("split",
        when(h < "cc", "train").when(h < "e6", "val").otherwise("test"))
  }

  def q144LeakageSafeSplit(spark: SparkSession, dir: String): DataFrame =
    leakageSafeAssignments(spark, dir)
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars_total"),
        countDistinct(col("source")).as("n_sources"),
        countDistinct(col("ck")).as("n_clusters"))
      .orderBy(col("split"))

  val q144Sql: String = {
    val pairsSelect = q45SqlBody
    s"""WITH RECURSIVE pairs AS (
       |$pairsSelect),
       |nodes AS (
       |  SELECT DISTINCT doc_id FROM (
       |    SELECT doc_a AS doc_id FROM pairs UNION SELECT doc_b FROM pairs)),
       |e2 AS (
       |  SELECT doc_a AS a, doc_b AS b FROM pairs
       |  UNION SELECT doc_b, doc_a FROM pairs),
       |reach AS (
       |  SELECT doc_id AS node, doc_id AS m FROM nodes
       |  UNION
       |  SELECT e.b AS node, r.m FROM reach r JOIN e2 e ON e.a = r.node),
       |comp AS (SELECT node, MIN(m) AS label FROM reach GROUP BY node),
       |keyed AS (
       |  SELECT d.source, d.n_chars, COALESCE(comp.label, d.doc_id) AS ck
       |  FROM documents d LEFT JOIN comp ON d.doc_id = comp.node),
       |s AS (
       |  SELECT *, CASE WHEN substring(md5(CAST(ck AS VARCHAR)), 1, 2) < 'cc' THEN 'train'
       |                 WHEN substring(md5(CAST(ck AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
       |                 ELSE 'test' END AS split
       |  FROM keyed)
       |SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(n_chars) AS BIGINT) AS n_chars_total,
       |  CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
       |  CAST(COUNT(DISTINCT ck) AS BIGINT) AS n_clusters
       |FROM s GROUP BY split ORDER BY split""".stripMargin
  }

  // ------------------------------------------------------------------
  // q145 — the curation FUNNEL: the full preprocessing chain a training
  // corpus actually goes through, composed from the suite's own stage
  // semantics and reported as a per-source yield census:
  //   raw → q72 quality gate → q72 exact dedup → q103 near-dup cluster
  //   keep (min SURVIVING member per component) → q111-style
  //   decontamination (drop any doc sharing a 5-gram with the held-out
  //   eval partition, md5 prefix ≥ 'e6').
  // Each stage reuses the exact expression conventions of its parent
  // query, so the funnel is a composition proof: the stages interlock
  // without re-deriving any semantics. Scale shape: the only new
  // corpus-scale work beyond the parents is the decontamination semi
  // join, which ships 16-byte full-md5 gram HASHES (the q141 rule), probing the
  // eval side — the small side by construction (≈10% of docs).
  // ------------------------------------------------------------------
  def q145CurationFunnel(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pfx = substring(md5(col("doc_id").cast("string")), 1, 2)
    val all = Tables.documents(spark, dir)
    val corpus = all.filter(pfx < "e6")
    // ONE tokenize pass builds a SLIM per-doc frame (counts + content
    // hash — no token arrays: caching array columns measured SLOWER
    // than recompute, 71 s vs 55 s warm at sf10, while recomputing the
    // tokenize for every census cost ~3 passes); every census and
    // window below reads this cache, and only the gram probe re-touches
    // text, once, via a semi join of the scan against the survivors
    val np0 = spark.conf.get("spark.sql.shuffle.partitions").toIntOption
      .getOrElse(spark.sparkContext.defaultParallelism)
    val slim = corpus
      .select(col("doc_id"), col("source"), col("text"), col("n_chars"))
      .repartition(np0, col("doc_id")) // same parallelism rule as the gram pass
      .select(col("doc_id"), col("source"),
        size(split(trim(col("text")), "\\s+")).as("n_toks"),
        length(regexp_replace(col("text"), "[A-Za-z0-9\\s]", "")).as("n_punct"),
        col("n_chars"), md5(col("text")).as("th"))
      .cache().transform(graft.util.Checkpoints.track)
    val quality = slim.filter(col("n_toks") >= 5 &&
      col("n_punct").cast("double") / col("n_chars") < 0.2)
    val exact = quality
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("th")).orderBy(col("doc_id"))))
      .filter(col("__rn") === 1).drop("__rn")
    val labels = dedupLabels(spark, dir).withColumnRenamed("id", "doc_id")
    val near = exact.join(labels, Seq("doc_id"), "left")
      .withColumn("ck", coalesce(col("label"), col("doc_id")))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("ck")).orderBy(col("doc_id"))))
      .filter(col("__rn") === 1).drop("__rn", "label", "ck")
      .cache().transform(graft.util.Checkpoints.track) // feeds gram probe + census + final
    // the q141 parallelism rule again: repartition ahead of the
    // expensive interpreted gram map so its task count never degrades to
    // the scan split count (A/B at sf10: 137.8 s unrepartitioned vs
    // 11.1 s at 32 tasks for the corpus gram pass alone)
    def gramHashes(df: DataFrame) = df
      .select(col("doc_id"), col("text"))
      .repartition(np0, col("doc_id"))
      .select(col("doc_id"), explode(expr(
        s"""flatten(transform(array(filter(split(trim(text), '\\\\s+'), t -> t <> '')), ts ->
           |  if(size(ts) >= $ContamGram,
           |    transform(sequence(0, size(ts) - $ContamGram), i ->
           |      unhex(md5(concat_ws(' ', slice(ts, i + 1, $ContamGram))))),
           |    CAST(array() AS array<binary>))))""".stripMargin)).as("gh"))
    val evalGrams = gramHashes(all.filter(pfx >= "e6"))
      .select(col("gh")).distinct()
    val contaminated = gramHashes(
        all.join(near.select(col("doc_id")), Seq("doc_id"), "leftsemi"))
      .join(evalGrams, Seq("gh"), "leftsemi")
      .select(col("doc_id")).distinct()
    val fin = near.join(contaminated, Seq("doc_id"), "left_anti")
    def census(df: DataFrame, name: String) =
      df.groupBy(col("source")).agg(count(lit(1)).as(name))
    census(corpus, "n_raw")
      .join(census(quality, "n_quality"), Seq("source"), "left")
      .join(census(exact, "n_exact"), Seq("source"), "left")
      .join(census(near, "n_near"), Seq("source"), "left")
      .join(fin.groupBy(col("source")).agg(count(lit(1)).as("n_final"),
        sum(col("n_toks").cast("long")).as("final_tokens")), Seq("source"), "left")
      .select(col("source"), col("n_raw"),
        coalesce(col("n_quality"), lit(0L)).as("n_quality"),
        coalesce(col("n_exact"), lit(0L)).as("n_exact"),
        coalesce(col("n_near"), lit(0L)).as("n_near"),
        coalesce(col("n_final"), lit(0L)).as("n_final"),
        coalesce(col("final_tokens"), lit(0L)).as("final_tokens"),
        graft.weather.WeatherPipeline.roundSafe(
          coalesce(col("n_final"), lit(0L)).cast("double") / col("n_raw"), 6).as("yield6"))
      .orderBy(col("source"))
  }

  val q145Sql: String = {
    val pairsSelect = q45SqlBody
    s"""WITH RECURSIVE pairs AS (
       |$pairsSelect),
       |nodes AS (
       |  SELECT DISTINCT doc_id FROM (
       |    SELECT doc_a AS doc_id FROM pairs UNION SELECT doc_b FROM pairs)),
       |e2 AS (
       |  SELECT doc_a AS a, doc_b AS b FROM pairs
       |  UNION SELECT doc_b, doc_a FROM pairs),
       |reach AS (
       |  SELECT doc_id AS node, doc_id AS m FROM nodes
       |  UNION
       |  SELECT e.b AS node, r.m FROM reach r JOIN e2 e ON e.a = r.node),
       |comp AS (SELECT node, MIN(m) AS label FROM reach GROUP BY node),
       |corpus AS (
       |  SELECT doc_id, source, text, n_chars,
       |    len(regexp_split_to_array(trim(text), '\\s+')) AS n_toks,
       |    length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS n_punct
       |  FROM documents
       |  WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6'),
       |quality AS (
       |  SELECT * FROM corpus
       |  WHERE n_toks >= 5 AND CAST(n_punct AS DOUBLE)/n_chars < 0.2),
       |exact AS (
       |  SELECT * FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
       |    FROM quality) WHERE rn = 1),
       |near AS (
       |  SELECT * FROM (
       |    SELECT e.*, ROW_NUMBER() OVER (
       |      PARTITION BY COALESCE(comp.label, e.doc_id) ORDER BY e.doc_id) AS rn2
       |    FROM exact e LEFT JOIN comp ON e.doc_id = comp.node) WHERE rn2 = 1),
       |evg AS (
       |  SELECT DISTINCT unhex(md5(array_to_string(
       |    toks[i : i + ${ContamGram - 1}], ' '))) AS gh FROM (
       |    SELECT regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents
       |    WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) >= 'e6'),
       |    UNNEST(generate_series(1, len(toks) - ${ContamGram - 1})) AS u(i)
       |  WHERE len(toks) >= $ContamGram),
       |contam AS (
       |  SELECT DISTINCT doc_id FROM (
       |    SELECT n.doc_id, unhex(md5(array_to_string(
       |      toks[i : i + ${ContamGram - 1}], ' '))) AS gh FROM (
       |      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM near) n,
       |      UNNEST(generate_series(1, len(toks) - ${ContamGram - 1})) AS u(i)
       |    WHERE len(toks) >= $ContamGram) g
       |  WHERE gh IN (SELECT gh FROM evg)),
       |fin AS (SELECT * FROM near WHERE doc_id NOT IN (SELECT doc_id FROM contam)),
       |r AS (SELECT source, COUNT(*) AS n_raw FROM corpus GROUP BY 1),
       |q AS (SELECT source, COUNT(*) AS n_quality FROM quality GROUP BY 1),
       |x AS (SELECT source, COUNT(*) AS n_exact FROM exact GROUP BY 1),
       |nn AS (SELECT source, COUNT(*) AS n_near FROM near GROUP BY 1),
       |f AS (SELECT source, COUNT(*) AS n_final, SUM(n_toks) AS final_tokens
       |  FROM fin GROUP BY 1)
       |SELECT r.source AS source, CAST(r.n_raw AS BIGINT) AS n_raw,
       |  CAST(COALESCE(q.n_quality, 0) AS BIGINT) AS n_quality,
       |  CAST(COALESCE(x.n_exact, 0) AS BIGINT) AS n_exact,
       |  CAST(COALESCE(nn.n_near, 0) AS BIGINT) AS n_near,
       |  CAST(COALESCE(f.n_final, 0) AS BIGINT) AS n_final,
       |  CAST(COALESCE(f.final_tokens, 0) AS BIGINT) AS final_tokens,
       |  round(round((CAST(COALESCE(f.n_final, 0) AS DOUBLE) / r.n_raw) * 1e8) / 100) / 1e6
       |    + 0.0 AS yield6
       |FROM r LEFT JOIN q ON r.source = q.source
       |  LEFT JOIN x ON r.source = x.source
       |  LEFT JOIN nn ON r.source = nn.source
       |  LEFT JOIN f ON r.source = f.source
       |ORDER BY r.source""".stripMargin
  }

  // ------------------------------------------------------------------
  // q155 — VOCABULARY GROWTH (Heaps' law) corpus profile: the corpus is
  // split into 8 deterministic md5 buckets (a growth curve over
  // reproducible prefixes), and for each prefix p = 1..8 the query
  // reports cumulative docs, token occurrences, DISTINCT vocabulary,
  // per-bucket NEW types, and the type/token ratio — the saturation
  // curve that tells a training-data pipeline whether more corpus still
  // buys new vocabulary (Heaps: V ~ K·N^β, β<1 ⇒ new-type yield decays).
  //
  // Scale shape: ONE corpus-scale shuffle — explode(tokens) →
  // groupBy(token, bucket).count (map-side combinable) — and every
  // later step is dictionary-sized: a token's FIRST bucket is
  // min(bucket) over its 8 per-bucket rows, vocab_cum at p is a cumsum
  // over the 8-row bucket census, occurrences likewise. The naive
  // formulation (8 separate COUNT(DISTINCT) over growing prefixes)
  // re-scans the corpus 8 times and shuffles the distinct set each
  // time; the min-bucket trick pays one pass. Cross-engine: integer
  // counts + one final double division.
  // ------------------------------------------------------------------
  def q155VocabGrowth(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .withColumn("bucket",
        expr("CAST(CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 2), 16, 10) AS INT) div 32 + 1 AS INT)"))
    // the one corpus-scale shuffle: per-(token, bucket) occurrence counts
    val tb = docs
      .select(col("bucket"),
        explode(split(trim(lower(col("text"))), "\\s+")).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col("tok"), col("bucket"))
      .agg(count(lit(1)).as("n"))
      .cache().transform(graft.util.Checkpoints.track) // dictionary x 8
    // per-bucket occurrence census + per-token first bucket (tiny)
    val occ = tb.groupBy(col("bucket")).agg(sum(col("n")).as("occ"))
    val firstSeen = tb.groupBy(col("tok")).agg(min(col("bucket")).as("b0"))
      .groupBy(col("b0")).agg(count(lit(1)).as("new_types"))
    val nd = docs.groupBy(col("bucket")).agg(count(lit(1)).as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("bucket"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    nd.join(occ, "bucket")
      .join(firstSeen.withColumnRenamed("b0", "bucket"), Seq("bucket"), "left")
      .na.fill(0L, Seq("new_types"))
      // 8-row frame: the single-partition window is the q102 top-slice shape
      .withColumn("n_docs_cum", sum(col("n_docs")).over(w))
      .withColumn("n_tokens_cum", sum(col("occ")).over(w))
      .withColumn("vocab_cum", sum(col("new_types")).over(w))
      .select(col("bucket"), col("n_docs_cum"), col("n_tokens_cum"),
        col("new_types"), col("vocab_cum"),
        (col("vocab_cum").cast("double") / col("n_tokens_cum").cast("double"))
          .as("type_token_ratio"))
      .orderBy(col("bucket"))
  }

  val q155Sql: String =
    """WITH d AS (
      |  SELECT CAST(CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 2))
      |      AS UBIGINT) AS BIGINT) // 32 + 1 AS bucket,
      |    regexp_split_to_array(trim(lower(text)), '\s+') AS toks
      |  FROM documents),
      |tb AS (
      |  SELECT bucket, t.tok, COUNT(*) AS n
      |  FROM d, unnest(toks) AS t(tok) WHERE t.tok <> ''
      |  GROUP BY 1, 2),
      |occ AS (SELECT bucket, SUM(n) AS occ FROM tb GROUP BY 1),
      |fs AS (
      |  SELECT b0 AS bucket, COUNT(*) AS new_types FROM (
      |    SELECT tok, MIN(bucket) AS b0 FROM tb GROUP BY 1) GROUP BY 1),
      |nd AS (SELECT bucket, COUNT(*) AS n_docs FROM d GROUP BY 1),
      |j AS (
      |  SELECT nd.bucket, nd.n_docs, occ.occ,
      |    COALESCE(fs.new_types, 0) AS new_types
      |  FROM nd JOIN occ USING (bucket) LEFT JOIN fs USING (bucket))
      |SELECT bucket,
      |  CAST(SUM(n_docs) OVER wc AS BIGINT) AS n_docs_cum,
      |  CAST(SUM(occ) OVER wc AS BIGINT) AS n_tokens_cum,
      |  CAST(new_types AS BIGINT) AS new_types,
      |  CAST(SUM(new_types) OVER wc AS BIGINT) AS vocab_cum,
      |  CAST(SUM(new_types) OVER wc AS DOUBLE)
      |    / CAST(SUM(occ) OVER wc AS DOUBLE) AS type_token_ratio
      |FROM j
      |WINDOW wc AS (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |ORDER BY bucket""".stripMargin

  // ------------------------------------------------------------------
  // q156 — EPOCH ASSEMBLY BY RATE SAMPLING: the sampling-family answer
  // to q138's prefix-cut. Same √-temperature budgets (global budget =
  // half the corpus, split ∝ floor(√tot_s)); but instead of cutting a
  // deterministic hash-order prefix at exactly the budget, each doc is
  // kept with per-source probability p_s = min(1, budget_s/tot_s) —
  // E[kept tokens] = budget_s EXACTLY (token-unbiased: every token's
  // inclusion probability is p_s), docs stay i.i.d.-sampled rather
  // than hash-prefix-biased, and repeated epochs reroll by salting the
  // hash. The trade measured in the output: fill_ratio fluctuates
  // around 1 (binomial) where q138 pins it ≤ 1 tightly; the
  // Horvitz-Thompson column estimates the source total from the kept
  // tokens alone (kept·tot/budget — the estimator a profiler uses when
  // only the sample survives).
  //
  // Scale + determinism: inclusion is h48·tot_s < budget_s·2^48
  // evaluated in DECIMAL(38,0)/HUGEINT — EXACT integer arithmetic in
  // both engines (the double form would round at ~2^53: budgets at
  // 100 TB are ~1e13 tokens, ×2^48 ≫ 2^53) — one broadcast of the
  // 20-row budget table and a map-side filter; no state, no sort, no
  // window. The one corpus-scale pass is the tokenize.
  // ------------------------------------------------------------------
  def q156EpochSample(spark: SparkSession, dir: String): DataFrame = {
    val t = withToks(Tables.documents(spark, dir))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("h48",
        expr("CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 12), 16, 10) AS BIGINT)"))
      .select(col("source"), col("doc_id"), col("n_tokens"), col("h48"))
      .cache().transform(graft.util.Checkpoints.track) // feeds budgets + filter
    val srcs = t.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("tot_tokens"))
      .withColumn("weight", floor(sqrt(col("tot_tokens").cast("double"))).cast("long"))
    val g = srcs.agg(expr("sum(tot_tokens) div 2").as("bg"), sum(col("weight")).as("sw"))
    val budgets = srcs.crossJoin(broadcast(g))
      .withColumn("budget_tokens",
        expr("CAST((CAST(bg AS DECIMAL(38,0)) * weight) DIV sw AS BIGINT)"))
      .select(col("source"), col("n_docs"), col("tot_tokens"),
        col("weight"), col("budget_tokens"))
    val kept = t.join(broadcast(budgets), "source")
      .filter(col("budget_tokens") >= col("tot_tokens") ||
        expr("CAST(h48 AS DECIMAL(38,0)) * tot_tokens < CAST(budget_tokens AS DECIMAL(38,0)) * 281474976710656"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs_kept"), sum(col("n_tokens")).as("tokens_kept"))
    budgets.join(kept, Seq("source"), "left")
      .na.fill(0L, Seq("n_docs_kept", "tokens_kept"))
      .select(col("source"), col("n_docs"), col("tot_tokens"), col("weight"),
        col("budget_tokens"), col("n_docs_kept"), col("tokens_kept"),
        (col("tokens_kept").cast("double") / col("budget_tokens").cast("double"))
          .as("fill_ratio"),
        (col("tokens_kept").cast("double") * col("tot_tokens").cast("double")
          / least(col("budget_tokens"), col("tot_tokens")).cast("double"))
          .as("ht_total_est"))
      .orderBy(col("source"))
  }

  val q156Sql: String =
    """WITH t AS (
      |  SELECT source, doc_id,
      |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
      |    CAST(CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 12))
      |      AS UBIGINT) AS BIGINT) AS h48
      |  FROM documents),
      |s AS (
      |  SELECT source, COUNT(*) AS n_docs, SUM(n_tokens) AS tot_tokens,
      |    CAST(FLOOR(SQRT(CAST(SUM(n_tokens) AS DOUBLE))) AS BIGINT) AS weight
      |  FROM t GROUP BY 1),
      |g AS (SELECT SUM(tot_tokens) // 2 AS bg, SUM(weight) AS sw FROM s),
      |b AS (
      |  SELECT source, n_docs, tot_tokens, weight,
      |    CAST(CAST(bg AS HUGEINT) * weight // sw AS BIGINT) AS budget_tokens
      |  FROM s, g),
      |k AS (
      |  SELECT t.source, COUNT(*) AS n_docs_kept, SUM(t.n_tokens) AS tokens_kept
      |  FROM t JOIN b USING (source)
      |  WHERE b.budget_tokens >= b.tot_tokens
      |     OR CAST(t.h48 AS HUGEINT) * b.tot_tokens
      |        < CAST(b.budget_tokens AS HUGEINT) * 281474976710656
      |  GROUP BY 1)
      |SELECT b.source, CAST(b.n_docs AS BIGINT) AS n_docs,
      |  CAST(b.tot_tokens AS BIGINT) AS tot_tokens,
      |  CAST(b.weight AS BIGINT) AS weight,
      |  b.budget_tokens,
      |  CAST(COALESCE(k.n_docs_kept, 0) AS BIGINT) AS n_docs_kept,
      |  CAST(COALESCE(k.tokens_kept, 0) AS BIGINT) AS tokens_kept,
      |  CAST(COALESCE(k.tokens_kept, 0) AS DOUBLE)
      |    / CAST(b.budget_tokens AS DOUBLE) AS fill_ratio,
      |  CAST(COALESCE(k.tokens_kept, 0) AS DOUBLE)
      |    * CAST(b.tot_tokens AS DOUBLE)
      |    / CAST(LEAST(b.budget_tokens, b.tot_tokens) AS DOUBLE) AS ht_total_est
      |FROM b LEFT JOIN k ON b.source = k.source
      |ORDER BY b.source""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q40_text_stats"     -> (q40TextStats _),
    "q41_lang_id"        -> (q41LangId _),
    "q42_fingerprint"    -> (q42Fingerprint _),
    "q43_dedup_exact"    -> (q43DedupExact _),
    "q44_ngram_jaccard"  -> (q44NgramJaccard _),
    "q45_minhash_lsh"    -> (q45MinhashLsh _),
    "q46_simhash"        -> (q46Simhash _),
    "q70_hash_sample"    -> (q70HashSample _),
    "q71_dataset_split"  -> (q71DatasetSplit _),
    "q72_corpus_curation" -> (q72CorpusCuration _),
    "q77_dedup_clusters" -> (q77DedupClusters _),
    "q78_source_mixing"  -> (q78SourceMixing _),
    "q80_pii_redact"     -> (q80PiiRedact _),
    "q95_sequence_packing" -> (q95SequencePacking _),
    "q96_packed_sequences" -> (q96PackedSequences _),
    "q97_repetition"       -> (q97Repetition _),
    "q85_tfidf"          -> (q85Tfidf _),
    "q86_incr_dedup"     -> (q86IncrementalDedup _),
    "q184_lsh_incremental" -> (LshIndex.q184LshIncremental _),
    "q101_stratified_sample" -> (q101StratifiedSample _),
    "q103_dedup_apply"   -> (q103DedupApply _),
    "q110_chunking"      -> (q110Chunking _),
    "q111_decontamination" -> (q111Decontamination _),
    "q114_length_buckets" -> (q114LengthBuckets _),
    "q120_cooccurrence"  -> (q120Cooccurrence _),
    "q123_bm25"          -> (q123Bm25 _),
    "q126_char_entropy"  -> (q126CharEntropy _),
    "q133_vocab_coverage" -> (q133VocabCoverage _),
    "q134_rrf_fusion"    -> (q134RrfFusion _),
    "q136_sorted_neighborhood" -> (q136SortedNeighborhood _),
    "q138_token_budget"  -> (q138TokenBudget _),
    "q141_substring_dedup" -> (q141SubstringDedup _),
    "q143_bpe_merges"    -> (q143BpeMerges _),
    "q147_bpe_encode"    -> (q147BpeEncode _),
    "q155_vocab_growth"  -> (q155VocabGrowth _),
    "q156_epoch_sample"  -> (q156EpochSample _),
    "q144_leakage_safe_split" -> (q144LeakageSafeSplit _),
    "q145_curation_funnel" -> (q145CurationFunnel _),
  )

  val oracleSql: Map[String, String] = Map(
    "q40_text_stats"     -> q40Sql,
    "q41_lang_id"        -> q41Sql,
    "q42_fingerprint"    -> q42Sql,
    "q43_dedup_exact"    -> q43Sql,
    "q44_ngram_jaccard"  -> q44Sql,
    "q45_minhash_lsh"    -> q45Sql,
    "q46_simhash"        -> q46Sql,
    "q70_hash_sample"    -> q70Sql,
    "q71_dataset_split"  -> q71Sql,
    "q72_corpus_curation" -> q72Sql,
    "q77_dedup_clusters" -> q77Sql,
    "q78_source_mixing"  -> q78Sql,
    "q80_pii_redact"     -> q80Sql,
    "q95_sequence_packing" -> q95Sql,
    "q96_packed_sequences" -> q96Sql,
    "q97_repetition"       -> q97Sql,
    "q85_tfidf"          -> q85Sql,
    "q86_incr_dedup"     -> q86Sql,
    "q184_lsh_incremental" -> LshIndex.q184Sql,
    "q101_stratified_sample" -> q101Sql,
    "q103_dedup_apply"   -> q103Sql,
    "q110_chunking"      -> q110Sql,
    "q111_decontamination" -> q111Sql,
    "q114_length_buckets" -> q114Sql,
    "q120_cooccurrence"  -> q120Sql,
    "q123_bm25"          -> q123Sql,
    "q126_char_entropy"  -> q126Sql,
    "q133_vocab_coverage" -> q133Sql,
    "q134_rrf_fusion"    -> q134Sql,
    "q136_sorted_neighborhood" -> q136Sql,
    "q138_token_budget"  -> q138Sql,
    "q141_substring_dedup" -> q141Sql,
    "q143_bpe_merges"    -> q143Sql,
    "q147_bpe_encode"    -> q147Sql,
    "q155_vocab_growth"  -> q155Sql,
    "q156_epoch_sample"  -> q156Sql,
    "q144_leakage_safe_split" -> q144Sql,
    "q145_curation_funnel" -> q145Sql,
  )
}
