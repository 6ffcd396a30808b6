package graft.operators

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.plans.{JoinSynopsis, SynopsisStats, ValueSynopsis}
import graft.sources.Tables
import graft.util.Md5

/** q169 — a DECLARED query whose PLAN comes from the statistics
  * catalog, end-to-end (r11 verdict #1): Catalyst's own cost-based
  * join reorder, fed exclusively by table-served synopsis statistics
  * ([[graft.plans.JoinSynopsis.fromTable]] → calibrated rowCounts,
  * [[graft.plans.ValueSynopsis.fromTable]] → value histograms), plans
  * a 3-way join over the events corpus. ANALYZE never runs; no graft
  * planner rule is involved — the statistics the engine maintains
  * incrementally in its sketch table ARE the planner's inputs.
  *
  * This closes, Catalyst-owned, the reference's one manual
  * optimization (`aggregation.py:1-8` — "KEY FIX: start with data,
  * not postal codes", i.e. schedule the SELECTIVE side first instead
  * of the order the SQL happens to spell): the query below is WRITTEN
  * in the bad order (the two big unfiltered types join first; the
  * 98%-selective purchase filter joins last), and the injected
  * statistics chain — exact rowCount + join-key NDV/bounds +
  * calibrated effective cardinality + the value histogram driving
  * FilterEstimation — lets CostBasedJoinReorder schedule the filtered
  * purchase side first. Stats off (`spark.graft.stats.cbo=false`,
  * the RunOne A/B knob), the literal order stands and the plan pays
  * the |view ⋈ click| intermediate (~100x the good order's, every
  * scale — sf10 numbers in PLANS). StatsJoinCboSpec pins the executed
  * join order against [[JoinSynopsis.cheapestJoinFirst]]'s rank-1
  * schedule, fixture and sf10.
  *
  * The per-type TABLES are a durable, INCREMENTALLY-maintained layout
  * of the corpus (`pt=<type>/pd=<day>/` parquet — the
  * partition-by-type-and-day layout any production events pipeline
  * lands anyway), maintained under the KmvTable consistency contract:
  * consumed-file identity tracking, manifest GENERATIONS (an append
  * reads only the new feed files and REWRITES only the touched
  * (type, day) partitions into a fresh committed generation; untouched
  * partitions ride forward by manifest reference), atomic `_COMMITTED`
  * markers, reference sweeping with one-prior retention for in-flight
  * readers, and full rebuild on corpus MUTATION. The catalog side is
  * Spark-native: each type is an external PARTITIONED catalog table
  * whose per-partition LOCATIONs point into the owning generation dirs
  * — the manifest expressed as Spark's own partition metadata, synced
  * per session on registration (catalog statistics attach to catalog
  * tables: that is where ANALYZE writes). At 100 TB: the layout pays
  * one read per feed file EVER plus O(touched partitions) per append
  * (StatsLayoutSpec pins the file counts), the statistics injection is
  * KB-sized driver metadata, and the query itself ships with whatever
  * join order the statistics justify — which is the whole point.
  */
object StatsJoin {

  /** FULL layout builds in this JVM — initial build or mutation-forced
    * rebuild (spec observable: a fresh-stamp call must not rebuild,
    * and an APPEND must not count here). */
  private[graft] val layoutBuilds = new AtomicLong
  /** Feed part files read by layout maintenance in this JVM (spec
    * observable: an append must scan exactly the appended files). */
  private[graft] val layoutFilesScanned = new AtomicLong
  /** Full register+sync passes (layout maintenance, catalog-table
    * sweep, partition-metadata diff) in this JVM — spec observable for
    * the feed-stamp memo: a repeat call on an unchanged corpus must be
    * a pure memo hit, issuing ZERO catalog listings or feed work. */
  private[graft] val regSyncs = new AtomicLong
  /** Statistics injections actually performed (spec observable for the
    * stats-stamp short-circuit: unchanged stamp → no injection;
    * stale stamp → re-inject). */
  private[graft] val statsInjections = new AtomicLong

  /** (sharedState, layoutRoot) → (feedStamp, type → catalog table) —
    * the ROOT, not the corpus dir, because a conf-overridden
    * `spark.graft.evlayout.dir` (spec isolation) changes which physical
    * layout the same corpus's tables must point at. Catalog
    * tables, their partitions, and their statistics all live in the
    * SHARED external catalog, so the memo keys on the shared state —
    * a child session (q169/q170 run their SQL in one) sees the same
    * entries. Per-call freshness reduces to one feed listing: the
    * stamp IS ensureTypedLayout's no-op condition, so a hit skips the
    * layout listing-and-anti-join, the vanished-table sweep, and the
    * per-type partition diff (~0.5 s + O(catalog) metadata at sf10,
    * 100% of the steady-state premium the r12 verdict flagged). */
  private val regMemo = new java.util.concurrent.ConcurrentHashMap[
    (AnyRef, String), (String, Map[String, String])]()
  /** (sharedState, layoutRoot, consumerName) → feedStamp at last
    * injection.
    * Separate keys per consumer: q169 and q170 inject disjoint table
    * treatments and must not skip on each other's stamps. */
  private val statsMemo = new java.util.concurrent.ConcurrentHashMap[
    (AnyRef, String, String), String]()
  /** (sharedState, layoutRoot, dim, facts) → (feedStamp, injected?,
    * alias map) at the last [[registerCalibratedAliases]] call — the
    * same freshness short-circuit runStatsPlanned rides (r15 ADVICE:
    * the unconditional maintain + two synopsis builds duplicated the
    * runner's own work inside every q185 call, ~0.4 s each at sf10).
    * The injected FLAG is part of the hit condition, not the key: an
    * A/B arm flip (inject on ↔ off) must always re-run — a key'd-by-
    * flag memo would let the on-arm skip re-injection after the
    * off-arm cleared the alias's statistics, and vice versa. */
  private val aliasMemo = new java.util.concurrent.ConcurrentHashMap[
    (AnyRef, String, String, Seq[String]),
    (String, Boolean, Map[String, String])]()

  /** Spec/teardown hook: drop the stamp memos so the next call re-syncs
    * and re-injects (a spec that perturbs catalog stats or drops tables
    * must clear first — the CacheManager-lesson discipline applied to
    * this memo tier). */
  def clearMemo(): Unit = {
    regMemo.clear(); statsMemo.clear(); aliasMemo.clear()
  }

  /** Layout maintenance serializes per layout ROOT, not JVM-globally: a
    * cold corpus-scale build (~23 s at sf10) must not block concurrent
    * sessions maintaining OTHER corpora (the r12 verdict's lock-scope
    * nit); two writers of the SAME root still serialize. */
  private val rootLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Stats-planned consumer names that ran in this JVM — the sibling
    * universe the stats-off arm's refresher sweep iterates (a
    * refresher can only have been registered by a stats-on call here,
    * which also recorded its name). */
  private val consumers =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** `spark.graft.stats.cbo` (default on): the A/B knob for the
    * measured stats-on vs stats-off delta — off, q169 neither injects
    * statistics nor enables CBO, so the literal (bad) join order runs. */
  private[graft] def statsCboOn(spark: SparkSession): Boolean =
    !spark.conf.getOption("spark.graft.stats.cbo").contains("false")

  private def layoutRoot(spark: SparkSession, dir: String): String =
    spark.conf.getOption("spark.graft.evlayout.dir")
      .getOrElse(sys.props("java.io.tmpdir") + s"/graft_ev_layout/${Md5.hex(dir)}")

  private def esc(v: String): String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName(v)
  private def unesc(v: String): String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.unescapePathName(v)

  private def readText(fs: org.apache.hadoop.fs.FileSystem,
      path: String): Option[String] = {
    val p = new org.apache.hadoop.fs.Path(path)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(
        org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8"))
      finally in.close()
    }
  }

  private def writeText(fs: org.apache.hadoop.fs.FileSystem,
      path: String, s: String): Unit = {
    val out = fs.create(new org.apache.hadoop.fs.Path(path), false)
    try out.write(s.getBytes("UTF-8")) finally out.close()
  }

  private val GenRe = "gen-(\\d+)".r

  /** Bring the per-type layout up to date with `dir`'s feed and return
    * the live partition map: (type, day) → owning partition dir. The
    * KmvTable maintenance contract, applied to ROWS instead of
    * sketches (data columns user_id / d / v-cents + the type, under
    * shadow partition dirs `pt=<type>/pd=<day>`; null-user rows
    * dropped — they can never satisfy the equi-join):
    *
    *  - consumed-file identity (name, len, mtime): a no-op returns by
    *    manifest reference with ZERO feed reads; an APPEND reads only
    *    the new files, merges only the touched (type, day) partitions
    *    (prior partition rows ∪ new rows — the layout mirrors the
    *    append-only feed, so the merge is a plain union) and writes
    *    only them into gen-(n+1); a MUTATED corpus forces a full
    *    rebuild;
    *  - the manifest (`gen<TAB>type<TAB>day`, escaped) maps every live
    *    partition to its owning generation; commit = atomic
    *    `_COMMITTED` create; sweep keeps generations referenced by the
    *    new OR the prior committed manifest (in-flight lazy readers),
    *    and clears uncommitted leftovers of crashed runs first. */
  def ensureTypedLayout(spark: SparkSession, dir: String)
      : Map[(String, String), String] = {
    val root = layoutRoot(spark, dir)
    rootLocks.computeIfAbsent(root, _ => new Object).synchronized {
      ensureTypedLayoutLocked(spark, dir, root)
    }
  }

  private def ensureTypedLayoutLocked(spark: SparkSession, dir: String,
      root: String): Map[(String, String), String] = {
    val rp = new org.apache.hadoop.fs.Path(root)
    val fs = rp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def partDir(g: Long, t: String, d: String): String =
      s"$root/gen-$g/parts/pt=${esc(t)}/pd=${esc(d)}"
    def dirsOf(m: Map[(String, String), Long]): Map[(String, String), String] =
      m.map { case ((t, d), g) => (t, d) -> partDir(g, t, d) }
    // one-time migration sweep: the pre-manifest layout used
    // gen-<stampHash> dir names the numeric sweeps can never match —
    // left alone they leak a corpus-scale dir forever (the KmvTable
    // legacy-migration contract: stale dirs deleted, not lingering)
    if (fs.exists(rp)) fs.listStatus(rp).toSeq.foreach { s =>
      val n = s.getPath.getName
      if (s.isDirectory && n.startsWith("gen-") &&
          !GenRe.pattern.matcher(n).matches()) {
        fs.delete(s.getPath, true); ()
      }
    }
    val parts = KmvTable.partFilesWithStamp(spark, dir)
    val curSet = parts.map(_._1).toSet
    val committed: Option[Long] = KmvTable.latestCommitted(fs, root)
    val priorManifest: Map[(String, String), Long] = committed.toSeq.flatMap { g =>
      readText(fs, s"$root/gen-$g/manifest").toSeq.flatMap(
        _.split("\n").iterator.filter(_.nonEmpty).map { line =>
          val Array(gen, t, d) = line.split("\t", 3)
          (unesc(t), unesc(d)) -> gen.toLong
        })
    }.toMap
    val priorConsumed: Set[String] = committed.flatMap(g =>
      readText(fs, s"$root/gen-$g/consumed"))
      .map(_.split("\n").iterator.filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty)
    if (committed.isDefined && priorConsumed == curSet)
      return dirsOf(priorManifest)
    // a consumed file no longer listed with the same identity means the
    // corpus was MUTATED, not appended — full rebuild (as in KmvTable)
    val mutated = committed.isEmpty || !priorConsumed.subsetOf(curSet)
    if (mutated) layoutBuilds.incrementAndGet()
    val newPaths =
      if (mutated) parts.map(_._2)
      else parts.collect { case (l, p) if !priorConsumed(l) => p }
    layoutFilesScanned.addAndGet(newPaths.size)
    val base: Map[(String, String), Long] =
      if (mutated) Map.empty else priorManifest
    val nextN = committed.getOrElse(-1L) + 1
    def sweepGens(pred: Long => Boolean): Unit =
      if (fs.exists(rp)) fs.listStatus(rp).toSeq.foreach { s =>
        s.getPath.getName match {
          case GenRe(n) if pred(n.toLong) => fs.delete(s.getPath, true); ()
          case _ => ()
        }
      }
    sweepGens(_ >= nextN) // uncommitted leftovers of crashed runs
    // generation COMPACTION (the KmvTable rule at row scale), made
    // PER-PARTITION this round (r12 verdict #4): when the prospective
    // manifest would reference more than
    // spark.graft.layout.maxGenerations (16) generations, this run
    // retires just enough generations to come back under the bound, by
    // folding the partitions they own into the new generation alongside
    // the touched ones. Every other generation rides forward by
    // reference, so the rewrite is O(partitions owned by the retired
    // gens) — the r12 shape rewrote EVERY live partition at the bound —
    // and the feed is still never re-read (files_scanned counts only
    // the new files). Retirement picks the generations owning the
    // FEWEST partitions (age as tie-break), not the oldest: the
    // full-build generation is the oldest forever, so oldest-first
    // would re-pay a table-sized fold on every bound hit; under
    // fewest-first the bulk generation simply stays one of the ≤16
    // references while the small append generations — the ones whose
    // proliferation the bound exists to stop — fold cheaply (a refolded
    // group doubles in size each time, so a partition re-folds O(log)
    // times before it rides a big generation). Dead superseded copies
    // are reclaimed by the reference sweep regardless of age.
    val maxGens = spark.conf.getOption("spark.graft.layout.maxGenerations")
      .flatMap(v => scala.util.Try(v.trim.toInt).toOption)
      .filter(_ >= 1).getOrElse(16)
    val schema = "et STRING, user_id BIGINT, d DATE, v BIGINT"
    def readPartitions(m: Map[(String, String), Long]): Option[DataFrame] =
      if (m.isEmpty) None
      else Some(spark.read.schema(schema)
        .parquet(m.toSeq.sortBy(_._1).map { case ((t, d), g) =>
          partDir(g, t, d) }: _*)
        .withColumn("pd", col("d").cast("string")))
    // the file-subset read needs the ts physical-type conf SET (the
    // normalizeEventsTs precondition — Tables.events does this for
    // whole-feed readers; a fresh session reaching this path first
    // would otherwise die on INT64 TIMESTAMP(NANOS) footers)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // rows with a null type or timestamp have no partition home —
    // excluded from the layout's population (and from q169's oracle
    // frame, which states the same filters); the corpus carries
    // neither, so the gate hashes are unchanged
    def projected(paths: Seq[String]): DataFrame =
      Tables.normalizeEventsTs(spark.read.parquet(paths: _*))
        .filter(col("user_id").isNotNull && col("event_type").isNotNull &&
          col("ts").isNotNull)
        .select(col("event_type").as("et"), col("user_id"),
          to_date(col("ts")).as("d"),
          when(col("value").isNotNull,
            (col("value").cast("decimal(18,2)") * lit(100)).cast("long"))
            .as("v"))
        .withColumn("pd", col("d").cast("string"))
    /** The (type, day) partition dirs a write actually produced —
      * listed, not pre-collected, so the FULL-build path stays one
      * feed scan (no touched-keys pass). */
    def writtenKeys(n: Long): Set[(String, String)] = {
      val pp = new org.apache.hadoop.fs.Path(s"$root/gen-$n/parts")
      if (!fs.exists(pp)) Set.empty
      else fs.listStatus(pp).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("pt="))
        .flatMap { pt =>
          val t = unesc(pt.getPath.getName.stripPrefix("pt="))
          fs.listStatus(pt.getPath).toSeq
            .filter(s => s.isDirectory && s.getPath.getName.startsWith("pd="))
            .map(pd => (t, unesc(pd.getPath.getName.stripPrefix("pd="))))
        }.toSet
    }
    val manifest: Map[(String, String), Long] =
      if (newPaths.isEmpty) base
      else if (base.isEmpty) {
        // full build / rebuild: ONE feed scan straight to the writer;
        // the manifest is the written partition listing
        projected(newPaths)
          .withColumn("pt", col("et"))
          .write.mode("overwrite").partitionBy("pt", "pd")
          .parquet(s"$root/gen-$nextN/parts")
        writtenKeys(nextN).iterator.map(_ -> nextN).toMap
      } else {
        // APPEND: the touched keys gate which prior partitions ride in,
        // so they must be known BEFORE the write — cache the (small)
        // new-file scan: the touched collect and the generation write
        // both consume it (the KmvTable rule)
        val newRows = projected(newPaths).cache()
        try {
          import spark.implicits._
          val touched: Set[(String, String)] = newRows
            .select(col("et"), col("pd")).distinct()
            .as[(String, String)].collect().toSet
          val untouchedOwned = base -- touched
          val gensAfter = untouchedOwned.values.toSet + nextN
          // fewest-partitions-first (oldest as tie-break), just enough
          // generations to satisfy the bound — see the comment above
          val retire: Set[Long] =
            if (gensAfter.size <= maxGens) Set.empty
            else {
              val owned = untouchedOwned.groupBy(_._2)
                .map { case (g, m) => g -> m.size }
              owned.keys.toSeq.sortBy(g => (owned(g), g))
                .take(gensAfter.size - maxGens).toSet
            }
          // prior rows ride in by manifest reference — O(touched) on
          // the append path, plus the retired generations' partitions
          // on a compaction. The files carry et/d as data columns
          // (shadow partition dirs), so a multi-dir read needs no
          // per-dir bookkeeping.
          val carryIn = base.filter { case (k, g) =>
            touched.contains(k) || retire.contains(g) }
          val pre = readPartitions(carryIn)
            .map(_.unionByName(newRows)).getOrElse(newRows)
          pre
            .withColumn("pt", col("et"))
            .write.mode("overwrite").partitionBy("pt", "pd")
            .parquet(s"$root/gen-$nextN/parts")
          base.map { case (k, g) =>
            k -> (if (touched.contains(k) || retire.contains(g)) nextN else g)
          } ++ touched.iterator.map(_ -> nextN)
        } finally { newRows.unpersist(); () }
      }
    writeText(fs, s"$root/gen-$nextN/consumed",
      parts.map(_._1).mkString("\n"))
    writeText(fs, s"$root/gen-$nextN/manifest",
      manifest.toSeq.sortBy(_._1)
        .map { case ((t, d), g) => s"$g\t${esc(t)}\t${esc(d)}" }
        .mkString("\n"))
    fs.create(new org.apache.hadoop.fs.Path(
      s"$root/gen-$nextN/_COMMITTED"), false).close()
    val live = manifest.values.toSet ++ priorManifest.values.toSet ++
      committed.toSet + nextN
    sweepGens(n => !live.contains(n))
    dirsOf(manifest)
  }

  /** Register one external PARTITIONED catalog table per event type and
    * sync its per-partition LOCATIONs to the layout manifest (Spark's
    * own partition metadata carrying the generation mapping): new
    * partitions are ADDed, re-pointed ones SET, vanished ones DROPped —
    * a per-session metadata sync, no data IO. Returns type → table
    * name; names carry a corpus-dir hash so the three gate scales
    * coexist in one session catalog, and sanitized names are required
    * collision-free (two types folding onto one case-insensitive
    * identifier would silently serve one type's rows for the other). */
  def registerTypedTables(spark: SparkSession, dir: String): Map[String, String] =
    registerTypedTablesStamped(spark, dir)._2

  /** [[registerTypedTables]] plus the feed stamp the registration was
    * validated against — so an enclosing stats-planned call reuses ONE
    * listing for both the registration memo and its own statistics
    * stamp instead of listing the feed twice per warm call. */
  private def registerTypedTablesStamped(spark: SparkSession, dir: String)
      : (String, Map[String, String]) = {
    // the stamp (one feed listStatus) is the ONLY per-call cost on an
    // unchanged corpus: it is exactly ensureTypedLayout's no-op
    // condition, so a memo hit can skip the layout resolution, the
    // vanished-table sweep, and the partition-metadata diff wholesale.
    // Tables are re-checked for existence (point lookups, not
    // listings), and the layout root is probed for a committed
    // generation (one tiny root listing) so an externally wiped layout
    // self-heals by re-sync instead of serving partitions that point
    // at dead paths.
    val stamp = KmvTable.feedStamp(spark, dir)
    val memoKey = (spark.sharedState: AnyRef, layoutRoot(spark, dir))
    Option(regMemo.get(memoKey)) match {
      case Some((s, tbls)) if s == stamp &&
          tbls.values.forall(spark.catalog.tableExists) && {
            val rp = new org.apache.hadoop.fs.Path(layoutRoot(spark, dir))
            val lfs = rp.getFileSystem(spark.sparkContext.hadoopConfiguration)
            KmvTable.latestCommitted(lfs, layoutRoot(spark, dir)).isDefined
          } =>
        return (stamp, tbls)
      case _ => ()
    }
    regSyncs.incrementAndGet()
    val partitions = ensureTypedLayout(spark, dir)
    val root = layoutRoot(spark, dir)
    val id8 = Md5.hex(dir).take(8)
    val types = partitions.keysIterator.map(_._1).toSeq.distinct.sorted
    require(types.map(safe).distinct.size == types.size,
      s"event types collide after identifier sanitization: $types")
    // "__for_" is the alias namespace's separator: a TYPE whose
    // sanitized name contains it would collide with a calibrated
    // alias table and the sweep's alias classifier — fail loudly
    require(!types.exists(t => safe(t).contains("__for_")),
      s"event type name collides with the calibrated-alias namespace " +
        s"('__for_'): $types")
    // a type that vanished on a corpus MUTATION must lose its table —
    // its partition locations point at generations the sweep reclaims.
    // The listing is PATTERN-SCOPED to this corpus's name family (the
    // r12 verdict nit: the unscoped listTables().collect() paid
    // O(session catalog) metadata on every call) and only runs on this
    // re-sync path — a fresh-stamp call memo-returns above it.
    val liveSafe = types.map(safe).toSet
    val liveNames = liveSafe.map(t => s"graft_ev_${t}_$id8")
    // a calibrated alias (graft_ev_<dim>__for_<fact>_<id8>) stays live
    // as long as BOTH its dim and its fact types are live — it rides
    // the dim's partitions and the fact's calibration
    def liveAlias(n: String): Boolean = {
      val core = n.stripPrefix("graft_ev_").stripSuffix(s"_$id8")
      core.split("__for_", 2) match {
        case Array(dim, fact) => liveSafe(dim) && liveSafe(fact)
        case _ => false
      }
    }
    val family = spark.sessionState.catalog
      .listTables(spark.catalog.currentDatabase, s"graft_ev_*_$id8")
      .map(_.table)
    family
      .filterNot(n => liveNames.contains(n) || liveAlias(n))
      .foreach(n => spark.sql(s"DROP TABLE IF EXISTS $n"))
    val out = types.map { t =>
      val tbl = s"graft_ev_${safe(t)}_$id8"
      syncTypeTable(spark, partitions, root, t, tbl)
      t -> tbl
    }.toMap
    // surviving calibrated aliases ride their dim's partitions: re-sync
    // them on THIS path too (r15 ADVICE medium — previously only
    // registerCalibratedAliases re-pointed them, so a plain-SQL
    // consumer addressing an alias between a corpus mutation and the
    // next register call read superseded or swept generation dirs).
    // Statistics refresh stays with registerCalibratedAliases (the
    // declared consumer's per-call contract); this keeps the DATA live.
    family.filter(liveAlias).foreach { n =>
      val dimSafe = n.stripPrefix("graft_ev_").stripSuffix(s"_$id8")
        .split("__for_", 2)(0)
      types.find(safe(_) == dimSafe).foreach(t =>
        syncTypeTable(spark, partitions, root, t, n))
    }
    regMemo.put(memoKey, (stamp, out))
    (stamp, out)
  }

  private def safe(t: String): String =
    t.map(ch => if (ch.isLetterOrDigit) ch else '_').toLowerCase

  /** Create-if-absent and partition-sync ONE catalog table over a
    * type's live layout partitions (metadata only — no data moves).
    * Shared by the per-type tables and the per-(dim, fact) calibrated
    * aliases, which are additional catalog entries over the SAME
    * partition dirs. */
  private def syncTypeTable(spark: SparkSession,
      partitions: Map[(String, String), String], root: String,
      t: String, tbl: String): Unit = {
    // URI-normalized compare: catalog locations come back as file:/…
    // (or file:///…) URIs while the manifest holds plain paths
    def normalize(loc: String): String =
      new org.apache.hadoop.fs.Path(loc).toUri.getPath.stripSuffix("/")
    if (!spark.catalog.tableExists(tbl)) {
      val base = s"$root/tables/${safe(t)}"
      new org.apache.hadoop.fs.Path(base)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
        .mkdirs(new org.apache.hadoop.fs.Path(base))
      spark.sql(
        s"""CREATE TABLE $tbl (user_id BIGINT, d DATE, v BIGINT, pd STRING)
           |USING parquet PARTITIONED BY (pd) LOCATION '$base'""".stripMargin)
    }
    val id = org.apache.spark.sql.catalyst.TableIdentifier(tbl)
    val catalog = spark.sessionState.catalog
    val want: Map[String, String] = partitions.collect {
      case ((tt, dd), loc) if tt == t => dd -> loc }
    val have = catalog.listPartitions(id)
      .map(p => p.spec("pd") -> p).toMap
    val toDrop = have.keySet -- want.keySet
    if (toDrop.nonEmpty)
      spark.sql(s"ALTER TABLE $tbl DROP IF EXISTS " +
        toDrop.toSeq.sorted.map(d => s"PARTITION (pd='$d')").mkString(", "))
    val toAdd = want.filter { case (dd, _) => !have.contains(dd) }
    if (toAdd.nonEmpty)
      spark.sql(s"ALTER TABLE $tbl ADD IF NOT EXISTS " +
        toAdd.toSeq.sorted.map { case (dd, loc) =>
          s"PARTITION (pd='$dd') LOCATION '$loc'" }.mkString(" "))
    // re-points batch through ONE alterPartitions call — an append
    // can touch every partition (the worst case), and one catalog
    // call beats O(partitions) sequential ALTER statements
    val toRepoint = want.toSeq.flatMap { case (dd, loc) =>
      have.get(dd).filter(p => normalize(p.location.toString) != normalize(loc))
        .map(p => p.copy(storage = p.storage.copy(
          locationUri = Some(new java.net.URI(
            new org.apache.hadoop.fs.Path(loc).toUri.toString)))))
    }
    if (toRepoint.nonEmpty) catalog.alterPartitions(id, toRepoint)
    spark.catalog.refreshTable(tbl)
  }

  /** Per-(dim, fact) calibrated ALIASES (r14 verdict #3): one
    * additional catalog entry per pair, over the SAME layout
    * partitions as the dim's base table (pure metadata — no data
    * moves), injected with that pair's EXACT effective cardinality —
    * no MAX accumulation, because each alias records exactly one
    * calibration. A consumer that joins the dimension against ONE
    * fact addresses `<dim>__for_<fact>` and plans against exact
    * numbers; the BASE table keeps the conservative MAX for consumers
    * that genuinely share one entry — a single query joining the dim
    * to several facts (q170's star) has ONE relation node and can
    * carry only one Statistics, which is precisely why the MAX exists
    * (the honest limit recorded with the sf300 parity run, PLANS
    * §r14). Call per query: each call re-syncs the alias's partitions
    * to the live layout and re-injects the calibration from the
    * maintained sketch table — the same per-call freshness contract
    * as the stats-planned runner. Returns fact → alias table name. */
  def registerCalibratedAliases(spark: SparkSession, dir: String,
      dim: String, facts: Seq[String],
      inject: Boolean = true): Map[String, String] = {
    // stamp short-circuit (r15 ADVICE): one memoized feed listing on
    // the warm path — same contract as runStatsPlanned. A hit needs
    // the same stamp AND the same inject arm AND the alias tables
    // still present (point existence probes, the regMemo discipline).
    val (stamp, _) = registerTypedTablesStamped(spark, dir)
    val memoKey = (spark.sharedState: AnyRef, layoutRoot(spark, dir),
      dim, facts)
    Option(aliasMemo.get(memoKey)) match {
      case Some((s, inj, m)) if s == stamp && inj == inject &&
          m.values.forall(spark.catalog.tableExists) =>
        return m
      case _ => ()
    }
    val partitions = ensureTypedLayout(spark, dir)
    val root = layoutRoot(spark, dir)
    val id8 = Md5.hex(dir).take(8)
    val t = KmvTable.maintain(spark, dir)
    val keySyns = JoinSynopsis.fromTable(spark, dir, Some(t))
    val valSyns = ValueSynopsis.fromTable(spark, dir, Some(t))
    val uv = KmvTable.uvPopulations(t)
    require(keySyns.contains(dim),
      s"corpus has no '$dim' type to alias: ${keySyns.keys.toSeq.sorted}")
    require(!safe(dim).contains("__for_"),
      s"dim '$dim' collides with the alias namespace separator")
    val out = facts.map { f =>
      require(keySyns.contains(f),
        s"corpus has no '$f' fact to calibrate against")
      require(!safe(f).contains("__for_"),
        s"fact '$f' collides with the alias namespace separator")
      val tbl = s"graft_ev_${safe(dim)}__for_${safe(f)}_$id8"
      syncTypeTable(spark, partitions, root, dim, tbl)
      if (inject)
        // injectFor resets the alias's calibration epoch and records
        // the single (alias, fact) entry — the MAX over one entry IS
        // the exact per-pair rows_eff
        injectFor(spark, tbl, keySyns(dim), valSyns.get(dim), uv.get(dim),
          Seq(keySyns(f)))
      else {
        // the stats-off A/B arm: the alias table exists (partitions
        // synced) but carries NO statistics — the same clearing
        // contract runStatsPlanned applies to the typed tables
        spark.sessionState.catalog.alterTableStats(
          org.apache.spark.sql.catalyst.TableIdentifier(tbl), None)
        spark.catalog.refreshTable(tbl)
      }
      f -> tbl
    }.toMap
    aliasMemo.put(memoKey, (stamp, inject, out))
    out
  }

  /** value >= 200.00 — ~1.6% of purchase rows at every gate scale:
    * selective enough that the filtered side is the provably cheap
    * first join, populated enough that sf0.001 still returns rows. */
  private[graft] val ThresholdCents = 20000L

  /** The query text — deliberately the BAD literal order (see object
    * doc): the two unfiltered types first, the filtered type last. */
  private[graft] def q169Query(vT: String, cT: String, pT: String): String =
    s"""SELECT v.d AS d, COUNT(*) AS n_rows,
       |  COUNT(DISTINCT v.user_id) AS n_users,
       |  SUM(c.v) AS sum_click_cents
       |FROM $vT v
       |JOIN $cT c ON v.user_id = c.user_id
       |JOIN $pT p ON v.user_id = p.user_id
       |WHERE p.v >= $ThresholdCents
       |GROUP BY v.d
       |ORDER BY d""".stripMargin

  /** Inject every statistic the plan needs for `table`, all served
    * from the maintained sketch table: exact rowCount (= the key
    * population — the layout is the user-non-null frame), join-key
    * NDV + domain bounds, the value histogram (FilterEstimation's
    * input), and for dimensions the calibrated effective cardinality
    * against the fact. */
  private def injectFor(spark: SparkSession, table: String,
      syn: graft.plans.KeySynopsis, vs: Option[ValueSynopsis],
      uvRows: Option[Long],
      factSyns: Seq[graft.plans.KeySynopsis]): Unit = {
    val rowBytes = 24L // user_id + d + v
    val extra = vs.map { v =>
      // the layout's v column is null exactly where value was null,
      // over the user-non-null frame — `uvRows` (the table's format-5
      // user∧value population) makes the injected nullCount EXACT;
      // the fallback (value∧event_id population) is the pre-format-5
      // statistics-grade bound (r12 ADVICE)
      Map("v" -> SynopsisStats.valueStat(v).copy(
        nullCount = Some(BigInt(math.max(0L,
          syn.rows - uvRows.getOrElse(v.rows))))))
    }.getOrElse(Map.empty)
    if (factSyns.isEmpty)
      SynopsisStats.inject(spark, table, syn.rows, Map("user_id" -> syn),
        avgRowBytes = rowBytes, extraCols = extra)
    else {
      // fresh calibration epoch: this injector calibrates the dim's
      // FULL live fact set right here, so stale entries (a fact that
      // vanished with a corpus mutation) must not survive in the MAX
      SynopsisStats.resetCalibration(table, "user_id")
      factSyns.foreach(f => SynopsisStats.injectCalibrated(
        spark, table, syn, "user_id", f, avgRowBytes = rowBytes,
        extraCols = extra))
    }
  }

  /** (Re-)inject every statistic a stats-planned query consumes, all
    * served from the maintained sketch table (KB of driver work) — the
    * unit [[graft.plans.SynopsisStats.registerRefresh]] re-fires
    * (together with the layout sync) after each maintenance commit.
    * `plain` tables get the ANALYZE-equivalent injection; each
    * `calibrated` (dim, facts) pair gets the frequency-skew effective
    * cardinality, MAX-accumulated across its facts. */
  private def injectStats(spark: SparkSession, dir: String,
      tbls: Map[String, String], plain: Seq[String],
      calibrated: Seq[(String, Seq[String])]): Unit = {
    statsInjections.incrementAndGet()
    // ONE maintenance resolution feeds both synopsis families (each
    // maintain call, even a no-op, pays the feed listing + consumed
    // anti-join job — measured ~0.4 s apiece at sf10)
    val t = KmvTable.maintain(spark, dir)
    val keySyns = JoinSynopsis.fromTable(spark, dir, Some(t))
    val valSyns = ValueSynopsis.fromTable(spark, dir, Some(t))
    val uv = KmvTable.uvPopulations(t)
    plain.foreach(n =>
      injectFor(spark, tbls(n), keySyns(n), valSyns.get(n), uv.get(n), Nil))
    calibrated.foreach { case (dim, facts) =>
      injectFor(spark, tbls(dim), keySyns(dim), valSyns.get(dim),
        uv.get(dim), facts.map(keySyns))
    }
  }

  /** q169 — see object doc. Stats-on (default) this builds the
    * per-type synopses FROM THE MAINTAINED TABLE, writes them as
    * catalog statistics, registers the stats injection for
    * post-maintenance refresh, and runs the query in a child session
    * with CBO + join reorder enabled (child session: the conf flip
    * never leaks into the caller's session, and the gate's other
    * queries keep their vanilla planner). Stats-off it runs the
    * identical SQL with NO statistics (any previously injected ones
    * are cleared — the A/B baseline must not ride an earlier stats-on
    * run's numbers) and no CBO — the literal-order baseline. */
  /** Shared stats-planned runner: register the typed tables, bring the
    * consumer's statistics up to date (short-circuited on an unchanged
    * feed stamp — the r12 verdict's per-call-freshness ask: the
    * refresher already re-injects on every maintenance commit, so a
    * repeat call on an unchanged corpus pays ONE feed listing, not
    * three maintains + synopsis collects + catalog writes), and run the
    * literal SQL in a child session with CBO on. Stats-off: statistics
    * cleared, the refresher UNREGISTERED (a maintenance commit landing
    * between the clear and the lazy execution must not re-inject under
    * the 'no stats' baseline), and the stamp memo invalidated so the
    * next stats-on call re-injects from scratch. */
  private def runStatsPlanned(spark: SparkSession, dir: String,
      name: String, needed: Seq[String], plain: Seq[String],
      calibrated: Seq[(String, Seq[String])],
      sql: Map[String, String] => String,
      // q186's knobs: Catalyst's own reorder off + the alias-aware
      // star rule armed in the child session (the rule supplies the
      // per-(dim, fact)-exact ordering Catalyst's one-Statistics-per-
      // node model cannot); `refreshAlso` refreshes non-`needed`
      // tables (the aliases) through the child's relation cache
      joinReorder: Boolean = true, starAlias: Boolean = false,
      refreshAlso: Seq[String] = Nil): DataFrame = {
    consumers.add(name)
    val (stamp, tbls) = registerTypedTablesStamped(spark, dir)
    require(needed.forall(tbls.contains),
      s"corpus lacks the $name event types: ${tbls.keys.toSeq.sorted}")
    if (statsCboOn(spark)) {
      val key = (spark.sharedState: AnyRef, layoutRoot(spark, dir), name)
      if (!Option(statsMemo.get(key)).contains(stamp)) {
        injectStats(spark, dir, tbls, plain, calibrated)
        statsMemo.put(key, stamp)
      }
      // the refresher keeps BOTH tiers current from the maintenance
      // commit itself: the layout sync is an O(touched-partitions)
      // incremental append (ensureTypedLayout's manifest path — never
      // an O(corpus) re-layout) and the statistics are KB-sized
      // table-served injections, so an appended corpus leaves zero
      // stale window for data OR statistics beyond the run. It also
      // advances the stamp memo: the stamp is read BEFORE the
      // injection (a feed file landing mid-refresh must surface as a
      // memo MISS on the next query call, not mark the just-injected —
      // now stale — statistics fresh), and the registration path
      // reuses its own pre-injection stamp the same way.
      SynopsisStats.registerRefresh(dir, s"${name}_stats") { sp =>
        val (st, t) = registerTypedTablesStamped(sp, dir)
        injectStats(sp, dir, t, plain, calibrated)
        statsMemo.put((sp.sharedState: AnyRef, layoutRoot(sp, dir), name), st)
        ()
      }
    } else {
      // EVERY stats-planned refresher for this corpus must fall, not
      // just this consumer's: the tables are shared (view rides in
      // q169 AND q170/q171), so a surviving sibling refresher firing
      // off a maintenance commit would re-inject statistics onto the
      // cleared tables under the 'no stats' baseline. A refresher can
      // only exist if a stats-on call registered it in THIS JVM, which
      // also recorded its name in `consumers` — the dynamic set is
      // exactly the sibling universe.
      consumers.forEach(n =>
        SynopsisStats.unregisterRefresh(dir, s"${n}_stats"))
      // ... and every consumer's stamp memo for this root must fall,
      // or a later stats-on call of the other query would skip
      // re-injection over the cleared tables
      val root = layoutRoot(spark, dir)
      statsMemo.keySet.removeIf(k =>
        k._1.eq(spark.sharedState) && k._2 == root)
      needed.map(tbls).foreach { t =>
        spark.sessionState.catalog.alterTableStats(
          org.apache.spark.sql.catalyst.TableIdentifier(t), None)
        spark.catalog.refreshTable(t)
      }
    }
    val s = spark.newSession()
    if (statsCboOn(spark)) {
      s.conf.set("spark.sql.cbo.enabled", "true")
      s.conf.set("spark.sql.cbo.joinReorder.enabled", joinReorder.toString)
    }
    if (starAlias)
      s.experimental.extraOptimizations =
        s.experimental.extraOptimizations :+ graft.plans.StarAliasReorder
    // a fresh session seeds its SQLConf from the SparkConf, NOT from
    // the caller's runtime confs — carry the broadcast threshold over
    // so the physical-strategy knob (q171's A/B axis, and RunOne's
    // `k=v` steering) means the same thing in the session that actually
    // plans the query
    s.conf.set("spark.sql.autoBroadcastJoinThreshold",
      spark.conf.get("spark.sql.autoBroadcastJoinThreshold"))
    // the child session resolves the tables through its own relation
    // cache — refresh so it sees this call's layout + statistics
    (needed.map(tbls) ++ refreshAlso).foreach(t => s.catalog.refreshTable(t))
    s.sql(sql(tbls))
  }

  def q169StatsJoinOrder(spark: SparkSession, dir: String): DataFrame =
    runStatsPlanned(spark, dir, "q169",
      needed = Seq("view", "click", "purchase"),
      plain = Seq("view"),
      calibrated = Seq("click" -> Seq("view"), "purchase" -> Seq("view")),
      sql = t => q169Query(t("view"), t("click"), t("purchase")))

  /** DuckDB oracle: the identical 3-way join computed straight off the
    * raw feed (the layout is a projection of it — same `CAST(ts AS
    * DATE)` day, same exact-cents transform as the whole q159+ family). */
  val q169Sql: String =
    s"""WITH ev AS (
       |  SELECT event_type, user_id, CAST(ts AS DATE) AS d,
       |    CASE WHEN value IS NOT NULL
       |      THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) END AS v
       |  FROM events WHERE user_id IS NOT NULL
       |    AND event_type IS NOT NULL AND ts IS NOT NULL)
       |SELECT v.d AS d, CAST(COUNT(*) AS BIGINT) AS n_rows,
       |  CAST(COUNT(DISTINCT v.user_id) AS BIGINT) AS n_users,
       |  CAST(SUM(c.v) AS BIGINT) AS sum_click_cents
       |FROM (SELECT * FROM ev WHERE event_type = 'view') v
       |JOIN (SELECT * FROM ev WHERE event_type = 'click') c
       |  ON v.user_id = c.user_id
       |JOIN (SELECT * FROM ev WHERE event_type = 'purchase') p
       |  ON v.user_id = p.user_id
       |WHERE p.v >= $ThresholdCents
       |GROUP BY v.d ORDER BY d""".stripMargin

  /** q170 — the STAR shape planned from the catalog (r12 verdict #6):
    * q169 proved Catalyst executes the synopsis schedule for a
    * one-fact/two-dim chain; this closes the loop on the shape
    * [[graft.plans.SynopsisStats.injectCalibrated]]'s MAX-accumulation
    * exists for — ONE shared dimension (signup) calibrated against TWO
    * facts (error, view). Both calibrations are recorded and the
    * injected rows_eff is their max: exact for the hot-aligned pair,
    * a conservative over-estimate for the other — never the
    * under-estimate that the pre-r12 last-writer-wins handed the first
    * fact. The query is again WRITTEN in the bad literal order (the
    * two unfiltered relations join first; the 98%-selective view
    * filter joins last); with the calibrated dim stats + the view
    * value histogram, CostBasedJoinReorder schedules the filtered view
    * side first (StatsStarCboSpec pins the executed order at fixture
    * and sf10, and pins the dim's injected rowCount == the MAX over
    * both spec-computed per-fact calibrations). Stats off, the literal
    * order stands — the same A/B knob as q169. */
  private[graft] def q170Query(eT: String, sT: String, vT: String): String =
    s"""SELECT e.d AS d, COUNT(*) AS n_rows,
       |  COUNT(DISTINCT s.user_id) AS n_users,
       |  SUM(e.v) AS sum_error_cents
       |FROM $eT e
       |JOIN $sT s ON e.user_id = s.user_id
       |JOIN $vT v ON s.user_id = v.user_id
       |WHERE v.v >= $ThresholdCents
       |GROUP BY e.d
       |ORDER BY d""".stripMargin

  def q170StatsStarOrder(spark: SparkSession, dir: String): DataFrame =
    runStatsPlanned(spark, dir, "q170",
      needed = Seq("error", "signup", "view"),
      // view's plain injection is IDENTICAL to q169's (same synopsis,
      // same histogram) — the two consumers never fight over a table
      plain = Seq("error", "view"),
      calibrated = Seq("signup" -> Seq("error", "view")),
      sql = t => q170Query(t("error"), t("signup"), t("view")))

  /** DuckDB oracle: the identical star computed straight off the raw
    * feed (same projection contract as [[q169Sql]]). */
  val q170Sql: String =
    s"""WITH ev AS (
       |  SELECT event_type, user_id, CAST(ts AS DATE) AS d,
       |    CASE WHEN value IS NOT NULL
       |      THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) END AS v
       |  FROM events WHERE user_id IS NOT NULL
       |    AND event_type IS NOT NULL AND ts IS NOT NULL)
       |SELECT e.d AS d, CAST(COUNT(*) AS BIGINT) AS n_rows,
       |  CAST(COUNT(DISTINCT s.user_id) AS BIGINT) AS n_users,
       |  CAST(SUM(e.v) AS BIGINT) AS sum_error_cents
       |FROM (SELECT * FROM ev WHERE event_type = 'error') e
       |JOIN (SELECT * FROM ev WHERE event_type = 'signup') s
       |  ON e.user_id = s.user_id
       |JOIN (SELECT * FROM ev WHERE event_type = 'view') v
       |  ON s.user_id = v.user_id
       |WHERE v.v >= $ThresholdCents
       |GROUP BY e.d ORDER BY d""".stripMargin

  /** q171 — the statistics catalog deciding the physical JOIN STRATEGY
    * (the third consumer shape: q169 pinned chain order, q170 star
    * order, this one pins broadcast-vs-shuffle). The query is a 2-way
    * fact⋈filtered-fact join with NO hints: stats-on, the injected
    * rowCount + value histogram let FilterEstimation shrink the
    * filtered error side's size estimate below
    * `spark.sql.autoBroadcastJoinThreshold`, so JoinSelection plans a
    * BroadcastHashJoin at PLANNER time — no shuffle at all. Stats-off,
    * the only size evidence is the raw file size (a Filter does not
    * shrink sizeInBytes without column statistics), which exceeds the
    * threshold at production scale, so the planner emits a
    * SortMergeJoin: both sides pay their full shuffle map stage before
    * AQE can notice the small build side and localize the read. Good
    * statistics move the broadcast decision from runtime (after the
    * map stage is paid) to plan time — StatsBroadcastSpec pins the
    * static plans both ways on a threshold bracketed between the
    * estimated filtered size and the raw file size, plus result
    * equality. Both tables take the PLAIN injection (exactly q170's
    * treatment of error and view — consumers never fight over a
    * table's statistics). The filter is again spelled on the PROBE-last
    * side in SQL order, so nothing but the estimate chain explains the
    * build-side choice. */
  private[graft] def q171Query(vT: String, eT: String): String =
    s"""SELECT v.d AS d, COUNT(*) AS n_rows,
       |  SUM(e.v) AS sum_error_cents
       |FROM $vT v
       |JOIN $eT e ON v.user_id = e.user_id
       |WHERE e.v >= $ThresholdCents
       |GROUP BY v.d
       |ORDER BY d""".stripMargin

  def q171StatsBroadcast(spark: SparkSession, dir: String): DataFrame =
    runStatsPlanned(spark, dir, "q171",
      needed = Seq("view", "error"),
      plain = Seq("view", "error"),
      calibrated = Nil,
      sql = t => q171Query(t("view"), t("error")))

  /** DuckDB oracle: the identical join computed straight off the raw
    * feed (same projection contract as [[q169Sql]]). */
  val q171Sql: String =
    s"""WITH ev AS (
       |  SELECT event_type, user_id, CAST(ts AS DATE) AS d,
       |    CASE WHEN value IS NOT NULL
       |      THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) END AS v
       |  FROM events WHERE user_id IS NOT NULL
       |    AND event_type IS NOT NULL AND ts IS NOT NULL)
       |SELECT v.d AS d, CAST(COUNT(*) AS BIGINT) AS n_rows,
       |  CAST(SUM(e.v) AS BIGINT) AS sum_error_cents
       |FROM (SELECT * FROM ev WHERE event_type = 'view') v
       |JOIN (SELECT * FROM ev WHERE event_type = 'error') e
       |  ON v.user_id = e.user_id
       |WHERE e.v >= $ThresholdCents
       |GROUP BY v.d ORDER BY d""".stripMargin

  /** q185 — the per-(dim, fact) calibrated ALIAS as a DECLARED
    * consumer (r15; the spec pinned the mechanism, this makes it a
    * component): a single-fact chain — error ⋈ signup ⋈ error — where
    * the shared dimension is addressed through
    * `signup__for_error`, whose injected rows_eff is that pair's
    * EXACT effective cardinality (no MAX over other facts' skew).
    * The query is again WRITTEN in the bad literal order (unfiltered
    * error ⋈ alias first; the ~1.6%-selective error filter joins
    * last); with the alias's exact calibration + error's plain
    * injection, CostBasedJoinReorder schedules the filtered side
    * first, and stats-off the literal order stands — the same A/B
    * contract as q169/q170, with the alias's statistics cleared on
    * the off arm too (StatsStarCboSpec pins the alias's exact
    * numbers; the oracle recomputes off the raw feed). */
  private[graft] def q185Query(eT: String, sT: String): String =
    s"""SELECT e.d AS d, COUNT(*) AS n_rows,
       |  COUNT(DISTINCT e.user_id) AS n_users,
       |  SUM(e2.v) AS sum_error_cents
       |FROM $eT e
       |JOIN $sT s ON e.user_id = s.user_id
       |JOIN $eT e2 ON s.user_id = e2.user_id
       |WHERE e2.v >= $ThresholdCents
       |GROUP BY e.d
       |ORDER BY d""".stripMargin

  def q185StatsAliasOrder(spark: SparkSession, dir: String): DataFrame = {
    // the alias follows the same per-call freshness + A/B contract as
    // the typed tables: stats-on it re-syncs and re-injects its exact
    // per-pair calibration; stats-off it exists with NO statistics
    val aliases = registerCalibratedAliases(spark, dir, "signup",
      Seq("error"), inject = statsCboOn(spark))
    runStatsPlanned(spark, dir, "q185",
      needed = Seq("error", "signup"),
      plain = Seq("error"),
      calibrated = Nil,
      sql = t => q185Query(t("error"), aliases("error")))
  }

  /** q186 — ALIAS-AWARE STAR PLANNING as a declared consumer (r15
    * verdict #2): q170's exact star shape — the shared signup dim
    * joined to BOTH facts, written in the bad literal order against
    * the BASE tables (unmodified star SQL — nothing in the query
    * addresses an alias) — planned by
    * [[graft.plans.StarAliasReorder]]: Catalyst's own join reorder is
    * OFF in the child session (its one-Statistics-per-node model can
    * only see the MAX), and the rule reads each edge's EXACT per-pair
    * rows_eff from the registered alias tables, joins the cheapest
    * edge first, and substitutes the dim's relation with that edge's
    * alias so Spark's own estimates flow from the pair's numbers.
    * Stats-off: aliases exist with NO statistics, the rule bails, the
    * literal order stands — the family's A/B contract
    * (StarAliasReorderSpec pins the executed order, the chosen alias
    * in the plan, the per-edge exact numbers, and result equality both
    * arms; the oracle recomputes off the raw feed). */
  private[graft] def q186Query(eT: String, sT: String, vT: String): String =
    s"""SELECT e.d AS d, COUNT(*) AS n_rows,
       |  COUNT(DISTINCT s.user_id) AS n_users,
       |  SUM(v.v) AS sum_view_cents
       |FROM $eT e
       |JOIN $sT s ON e.user_id = s.user_id
       |JOIN $vT v ON s.user_id = v.user_id
       |WHERE v.v >= $ThresholdCents
       |GROUP BY e.d
       |ORDER BY d""".stripMargin

  def q186StatsStarAlias(spark: SparkSession, dir: String): DataFrame = {
    val aliases = registerCalibratedAliases(spark, dir, "signup",
      Seq("error", "view"), inject = statsCboOn(spark))
    runStatsPlanned(spark, dir, "q186",
      needed = Seq("error", "signup", "view"),
      plain = Seq("error", "view"),
      calibrated = Seq("signup" -> Seq("error", "view")),
      sql = t => q186Query(t("error"), t("signup"), t("view")),
      joinReorder = false, starAlias = true,
      refreshAlso = aliases.values.toSeq.sorted)
  }

  /** DuckDB oracle: the identical star computed straight off the raw
    * feed (the aliases are metadata over the same signup population). */
  val q186Sql: String =
    s"""WITH ev AS (
       |  SELECT event_type, user_id, CAST(ts AS DATE) AS d,
       |    CASE WHEN value IS NOT NULL
       |      THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) END AS v
       |  FROM events WHERE user_id IS NOT NULL
       |    AND event_type IS NOT NULL AND ts IS NOT NULL)
       |SELECT e.d AS d, CAST(COUNT(*) AS BIGINT) AS n_rows,
       |  CAST(COUNT(DISTINCT s.user_id) AS BIGINT) AS n_users,
       |  CAST(SUM(v.v) AS BIGINT) AS sum_view_cents
       |FROM (SELECT * FROM ev WHERE event_type = 'error') e
       |JOIN (SELECT * FROM ev WHERE event_type = 'signup') s
       |  ON e.user_id = s.user_id
       |JOIN (SELECT * FROM ev WHERE event_type = 'view') v
       |  ON s.user_id = v.user_id
       |WHERE v.v >= $ThresholdCents
       |GROUP BY e.d ORDER BY d""".stripMargin

  /** DuckDB oracle: the identical chain computed straight off the raw
    * feed (the alias is metadata over the same signup population). */
  val q185Sql: String =
    s"""WITH ev AS (
       |  SELECT event_type, user_id, CAST(ts AS DATE) AS d,
       |    CASE WHEN value IS NOT NULL
       |      THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) END AS v
       |  FROM events WHERE user_id IS NOT NULL
       |    AND event_type IS NOT NULL AND ts IS NOT NULL)
       |SELECT e.d AS d, CAST(COUNT(*) AS BIGINT) AS n_rows,
       |  CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users,
       |  CAST(SUM(e2.v) AS BIGINT) AS sum_error_cents
       |FROM (SELECT * FROM ev WHERE event_type = 'error') e
       |JOIN (SELECT * FROM ev WHERE event_type = 'signup') s
       |  ON e.user_id = s.user_id
       |JOIN (SELECT * FROM ev WHERE event_type = 'error') e2
       |  ON s.user_id = e2.user_id
       |WHERE e2.v >= $ThresholdCents
       |GROUP BY e.d ORDER BY d""".stripMargin
}
