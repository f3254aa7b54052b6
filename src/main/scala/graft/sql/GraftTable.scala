package graft.sql

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession, SQLContext}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider, DataSourceRegister, RelationProvider, StreamSourceProvider}
import org.apache.spark.sql.types.{DecimalType, StringType, StructType}

/**
 * PERSISTENT graft tables: `CREATE TABLE t USING graft OPTIONS (key
 * 'c') LOCATION 'p' AS SELECT ...` (and `df.write.format("graft")`)
 * persist the built index through [[IndexedFrame.save]]'s
 * one-file-per-partition layout — partitioner, secondary-index and
 * zone-map sidecars included — so the table, its point/range routing,
 * its SQL-text DML, and its version history all SURVIVE the session.
 *
 * The registered v1 provider resolves the table back to the same
 * [[IndexedFrame.IndexedRelation]] family the in-session API uses, so
 * every pushdown lane, planner strategy, and the
 * [[GraftSqlExtension]] DML rewrite work identically on catalog
 * tables and temp views.
 *
 * DURABLE DML — the Delta-shaped part: a MERGE / UPDATE / DELETE /
 * INSERT against a catalog table does NOT rewrite the saved corpus.
 * The statement's change sets (delete-key frame + upsert-row frame,
 * computed at delta cost against the indexed snapshot) are written as
 * parquet under `_tdelta_<version>/` and THEN applied by reading them
 * back — so the live state and a cold reopen replay the identical
 * bytes. Reopening a session costs the base load plus one
 * `deleteFrame`/`upsertFrame` pass per delta (each a one-sided
 * shuffle of that delta only, never the corpus); `OPTIMIZE <table>`
 * compacts the chain back into a fresh base save. At 100 TB this is
 * the only shape that works: per-statement cost scales with the
 * delta, the corpus files are immutable, and compaction is explicit.
 *
 * Version history rides the same log: version 0 is the base save,
 * version n the state after delta n. `SELECT * FROM t VERSION AS OF
 * n` replays the prefix — readable from ANY later session, which
 * in-session chains (temp views) cannot offer.
 */
class GraftTableProvider extends RelationProvider
    with CreatableRelationProvider with DataSourceRegister
    with StreamSourceProvider {

  override def shortName(): String = "graft"

  // ---- streaming reads: the table's delta log as a change feed ----

  override def sourceSchema(sqlContext: SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) =
    ("graft", GraftTables.changeFeedSchema(sqlContext.sparkSession,
      GraftTables.pathOf(parameters)))

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): org.apache.spark.sql.execution.streaming.Source = {
    val sp = sqlContext.sparkSession
    val path = GraftTables.pathOf(parameters)
    // the user's EXPLICIT startingVersion stays an Option all the way
    // into the source: "user wrote 0" (backfill-then-tail) and "default
    // happened to resolve to 0" (fresh table — tail only-new commits)
    // must take different code paths, or every subscriber of a
    // just-created table would replay its whole version-0 corpus
    val startingV = parameters.collectFirst {
      case (k, v) if k.equalsIgnoreCase("startingVersion") => v.toLong
    }
    val startingTs = parameters.collectFirst {
      case (k, v) if k.equalsIgnoreCase("startingTimestamp") =>
        GraftTables.parseTimestampMillis(v)
    }
    require(startingV.isEmpty || startingTs.isEmpty,
      "startingVersion and startingTimestamp are mutually exclusive")
    val starting = startingV.orElse(
      startingTs.map(GraftTables.versionBeforeTimestamp(sp, path, _)))
    val maxPerTrigger = parameters.collectFirst {
      case (k, v) if k.equalsIgnoreCase("maxVersionsPerTrigger") => v.toLong
    }
    maxPerTrigger.foreach(n => require(n > 0,
      s"maxVersionsPerTrigger must be positive (got $n)"))
    val maxBytes = parameters.collectFirst {
      case (k, v) if k.equalsIgnoreCase("maxBytesPerTrigger") => v.toLong
    }
    maxBytes.foreach(n => require(n > 0,
      s"maxBytesPerTrigger must be positive (got $n)"))
    new GraftTableSource(sqlContext, path, starting, maxPerTrigger, maxBytes)
  }

  override def createRelation(sqlContext: SQLContext,
      parameters: Map[String, String]): BaseRelation = {
    val sp = sqlContext.sparkSession
    GraftTables.current(sp, GraftTables.pathOf(parameters))._2.relation(sp)
  }

  override def createRelation(sqlContext: SQLContext, mode: SaveMode,
      parameters: Map[String, String], data: DataFrame): BaseRelation = {
    val sp = sqlContext.sparkSession
    val path = GraftTables.pathOf(parameters)
    val exists = GraftTables.exists(sp, path)
    mode match {
      case SaveMode.ErrorIfExists if exists =>
        throw new IllegalStateException(s"graft table already exists at $path")
      case SaveMode.Ignore if exists => ()
      case SaveMode.Append if exists =>
        // append IS an upsert delta (keyed-store put semantics), so a
        // writer-API append leaves the same replayable log as SQL DML.
        // With mergeSchema (option or session conf — Delta's
        // auto-evolution gate), extra source columns first commit an
        // additive ADD COLUMNS schema delta; without it, the unknown
        // column aborts loudly via the metadata guard.
        if (GraftTables.autoMergeEnabled(sp, parameters))
          GraftTables.autoEvolveFor(sp, path, data.schema)
        val schema = GraftTables.current(sp, path)._2.schema
        val unknown = data.columns
          .filterNot(c => schema.fieldNames.exists(_.equalsIgnoreCase(c)))
        require(unknown.isEmpty,
          s"append carries column(s) ${unknown.mkString(", ")} the graft " +
            s"table at $path does not have — pass option mergeSchema=true " +
            "(or set spark.graft.schema.autoMerge) to auto-ADD them, or " +
            "ALTER TABLE first; nothing was committed")
        GraftTables.commitChange(sp, path, truncate = false, None,
          Some(GraftTables.alignTo(data, schema)))
      case SaveMode.Overwrite if exists =>
        GraftTables.destroy(sp, path)
        GraftTables.create(sp, path, parameters, data)
      case _ =>
        GraftTables.create(sp, path, parameters, data)
    }
    GraftTables.current(sp, path)._2.relation(sp)
  }
}

/** The store behind [[GraftTableProvider]]: handle build/save/load
  * dispatch over the two key kinds (single and composite), the
  * per-statement delta log, and a per-SESSION live-handle cache
  * (weak-keyed like the DML version chains) so repeated queries reuse
  * the cached index and a genuinely new session reloads — and
  * therefore honestly replays — from disk. */
private[sql] object GraftTables {
  import IndexedFrame.{CompositeNHandle, Handle}

  // ------------------------------------------- object-store semantics
  //
  // THE one place that states what each durability primitive assumes
  // of the store, and what happens when the store is weaker:
  //
  //  * COMMIT POINTS ride atomic CREATE-IF-ABSENT ([[conditionalCreate]]
  //    — claims, the txn coordinator) and small-file CREATE (`_meta`).
  //    Object stores provide these as conditional PUT (S3
  //    If-None-Match, GCS x-goog-if-generation-match); deployments
  //    with weaker stores plug a lock service into
  //    [[conditionalCreate]].
  //  * ACCELERATORS ride RENAME (fold sidecars, `_tmanifest`, the
  //    `_tver`/`_txnhint_` markers, `_meta` finalization). A store
  //    whose rename fails or won't clobber DEGRADES them: no fold =
  //    raw-delta replay; no manifest = the listing walk; no hint =
  //    derive from the log. Never corruption — GraftFaultSpec injects
  //    exactly these failures.
  //  * DATA PROMOTES (stage dir -> version dir) ride rename and FAIL
  //    LOUDLY when refused — the statement aborts with nothing
  //    committed (the `_meta` commit point never lands). On stores
  //    where rename is O(data) copy, the claim window is heartbeated
  //    so slow promotes are never mistaken for dead writers.
  //  * REBASE (OPTIMIZE/VACUUM) swaps a complete sibling dir and
  //    recovers a torn swap on the next read ([[recoverIfNeeded]]).

  /** The put-if-absent primitive the commit protocol rides: create
    * `p` carrying `bytes`, failing (false) if it already exists.
    * Hadoop's `create(overwrite = false)` is atomic on HDFS/local and
    * maps to conditional PUT on modern object-store connectors;
    * deployments whose store lacks it substitute an external
    * lock/CAS service here. */
  private[sql] var conditionalCreate
      : (FileSystem, Path, Array[Byte]) => Boolean =
    (fs, p, bytes) =>
      try {
        val out = fs.create(p, false)
        try out.write(bytes) finally out.close()
        true
      } catch { case _: java.io.IOException => false }

  // ----------------------------------------------------------- handles

  /** Arity-erased view of a persisted handle: exactly the operations
    * the table layer needs (read, COW delta application, persist). */
  private[sql] sealed trait TableHandle {
    def keyCols: Seq[String]
    def schema: StructType
    def toDF(sp: SparkSession): DataFrame
    def relation(sp: SparkSession): BaseRelation
    def delete(keys: DataFrame): TableHandle
    def upsert(rows: DataFrame): TableHandle
    def saveTo(path: String): Unit
    def idxAny: graft.IndexedRDD[_, _]
    /** The wrapped arity-specific handle (for audits/specs). */
    def handleAny: AnyRef
    /** Delta-cost transplant of `old`'s secondary indexes and zone
      * maps onto this (post-statement) handle. */
    def maintainSidecarsFrom(old: TableHandle,
        del: Option[DataFrame], up: Option[DataFrame]): Unit
    /** Schema evolution: the same index with rows widened to
      * `newSchema` (appended columns NULL). */
    def widen(newSchema: StructType): TableHandle
    /** General schema evolution (RENAME / DROP / widen / ADD):
      * `positions(i)` = old field index of new field `i`, -1 = added
      * NULL column. */
    def remap(newSchema: StructType, positions: Array[Int]): TableHandle
    /** Post-build re-skew under the table's persisted cap. */
    def reskew(maxRowsPerPartition: Long): TableHandle
  }

  private final case class H1(h: Handle[_]) extends TableHandle {
    def keyCols: Seq[String] = Seq(h.keyCol)
    def schema: StructType = h.schema
    def toDF(sp: SparkSession): DataFrame = h.toDF(sp)
    def relation(sp: SparkSession): BaseRelation =
      new IndexedFrame.IndexedRelation(h)(sp.sqlContext)
    def delete(keys: DataFrame): TableHandle = H1(h.deleteFrame(keys))
    def upsert(rows: DataFrame): TableHandle = H1(h.upsertFrame(rows))
    def saveTo(path: String): Unit = IndexedFrame.save(h, path)
    def idxAny: graft.IndexedRDD[_, _] = h.idx
    def handleAny: AnyRef = h
    def maintainSidecarsFrom(old: TableHandle,
        del: Option[DataFrame], up: Option[DataFrame]): Unit =
      h.maintainSidecarsFrom(old.handleAny, del, up)
    def widen(newSchema: StructType): TableHandle =
      H1(h.withWidenedSchema(newSchema))
    def remap(newSchema: StructType, positions: Array[Int]): TableHandle =
      H1(h.withRemappedSchema(newSchema, positions))
    def reskew(maxRowsPerPartition: Long): TableHandle =
      H1(h.reskewed(maxRowsPerPartition))
  }

  private final case class HN(h: CompositeNHandle) extends TableHandle {
    def keyCols: Seq[String] = h.keyCols
    def schema: StructType = h.schema
    def toDF(sp: SparkSession): DataFrame = h.toDF(sp)
    def relation(sp: SparkSession): BaseRelation =
      new IndexedFrame.CompositeNRelation(h)(sp.sqlContext)
    def delete(keys: DataFrame): TableHandle = HN(h.deleteFrame(keys))
    def upsert(rows: DataFrame): TableHandle = HN(h.upsertFrame(rows))
    def saveTo(path: String): Unit = IndexedFrame.save(h, path)
    def idxAny: graft.IndexedRDD[_, _] = h.idx
    def handleAny: AnyRef = h
    def maintainSidecarsFrom(old: TableHandle,
        del: Option[DataFrame], up: Option[DataFrame]): Unit =
      h.maintainSidecarsFrom(old.handleAny, del, up)
    def widen(newSchema: StructType): TableHandle =
      HN(h.withWidenedSchema(newSchema))
    def remap(newSchema: StructType, positions: Array[Int]): TableHandle =
      HN(h.withRemappedSchema(newSchema, positions))
    def reskew(maxRowsPerPartition: Long): TableHandle =
      HN(h.reskewed(maxRowsPerPartition))
  }

  // ------------------------------------------------------------- paths

  private[sql] def pathOf(parameters: Map[String, String]): String =
    parameters.getOrElse("path", throw new IllegalArgumentException(
      "graft tables need a path (LOCATION clause or option 'path')"))

  private def fsOf(sp: SparkSession, path: String): (FileSystem, Path) = {
    val p = new Path(path)
    (FileSystem.get(p.toUri, sp.sparkContext.hadoopConfiguration), p)
  }

  private def canonical(sp: SparkSession, path: String): String = {
    val (fs, p) = fsOf(sp, path)
    fs.makeQualified(p).toString
  }

  private[sql] def exists(sp: SparkSession, path: String): Boolean = {
    recoverIfNeeded(sp, path)
    val (fs, p) = fsOf(sp, path)
    fs.exists(new Path(p, "_frame"))
  }

  private[sql] def destroy(sp: SparkSession, path: String): Unit = {
    val (fs, p) = fsOf(sp, path)
    fs.delete(p, true)
    // sibling residue goes with the table: staged rebases and the
    // rebase lock/heartbeat files (a dropped table must not leave a
    // lock that fences a later table created at the same path)
    try {
      fs.listStatus(p.getParent)
        .filter(st => isRebaseStageOf(p, st.getPath.getName))
        .foreach(st => fs.delete(st.getPath, true))
    } catch { case scala.util.control.NonFatal(_) => () }
    try { fs.delete(rebaseLockPath(path), false);
      fs.delete(rebaseHbPath(path), false); () }
    catch { case scala.util.control.NonFatal(_) => () }
    purgeAllSessions(sp, path)
    ()
  }

  // ------------------------------------------------------ session cache

  private val caches =
    new java.util.WeakHashMap[SparkSession,
      scala.collection.concurrent.TrieMap[String, (Long, TableHandle)]]()

  /** Every session that ever resolved a graft table in this JVM (weak
    * — dead sessions drop out). The DML commands refresh THESE
    * sessions' relation caches after a commit, so a long-lived rival
    * session's next query re-resolves the fresh snapshot instead of
    * reading a stale cached relation (Delta's per-query log check, by
    * invalidation). Cross-PROCESS readers re-resolve on their own next
    * reopen/refresh, as with any external-writer V1 source. */
  private[sql] def knownSessions: Seq[SparkSession] =
    caches.synchronized {
      val out = Seq.newBuilder[SparkSession]
      caches.keySet.forEach(s => if (s != null) out += s)
      out.result()
    }

  private def cacheOf(sp: SparkSession)
      : scala.collection.concurrent.TrieMap[String, (Long, TableHandle)] =
    caches.synchronized {
      var m = caches.get(sp)
      if (m == null) {
        m = scala.collection.concurrent.TrieMap.empty
        caches.put(sp, m)
      }
      m
    }

  /** (version, live handle) of the table at `path`, current with the
    * on-disk log: the cached handle serves as long as its version
    * matches `_tver`; anything else (first touch in this session, a
    * log advanced elsewhere) reloads base + replay.
    *
    * `diskVersion` and `loadVersion` are two reads of one
    * atomically-swapped state: a rebase rename landing BETWEEN them
    * gives a TORN pair (the headless instant derives version 0 while
    * the promoted dir starts at the compacted first version —
    * "no version 0 ... have 9..9", caught live by the stress matrix).
    * The pair is re-derived on that signature, bounded; a persistent
    * mismatch (a genuinely vacuumed version) still fails loudly. */
  private[sql] def current(sp: SparkSession, path: String): (Long, TableHandle) = {
    recoverIfNeeded(sp, path)
    val key = canonical(sp, path)
    var attempts = 0
    while (true) {
      val dv = diskVersion(sp, path)
      cacheOf(sp).get(key) match {
        case Some((v, h)) if v == dv => return (v, h)
        case _ =>
          try {
            val h = loadVersion(sp, path, dv)
            cacheOf(sp).put(key, (dv, h))
            return (dv, h)
          } catch {
            case e: IllegalArgumentException
                if attempts < 5 && e.getMessage != null &&
                  e.getMessage.contains("no version") =>
              attempts += 1
              Thread.sleep(50)
          }
      }
    }
    sys.error("unreachable")
  }

  // -------------------------------------------------------- create path

  /** Build the index the options describe and persist it as version 0.
    * `key` — comma-separated key column(s); `ordered` (default true) —
    * radix layout claiming pushed ranges; `partitions` — hash
    * partition count (0 = inherit the input's); `uuid` —
    * comma-separated string columns holding canonical UUIDs. */
  private[sql] def create(sp: SparkSession, path: String,
      parameters: Map[String, String], data: DataFrame): Unit = {
    val keys = parameters.getOrElse("key", throw new IllegalArgumentException(
      "CREATE TABLE ... USING graft needs OPTIONS (key '<col>[,<col>...]')"))
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    require(keys.nonEmpty, "empty key column list")
    val ordered = parameters.get("ordered").forall(_.toBoolean)
    val parts = parameters.get("partitions").map(_.toInt).getOrElse(0)
    val uuidCols = parameters.get("uuid")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty[String])
    val h: TableHandle = keys match {
      case Seq(k) => data.schema(k).dataType match {
        case StringType if uuidCols(k) =>
          H1(IndexedFrame.indexUuid(data, k, ordered, parts))
        case StringType =>
          H1(IndexedFrame.indexString(data, k, ordered, parts))
        case _: DecimalType =>
          H1(IndexedFrame.indexBigInt(data, k, parts))
        case _ =>
          H1(IndexedFrame.index(data, k, ordered, parts))
      }
      case ks =>
        HN(IndexedFrame.indexCompositeN(data, ks, ordered, parts, uuidCols))
    }
    // OPTIONS (maxpart 'n'): the OVERSIZED-PARTITION guard, persisted —
    // the build re-splits any bucket over the cap now, and every later
    // OPTIMIZE re-runs the same check (upserts can regrow a hot bucket)
    val skewCap = parameters.get("maxpart").map(_.toLong)
    skewCap.foreach(c => require(c > 0, s"maxpart must be positive (got $c)"))
    val hh = skewCap.map(h.reskew).getOrElse(h)
    hh.saveTo(path)
    clearDeltas(sp, path)
    writeVersion(sp, path, 0L)
    writeFirstVersion(sp, path, 0L)
    writeManifest(sp, path, Manifest(0L, 0L, 0L, Nil, Map.empty))
    val (fs, p) = fsOf(sp, path)
    skewCap.foreach(c =>
      graft.MarkerFile.writeLong(fs, new Path(p, "_skewcap"), c))
    purgeAllSessions(sp, path)
    cacheOf(sp).put(canonical(sp, path), (0L, hh))
  }

  /** The persisted oversized-partition cap (`maxpart` CTAS option), if
    * any — compaction re-checks balance against it. */
  private def readSkewCap(sp: SparkSession, path: String): Option[Long] = {
    val (fs, p) = fsOf(sp, path)
    graft.MarkerFile.readLong(fs, new Path(p, "_skewcap"))
  }

  /** Boxed skew cap for DESCRIBE DETAIL's nullable output column. */
  private[sql] def readSkewCapPublic(sp: SparkSession,
      path: String): Option[java.lang.Long] =
    readSkewCap(sp, path).map(Long.box)

  // ------------------------------------------------------- change feed

  /** The table's current committed version — the streaming source's
    * offset domain. */
  private[sql] def currentVersion(sp: SparkSession, path: String): Long =
    diskVersion(sp, path)

  /** Approximate on-disk byte size of delta version `v` — the change
    * feed's `maxBytesPerTrigger` unit. Fold/schema/truncate versions
    * without change files count 0; a missing dir (compacted away — the
    * retention contract fails the read later, loudly) counts 0 too. */
  private[sql] def deltaBytes(sp: SparkSession, path: String, v: Long): Long = {
    val (fs, _) = fsOf(sp, path)
    val dir = new Path(deltaDir(path, v))
    try {
      if (!fs.exists(dir)) 0L
      else fs.getContentSummary(dir).getLength
    } catch { case scala.util.control.NonFatal(_) => 0L }
  }

  /** Epoch millis of a `startingTimestamp` option value: a raw millis
    * long (an optional sign then digits ONLY — a date-only string like
    * `2026-08-15` also consists of digits and dashes but must parse as
    * a DATE, as Delta accepts), a date-only string, or a
    * `java.sql.Timestamp` string (the same JVM-zone wall-clock form
    * `TIMESTAMP AS OF` round-trips). */
  private[sql] def parseTimestampMillis(s: String): Long =
    if (s.matches("-?\\d+")) s.toLong
    else if (s.matches("\\d{4}-\\d{2}-\\d{2}"))
      java.sql.Timestamp.valueOf(java.time.LocalDate.parse(s)
        .atStartOfDay()).getTime
    else java.sql.Timestamp.valueOf(s).getTime

  /** The change-feed start for `startingTimestamp = ms`: the version
    * BEFORE the first one committed at-or-after `ms`, so the feed
    * emits exactly the versions with stamp >= ms (Delta's CDF rule).
    * Degrades to 0 (the backfill-then-tail snapshot) when even the
    * oldest readable commit is at-or-after `ms` — the pre-history the
    * caller asked for is only expressible as a snapshot — and to the
    * current version (tail only-new) when every commit predates it. */
  private[sql] def versionBeforeTimestamp(sp: SparkSession, path: String,
      ms: Long): Long = {
    val times = historyTimes(sp, path) // index 0 = the first version
    val first = tableFirstVersion(sp, path)
    val j = times.indexWhere(_ >= ms)
    if (j < 0) diskVersion(sp, path)
    else if (j == 0) 0L
    else first + j - 1
  }

  /** Where a `startingVersion = 0` stream's initial snapshot sits: the
    * oldest readable version, pushed past the latest RENAME/DROP
    * evolution (whose older deltas the feed cannot express — the
    * snapshot covers them instead). */
  private[sql] def snapshotVersion(sp: SparkSession, path: String): Long =
    math.max(tableFirstVersion(sp, path),
      latestFeedFence(sp, path).getOrElse(0L))

  /** Per-process memo of the fence scan: canonical path ->
    * (versions examined through, latest fence found). Monotone while
    * the table lives; [[purgeAllSessions]] drops it on any base
    * rewrite. */
  private val fenceMemo =
    new scala.collection.concurrent.TrieMap[String, (Long, Long)]()

  /** Latest feed-fencing evolution (RENAME/DROP) version, derived from
    * the COMMITTED LOG itself: the per-version `_feedfence` markers are
    * written before `_meta` and so are atomic with their commits — a
    * crash between a schema commit and the root `_evolvever` hint can
    * never hide a fence from the feed. The root hint and a per-process
    * memo bound the scan to the unexamined tail (O(new commits), not
    * O(log)); when the scan finds a newer fence than the hint, the
    * hint self-heals for other processes. Pre-fix tables carry only
    * the root marker (possibly pointing at a Widen) — honored as a
    * floor; over-fencing fails loudly, never silently. */
  private[sql] def latestFeedFence(sp: SparkSession,
      path: String): Option[Long] = {
    val (fs, p) = fsOf(sp, path)
    val key = canonical(sp, path)
    val cur = diskVersion(sp, path)
    val hint = graft.MarkerFile.readLong(fs, new Path(p, "_evolvever"))
      .getOrElse(0L)
    val (memoThrough, memoFence) = fenceMemo.get(key) match {
      case Some((t, f)) if t <= cur => (t, f)
      case _ => // unexamined (or the path was re-created): seed the
        // scan floor from the checkpointed manifest so a cold process
        // never walks the whole log for the fence
        readManifest(sp, path).map(m => (m.cv, m.fence)).getOrElse((0L, 0L))
    }
    var latest = math.max(hint, memoFence)
    val from = math.max(math.max(memoThrough, latest),
      tableFirstVersion(sp, path)) + 1
    (from to cur).foreach { v =>
      if (fs.exists(new Path(deltaDir(path, v), "_feedfence"))) latest = v
    }
    fenceMemo.put(key, (cur, latest))
    if (latest > hint)
      try graft.MarkerFile.writeLong(fs, new Path(p, "_evolvever"), latest)
      catch { case scala.util.control.NonFatal(_) => () }
    if (latest > 0) Some(latest) else None
  }

  /** The streaming change feed's schema: every table column (all
    * nullable — delete rows carry only their keys) plus `_change_type`
    * (`insert` | `upsert` | `delete`) and `_commit_version`. */
  private[sql] def changeFeedSchema(sp: SparkSession,
      path: String): StructType = {
    val base = current(sp, path)._2.schema
    StructType(base.fields.map(_.copy(nullable = true)) ++ Seq(
      org.apache.spark.sql.types.StructField("_change_type", StringType,
        nullable = false),
      org.apache.spark.sql.types.StructField("_commit_version",
        org.apache.spark.sql.types.LongType, nullable = false)))
  }

  /** Change rows of versions `(fromExcl, toIncl]` as one DataFrame in
    * the feed schema, straight from the delta parquet (no diff joins:
    * the per-statement change sets ARE the feed). Upserts carry full
    * rows; deletes carry keys with NULL value columns; schema-evolution
    * and truncate deltas contribute no rows (additive columns of
    * pre-evolution deltas read NULL; a truncate's retraction set is
    * implicit — consumers needing it should diff versions via
    * graft_changes instead). */
  private[sql] def changeFeedBatch(sp: SparkSession, path: String,
      fromExcl: Long, toIncl: Long, feedSchema: StructType): DataFrame = {
    import org.apache.spark.sql.functions.{input_file_name, lit,
      regexp_extract}
    // a PHASE-2 evolution (rename/drop — the per-version `_feedfence`
    // markers record them, atomic with the commit) changes what the
    // delta files' column names MEAN: a feed reading versions from
    // before it would emit NULLs for renamed columns. Fail loudly
    // instead (Delta blocks CDF across column-mapping changes
    // identically); additive ADD COLUMNS and pure type widenings stay
    // exact both ways and set no fence.
    latestFeedFence(sp, path).foreach { ev =>
      require(fromExcl >= ev || toIncl <= fromExcl,
        s"change feed cannot read across the RENAME/DROP COLUMN " +
          s"evolution at version $ev of $path (requested versions " +
          s"${fromExcl + 1}..$toIncl were written under the old " +
          "column mapping) — restart the stream at or after version " +
          s"$ev, or with startingVersion=0 (its snapshot sits at the " +
          "evolution point and the tail reads only post-evolution " +
          "deltas)")
    }
    val dataCols = feedSchema.fields.dropRight(2)
    val h = current(sp, path)._2
    val keyCols = h.keyCols.toSet
    // ONE multi-path read per side, commit version from the file path
    // (a per-delta read would pay k planning round-trips on stream
    // catch-up). The explicit schema makes additive evolution exact
    // both ways: pre-evolution files read NULL in appended columns,
    // post-evolution files' extra columns are ignored by a feed
    // created earlier.
    val verCol = regexp_extract(input_file_name(),
      "_tdelta_0*([0-9]+)", 1).cast("long").as("_commit_version")
    val metasR = (fromExcl + 1 to toIncl).map(v => (v, readMeta(sp, path, v)))
    val upPaths = metasR.collect {
      case (v, m) if m.hasUp => s"${deltaDir(path, v)}/up" }
    val delPaths = metasR.collect {
      case (v, m) if m.hasDel => s"${deltaDir(path, v)}/del" }
    def shaped(df: DataFrame, keep: String => Boolean,
        kind: String): DataFrame =
      df.select(dataCols.toIndexedSeq.map { f =>
        (if (keep(f.name)) col(f.name).cast(f.dataType)
         else lit(null).cast(f.dataType)).as(f.name)
      } ++ Seq(lit(kind).as("_change_type"), verCol): _*)
    val dataSchema = StructType(dataCols.map(_.copy(nullable = true)))
    val keySchema = StructType(
      dataCols.filter(f => keyCols(f.name)).map(_.copy(nullable = true)))
    val frames =
      (if (upPaths.isEmpty) Nil
       else Seq(shaped(sp.read.schema(dataSchema).parquet(upPaths: _*),
         _ => true, "upsert"))) ++
      (if (delPaths.isEmpty) Nil
       else Seq(shaped(sp.read.schema(keySchema).parquet(delPaths: _*),
         keyCols.contains, "delete")))
    frames.reduceOption(_ unionByName _).getOrElse(
      sp.createDataFrame(
        sp.sparkContext.emptyRDD[org.apache.spark.sql.Row], feedSchema))
  }

  /** The full content of version `v` shaped into the change-feed
    * schema as `insert` rows — the initial-snapshot batch of a
    * `startingVersion = 0` stream (Delta CDF's backfill shape): a
    * consumer attaching to a long-lived, possibly compacted table
    * starts from a complete snapshot instead of a partial delta
    * replay. */
  private[sql] def changeFeedSnapshot(sp: SparkSession, path: String,
      v: Long, feedSchema: StructType): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val dataCols = feedSchema.fields.dropRight(2)
    loadVersion(sp, path, v).toDF(sp).select(
      dataCols.toIndexedSeq.map(f =>
        col(f.name).cast(f.dataType).as(f.name)) ++
        Seq(lit("insert").as("_change_type"),
          lit(v).as("_commit_version")): _*)
  }

  /** `CLONE` — save version `v` of the table at `srcPath` as a NEW
    * independent table at `dstPath` (its own version 0), carrying the
    * index manifest + sidecars, CHECK constraints, and skew cap.
    * Returns the cloned row count. */
  private[sql] def cloneTo(sp: SparkSession, srcPath: String, v: Long,
      dstPath: String): Long = {
    require(!exists(sp, dstPath),
      s"CLONE target location already holds a graft table: $dstPath")
    val h = loadVersion(sp, srcPath, v)
    h.saveTo(dstPath)
    clearDeltas(sp, dstPath)
    writeVersion(sp, dstPath, 0L)
    writeFirstVersion(sp, dstPath, 0L)
    writeManifest(sp, dstPath, Manifest(0L, 0L, 0L, Nil, Map.empty))
    val (fs, srcP) = fsOf(sp, srcPath)
    val dstP = new Path(dstPath)
    Seq("_indexnames", "_constraints", "_skewcap").foreach { f =>
      val s = new Path(srcP, f)
      if (fs.exists(s))
        org.apache.hadoop.fs.FileUtil.copy(fs, s, fs, new Path(dstP, f),
          false, sp.sparkContext.hadoopConfiguration)
    }
    // durable vector-index sidecars travel with the clone (copy, not
    // rebuild — the clone must probe bit-identically to its source)
    if (fs.exists(srcP)) fs.listStatus(srcP).foreach { st =>
      val n = st.getPath.getName
      if (st.isDirectory && n.startsWith("_tivf_"))
        org.apache.hadoop.fs.FileUtil.copy(fs, st.getPath, fs,
          new Path(dstP, n), false, sp.sparkContext.hadoopConfiguration)
    }
    purgeAllSessions(sp, dstPath)
    // a HISTORICAL snapshot's handle carries no live sidecars (replay
    // strips them; only the current version re-derives) — the clone's
    // manifest then re-derives and persists them now, so the clone
    // routes identically to its source from its first read
    val (_, hc) = current(sp, dstPath)
    val manifest = readIndexManifest(sp, dstPath)
    if (manifest.nonEmpty) {
      val target = hc.handleAny.asInstanceOf[
        IndexedFrame.SecondaryCapable[_] with IndexedFrame.ZoneMapped]
      val missing = manifest.exists {
        case (_, "zonemap", cols) => !cols.forall(target.zoneSnapshot._1.contains)
        case (_, "ivf" | "ivfpq", _) => false // cloned as a durable sidecar above
        case (_, _, cols) => !target.secondaryColSet.contains(cols.head)
      }
      if (missing) {
        reapplyIndexes(sp, dstPath, hc)
        IndexedFrame.saveIndexSidecars(target, dstPath, fs)
      }
    }
    hc.idxAny.count()
  }

  // --------------------------------------------------------- delta log

  private def deltaDir(path: String, v: Long): String =
    f"$path%s/_tdelta_$v%06d"

  // -------------------------------------------------------- fold tier
  //
  // AUTO-BOUNDED REOPEN: without help, a reopened session replays
  // EVERY delta since the last manual OPTIMIZE — at 100 TB a table
  // taking thousands of DML statements pays an unbounded replay at
  // every cold open, or an O(corpus) base rewrite to avoid it. The
  // log-structured fix is TIERED DELTA FOLDING (the LSM compaction
  // idea at delta granularity): every [[foldEvery]] commits, a run of
  // consecutive plain deltas is pre-merged — last operation per key —
  // into ONE fold sidecar (`_tfold_<lo>_<hi>`), and K adjacent
  // equal-span folds later merge into one K x wider fold. Reopen
  // replay then covers the log with the widest committed folds and
  // only the residual raw deltas: segment count (and meta-read count)
  // is O(K log_K n) instead of O(n), with zero user OPTIMIZE calls.
  //
  // Folds are pure ACCELERATION, never truth: raw deltas stay on disk
  // (time travel to mid-fold versions and the change feed read them
  // verbatim), fold creation costs one delta-sized merge amortized
  // over K commits, a torn fold (missing `_meta` after a crash) is
  // simply ignored, and OPTIMIZE/VACUUM drop folds with the deltas
  // they cover. Each delta's bytes appear in at most log_K(n) folds —
  // the standard LSM write amplification, traded for bounded reopens.

  /** Fold cadence K (0 disables). Mutable for tests. */
  private[sql] var foldEvery: Int = 10

  /** Run fold maintenance ASYNCHRONOUSLY (default): the committing
    * statement returns as soon as its own delta is committed, and the
    * fold pass (a delta-sized Spark job + renames) runs on the shared
    * background worker — no single unlucky writer's statement absorbs
    * it. Folds are advisory, so a process crash before a queued pass
    * loses nothing but acceleration. Mutable for tests. */
  private[sql] var foldAsync: Boolean = true

  /** Spec hook: called at the START of every background fold pass —
    * tests install a blocking/throwing body to prove a stuck or
    * crashed folder never blocks commits. */
  private[sql] var foldPassHook: () => Unit = () => ()

  private lazy val foldExec =
    java.util.concurrent.Executors.newSingleThreadExecutor(r => {
      val t = new Thread(r, "graft-fold-maintenance")
      t.setDaemon(true)
      t
    })

  /** Paths with a fold pass already queued — rapid-fire commits
    * COALESCE into one pass that covers everything committed by the
    * time it runs. */
  private val foldQueued =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Fold maintenance for the table at `path`, off the statement's
    * critical path when [[foldAsync]]. Never throws (folds are
    * advisory and the triggering statement already committed). The
    * same pass is the natural home for the other deferred-maintenance
    * policy: [[maybeRebuildZProj]] re-materializes a z sort projection
    * whose delta overlay has deepened past its usefulness. */
  private def scheduleFold(sp: SparkSession, path: String, v: Long): Unit =
    if (!foldAsync) {
      try maybeFold(sp, path, v)
      catch { case scala.util.control.NonFatal(_) => () }
      maybeRebuildZProj(sp, path)
    } else {
      val key = canonical(sp, path)
      if (foldQueued.add(key)) {
        foldExec.submit(new Runnable {
          override def run(): Unit = {
            foldQueued.remove(key)
            try {
              foldPassHook()
              maybeFold(sp, path, diskVersion(sp, path))
            } catch { case scala.util.control.NonFatal(_) => () }
            maybeRebuildZProj(sp, path)
          }
        })
        ()
      }
    }

  /** Overlay version-depth past which the background worker rebuilds a
    * stale z sort projection (0 disables). The overlay bridge is exact
    * at any depth, but its anti-join + union cost grows with the delta
    * span while the rebuilt projection's is O(pruned cells) — a table
    * taking steady DML would otherwise degrade monotonically until an
    * explicit OPTIMIZE. Delta re-clusters only on OPTIMIZE; auto-
    * rebuild keeps the overlay shallower than its crossover with zero
    * user calls (same spirit as tiered delta folding). Mutable for
    * tests. */
  private[sql] var zprojRebuildAfter: Int = 20

  /** Rebuild the persisted z projection at the CURRENT version when
    * its overlay span crossed [[zprojRebuildAfter]] — or when a fence
    * (truncate / schema delta) landed since the build, which stops the
    * overlay from serving at all. One corpus rewrite on the background
    * worker, promoted atomically ([[writeZProjection]]); the freshly
    * built projection attaches to the live handle overlay-free.
    * Best-effort: projections are acceleration, never truth. */
  private def maybeRebuildZProj(sp: SparkSession, path: String): Unit = {
    val threshold = zprojRebuildAfter
    if (threshold <= 0) return
    try readZProjMeta(sp, path).foreach { case (pv, info) =>
      val dv = diskVersion(sp, path)
      if (dv > pv) {
        val fenced = coverVersions(sp, path, pv, dv).exists {
          case Left((_, m)) => !m.plain
          case Right(_) => false
        }
        if (fenced || dv - pv >= threshold) {
          val (cv, h) = current(sp, path)
          // the projected columns must still be value-numeric under
          // the CURRENT schema (an evolution may have dropped or
          // retyped them — then only an explicit OPTIMIZE with new
          // columns can revive the projection)
          val ok = info.dims.map(_._1).forall(c =>
            h.schema.fieldNames.contains(c) &&
              h.schema(c).dataType.isInstanceOf[
                org.apache.spark.sql.types.NumericType] &&
              !h.keyCols.contains(c))
          if (ok) {
            val ninfo = writeZProjection(sp, path, h,
              info.dims.map(_._1), cv)
            swapOverlay(canonical(sp, path), None)
            cacheOf(sp).get(canonical(sp, path)) match {
              case Some((vv, hh)) if vv == cv =>
                hh.handleAny.asInstanceOf[IndexedFrame.ZoneMapped]
                  .attachZProjection(ninfo)
              case _ => ()
            }
          }
        }
      }
    } catch { case scala.util.control.NonFatal(_) => () }
  }

  /** Block until every QUEUED fold pass has finished — the
    * determinism barrier for specs, driver lanes, and bench fixtures
    * that assert on fold/manifest state right after a commit burst.
    * Returns false if the drain timed out (a test left a blocking
    * [[foldPassHook]] installed). */
  private[sql] def awaitFolds(timeoutMillis: Long = 120000L): Boolean =
    try {
      foldExec.submit(new Runnable { override def run(): Unit = () })
        .get(timeoutMillis, java.util.concurrent.TimeUnit.MILLISECONDS)
      true
    } catch {
      case _: java.util.concurrent.TimeoutException => false
      case scala.util.control.NonFatal(_) => true
    }

  private def foldDir(path: String, lo: Long, hi: Long): String =
    f"$path%s/_tfold_$lo%06d_$hi%06d"

  /** A committed fold: the pre-merged change sets of deltas
    * `lo..hi` (inclusive, all plain). */
  private case class Fold(lo: Long, hi: Long, hasDel: Boolean,
      hasUp: Boolean)

  /** Fold commit record. `stamps` carries the COVERED versions' commit
    * millis (lo..hi inclusive, in order) — that is what lets
    * [[refreshManifest]] drop fold-covered versions from the manifest
    * entirely (O(K log_K n) manifest size instead of O(n)) while
    * TIMESTAMP AS OF / graft_history stay exact: [[deltaTimes]] reads
    * stamps per-FOLD, not per-version. Appended after the v1 fields,
    * so pre-r18 folds read as (flags, no stamps) and degrade to
    * per-version stamp reads. */
  private def writeFoldMeta(fs: FileSystem, dir: Path, hasDel: Boolean,
      hasUp: Boolean, stamps: Array[Long]): Unit = {
    val out = new java.io.ObjectOutputStream(
      fs.create(new Path(dir, "_meta"), true))
    try {
      out.writeBoolean(hasDel)
      out.writeBoolean(hasUp)
      out.writeLong(System.currentTimeMillis())
      out.writeInt(stamps.length)
      stamps.foreach(out.writeLong)
    } finally out.close()
  }

  private def readFoldMeta(fs: FileSystem,
      dir: Path): Option[(Boolean, Boolean)] =
    try {
      val in = new java.io.ObjectInputStream(fs.open(new Path(dir, "_meta")))
      try Some((in.readBoolean(), in.readBoolean())) finally in.close()
    } catch { case scala.util.control.NonFatal(_) => None }

  /** The covered versions' commit stamps of fold `[lo, hi]` — None for
    * a pre-r18 fold (no trailing stamps) or a torn read; callers then
    * pay per-version `_meta` reads for that range. */
  private def readFoldStamps(fs: FileSystem, dir: Path,
      expect: Int): Option[Array[Long]] =
    try {
      val in = new java.io.ObjectInputStream(fs.open(new Path(dir, "_meta")))
      try {
        in.readBoolean(); in.readBoolean(); in.readLong()
        val n = in.readInt()
        if (n != expect) None
        else Some(Array.fill(n)(in.readLong()))
      } finally in.close()
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Every COMMITTED fold at `path` (torn ones — no readable `_meta`
    * — are invisible), sorted by `lo`. */
  private def listFolds(sp: SparkSession, path: String): Seq[Fold] = {
    val (fs, p) = fsOf(sp, path)
    if (!fs.exists(p)) return Nil
    fs.listStatus(p).toSeq.flatMap { st =>
      val n = st.getPath.getName
      if (!n.startsWith("_tfold_")) None
      else n.stripPrefix("_tfold_").split("_") match {
        case Array(lo, hi) if lo.nonEmpty && hi.nonEmpty &&
            lo.forall(_.isDigit) && hi.forall(_.isDigit) =>
          readFoldMeta(fs, st.getPath).map { case (d, u) =>
            Fold(lo.toLong, hi.toLong, d, u) }
        case _ => None
      }
    }.sortBy(_.lo)
  }

  // -------------------------------------------- checkpointed log manifest
  //
  // BOUNDED LISTINGS: folds made reopen REPLAY O(K log_K n) segments,
  // but discovering the log still cost one `fs.listStatus` over every
  // `_tdelta_`/`_tfold_` dir ever committed plus one `_meta` read per
  // uncovered version — O(n) entries per reopen, the object-store
  // bottleneck at 100k commits. The fix is Delta's `_last_checkpoint`
  // shape: every fold pass rewrites ONE root `_tmanifest` file
  // enumerating the live cover (committed folds, per-version commit
  // records with stamps and feed fences) up to its cover version.
  // Reopen then reads the manifest plus ONLY the (at most K-deep) tail
  // of newer commits — zero directory listings, O(K log_K n) small
  // reads total.
  //
  // The manifest is pure ACCELERATION, never truth: it is written
  // AFTER the versions it describes committed (their `_meta` files
  // remain the commit points), a torn/absent/stale manifest degrades
  // to the full listing + per-version meta walk, and every base
  // rewrite (create/CLONE/OPTIMIZE/VACUUM) installs a fresh one. A
  // fold committed by a rival between manifest refreshes is simply
  // invisible until the next pass — folds are advisory, so replay
  // stays correct (just un-accelerated) on the raw deltas.

  /** One version's commit record as the manifest carries it (the
    * `_meta` fields plus the commit stamp and the feed-fence flag). */
  private case class VerMeta(truncate: Boolean, hasDel: Boolean,
      hasUp: Boolean, hasSchema: Boolean, stamp: Long, fence: Boolean) {
    def meta: DeltaMeta = DeltaMeta(truncate, hasDel, hasUp, hasSchema)
  }

  /** The checkpointed log state at cover version `cv`: every committed
    * fold, every version's commit record in `(first, cv]`, and the
    * latest feed-fencing evolution at or below `cv` (0 = none). */
  private case class Manifest(cv: Long, first: Long, fence: Long,
      folds: Seq[Fold], metas: Map[Long, VerMeta])

  private def writeManifest(sp: SparkSession, path: String,
      m: Manifest): Unit = {
    val (fs, p) = fsOf(sp, path)
    val target = new Path(p, "_tmanifest")
    val tmp = new Path(p, s"._tmanifest_${java.util.UUID.randomUUID()}")
    val out = new java.io.ObjectOutputStream(fs.create(tmp, true))
    try {
      out.writeInt(1) // format version
      out.writeLong(m.cv); out.writeLong(m.first); out.writeLong(m.fence)
      out.writeInt(m.folds.size)
      m.folds.foreach { f =>
        out.writeLong(f.lo); out.writeLong(f.hi)
        out.writeBoolean(f.hasDel); out.writeBoolean(f.hasUp)
      }
      out.writeInt(m.metas.size)
      m.metas.toSeq.sortBy(_._1).foreach { case (v, vm) =>
        out.writeLong(v)
        out.writeBoolean(vm.truncate); out.writeBoolean(vm.hasDel)
        out.writeBoolean(vm.hasUp); out.writeBoolean(vm.hasSchema)
        out.writeLong(vm.stamp); out.writeBoolean(vm.fence)
      }
    } finally out.close()
    if (!fs.rename(tmp, target)) {
      // rename-no-clobber store: briefly ABSENT (never partial) — the
      // reader falls back to the full walk for that instant
      fs.delete(target, false)
      if (!fs.rename(tmp, target)) { fs.delete(tmp, false); () }
    }
  }

  /** The manifest, validated against the live log: a torn file, a
    * cover version beyond the committed log, or a first-version
    * mismatch (a manifest predating a compaction swap) all read as
    * None — callers then pay the full walk, never a wrong answer. */
  private def readManifest(sp: SparkSession,
      path: String): Option[Manifest] = {
    val (fs, p) = fsOf(sp, path)
    val f = new Path(p, "_tmanifest")
    val parsed = try {
      if (!fs.exists(f)) None
      else {
        val in = new java.io.ObjectInputStream(fs.open(f))
        try {
          require(in.readInt() == 1)
          val cv = in.readLong(); val first = in.readLong()
          val fence = in.readLong()
          val folds = Seq.fill(in.readInt())(Fold(in.readLong(),
            in.readLong(), in.readBoolean(), in.readBoolean()))
          val metas = Seq.fill(in.readInt())(
            (in.readLong(), VerMeta(in.readBoolean(), in.readBoolean(),
              in.readBoolean(), in.readBoolean(), in.readLong(),
              in.readBoolean()))).toMap
          Some(Manifest(cv, first, fence, folds, metas))
        } finally in.close()
      }
    } catch { case scala.util.control.NonFatal(_) => None }
    parsed.filter(m => m.first == tableFirstVersion(sp, path) &&
      m.cv <= diskVersion(sp, path))
  }

  /** (any delete/truncate, any upsert) committed AFTER version `v` —
    * walked over the fold cover (O(K log_K n) metadata reads, zero at
    * the manifest fast path). The vector-index probe uses it to skip
    * its per-key dedup and liveness join on a read-mostly table. */
  private[sql] def changeFlagsSince(sp: SparkSession, path: String,
      v: Long): (Boolean, Boolean) = {
    val dv = diskVersion(sp, path)
    if (dv <= v) (false, false)
    else if (v < tableFirstVersion(sp, path))
      // `v` predates the oldest readable version — a VACUUM folded the
      // history this walk would inspect into the base, which can hide
      // any mix of operations. Answer conservatively: the caller takes
      // its exact slow path (dedup + liveness join), never a crash.
      (true, true)
    else {
      val items = coverVersions(sp, path, v, dv)
      val del = items.exists {
        case Left((_, m)) => m.truncate || m.hasDel
        case Right(f) => f.hasDel
      }
      val up = items.exists {
        case Left((_, m)) => m.hasUp
        case Right(f) => f.hasUp
      }
      (del, up)
    }
  }

  /** Observability twin of [[readManifest]] for gauges/specs: (cover
    * version, per-version record count, fold count). */
  private[sql] def readManifestPublic(sp: SparkSession,
      path: String): Option[(Long, Int, Int)] =
    readManifest(sp, path).map(m => (m.cv, m.metas.size, m.folds.size))

  /** Every committed fold, preferring the manifest's enumeration (no
    * directory listing) and falling back to the full
    * [[listFolds]] scan when no valid manifest exists. */
  private def knownFolds(sp: SparkSession, path: String,
      man: Option[Manifest]): Seq[Fold] =
    man.map(_.folds.sortBy(_.lo)).getOrElse(listFolds(sp, path))

  /** One version's commit record: from the manifest when covered
    * (zero I/O), else one `_meta` read. */
  private def metaVia(sp: SparkSession, path: String,
      man: Option[Manifest], v: Long): DeltaMeta =
    man.flatMap(_.metas.get(v)).map(_.meta)
      .getOrElse { lastCoverMetaReads += 1; readMeta(sp, path, v) }

  /** Observability for the reopen-cost gauges: per-version `_meta`
    * reads and whether a manifest served the last [[coverVersions]]
    * walk (set there; read by Bench). */
  @volatile private[sql] var lastCoverMetaReads: Int = 0
  @volatile private[sql] var lastCoverUsedManifest: Boolean = false

  /** One replay segment: a raw delta (`ord` = its version) or a fold
    * (`ord` = the LAST covered version — cross-segment last-op
    * resolution orders by it). */
  private case class Seg(ord: Long, dir: String, hasDel: Boolean,
      hasUp: Boolean)

  /** Cover `(first, v]` with the widest committed folds, raw deltas
    * filling the gaps — the reopen replay plan. Fold discovery and the
    * metas of manifest-covered versions come from the checkpointed
    * manifest (ONE read, no listing); only the post-manifest tail —
    * at most one fold cadence deep — pays per-version `_meta` reads.
    * Total reopen metadata cost: O(K log_K n) reads, O(0) listings. */
  private def coverVersions(sp: SparkSession, path: String, first: Long,
      v: Long): Seq[Either[(Long, DeltaMeta), Fold]] = {
    val man = readManifest(sp, path)
    lastCoverUsedManifest = man.isDefined
    coverVersionsWith(sp, path, first, v, knownFolds(sp, path, man), man)
  }

  private def coverVersionsWith(sp: SparkSession, path: String,
      first: Long, v: Long, folds: Seq[Fold], man: Option[Manifest])
      : Seq[Either[(Long, DeltaMeta), Fold]] = {
    lastCoverMetaReads = 0
    val foldsByLo = folds
      .filter(f => f.lo > first && f.hi <= v)
      .groupBy(_.lo).map { case (lo, fs) => lo -> fs.maxBy(_.hi) }
    val items = scala.collection.mutable.ArrayBuffer
      .empty[Either[(Long, DeltaMeta), Fold]]
    var i = first + 1
    while (i <= v) {
      foldsByLo.get(i) match {
        case Some(f) => items += Right(f); i = f.hi + 1
        case None => items += Left((i, metaVia(sp, path, man, i))); i += 1
      }
    }
    items.toSeq
  }

  /** Opportunistic fold maintenance, called after every
    * [[foldEvery]]-th commit. Level 0: each run of >= K consecutive
    * UNFOLDED raw plain deltas folds in K-sized chunks. Tiering: K
    * adjacent equal-span folds merge into one. Only ranges AFTER the
    * last fence (truncate / schema-evolution delta) fold — everything
    * in a fold was written under the CURRENT table schema, so the
    * merge's alignment is exact. Failures are swallowed: folds are
    * advisory, and the statement that triggered this already
    * committed. */
  private def maybeFold(sp: SparkSession, path: String, v: Long): Unit = {
    val k = foldEvery
    if (k <= 1) return
    val first = tableFirstVersion(sp, path)
    val man = readManifest(sp, path)
    var known = knownFolds(sp, path, man)
    val items = coverVersionsWith(sp, path, first, v, known, man)
    // the last fence among the items bounds every foldable range
    val lastFence = items.collect {
      case Left((i, m)) if !m.plain => i }.maxOption.getOrElse(first)
    // the fold schema must be the schema AT `v`: a rival RENAME/DROP
    // landing at a version > v before the `current` read below would
    // hand us a NEWER schema, and createFold's alignTo would NULL-fill
    // the renamed/dropped columns — a silently wrong fold that replay
    // would then prefer over the (correct) raw deltas. If any schema
    // delta committed past v, skip this pass entirely: it fences every
    // range <= v, so no later pass would fold them either. A rival
    // landing AFTER the `current` read is harmless — h.schema is then
    // exactly the schema at v and the fold stays exact.
    val (cv, h) = current(sp, path)
    if (cv > v && (v + 1 to cv).exists(i => readMeta(sp, path, i).hasSchema))
      return
    // a created (or rival-discovered) fold joins the known set — the
    // tiering cover and the trailing manifest refresh both ride it
    val (fsm, _) = fsOf(sp, path)
    def stampVia(i: Long): Long =
      man.flatMap(_.metas.get(i)).map(_.stamp)
        .getOrElse(readMetaRec(fsm, deltaDir(path, i)).stamp)
    // a member fold's covered stamps: from its meta (one read), with
    // per-version reads only for pre-r18 folds that carry none
    def foldStamps(f: Fold): Array[Long] =
      readFoldStamps(fsm, new Path(foldDir(path, f.lo, f.hi)),
        (f.hi - f.lo + 1).toInt)
        .getOrElse((f.lo to f.hi).map(stampVia).toArray)
    def attempt(lo: Long, hi: Long, segs: Seq[Seg],
        stamps: => Array[Long]): Boolean =
      createFold(sp, path, lo, hi, segs, h.schema, h.keyCols,
        stamps) match {
        case Some(f) if !known.exists(g => g.lo == f.lo && g.hi == f.hi) =>
          known :+= f; true
        case _ => false
      }
    // level 0: chunk maximal raw-plain runs after the fence
    val run = scala.collection.mutable.ArrayBuffer.empty[(Long, DeltaMeta)]
    def flushRun(): Unit = {
      while (run.length >= k) {
        val chunk = run.take(k).toSeq
        attempt(chunk.head._1, chunk.last._1,
          chunk.map { case (i, m) =>
            Seg(i, deltaDir(path, i), m.hasDel, m.hasUp) },
          chunk.map(c => stampVia(c._1)).toArray)
        run.remove(0, k)
      }
      run.clear()
    }
    items.foreach {
      case Left((i, m)) if m.plain && i > lastFence => run += ((i, m))
      case _ => flushRun()
    }
    flushRun()
    // tiering: over the folds replay would ACTUALLY pick (the greedy
    // widest-at-lo cover — never the sub-folds a wider one already
    // shadows), merge K adjacent equal-span folds into one K x wider,
    // repeating until a pass creates nothing new.
    var merged = true
    while (merged) {
      merged = false
      val byLo = known
        .filter(f => f.lo > lastFence && f.hi <= v)
        .groupBy(_.lo).map { case (lo, fs) => lo -> fs.maxBy(_.hi) }
      val cover = scala.collection.mutable.ArrayBuffer.empty[Fold]
      var i = lastFence + 1
      while (i <= v) byLo.get(i) match {
        case Some(f) => cover += f; i = f.hi + 1
        case None => i += 1
      }
      val runs = scala.collection.mutable.ArrayBuffer.empty[Fold]
      for (f <- cover if !merged) {
        val span = f.hi - f.lo + 1
        if (runs.nonEmpty && runs.last.hi + 1 == f.lo &&
            runs.head.hi - runs.head.lo + 1 == span) runs += f
        else { runs.clear(); runs += f }
        if (runs.length == k) {
          val members = runs.toSeq
          merged = attempt(members.head.lo, members.last.hi,
            members.map(m =>
              Seg(m.hi, foldDir(path, m.lo, m.hi), m.hasDel, m.hasUp)),
            members.toArray.flatMap(foldStamps))
          runs.clear()
        }
      }
    }
    // checkpoint the log state this pass established — the next
    // reopen/fold pass reads it instead of listing the directory
    refreshManifest(sp, path, v, first, man, known)
  }

  /** Rewrite `_tmanifest` to cover version `v`: carry the prior
    * manifest's per-version records, read ONLY the uncovered tail's
    * metas (+ their feed-fence markers — at most one fold cadence
    * deep, or the whole log once for a legacy table's migration), and
    * enumerate the known folds. Skipped when a rival already
    * checkpointed at or past `v` — never regress the cover. */
  private def refreshManifest(sp: SparkSession, path: String, v: Long,
      first: Long, prior: Option[Manifest], folds: Seq[Fold]): Unit = {
    if (prior.exists(_.cv >= v)) return
    val (fs, _) = fsOf(sp, path)
    val base = prior.map(_.metas.filter { case (i, _) => i > first && i <= v })
      .getOrElse(Map.empty[Long, VerMeta])
    val from = math.max(prior.map(_.cv).getOrElse(first), first) + 1
    val tail = (from to v).map { i =>
      val dir = deltaDir(path, i)
      val m = readMetaRec(fs, dir)
      val fence = m.hasSchema && fs.exists(new Path(dir, "_feedfence"))
      i -> VerMeta(m.truncate, m.hasDel, m.hasUp, m.hasSchema, m.stamp,
        fence)
    }.toMap
    // RETENTION: the manifest enumerates only the GREEDY COVER —
    // the widest committed fold at each position (tier-shadowed
    // sub-folds stay on disk for mid-fold reads but add nothing to
    // replay) — and per-version records only for versions no cover
    // fold spans (the tail, fenced regions, no-change commits).
    // Covered versions' stamps live in the fold's own meta
    // (readFoldStamps), so the rewritten blob is O(n / K^levels),
    // ~FLAT in the commit count, instead of O(n) per-version records
    // plus O(n/K) fold records forever. A mid-fold TIME TRAVEL target
    // pays per-version meta reads — the pre-manifest cost, only on
    // that rare path.
    val byLo = folds.filter(f => f.lo > first && f.hi <= v)
      .groupBy(_.lo).map { case (lo, fs0) => lo -> fs0.maxBy(_.hi) }
    val live = scala.collection.mutable.ArrayBuffer.empty[Fold]
    var i = first + 1
    while (i <= v) byLo.get(i) match {
      case Some(f) => live += f; i = f.hi + 1
      case None => i += 1
    }
    val covered = (j: Long) => live.exists(f => f.lo <= j && j <= f.hi)
    val metas = (base ++ tail).filterNot { case (j, _) => covered(j) }
    val fence = math.max(prior.map(_.fence).getOrElse(0L),
      tail.collect { case (i, vm) if vm.fence => i }
        .maxOption.getOrElse(0L))
    writeManifest(sp, path, Manifest(v, first, fence, live.toSeq, metas))
  }

  /** Write the pre-merged change sets of `segs` as fold `[lo, hi]`:
    * staged under a `_tfoldtmp_` sibling (complete with `_meta`),
    * then RENAMED into place — the fold appears atomically or not at
    * all, and a rename that loses to a rival folder just discards the
    * duplicate work (fold content is deterministic). Returns the fold
    * now committed at `[lo, hi]` — ours, or a rival's that already
    * existed / won the rename (ADOPTED so the caller's manifest
    * enumerates it) — or None when the range carries no change rows. */
  private def createFold(sp: SparkSession, path: String, lo: Long, hi: Long,
      segs: Seq[Seg], schema: StructType,
      keyCols: Seq[String], stamps: => Array[Long]): Option[Fold] = {
    val (fs, p) = fsOf(sp, path)
    val target = new Path(foldDir(path, lo, hi))
    def committed: Option[Fold] =
      readFoldMeta(fs, target).map { case (d, u) => Fold(lo, hi, d, u) }
    if (fs.exists(target)) return committed
    val anyDel = segs.exists(_.hasDel)
    val anyUp = segs.exists(_.hasUp)
    if (!anyDel && !anyUp) return None
    lastOpFrame(sp, schema, keyCols, segs).flatMap { last =>
      val tmp = new Path(p, s"_tfoldtmp_${java.util.UUID.randomUUID()}")
      try {
        if (anyDel)
          writable(last.where(col("__del")).select(keyCols.map(col): _*))
            .write.mode("overwrite").parquet(s"$tmp/del")
        if (anyUp)
          writable(last.where(!col("__del"))
            .select(schema.fieldNames.map(col).toIndexedSeq: _*))
            .write.mode("overwrite").parquet(s"$tmp/up")
        writeFoldMeta(fs, tmp, anyDel, anyUp, stamps)
        if (fs.rename(tmp, target)) Some(Fold(lo, hi, anyDel, anyUp))
        else { fs.delete(tmp, true); committed }
      } catch {
        case scala.util.control.NonFatal(e) =>
          try { fs.delete(tmp, true); () }
          catch { case _: java.io.IOException => () }
          throw e
      }
    }
  }

  /** Current version = the `_tver` HINT advanced past any committed
    * delta the hint does not know about yet. The walk makes the marker
    * advisory, not load-bearing: a torn/absent `_tver` (crashed
    * writer), or one a rival committer briefly regressed, self-heals —
    * the commit point of version v is its delta's `_meta`, exactly as
    * in Delta's log, and the walk trusts only that. */
  private[sql] def diskVersion(sp: SparkSession, path: String): Long = {
    val (fs, p) = fsOf(sp, path)
    val first = tableFirstVersion(sp, path)
    var v = math.max(
      graft.MarkerFile.readLong(fs, new Path(p, "_tver")).getOrElse(first),
      first)
    while (committedAt(fs, path, v + 1)) v += 1
    v
  }

  /** Advance the `_tver` hint (atomic tmp+rename write; never moves it
    * backwards — a slow rival finishing an EARLIER version after this
    * one must not regress the pointer). Best-effort: the hint is pure
    * acceleration (the [[diskVersion]] walk over commit metas is the
    * truth), so a store refusing the marker rename must not fail a
    * statement whose commit point already landed. */
  private def writeVersion(sp: SparkSession, path: String, v: Long): Unit =
    try {
      val (fs, p) = fsOf(sp, path)
      val vf = new Path(p, "_tver")
      if (graft.MarkerFile.readLong(fs, vf).forall(_ < v))
        graft.MarkerFile.writeLong(fs, vf, v)
    } catch { case scala.util.control.NonFatal(_) => () }

  /** Oldest READABLE version (Delta semantics: version numbers never
    * renumber — OPTIMIZE/VACUUM rebase the base save onto a later
    * version and earlier ones fail like "version no longer exists").
    * Absent `_tfirst` = 0, the original base. */
  private[sql] def tableFirstVersion(sp: SparkSession, path: String): Long = {
    val (fs, p) = fsOf(sp, path)
    graft.MarkerFile.readLong(fs, new Path(p, "_tfirst")).getOrElse(0L)
  }

  private def writeFirstVersion(sp: SparkSession, path: String,
      v: Long): Unit = {
    val (fs, p) = fsOf(sp, path)
    graft.MarkerFile.writeLong(fs, new Path(p, "_tfirst"), v)
  }

  /** The REAL commit stamp of the oldest readable version, persisted
    * by [[rebase]] so TIMESTAMP AS OF keeps resolving times that fall
    * inside the folded-away history to the (still readable) rebased
    * version, exactly as before the compaction. */
  private def readFirstTime(sp: SparkSession, path: String): Option[Long] = {
    val (fs, p) = fsOf(sp, path)
    graft.MarkerFile.readLong(fs, new Path(p, "_tfirsttime"))
  }

  private def writeFirstTime(sp: SparkSession, path: String,
      millis: Long): Unit = {
    val (fs, p) = fsOf(sp, path)
    graft.MarkerFile.writeLong(fs, new Path(p, "_tfirsttime"), millis)
  }

  private def clearDeltas(sp: SparkSession, path: String): Unit = {
    val (fs, p) = fsOf(sp, path)
    if (fs.exists(p)) fs.listStatus(p).foreach { st =>
      val n = st.getPath.getName
      if (n.startsWith("_tdelta_") || n.startsWith("_tfold") ||
          n.startsWith("_tstage_") || n.startsWith("_tgrave_") ||
          n.startsWith("_tproj") || n == "_tmanifest")
        fs.delete(st.getPath, true)
    }
  }

  /** Age past which an abandoned writer-private dir — a crashed
    * writer's `_tstage_` staging data, a torn `_tfoldtmp_` fold
    * attempt, a steal's `_tgrave_` remains — is garbage-collected.
    * Generous by default: a live 100 TB stage can legitimately take
    * hours to write. Mutable for tests. */
  private[sql] var orphanSweepAgeMillis: Long = 12L * 3600 * 1000

  /** Sweep orphaned writer-private dirs older than
    * [[orphanSweepAgeMillis]] — the cloud-committer-style GC of
    * abandoned staging attempts. Runs inside OPTIMIZE and VACUUM (the
    * maintenance verbs), never on the hot commit path. */
  private[sql] def sweepOrphans(sp: SparkSession, path: String): Unit = {
    val (fs, p) = fsOf(sp, path)
    if (!fs.exists(p)) return
    val now = System.currentTimeMillis()
    fs.listStatus(p).foreach { st =>
      val n = st.getPath.getName
      val orphan = n.startsWith("_tstage_") || n.startsWith("_tfoldtmp_") ||
        n.startsWith("_tgrave_") || n.startsWith("_tprojtmp_")
      if (orphan && now - st.getModificationTime > orphanSweepAgeMillis) {
        try { fs.delete(st.getPath, true); () }
        catch { case scala.util.control.NonFatal(_) => () }
      }
    }
    // abandoned REBASE stages live BESIDE the table (unique-named
    // siblings since r20); sweep aged ones only while the table is
    // healthy — a headless table may need them for recovery. Staleness
    // keys on max(root mtime, `_hb` heartbeat): a LIVE rebase's save
    // writes only deep files and never moves the root mtime, so mtime
    // alone would let this sweep kill a live stage mid-save.
    if (fs.exists(new Path(p, "_frame"))) {
      try fs.listStatus(p.getParent).foreach { st =>
        lazy val alive = math.max(st.getModificationTime,
          graft.MarkerFile.readLong(fs, new Path(st.getPath, "_hb"))
            .getOrElse(0L))
        if (isRebaseStageOf(p, st.getPath.getName) &&
            now - alive > orphanSweepAgeMillis) {
          try { fs.delete(st.getPath, true); () }
          catch { case scala.util.control.NonFatal(_) => () }
        }
      } catch { case scala.util.control.NonFatal(_) => () }
    }
  }

  /** Exact-type projection onto the table schema — the write AND
    * replay sides of the delta log both pass through it, so what
    * applies live is what a reopened session reads. Source columns
    * resolve CASE-INSENSITIVELY (Spark's default resolution, and the
    * same rule the append guard uses — a `VAL` source column must feed
    * a `val` table column, not be silently NULL-filled away), exact
    * match first. Columns the frame lacks fill with NULL when the
    * table schema allows it (Delta's additive-evolution semantics: a
    * pre-evolution writer keeps working after ADD COLUMN); a missing
    * NON-nullable column is still an error. */
  private[sql] def alignTo(df: DataFrame, schema: StructType): DataFrame = {
    val cols = df.columns
    def resolve(name: String): Option[String] =
      cols.find(_ == name).orElse {
        val ci = cols.filter(_.equalsIgnoreCase(name))
        require(ci.length <= 1, s"columns ${ci.mkString(", ")} are " +
          s"ambiguous for table column '$name' (case-insensitive match)")
        ci.headOption
      }
    df.select(schema.fields.toIndexedSeq.map { f =>
      resolve(f.name) match {
        case Some(src) =>
          // no-op casts are SKIPPED, not just cheap: Spark refuses an
          // array<T> -> array<T> cast whose only difference is
          // containsNull tightening, and element nullability is
          // metadata the parquet round-trip loosens anyway
          val srcType = df.schema(df.schema.fieldIndex(src)).dataType
          // catalogString prints types WITHOUT nullability — equality
          // on it is "same type modulo containsNull/valueContainsNull"
          if (srcType == f.dataType ||
              srcType.catalogString == f.dataType.catalogString)
            col(src).as(f.name)
          else col(src).cast(f.dataType).as(f.name)
        case None =>
          require(f.nullable,
            s"frame is missing non-nullable column '${f.name}'")
          org.apache.spark.sql.functions.lit(null).cast(f.dataType).as(f.name)
      }
    }: _*)
  }

  private def keySchemaOf(schema: StructType, keyCols: Seq[String]): StructType =
    StructType(keyCols.map(k => schema(k)))

  /** An empty-partition frame writes no parquet part files and cannot
    * be read back — pin at least one partition. */
  private def writable(df: DataFrame): DataFrame =
    if (df.rdd.getNumPartitions == 0) df.repartition(1) else df

  /** Persist one statement's change sets as the next delta and advance
    * the version, WITHOUT applying — [[commitChange]] wraps this. */
  private[sql] def writeDelta(sp: SparkSession, path: String, v: Long,
      truncate: Boolean, del: Option[DataFrame], up: Option[DataFrame],
      schema: StructType, keyCols: Seq[String]): Unit = {
    val dir = deltaDir(path, v)
    del.foreach(d => writable(alignTo(d, keySchemaOf(schema, keyCols)))
      .write.mode("overwrite").parquet(s"$dir/del"))
    up.foreach(u => writable(alignTo(u, schema))
      .write.mode("overwrite").parquet(s"$dir/up"))
    writeMeta(sp, dir, truncate, del.isDefined, up.isDefined,
      hasSchema = false, writerId = "")
    writeVersion(sp, path, v)
  }

  /** Persist an `ALTER TABLE ... ADD COLUMN` as a SCHEMA delta: no
    * change-set rows, just `_schema` (the full post-evolution schema
    * as StructType JSON) — replay widens the handle when it reaches
    * this version, so every delta applies under the schema that was
    * current when it committed. */
  private def writeSchemaDelta(sp: SparkSession, path: String, v: Long,
      newSchema: StructType, writerId: String,
      positions: Option[Array[Int]] = None,
      feedFence: Boolean = false): Unit = {
    val dir = deltaDir(path, v)
    val dirP = new Path(dir)
    val (fs, _) = fsOf(sp, path)
    // schema commits get the SAME ownership fencing as DML promotes: a
    // claim stolen after a stale heartbeat and reclaimed by a rival
    // must surface as a loud abort, never as a `_schema`/`_meta`
    // overwrite inside the rival's version dir
    def owned: Boolean = claimInfo(fs, dirP).exists(_._1 == writerId)
    require(owned, s"graft schema commit integrity: claim on version " +
      s"$v of $path no longer belongs to this writer — commit aborted")
    val out = fs.create(new Path(dir, "_schema"), true)
    try out.write(newSchema.json.getBytes(
      java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    // general evolution (rename/drop/widen) persists the field mapping
    // beside the schema; absent `_schemamap` = the r14 additive form
    // (old logs and pure ADD COLUMNS replay unchanged)
    positions.foreach { pos =>
      val mout = new java.io.ObjectOutputStream(
        fs.create(new Path(dir, "_schemamap"), true))
      try {
        mout.writeInt(pos.length)
        pos.foreach(mout.writeInt)
      } finally mout.close()
    }
    require(owned, s"graft schema commit integrity: claim on version " +
      s"$v of $path was stolen mid-commit — commit aborted")
    // a RENAME/DROP fences the change feed (delta files before it carry
    // the old column mapping). The fence marker lands INSIDE the version
    // dir BEFORE `_meta`, so it is ATOMIC WITH THE COMMIT: there is no
    // crash window where the evolution committed but the fence did not
    // (the old root-marker-after-commit design had exactly that window,
    // and a feed reading across it would silently emit NULLs). Pure
    // type widenings set no fence — changeFeedBatch's casts serve them
    // exactly, both directions.
    if (feedFence) {
      val fout = fs.create(new Path(dir, "_feedfence"), true)
      fout.close()
    }
    writeMeta(sp, dir, truncate = false, hasDel = false, hasUp = false,
      hasSchema = true, writerId = writerId)
    if (!owned)
      throw new IllegalStateException(
        s"graft schema commit integrity: claim on version $v of $path " +
          "was stolen during the commit write — the statement is " +
          "aborted (the commit record may or may not have survived " +
          "the steal; re-read the table before retrying)")
    awaitRebaseOutcome(sp, path, v, writerId) // rebase swap fence
    writeVersion(sp, path, v)
  }

  /** The delta commit record. The trailing `hasSchema` boolean (r14),
    * committer `writerId` (r16 — the audit trail that lets any later
    * reader prove WHICH writer's commit a version holds), and the
    * multi-table-transaction coordinator reference (r16) are FORMAT
    * EXTENSIONS: pre-extension metas simply end earlier, and readers
    * treat EOF as false/absent — old logs replay unchanged. A meta
    * carrying a coordinator path is PENDING: it counts as committed
    * only while the coordinator marker exists (see [[committedAt]]). */
  private def writeMeta(sp: SparkSession, dir: String, truncate: Boolean,
      hasDel: Boolean, hasUp: Boolean, hasSchema: Boolean,
      writerId: String, pendingCoord: Option[String] = None): Unit = {
    val (fs, _) = fsOf(sp, dir)
    writeMetaRec(fs, dir, MetaRec(truncate, hasDel, hasUp,
      System.currentTimeMillis(), hasSchema, writerId, pendingCoord))
  }

  /** The full on-disk commit record (every format extension). */
  private case class MetaRec(truncate: Boolean, hasDel: Boolean,
      hasUp: Boolean, stamp: Long, hasSchema: Boolean, writerId: String,
      pendingCoord: Option[String])

  private def writeMetaRec(fs: FileSystem, dir: String, m: MetaRec,
      name: String = "_meta"): Unit = {
    val out = new java.io.ObjectOutputStream(
      fs.create(new Path(dir, name), true))
    try {
      out.writeBoolean(m.truncate)
      out.writeBoolean(m.hasDel)
      out.writeBoolean(m.hasUp)
      out.writeLong(m.stamp)
      out.writeBoolean(m.hasSchema)
      out.writeUTF(m.writerId)
      out.writeBoolean(m.pendingCoord.isDefined)
      m.pendingCoord.foreach(out.writeUTF)
    } finally out.close()
  }

  private def readMetaRec(fs: FileSystem, dir: String): MetaRec = {
    val in = new java.io.ObjectInputStream(fs.open(new Path(dir, "_meta")))
    try {
      val t = in.readBoolean(); val d = in.readBoolean()
      val u = in.readBoolean(); val stamp = in.readLong()
      // format extensions: pre-extension metas end at any boundary
      def safe[A](read: => A, dflt: A): A =
        try read catch { case _: java.io.EOFException => dflt }
      val s = safe(in.readBoolean(), false)
      val w = safe(in.readUTF(), "")
      val pend = if (safe(in.readBoolean(), false)) Some(in.readUTF()) else None
      MetaRec(t, d, u, stamp, s, w, pend)
    } finally in.close()
  }

  /** Is version `v` COMMITTED — `_meta` present and readable, and (for
    * a multi-table-transaction member) its coordinator marker present?
    * A pending meta whose coordinator exists finalizes on read
    * (best-effort rewrite without the reference), so steady-state
    * reads stop consulting the coordinator. A torn meta (crashed
    * mid-write) reads as not-committed, never as an error. */
  private def committedAt(fs: FileSystem, path: String, v: Long): Boolean = {
    val dir = deltaDir(path, v)
    if (!fs.exists(new Path(dir, "_meta"))) return false
    val m = try readMetaRec(fs, dir)
      catch { case scala.util.control.NonFatal(_) => return false }
    m.pendingCoord match {
      case None => true
      case Some(coord) =>
        if (!fs.exists(new Path(coord))) false
        else { finalizeMeta(fs, dir, m); true }
    }
  }

  /** Rewrite a pending meta as final (coordinator observed): staged as
    * a sibling and RENAMED over `_meta` — if the store's rename will
    * not clobber, the pending form simply stays (readers keep
    * consulting the coordinator; never a window without a meta). */
  private def finalizeMeta(fs: FileSystem, dir: String, m: MetaRec): Unit =
    try {
      writeMetaRec(fs, dir, m.copy(pendingCoord = None), "._meta_final")
      val tmp = new Path(dir, "._meta_final")
      if (!fs.rename(tmp, new Path(dir, "_meta"))) { fs.delete(tmp, false); () }
    } catch { case scala.util.control.NonFatal(_) => () }

  /** One delta's commit record, replay side. */
  private case class DeltaMeta(truncate: Boolean, hasDel: Boolean,
      hasUp: Boolean, hasSchema: Boolean) {
    /** Plain data deltas batch into merged replays; truncate and
      * schema-evolution deltas apply individually, in order. */
    def plain: Boolean = !truncate && !hasSchema
  }

  private def readMeta(sp: SparkSession, path: String, v: Long): DeltaMeta = {
    val (fs, _) = fsOf(sp, path)
    val m = readMetaRec(fs, deltaDir(path, v))
    DeltaMeta(m.truncate, m.hasDel, m.hasUp, m.hasSchema)
  }

  /** Apply delta `v` FROM DISK to `h` — the single replay code path
    * shared by live commits and cold reopens. */
  private def applyDelta(sp: SparkSession, h: TableHandle, path: String,
      v: Long): TableHandle = {
    val dir = deltaDir(path, v)
    val (fs, _) = fsOf(sp, path)
    val DeltaMeta(truncate, hasDel, hasUp, hasSchema) = readMeta(sp, path, v)
    var cur = h
    if (hasSchema) {
      val sin = fs.open(new Path(dir, "_schema"))
      val json =
        try new String(
          org.apache.hadoop.io.IOUtils.readFullyToByteArray(sin),
          java.nio.charset.StandardCharsets.UTF_8)
        finally sin.close()
      val newSchema = org.apache.spark.sql.types.DataType.fromJson(json)
        .asInstanceOf[StructType]
      val mapFile = new Path(dir, "_schemamap")
      cur =
        if (!fs.exists(mapFile)) cur.widen(newSchema) // r14 additive form
        else {
          val min = new java.io.ObjectInputStream(fs.open(mapFile))
          val pos =
            try Array.fill(min.readInt())(min.readInt())
            finally min.close()
          cur.remap(newSchema, pos)
        }
    }
    if (truncate)
      cur = cur.delete(cur.toDF(sp).select(cur.keyCols.map(col): _*))
    if (hasDel)
      cur = cur.delete(alignTo(readBack(sp,
        keySchemaOf(cur.schema, cur.keyCols), s"$dir/del"),
        keySchemaOf(cur.schema, cur.keyCols)))
    if (hasUp)
      cur = cur.upsert(alignTo(readBack(sp, cur.schema, s"$dir/up"),
        cur.schema))
    cur
  }

  /** Read back OUR OWN staged/committed change-set parquet with an
    * EXPLICIT all-nullable schema — the same per-file-exact contract
    * [[lastOpFrame]] documents (a file staged before a rival's
    * additive evolution carries fewer columns; they read NULL).
    * Inference over these one-or-few-file dirs launched a footer job
    * per readback — 2-4 extra driver round-trips on EVERY DML
    * statement at any table size. */
  private def readBack(sp: SparkSession, expected: StructType,
      paths: String*): DataFrame =
    sp.read.schema(StructType(expected.fields.map(_.copy(nullable = true))))
      .parquet(paths: _*)

  /** The table as of version `v` (0 = the base save): base load —
    * secondary/zone sidecars reattach — plus a replay of the first `v`
    * deltas, each a one-sided shuffle of that delta only. Loaded
    * snapshots memoize per (session, path, version): a version's
    * content is immutable while the log only appends, and every
    * operation that rewrites the base ([[create]], [[destroy]],
    * [[compact]]) drops the memo. */
  private[sql] def loadVersion(sp: SparkSession, path: String,
      v: Long): TableHandle = {
    recoverIfNeeded(sp, path)
    val dv = diskVersion(sp, path)
    val first = tableFirstVersion(sp, path)
    require(v >= first && v <= dv,
      s"no version $v for graft table at $path (have $first..$dv" +
        (if (first > 0) " — earlier versions were compacted away)" else ")"))
    vcacheOf(sp).getOrElseUpdate((canonical(sp, path), v), {
      var h = loadBase(sp, path) // the base save IS version `first`
      // persisted sidecars reflect the version they were WRITTEN at
      // (_sidecarver; absent = the base version). Restored postings
      // from any OTHER version would route FALSE NEGATIVES on a
      // historical read (a key whose indexed value changed later is
      // missing from the newer postings) — strip them; the read then
      // serves plain, which is always sound
      val sidecarVer = {
        val (fs, p) = fsOf(sp, path)
        graft.MarkerFile.readLong(fs, new Path(p, "_sidecarver"))
          .getOrElse(first)
      }
      // INCREMENTAL sidecar replay: when the base restored sidecars
      // valid for the base version and we are replaying to the CURRENT
      // version, carry them forward with each run's own change sets —
      // reopen cost for an indexed table becomes delta-sized instead
      // of the O(corpus) reapplyIndexes rebuild. A truncate fence
      // abandons the carry (full rebuild at the end, as before).
      var incremental = v == dv && v > first && sidecarVer == first &&
        sidecarsCover(h, readIndexManifest(sp, path))
      if (sidecarVer != v && !incremental) stripSidecars(h)
      // BATCHED + FOLDED replay: the log is covered with the widest
      // committed fold sidecars (pre-merged runs — see the fold-tier
      // section) plus residual raw deltas, and consecutive PLAIN
      // segments merge into one last-op-per-key application — a
      // k-delta reopen costs ~3 delta-sized shuffles and O(K log_K k)
      // segment reads instead of 2k. Truncate/schema deltas fence the
      // runs and apply in order.
      val items = coverVersions(sp, path, first, v)
      val run = scala.collection.mutable.ArrayBuffer.empty[Seg]
      def flush(): Unit = {
        h = applyPlainRun(sp, h, run.toSeq, maintain = incremental)
        run.clear()
      }
      items.foreach {
        case Right(f) =>
          run += Seg(f.hi, foldDir(path, f.lo, f.hi), f.hasDel, f.hasUp)
        case Left((i, m)) if m.plain =>
          run += Seg(i, deltaDir(path, i), m.hasDel, m.hasUp)
        case Left((i, m)) =>
          flush()
          val prev = h
          h = applyDelta(sp, h, path, i)
          if (incremental) {
            if (m.truncate) { incremental = false; stripSidecars(h) }
            else h.maintainSidecarsFrom(prev, None, None) // schema delta
          }
      }
      flush()
      // replay strips the loaded sidecar state (fresh handles) unless
      // the incremental carry covered it; the CURRENT version
      // re-derives the manifest's indexes so reopened tables keep
      // routing — historical versions read plain
      if (v == dv && v > first && !incremental) reapplyIndexes(sp, path, h)
      // re-attach the persisted z-order sort projection (with a delta
      // overlay when DML advanced past its build version)
      if (v == dv) attachProjectionFor(sp, path, h, v)
      h
    })
  }

  /** Does `h` hold a live sidecar for EVERY manifest entry? (The
    * incremental carry can only transplant what the base restored.) */
  private def sidecarsCover(h: TableHandle,
      entries: Seq[(String, String, List[String])]): Boolean =
    entries.nonEmpty && {
      val t = h.handleAny.asInstanceOf[
        IndexedFrame.SecondaryCapable[_] with IndexedFrame.ZoneMapped]
      entries.forall {
        case (_, "zonemap", cols) => cols.forall(t.zoneSnapshot._1.contains)
        case (_, _, cols) => t.secondaryColSet.contains(cols.head)
      }
    }

  /** The last operation per key across a run of segments (raw deltas
    * and/or folds): union every segment's change sets tagged with
    * their ordering version, window to `row_number = 1` ordered by
    * version DESC (ties within a segment prefer the upsert —
    * sequential semantics apply a statement's deletes before its
    * upserts; the DML contract makes them key-disjoint anyway).
    * Columns: the table schema + `__v` + `__del`. None when no
    * segment carries change rows.
    *
    * ONE multi-path read per side (a per-segment read would pay k
    * planning/listing round-trips — the old per-statement reopen
    * tax); the ordering version rides the file path: `_tdelta_v` dirs
    * order by v, `_tfold_lo_hi` dirs by hi. Within a fence-free run
    * every segment was written under the same table schema, so the
    * shared-scan schema is exact. */
  private def lastOpFrame(sp: SparkSession, schema: StructType,
      keyCols: Seq[String], segs: Seq[Seg]): Option[DataFrame] = {
    import org.apache.spark.sql.functions.{asc, desc, input_file_name,
      lit, regexp_extract, row_number}
    val keySchema = keySchemaOf(schema, keyCols)
    val nonKeys = schema.fieldNames.filterNot(keyCols.contains).toSeq
    val verCol = regexp_extract(input_file_name(),
      "_t(?:delta_|fold_[0-9]+_)0*([0-9]+)", 1).cast("long").as("__v")
    val upPaths = segs.filter(_.hasUp).map(s => s"${s.dir}/up")
    val delPaths = segs.filter(_.hasDel).map(s => s"${s.dir}/del")
    // EXPLICIT read schemas (all-nullable), exactly as the change feed
    // reads: a run's files can carry FEWER columns than the run's
    // table schema — a statement STAGED before an additive evolution
    // commits after it, and its file lacks the added column. An
    // inferred multi-path schema would pick one file's shape and
    // NULL-fill that column for EVERY file in the run; the explicit
    // schema keeps it per-file-exact (absent columns read NULL, the
    // pre-evolution writer contract).
    val upReadSchema = StructType(schema.fields.map(_.copy(nullable = true)))
    val delReadSchema =
      StructType(keySchema.fields.map(_.copy(nullable = true)))
    val parts: Seq[DataFrame] =
      (if (delPaths.isEmpty) Nil
       else Seq(alignTo(
         sp.read.schema(delReadSchema).parquet(delPaths: _*), keySchema)
         .select((keyCols.map(col) ++ nonKeys.map(c =>
           lit(null).cast(schema(c).dataType).as(c))) ++
           Seq(verCol, lit(true).as("__del")): _*))) ++
      (if (upPaths.isEmpty) Nil
       else Seq(alignTo(
         sp.read.schema(upReadSchema).parquet(upPaths: _*), schema)
         .select(schema.fieldNames.map(col).toSeq ++
           Seq(verCol, lit(false).as("__del")): _*)))
    if (parts.isEmpty) return None
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*).orderBy(desc("__v"), asc("__del"))
    Some(parts.reduce(_ unionByName _)
      .select(col("*") +: Seq(row_number().over(w).as("__rn")): _*)
      .where(col("__rn") === 1))
  }

  /** Apply a RUN of consecutive plain segments (raw deltas and/or
    * pre-merged folds) as ONE merged application: resolve the last
    * operation per key ([[lastOpFrame]]), then one delete pass + one
    * upsert pass. Replay equals the sequential fold because upserts
    * are last-write-wins and deletes of absent keys are no-ops: only
    * each key's final operation matters — and a fold's content IS
    * already its members' last-op merge, so mixing tiers is exact. */
  private def applyPlainRun(sp: SparkSession, h0: TableHandle,
      segs: Seq[Seg], maintain: Boolean = false): TableHandle = {
    if (segs.isEmpty) return h0
    if (segs.size == 1) {
      // single segment: del-then-up directly (a fold's sides are
      // key-disjoint by construction; a raw plain delta's by the DML
      // contract) — no window needed
      val s = segs.head
      val del = if (s.hasDel) Some(alignTo(readBack(sp,
        keySchemaOf(h0.schema, h0.keyCols), s"${s.dir}/del"),
        keySchemaOf(h0.schema, h0.keyCols))) else None
      val up = if (s.hasUp) Some(alignTo(readBack(sp, h0.schema,
        s"${s.dir}/up"), h0.schema)) else None
      var h2 = h0
      del.foreach(d => h2 = h2.delete(d))
      up.foreach(u => h2 = h2.upsert(u))
      if (maintain && (h2 ne h0)) h2.maintainSidecarsFrom(h0, del, up)
      return h2
    }
    lastOpFrame(sp, h0.schema, h0.keyCols, segs) match {
      case None => h0
      case Some(last) =>
        val keyCols = h0.keyCols
        val delKeys = last.where(col("__del")).select(keyCols.map(col): _*)
        val upRows = last.where(!col("__del"))
          .select(h0.schema.fieldNames.map(col).toIndexedSeq: _*)
        val h2 = h0.delete(delKeys).upsert(upRows)
        // the merged last-op sets ARE the run's change sets — the
        // sidecar carry applies exactly what the data replay applied
        if (maintain) h2.maintainSidecarsFrom(h0, Some(delKeys), Some(upRows))
        h2
    }
  }

  private val vcaches =
    new java.util.WeakHashMap[SparkSession,
      scala.collection.concurrent.TrieMap[(String, Long), TableHandle]]()

  private def vcacheOf(sp: SparkSession)
      : scala.collection.concurrent.TrieMap[(String, Long), TableHandle] =
    vcaches.synchronized {
      var m = vcaches.get(sp)
      if (m == null) {
        m = scala.collection.concurrent.TrieMap.empty
        vcaches.put(sp, m)
      }
      m
    }

  private def dropVersionMemos(sp: SparkSession, path: String): Unit = {
    val key = canonical(sp, path)
    val m = vcacheOf(sp)
    m.keys.filter(_._1 == key).foreach(m.remove)
  }

  /** Drop every live secondary index and zone map from `h` (the
    * stale-sidecar guard in [[loadVersion]]). */
  private def stripSidecars(h: TableHandle): Unit = {
    val t = h.handleAny
      .asInstanceOf[IndexedFrame.SecondaryCapable[_] with IndexedFrame.ZoneMapped]
    t.secondaryColSet.foreach(t.dropSecondaryIndex)
    val zones = t.zoneSnapshot._1
    if (zones.nonEmpty) { t.dropZones(zones.toSeq: _*); () }
  }

  /** Purge `path` from EVERY session's live-handle and version-memo
    * caches. Base-rewriting operations (create/destroy/rebase) must
    * use this, not the per-session drop: a rebase keeps the version
    * NUMBER stable, so another session's `(version, handle)` entry
    * would still pass the freshness check while its lazy RDD reads
    * point at deleted files. */
  private def purgeAllSessions(sp: SparkSession, path: String): Unit = {
    val key = canonical(sp, path)
    caches.synchronized {
      caches.values.forEach(m => { m.remove(key); () })
    }
    vcaches.synchronized {
      vcaches.values.forEach { m =>
        m.keys.filter(_._1 == key).foreach(m.remove)
      }
    }
    fenceMemo.remove(key)
    ()
  }

  // --------------------------------------------------- CHECK constraints

  /** The `_constraints` sidecar: CHECK name -> SQL expression text, in
    * insertion order. Empty when absent. */
  private[sql] def readConstraints(sp: SparkSession,
      path: String): Seq[(String, String)] = {
    val (fs, p) = fsOf(sp, path)
    val f = new Path(p, "_constraints")
    try {
      if (!fs.exists(f)) Nil
      else {
        val in = new java.io.ObjectInputStream(fs.open(f))
        try (0 until in.readInt()).map { _ =>
          (in.readObject().asInstanceOf[String],
            in.readObject().asInstanceOf[String])
        } finally in.close()
      }
    } catch {
      // a rival's atomic rewrite (delete+rename window on no-clobber
      // stores, data/crc pairing) — same torn-marker tolerance as
      // MarkerFile.readLong
      case _: java.io.FileNotFoundException => Nil
      case _: org.apache.hadoop.fs.ChecksumException => Nil
      case _: java.io.EOFException => Nil
    }
  }

  private[sql] def writeConstraints(sp: SparkSession, path: String,
      cs: Seq[(String, String)]): Unit = {
    val (fs, p) = fsOf(sp, path)
    graft.MarkerFile.writeAtomic(fs, new Path(p, "_constraints")) { raw =>
      val out = new java.io.ObjectOutputStream(raw)
      out.writeInt(cs.size)
      cs.foreach { case (n, t) => out.writeObject(n); out.writeObject(t) }
      out.flush()
    }
  }

  /** SQL-standard CHECK semantics: a row violates only when the
    * expression is FALSE (UNKNOWN/null passes — Delta agrees). One
    * delta-sized filter per constraint per statement; the statement
    * aborts BEFORE anything is claimed or committed. */
  private def enforceConstraints(sp: SparkSession, path: String,
      up: DataFrame, schema: StructType): Unit =
    enforceConstraintList(readConstraints(sp, path), alignTo(up, schema))

  private def enforceConstraintList(cs: Seq[(String, String)],
      aligned: DataFrame): Unit =
    cs.foreach { case (name, text) =>
      val violated = aligned.filter(!org.apache.spark.sql.functions.coalesce(
        org.apache.spark.sql.functions.expr(text),
        org.apache.spark.sql.functions.lit(true)))
      if (!violated.isEmpty)
        throw new IllegalArgumentException(
          s"CHECK constraint '$name' ($text) violated by rows this " +
            "statement would write — nothing was committed")
    }

  /** The `_indexnames` manifest: SQL index name -> (type, columns),
    * in insertion order. Empty when absent. Disk is the truth for
    * catalog-table index names. */
  private[sql] def readIndexManifest(sp: SparkSession,
      path: String): Seq[(String, String, List[String])] = {
    val (fs, p) = fsOf(sp, path)
    val f = new Path(p, "_indexnames")
    try {
      if (!fs.exists(f)) Nil
      else {
        val in = new java.io.ObjectInputStream(fs.open(f))
        try (0 until in.readInt()).map { _ =>
          (in.readObject().asInstanceOf[String],
            in.readObject().asInstanceOf[String],
            in.readObject().asInstanceOf[List[String]])
        } finally in.close()
      }
    } catch {
      // rival's atomic rewrite window — tolerate as "no manifest yet"
      case _: java.io.FileNotFoundException => Nil
      case _: org.apache.hadoop.fs.ChecksumException => Nil
      case _: java.io.EOFException => Nil
    }
  }

  /** Re-derive the manifest's secondary indexes / zone maps on a
    * handle that REPLAY produced (deleteFrame/upsertFrame return
    * fresh handles whose index state starts empty — without this,
    * CREATE INDEX on a catalog table would silently stop routing
    * after the next DML, and a later sidecar write would clobber the
    * persisted ones from the stripped handle). This is the ordinary
    * cost of DML maintaining indexes: one rebuild per affected index
    * per statement — heavy bulk loads should DROP INDEX first and
    * re-CREATE after, exactly as on any RDBMS. */
  private def reapplyIndexes(sp: SparkSession, path: String,
      h: TableHandle): Unit = {
    val entries = readIndexManifest(sp, path)
    if (entries.isEmpty) return
    val target = h.handleAny
      .asInstanceOf[IndexedFrame.SecondaryCapable[_] with IndexedFrame.ZoneMapped]
    entries.foreach {
      case (_, "zonemap", cols) => target.analyzeZones(cols: _*)
      case (_, "ivf" | "ivfpq", _) => () // durable sidecar — nothing handle-side
      case (_, t, cols) =>
        target.addSecondaryIndex(cols.head, ordered = t == "btree")
    }
  }

  /** Post-statement index/zone maintenance, the DELTA-COST way: carry
    * the pre-statement handle's live sidecars onto the new one updated
    * by the statement's own change sets (read back from the written
    * delta, exactly as the data replay) — MERGE latency on an indexed
    * table then scales with the delta, not the corpus. Falls back to
    * the full re-derive only where incremental cannot be exact: a
    * TRUNCATE-bearing statement, or a manifest entry the old handle
    * had no live index for (e.g. CREATE INDEX committed by a rival
    * session since our snapshot loaded). */
  private def maintainIndexes(sp: SparkSession, path: String,
      hOld: TableHandle, hNew: TableHandle, v: Long,
      truncate: Boolean, hasDel: Boolean, hasUp: Boolean): Unit = {
    val entries = readIndexManifest(sp, path)
    if (entries.isEmpty) return
    val dir = deltaDir(path, v)
    // durable vector indexes first: DELTA-COST append of the
    // statement's upserts against the saved centroids (truncate-
    // bearing statements too — superseded keys resolve dead at probe
    // time). Best-effort: the data commit already happened, and a
    // missed append costs partial-probe freshness, never wrong rows.
    val ivfs = entries.filter(e => e._2 == "ivf" || e._2 == "ivfpq")
    if (ivfs.nonEmpty && hasUp) {
      lazy val upAligned = alignTo(readBack(sp, hNew.schema, s"$dir/up"),
        hNew.schema)
      ivfs.foreach { case (n, _, _) =>
        try GraftVectorIndex.append(sp, path, n, upAligned, hNew.keyCols, v)
        catch { case scala.util.control.NonFatal(_) => () }
      }
    }
    if (truncate) { reapplyIndexes(sp, path, hNew); return }
    val del = if (hasDel) Some(alignTo(readBack(sp,
      keySchemaOf(hNew.schema, hNew.keyCols), s"$dir/del"),
      keySchemaOf(hNew.schema, hNew.keyCols))) else None
    val up = if (hasUp) Some(alignTo(readBack(sp, hNew.schema, s"$dir/up"),
      hNew.schema)) else None
    hNew.maintainSidecarsFrom(hOld, del, up)
    // manifest entries the transplant could not carry re-derive fresh
    val target = hNew.handleAny
      .asInstanceOf[IndexedFrame.SecondaryCapable[_] with IndexedFrame.ZoneMapped]
    val haveSec = target.secondaryColSet
    val haveZone = target.zoneSnapshot._1
    entries.foreach {
      case (_, "zonemap", cols) if !cols.forall(haveZone.contains) =>
        target.analyzeZones(cols: _*)
      case (_, "ivf" | "ivfpq", _) => () // appended above; nothing handle-side
      case (_, t, cols) if t != "zonemap" && !haveSec.contains(cols.head) =>
        target.addSecondaryIndex(cols.head, ordered = t == "btree")
      case _ => ()
    }
  }

  /** (location, current version) of `name` when it is a graft catalog
    * table — the durable fallback behind VERSION AS OF,
    * graft_changes, and graft_history once no in-session chain exists
    * (e.g. after a reopen). */
  private[sql] def tableInfo(sp: SparkSession,
      name: String): Option[(String, Long)] = {
    val ident = org.apache.spark.sql.catalyst.TableIdentifier(name)
    scala.util.Try(sp.sessionState.catalog.getTableMetadata(ident)).toOption
      .filter(_.provider.exists(_.equalsIgnoreCase("graft")))
      .map(ct => (ct.location.toString, diskVersion(sp, ct.location.toString)))
  }

  /** The analyzed plan of version `v` — what the time-travel rule and
    * the CDC TVF substitute. Consecutive versions come from the same
    * base partitioner, so the TVF's diff joins zip without shuffles
    * exactly as for in-session chains. */
  private[sql] def versionPlanOf(sp: SparkSession, path: String, v: Long)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    loadVersion(sp, path, v).toDF(sp).queryExecution.analyzed

  /** One commit stamp per version 0..current for graft_history:
    * version 0 (the base) shares the first delta's stamp like the
    * in-session chain seed, or carries the base save's file time when
    * no DML has run yet. */
  private[sql] def historyTimes(sp: SparkSession, path: String): Seq[Long] = {
    val dts = deltaTimes(sp, path)
    // the oldest readable version's stamp: its real (persisted) commit
    // time after a rebase; the first retained delta's stamp for a
    // never-compacted log's seed; the base save's file time before any
    // DML at all
    val baseStamp = readFirstTime(sp, path).getOrElse {
      if (dts.nonEmpty) dts.head
      else {
        val (fs, p) = fsOf(sp, path)
        fs.getFileStatus(new Path(p, "_frame")).getModificationTime
      }
    }
    baseStamp +: dts
  }

  /** Commit millis of each delta (version 1..current): fold-covered
    * ranges read their stamps from the fold's meta (ONE read per fold
    * — O(K log_K n) total), uncovered versions from the manifest's
    * per-version records, and only the post-manifest tail (or a
    * pre-r18 fold without stamps) pays per-version `_meta` reads.
    * Version 0 (the base) shares the first commit's stamp like the
    * in-session chain seed. */
  private[sql] def deltaTimes(sp: SparkSession, path: String): Seq[Long] = {
    val (fs, _) = fsOf(sp, path)
    val man = readManifest(sp, path)
    val first = tableFirstVersion(sp, path)
    val dv = diskVersion(sp, path)
    val foldsByLo = knownFolds(sp, path, man)
      .filter(f => f.lo > first && f.hi <= dv)
      .groupBy(_.lo).map { case (lo, fs0) => lo -> fs0.maxBy(_.hi) }
    def raw(v: Long): Long =
      man.flatMap(_.metas.get(v)).map(_.stamp)
        .getOrElse(readMetaRec(fs, deltaDir(path, v)).stamp)
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    var i = first + 1
    while (i <= dv) foldsByLo.get(i) match {
      case Some(f) =>
        val n = (f.hi - f.lo + 1).toInt
        out ++= readFoldStamps(fs, new Path(foldDir(path, f.lo, f.hi)), n)
          .getOrElse((f.lo to f.hi).map(raw).toArray).toSeq
        i = f.hi + 1
      case None => out += raw(i); i += 1
    }
    out.toSeq
  }

  private def loadBase(sp: SparkSession, path: String): TableHandle = {
    val (fs, p) = fsOf(sp, path)
    require(fs.exists(new Path(p, "_frame")),
      s"no graft table at $path (missing _frame sidecar)")
    // the third _frame header field is the kind tag — sniff it to pick
    // the arity-specific loader (the header layout is shared)
    val in = new java.io.ObjectInputStream(fs.open(new Path(p, "_frame")))
    val tag =
      try { in.readObject(); in.readBoolean(); in.readObject().asInstanceOf[String] }
      finally in.close()
    tag match {
      case "composite" | "compositeN" => HN(IndexedFrame.loadCompositeN(sp, path))
      case _ => H1(IndexedFrame.load(sp, path))
    }
  }

  /** Atomically CLAIM delta version `v` for this writer: mkdirs the
    * delta dir (both rivals may succeed) and create-if-absent its
    * `_claim` file (exactly one does — Hadoop `create(overwrite =
    * false)` is the same put-if-absent primitive Delta's log protocol
    * rides). The claim carries the writer's id and a wall-clock stamp
    * so rivals can tell a LIVE slow owner from a crashed one. False =
    * a rival owns the version number. */
  private[sql] def claimDelta(sp: SparkSession, path: String, v: Long,
      writerId: String): Boolean = {
    val (fs, _) = fsOf(sp, path)
    // fail fast while a LIVE rebase holds the swap fence: claiming into
    // a dir that is about to be deleted+renamed wastes the promote and
    // (between the delete and the rename) the claim's mkdirs could
    // recreate the table path under the rename
    if (rebaseLockAlive(fs, path))
      throw new java.util.ConcurrentModificationException(
        s"a concurrent OPTIMIZE/VACUUM is rebasing $path — retry the " +
          "statement against the fresh snapshot")
    val dir = new Path(deltaDir(path, v))
    fs.mkdirs(dir)
    // content lands with/after the atomic create; a reader seeing a
    // torn in-between state falls back to the file's mtime
    conditionalCreate(fs, new Path(dir, "_claim"),
      s"$writerId:${System.currentTimeMillis()}".getBytes(
        java.nio.charset.StandardCharsets.UTF_8))
  }

  /** Spec convenience: claim under a fresh anonymous writer id. */
  private[sql] def claimDelta(sp: SparkSession, path: String,
      v: Long): Boolean =
    claimDelta(sp, path, v, "test-" + java.util.UUID.randomUUID())

  /** The claim's (writerId, stampMillis), tolerant of the torn write
    * window (content absent/unparsable → the file's mtime, empty id). */
  private def claimInfo(fs: FileSystem, dir: Path): Option[(String, Long)] = {
    val cf = new Path(dir, "_claim")
    val st = try Some(fs.getFileStatus(cf))
      catch { case _: java.io.FileNotFoundException => None }
    st.map { s =>
      val text = try {
        val in = fs.open(cf)
        try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
          java.nio.charset.StandardCharsets.UTF_8)
        finally in.close()
      } catch { case _: java.io.IOException => "" }
      text.split(":", 2) match {
        case Array(id, stamp) if stamp.nonEmpty && stamp.forall(_.isDigit) =>
          (id, stamp.toLong)
        case _ => ("", s.getModificationTime)
      }
    }
  }

  /** The freshest sign of life on a claimed-but-uncommitted version:
    * the claim stamp or the owner's `_claim_hb` heartbeat, whichever
    * is newer. None = no claim file (dir without claim: a crashed
    * mkdirs — use the dir's own mtime). */
  private def lastAlive(fs: FileSystem, dir: Path): Long = {
    val claim = claimInfo(fs, dir).map(_._2)
    val hb = graft.MarkerFile.readLong(fs, new Path(dir, "_claim_hb"))
    (claim.toSeq ++ hb.toSeq) match {
      case Nil =>
        try fs.getFileStatus(dir).getModificationTime
        catch { case _: java.io.FileNotFoundException => Long.MaxValue }
      case xs => xs.max
    }
  }

  /** A daemon that keeps the owner's `_claim_hb` fresh while the
    * (short, metadata-only) promote step runs — covers the one case a
    * stamp alone cannot: a store whose renames are O(data) copies. */
  private[sql] final class Heartbeat(fs: FileSystem, p: Path) {
    graft.MarkerFile.writeLong(fs, p, System.currentTimeMillis())
    @volatile private var running = true
    private val t = new Thread(() => {
      while (running) {
        val step = math.max(50L, claimTimeoutMillis / 4)
        var slept = 0L
        while (running && slept < step) { Thread.sleep(50); slept += 50 }
        if (running) {
          try graft.MarkerFile.writeLong(fs, p, System.currentTimeMillis())
          catch { case scala.util.control.NonFatal(_) => () }
        }
      }
    }, s"graft-claim-heartbeat-${p.getParent.getName}")
    t.setDaemon(true)
    t.start()
    def stop(): Unit = { running = false }
    /** Stop AND wait for the beat thread: callers about to rename the
      * heartbeat's parent dir away need the in-flight write (whose
      * fs.create would recreate the dir as an empty orphan) finished. */
    def stopJoin(): Unit = {
      running = false
      try t.join(5000) catch { case _: InterruptedException => () }
    }
  }

  /** Spec hook: a live heartbeat on version `v`'s claim dir. */
  private[sql] def heartbeatForTest(sp: SparkSession, path: String,
      v: Long): Heartbeat = {
    val (fs, _) = fsOf(sp, path)
    new Heartbeat(fs, new Path(deltaDir(path, v), "_claim_hb"))
  }

  // ------------------------------------------------- rebase swap fence
  //
  // OPTIMIZE/VACUUM rewrite the WHOLE table dir via stage + delete +
  // rename ([[rebase]]). Without a fence, a rival's commit landing
  // between the rebase's delta carry and the delete was ERASED after
  // the rival had been told success — a lost update, found by
  // GraftStressSpec's writers-vs-maintenance matrix. The fence:
  //  - rebase takes the SIBLING lock `.<table>_rebaselock` (the same
  //    create-if-absent primitive the claims ride, heartbeat kept
  //    fresh) BEFORE its delta carry, so the carry reads every commit
  //    record that will ever be acknowledged. SIBLING, not inside the
  //    table dir: the swap deletes the table dir, and a lock living
  //    inside it would vanish exactly when the fence matters most;
  //  - a lock with no sign of life within [[claimTimeoutMillis]] is a
  //    crashed rebase — stolen, so maintenance never wedges writers;
  //  - [[claimDelta]] fails fast (ConcurrentModificationException)
  //    while a LIVE lock exists — statements retry after the swap;
  //  - the commit writers ([[promoteStage]], [[writeSchemaDelta]])
  //    POST-CHECK the lock after their record lands: absent = any
  //    rebase that could swap acquires later and its carry sees this
  //    record; present = WAIT for the swap's outcome and acknowledge
  //    only if the record survived into the promoted dir. Never undo:
  //    the record may have been carried, and deleting the original
  //    while the carried copy survives would double-commit.

  private def rebaseLockPath(path: String) = {
    val p = new Path(path)
    new Path(p.getParent, s".${p.getName}_rebaselock")
  }
  private def rebaseHbPath(path: String) = {
    val p = new Path(path)
    new Path(p.getParent, s".${p.getName}_rebaselock_hb")
  }

  private def rebaseLockAlive(fs: FileSystem, path: String): Boolean = {
    val st = try Some(fs.getFileStatus(rebaseLockPath(path)))
      catch { case _: java.io.FileNotFoundException => None }
    st.exists { s =>
      val alive = math.max(
        graft.MarkerFile.readLong(fs, rebaseHbPath(path)).getOrElse(0L),
        s.getModificationTime)
      System.currentTimeMillis() - alive < claimTimeoutMillis
    }
  }

  /** Take the rebase lock, stealing a dead rival's. Throws
    * ConcurrentModificationException when a LIVE rival holds it (two
    * concurrent OPTIMIZEs — the loser retries). Returns the heartbeat
    * keeping it alive; the caller stops it and removes the lock (or
    * swaps the dir away, which removes both). */
  private def acquireRebaseLock(fs: FileSystem,
      path: String): (Heartbeat, String) = {
    val lp = rebaseLockPath(path)
    val token = java.util.UUID.randomUUID().toString
    val bytes = s"$token:${System.currentTimeMillis()}"
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var acquired = conditionalCreate(fs, lp, bytes)
    if (!acquired && !rebaseLockAlive(fs, path)) {
      fs.delete(lp, false); fs.delete(rebaseHbPath(path), false)
      acquired = conditionalCreate(fs, lp, bytes)
    }
    if (!acquired) throw new java.util.ConcurrentModificationException(
      s"a concurrent OPTIMIZE/VACUUM is rebasing $path — retry")
    (new Heartbeat(fs, rebaseHbPath(path)), token)
  }

  /** Does the rebase lock still carry OUR token? False when stolen
    * (a rival replaced it after we looked dead) or released. */
  private def rebaseLockOwned(fs: FileSystem, path: String,
      token: String): Boolean =
    graft.MarkerFile.readString(fs, rebaseLockPath(path))
      .exists(_.split(":", 2).head == token)

  /** The steal-while-alive guard: a rebase owner that stalled past the
    * steal age (GC pause, scheduler starvation) may wake AFTER a rival
    * stole its lock and swapped — its staged dir is gone or rewritten,
    * and proceeding would bury the rival's promoted dir or erase
    * post-steal commits. Verify ownership before anything destructive;
    * on theft, drop our (now meaningless) stage and abort loudly — the
    * table was never touched by this op, so the caller's retry is
    * safe (exactly-once preserved). */
  private def requireRebaseOwnership(fs: FileSystem, path: String,
      token: String, stage: Path): Unit =
    if (!rebaseLockOwned(fs, path, token)) {
      try { fs.delete(stage, true); () }
      catch { case scala.util.control.NonFatal(_) => () }
      throw new java.util.ConcurrentModificationException(
        s"the rebase lock for $path was stolen while this " +
          "OPTIMIZE/VACUUM stalled (a rival reclaimed and swapped) — " +
          "aborting without touching the table; re-run")
    }

  private def releaseRebaseLock(fs: FileSystem, path: String,
      hb: Heartbeat, token: String): Unit = {
    hb.stop()
    // delete only a lock still bearing OUR token — a stolen-from owner
    // unconditionally deleting here would remove the THIEF's live lock
    // mid-swap and re-open the fence for a third writer
    try {
      if (rebaseLockOwned(fs, path, token)) {
        fs.delete(rebaseLockPath(path), false)
        fs.delete(rebaseHbPath(path), false)
        ()
      }
    }
    catch { case scala.util.control.NonFatal(_) => () }
  }

  /** Post-commit fence against an in-flight rebase swap: returns only
    * when this writer's commit record on version `v` is guaranteed
    * visible in the table's (possibly just-swapped) log. Aborts with
    * ConcurrentModificationException if the swap erased it — the
    * statement was NOT acknowledged, so the caller's retry is safe. */
  private def awaitRebaseOutcome(sp: SparkSession, path: String,
      v: Long, writerId: String): Unit = {
    val (fs, _) = fsOf(sp, path)
    if (!fs.exists(rebaseLockPath(path))) return // fast common path
    // wait as long as the lock HEARTBEATS: a slow-but-live rebase can
    // still erase this record, so acknowledging on a pre-swap survival
    // check at some deadline re-opens exactly the lost-update window
    // the fence closes (the old 4x cap did that). Only a DEAD lock
    // ends the wait early — recovery below heals/steals it. The hard
    // cap guards against a zombie that heartbeats forever without
    // swapping; at that point the commit's outcome is UNKNOWABLE, so
    // fail loudly WITHOUT the retry invitation a CME carries (a blind
    // re-run could double-apply if the zombie's carry kept the record).
    val hardDeadline = System.currentTimeMillis() + claimTimeoutMillis * 40
    while (fs.exists(rebaseLockPath(path)) && rebaseLockAlive(fs, path)) {
      if (System.currentTimeMillis() > hardDeadline)
        throw new IllegalStateException(
          s"graft commit: version $v of $path is fenced behind a rebase " +
            "lock that has stayed live for 40x the claim timeout without " +
            "completing its swap — the commit's outcome is unknowable " +
            "until that rebase finishes; verify before re-running")
      Thread.sleep(50)
    }
    recoverIfNeeded(sp, path) // a swap that died mid-flight heals here
    val dirP = new Path(deltaDir(path, v))
    val survived =
      try fs.exists(new Path(dirP, "_meta")) &&
        claimInfo(fs, dirP).exists(_._1 == writerId)
      catch { case scala.util.control.NonFatal(_) => false }
    if (!survived) throw new java.util.ConcurrentModificationException(
      s"commit of version $v was superseded by a concurrent " +
        s"OPTIMIZE/VACUUM rebase of $path before it became durable — " +
        "the statement did not commit; retry against the fresh snapshot")
  }

  /** How long a rival waits with NO sign of life (claim stamp or
    * heartbeat) on a claimed version before treating the owner as
    * crashed and reclaiming the slot (mutable for tests; production
    * default 30 s). The window this gates holds only METADATA
    * operations — the O(delta) parquet writes happen in a
    * writer-private staging dir before the claim is taken — so a live
    * writer being slow on its data job can never look dead here. */
  private[sql] var claimTimeoutMillis: Long = 30000L

  /** After losing a claim race on version `v`: wait for the rival's
    * commit (`_meta`) to land so the retry's snapshot includes it.
    * Steals only PROVABLY-DEAD claims — and staleness is judged by
    * CHANGE DETECTION ON THE LOSER'S OWN CLOCK: the owner's stamps are
    * another machine's wall clock (skew could make a live writer look
    * ancient, or a crashed one look fresh), so what this trusts is
    * whether the freshest sign-of-life VALUE (claim stamp or
    * heartbeat) has changed during `claimTimeoutMillis` of LOCAL time.
    * A live owner's commit window is metadata-ops-only and
    * heartbeated, so an unchanged stamp means a writer that died
    * between claim and `_meta`. Nothing ever read such a version: an
    * uncommitted delta is invisible to [[diskVersion]]'s walk. */
  private def awaitCommitted(sp: SparkSession, path: String, v: Long): Unit = {
    val (fs, _) = fsOf(sp, path)
    val dir = new Path(deltaDir(path, v))
    // a claim whose owner keeps heartbeating is honored indefinitely
    // short of this hard cap — then fail LOUDLY instead of stealing
    val hardDeadline = System.currentTimeMillis() + claimTimeoutMillis * 40
    var lastSeen = Long.MinValue
    var seenAt = System.currentTimeMillis()
    while (!committedAt(fs, path, v)) {
      if (!fs.exists(dir)) return // another loser already reclaimed it
      val now = System.currentTimeMillis()
      val alive = lastAlive(fs, dir)
      if (alive != lastSeen) { lastSeen = alive; seenAt = now }
      if (now - seenAt > claimTimeoutMillis) {
        if (stealDead(fs, path, v, dir)) return
        // a rival stealer (or a recovered owner) holds the claim now —
        // watch its liveness afresh
        lastSeen = Long.MinValue
        seenAt = System.currentTimeMillis()
      }
      if (now > hardDeadline)
        throw new IllegalStateException(
          s"graft commit: version $v of $path has been claimed and " +
            "heartbeated without committing for far beyond the claim " +
            "timeout — refusing to steal a live writer's claim")
      Thread.sleep(50)
    }
  }

  /** Reclaim a provably-dead claim WITHOUT the check-then-delete race:
    * first take OWNERSHIP of the claim (delete + atomic create-if-
    * absent under a fresh stealer id — a still-live owner's next
    * ownership check then aborts its commit loudly), re-check the
    * commit point AFTER owning, and only then retire the dir — by
    * RENAME to a `_tgrave_` sibling, so a commit racing the final
    * window lands in the grave (orphaned data, swept by
    * [[sweepOrphans]]) instead of producing a committed version whose
    * data files were deleted. Returns true when the version slot was
    * freed or found committed (caller re-examines the log); false when
    * the claim could not be taken (a rival stealer or recovered owner
    * holds it) — keep waiting. */
  private def stealDead(fs: FileSystem, path: String, v: Long,
      dir: Path): Boolean = {
    val stealId = "steal-" + java.util.UUID.randomUUID()
    try { fs.delete(new Path(dir, "_claim"), false); () }
    catch { case _: java.io.IOException => () }
    val took = conditionalCreate(fs, new Path(dir, "_claim"),
      s"$stealId:${System.currentTimeMillis()}".getBytes(
        java.nio.charset.StandardCharsets.UTF_8))
    if (!took || !claimInfo(fs, dir).exists(_._1 == stealId)) return false
    // one grace beat for an in-flight `_meta` write that passed its
    // pre-write ownership check before our claim takeover landed —
    // scaled with the timeout so slow stores (an S3 PUT can take
    // hundreds of ms) get a proportionally wider landing window
    Thread.sleep(math.min(1000L, math.max(100L, claimTimeoutMillis / 10)))
    // a dead TRANSACTION member whose coordinator never landed is NOT
    // committed — reclaiming it IS the transaction's abort (its
    // sibling tables' pending members die the same way)
    if (committedAt(fs, path, v)) return true // committed — honor it
    val grave = new Path(dir.getParent,
      s"_tgrave_${dir.getName}_${java.util.UUID.randomUUID()}")
    if (fs.rename(dir, grave)) { try fs.delete(grave, true) catch {
      case _: java.io.IOException => () }; () }
    true
  }

  private def stageDir(path: String, writerId: String): String =
    s"$path/_tstage_$writerId"

  /** Abort a staged-but-unclaimed statement whose snapshot schema a
    * rival RENAME/DROP COLUMN has since invalidated (every staged
    * column must still exist by name in the current schema — additive
    * ADDs and in-place widenings of still-present columns keep the
    * staged bytes mappable and pass). */
  private def checkStagedCompatible(stagedSchema: StructType,
      currentSchema: StructType, path: String): Unit =
    checkColumnsKnown(stagedSchema.fieldNames, currentSchema, path)

  /** The same conflict one step earlier: change-set frames computed
    * against a snapshot a rival RENAME/DROP has since evolved carry
    * columns the current schema lacks — aligning them would either
    * throw late (non-nullable rename target) or SILENTLY drop this
    * statement's values into the renamed column's NULLs. Abort loudly
    * before anything stages. */
  private def checkColumnsKnown(cols: Seq[String],
      currentSchema: StructType, path: String): Unit = {
    val gone = cols.filterNot(currentSchema.fieldNames.contains).distinct
    if (gone.nonEmpty)
      throw new java.util.ConcurrentModificationException(
        s"column(s) ${gone.mkString(", ")} are not in the current " +
          s"schema of the graft table at $path (${
            currentSchema.fieldNames.mkString(", ")}) — nothing was " +
          "committed. Either a concurrent RENAME/DROP COLUMN evolved " +
          "the table while this statement was being prepared (re-run " +
          "it against the evolved schema), or the input frame carries " +
          "columns the table never had")
  }

  // ------------------------------------------------ idempotent writers
  //
  // Delta's txnAppId/txnVersion shape: a writer that must be
  // exactly-once across restarts (a foreachBatch body writing this
  // table — possibly one of SEVERAL tables per batch) tags its commit
  // with (appId, txnVersion). The tag is written INTO the version dir
  // BEFORE `_meta`, so it is ATOMIC WITH THE COMMIT — there is no
  // window where the data committed but the dedup record did not
  // (the root-marker-after-commit design had exactly that window).
  // Reads resolve the greatest committed txnVersion for an app as
  //   max(fold floor, legacy root marker, scan of delta-dir tags)
  // where the scan is bounded below by a root HINT (the table version
  // of the app's last known commit, advanced after commit — stale by
  // at most the crash window) and OPTIMIZE/VACUUM preserve folded
  // tags via the `_txnfold_<app>` floor marker.

  private def safeApp(appId: String): String = appId.map(c =>
    if (c.isLetterOrDigit || c == '-' || c == '_') c else '_')

  private def writeTxnTag(fs: FileSystem, dir: Path, appId: String,
      txnVer: Long): Unit = {
    val out = fs.create(new Path(dir, "_txn"), true)
    try out.write(s"$appId\n$txnVer".getBytes(
      java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** The (appId, txnVersion) tag of a committed version dir, None when
    * untagged or torn. */
  private def readTxnTag(fs: FileSystem, dir: Path): Option[(String, Long)] =
    try {
      val f = new Path(dir, "_txn")
      if (!fs.exists(f)) None
      else {
        val in = fs.open(f)
        val text = try new String(
          org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
          java.nio.charset.StandardCharsets.UTF_8)
        finally in.close()
        text.split("\n", 2) match {
          case Array(a, v) if v.nonEmpty && v.trim.forall(_.isDigit) =>
            Some((a, v.trim.toLong))
          case _ => None
        }
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Greatest txnVersion COMMITTED for `appId` at this table
    * (Long.MinValue when none): the idempotent writer's dedup
    * question. Scan cost is bounded by the hint — O(commits since the
    * app's last acknowledged write), not O(log). */
  private[sql] def lastTxnVersion(sp: SparkSession, path: String,
      appId: String): Long = {
    val (fs, p) = fsOf(sp, path)
    val app = safeApp(appId)
    val floor = graft.MarkerFile.readLong(fs, new Path(p, s"_txnfold_$app"))
      .getOrElse(Long.MinValue)
    // pre-r16 sinks advanced a root `_txn_<app>` marker after commit —
    // honor it as a floor so existing tables keep deduping
    val legacy = graft.MarkerFile.readLong(fs, new Path(p, s"_txn_$app"))
      .getOrElse(Long.MinValue)
    val first = tableFirstVersion(sp, path)
    val from = math.max(first,
      graft.MarkerFile.readLong(fs, new Path(p, s"_txnhint_$app"))
        .getOrElse(first))
    val cur = diskVersion(sp, path)
    val scanned = (from to cur).iterator.flatMap { v =>
      readTxnTag(fs, new Path(deltaDir(path, v)))
        .collect { case (a, t) if a == appId => t }
    }
    (Iterator(floor, legacy) ++ scanned).max
  }

  /** True when `txnVersion` for `appId` already committed here — the
    * idempotent caller must skip re-applying. */
  private[sql] def txnAlreadyCommitted(sp: SparkSession, path: String,
      appId: String, txnVersion: Long): Boolean =
    lastTxnVersion(sp, path, appId) >= txnVersion

  /** PROMOTE the staged change sets into claimed version `v` — the
    * commit step, kept metadata-ops-only (two renames + one small
    * `_meta` write) and heartbeated so [[awaitCommitted]]'s staleness
    * test can never fire on a live committer. Ownership is verified
    * against the `_claim` content before AND after the `_meta` write:
    * a steal that somehow raced the heartbeat surfaces as a loud
    * integrity error here, never as a silently corrupted log. */
  private def promoteStage(sp: SparkSession, path: String, writerId: String,
      stage: String, v: Long, truncate: Boolean, hasDel: Boolean,
      hasUp: Boolean, txn: Option[(String, Long)],
      pendingCoord: Option[String] = None, advance: Boolean = true): Unit = {
    val (fs, _) = fsOf(sp, path)
    val dir = deltaDir(path, v)
    val dirP = new Path(dir)
    val hb = new Heartbeat(fs, new Path(dirP, "_claim_hb"))
    try {
      def owned: Boolean = claimInfo(fs, dirP).exists(_._1 == writerId)
      require(owned, s"graft commit integrity: claim on version $v of " +
        s"$path no longer belongs to this writer — commit aborted")
      if (hasDel)
        require(fs.rename(new Path(s"$stage/del"), new Path(s"$dir/del")),
          s"graft commit: staging rename failed for $dir/del")
      if (hasUp)
        require(fs.rename(new Path(s"$stage/up"), new Path(s"$dir/up")),
          s"graft commit: staging rename failed for $dir/up")
      require(owned, s"graft commit integrity: claim on version $v of " +
        s"$path was stolen mid-promote — commit aborted")
      // the idempotence tag lands BEFORE the commit point, inside the
      // version dir — atomic with the commit by construction
      txn.foreach { case (app, tv) => writeTxnTag(fs, dirP, app, tv) }
      writeMeta(sp, dir, truncate, hasDel, hasUp, hasSchema = false,
        writerId = writerId, pendingCoord = pendingCoord)
      if (!owned) {
        // last-microsecond steal: surface it LOUDLY — but never delete
        // the `_meta`: after a steal-and-reclaim the record at this
        // path could be the NEW owner's committed version, and even if
        // it is ours the data renames above already completed, so the
        // record describes a COMPLETE version (the stealer's honor
        // check keeps it, or its grave rename orphans dir and record
        // together — either way the log stays readable)
        throw new IllegalStateException(
          s"graft commit integrity: claim on version $v of $path was " +
            "stolen during the commit write — the statement is " +
            "aborted (the commit may or may not have survived the " +
            "steal; re-read the table before retrying)")
      }
      // swap fence: never acknowledge a record an in-flight rebase
      // might erase (see the fence notes above [[rebaseLockPath]])
      awaitRebaseOutcome(sp, path, v, writerId)
      if (advance) writeVersion(sp, path, v)
    } finally hb.stop()
  }

  /** Durably apply one DML statement: write the change sets as delta
    * version `current + 1`, then apply them BY READING THE WRITTEN
    * PARQUET BACK, so the live handle is bit-identical to what any
    * later session replays. Cost: the delta's rows, twice (one write,
    * one one-sided shuffle) — never the corpus.
    *
    * MULTI-WRITER SAFE (optimistic concurrency, Delta-style), in two
    * phases so a LIVE slow writer can never be mistaken for a crashed
    * one:
    *
    *  1. STAGE — the O(delta) parquet writes land in a writer-private
    *     `_tstage_<uuid>` dir, invisible to every reader and held
    *     under NO claim: a delta that takes minutes to write (the
    *     100 TB case) blocks nobody and risks nothing.
    *  2. COMMIT — claim the next version number by atomic
    *     create-if-absent, then promote the staged dirs by RENAME and
    *     write `_meta` (the commit point). The claimed window holds
    *     only metadata operations and is heartbeated, so
    *     [[awaitCommitted]]'s crashed-writer reclaim can only fire on
    *     a writer that actually died between claim and `_meta`.
    *
    * The loser of a claim race waits for the winner's commit,
    * refreshes its snapshot (replaying the winner's delta), re-checks
    * CHECK constraints against the then-current constraint set, and
    * retries under the next number — its staged files are reused
    * verbatim. Change sets are key-level delete/upsert sets, so the
    * rebased application is last-writer-wins per key — both
    * statements survive in the log and in the replayed state. */
  private[sql] def commitChange(sp: SparkSession, path: String,
      truncate: Boolean, del: Option[DataFrame],
      up: Option[DataFrame], txn: Option[(String, Long)] = None,
      readVersion: Option[Long] = None): Unit = {
    val writerId = java.util.UUID.randomUUID().toString
    val (ve, h0) = current(sp, path)
    // the conflict-guard base: the version the change sets were
    // COMPUTED against (the DML rewrite pins it before building its
    // frames), never newer than what this entry observed — a rival
    // landing between the pin and here is then visible to the guard
    val v0 = readVersion.fold(ve)(r => math.min(r, ve))
    val stage = stageDir(path, writerId)
    val (fs, _) = fsOf(sp, path)
    try {
      // phase 1: STAGE (slow part, no claim held). Alignment pins the
      // snapshot schema; a rival's concurrent ADD COLUMN is handled by
      // replay-side alignTo (missing nullable columns read NULL —
      // exactly Delta's pre-evolution-writer contract); a rival
      // RENAME/DROP that already evolved the schema past this
      // statement's change sets aborts loudly instead of staging.
      (del.toSeq ++ up.toSeq).foreach(f =>
        checkColumnsKnown(f.columns.toSeq, h0.schema, path))
      del.foreach(d => writable(alignTo(d, keySchemaOf(h0.schema, h0.keyCols)))
        .write.mode("overwrite").parquet(s"$stage/del"))
      up.foreach(u => writable(alignTo(u, h0.schema))
        .write.mode("overwrite").parquet(s"$stage/up"))
      // phase 2: claim + promote. CHECK constraints are enforced
      // INSIDE the retry loop against the staged rows (exactly the
      // bytes that will commit) and re-checked whenever the constraint
      // set changed since the last validation — a rival's concurrent
      // ADD CONSTRAINT is honored, not check-then-acted past.
      var checked: Seq[(String, String)] = null
      var attempt = 0
      while (true) {
        val (v, h) = current(sp, path)
        // METADATA-CONFLICT guard (Delta's MetadataChangedException): a
        // rival RENAME/DROP between our staging and this claim would
        // make the staged columns unmappable — committing them would
        // either brick replay (a later session's alignTo cannot fill a
        // renamed non-nullable column) or silently discard this
        // statement's values into a NULL-filled rename target. Abort
        // LOUDLY before anything is claimed; additive ADD COLUMN and
        // in-place type widenings stay compatible and flow through.
        checkStagedCompatible(h0.schema, h.schema, path)
        // DATA-CONFLICT guard (Delta's ConcurrentAppend/Delete
        // exceptions): this statement's change sets were COMPUTED
        // against the version-v0 snapshot. If a rival committed a
        // change whose keys INTERSECT ours in between, committing the
        // staged values would silently overwrite the rival's effect
        // with stale reads (a lost update — found by GraftStressSpec's
        // N-writer increment race). Abort LOUDLY; the caller re-runs
        // the statement against the fresh snapshot. Disjoint-key
        // rivals flow through (zero conflict), and the check costs
        // nothing on the no-rival fast path (v == v0).
        if (v > v0)
          checkNoDataConflict(sp, path, v0, v, h, stage,
            del.isDefined, up.isDefined, truncate)
        if (up.isDefined) {
          val cs = readConstraints(sp, path)
          if (cs.nonEmpty && cs != checked)
            enforceConstraintList(cs,
              alignTo(readBack(sp, h.schema, s"$stage/up"), h.schema))
          checked = cs
        }
        val next = v + 1
        if (claimDelta(sp, path, next, writerId)) {
          promoteStage(sp, path, writerId, stage, next, truncate,
            del.isDefined, up.isDefined, txn)
          // advance the scan-bound hint (value = the TABLE version of
          // this app's commit); a crash — or a store refusing the
          // marker rename — before/at this line only widens the next
          // lastTxnVersion scan, never loses the tag
          txn.foreach { case (app, _) =>
            try graft.MarkerFile.writeLong(fs,
              new Path(path, s"_txnhint_${safeApp(app)}"), next)
            catch { case scala.util.control.NonFatal(_) => () } }
          // THE STATEMENT HAS COMMITTED (the record is durable and
          // fence-verified). Everything below is cache/accelerator
          // materialization of a commit that already happened — a
          // failure here (e.g. a concurrent OPTIMIZE swapping files
          // out from under the apply) must NOT propagate as statement
          // failure: the caller would re-run an acknowledged-in-the-
          // log statement and DOUBLE-APPLY it (found by the
          // writers-vs-maintenance stress matrix). Drop the cached
          // handle instead — the next read replays the truth from
          // the log.
          try {
            postCommitHook()
            val h2 = applyDelta(sp, h, path, next)
            // DML maintains the manifest's indexes — incrementally:
            // the statement's own change sets apply to the previous
            // snapshot's postings/zones at delta cost, never an
            // O(corpus) rebuild
            maintainIndexes(sp, path, h, h2, next, truncate,
              del.isDefined, up.isDefined)
            // the projection (if any) stays attached ACROSS the DML as
            // a stale-plus-overlay serve — boxed scans keep pruning
            attachProjectionFor(sp, path, h2, next)
            cacheOf(sp).put(canonical(sp, path), (next, h2))
            // registered export mirrors refresh at delta cost (the
            // symlinkFormatManifest.enabled shape) — same absorb
            // region: a mirror refresh failure must not fail an
            // acknowledged statement, but it IS gauged below
            GraftManifest.autoRefresh(sp, path)
          } catch {
            case scala.util.control.NonFatal(e) =>
              notePostCommitFailure(sp, path, e)
          }
          // opportunistic fold maintenance every K-th commit — the
          // amortized cost that keeps every later reopen bounded.
          // Best-effort AND (by default) asynchronous: folds are
          // advisory, this statement has already committed, and the
          // fold job must neither fail it nor stretch its latency.
          if (foldEvery > 1 && next % foldEvery == 0)
            scheduleFold(sp, path, next)
          return
        }
        attempt += 1
        require(attempt <= 1000,
          s"graft table commit conflict retry budget exhausted at $path")
        awaitCommitted(sp, path, next)
      }
    } finally { fs.delete(new Path(stage), true); () }
  }

  /** The data half of the commit-time conflict rules (the metadata
    * half is [[checkStagedCompatible]]): a rival version in `(v0, v]`
    * that TRUNCATED, or touched keys this statement's staged change
    * sets also touch, invalidates values computed against the v0
    * snapshot — committing them would be a lost update. Key overlap is
    * two delta-sized semi-joins per rival version (and runs only when
    * a rival actually committed); disjoint-key writers never conflict,
    * Delta's WriteSerializable shape. Our own TRUNCATE passes — an
    * overwrite's content does not read the prior state. */
  private def checkNoDataConflict(sp: SparkSession, path: String,
      v0: Long, v: Long, h: TableHandle, stage: String,
      hasDel: Boolean, hasUp: Boolean, truncate: Boolean): Unit = {
    if (truncate || (!hasDel && !hasUp)) return
    val ks = keySchemaOf(h.schema, h.keyCols)
    val mine = (
      (if (hasDel) Seq(alignTo(sp.read.parquet(s"$stage/del"), ks)) else Nil) ++
      (if (hasUp) Seq(alignTo(sp.read.parquet(s"$stage/up"), ks)) else Nil))
      .reduce(_ unionByName _)
    (v0 + 1 to v).foreach { i =>
      val m = readMeta(sp, path, i)
      if (m.truncate)
        throw new java.util.ConcurrentModificationException(
          s"a rival TRUNCATE/OVERWRITE committed version $i at $path " +
            s"while this statement was staging (against version $v0) — " +
            "re-run the statement")
      val dir = deltaDir(path, i)
      val rivalParts =
        (if (m.hasDel) Seq(alignTo(sp.read.parquet(s"$dir/del"), ks)) else Nil) ++
        (if (m.hasUp)
          Seq(alignTo(sp.read.parquet(s"$dir/up"), ks)) else Nil)
      if (rivalParts.nonEmpty) {
        val rival = rivalParts.reduce(_ unionByName _)
        if (!mine.join(rival, h.keyCols, "left_semi").isEmpty)
          throw new java.util.ConcurrentModificationException(
            s"a rival change to the same keys committed version $i at " +
              s"$path while this statement was staging (against version " +
              s"$v0) — re-run the statement")
      }
    }
  }

  /** Spec hook: called at each phase of a multi-table transaction
    * ("claimed" / "promoted" / "committed") — tests install a throwing
    * hook to simulate a crash at exactly that point. */
  private[sql] var txnCrashHook: String => Unit = _ => ()

  /** Spec hook: runs at the TOP of the post-commit maintenance region
    * (after the record is durable, before apply/index work) — tests
    * install a throwing hook to simulate a maintenance failure. */
  private[sql] var postCommitHook: () => Unit = () => ()

  /** OBSERVABILITY for the succeed-after-commit contract: once the
    * commit record is durable, apply/index/projection/mirror failures
    * are absorbed (the log is truth; a propagated failure would make
    * clients re-run an acknowledged statement and double-apply). But
    * silently absorbing REPEATED failures lets an index rot — so each
    * one counts here per table path and logs loudly; operators (and
    * specs) read the counter via [[postCommitFailureCount]]. The next
    * statement's replay heals the caches; a persistent cause keeps
    * incrementing and is the signal to investigate. */
  private val postCommitFailures = new scala.collection.concurrent
    .TrieMap[String, java.util.concurrent.atomic.AtomicLong]()

  // the same table reaches the commit path as '/t', 'file:/t', or
  // 'file:///t' depending on the entry point — one gauge key for all
  private def gaugeKey(path: String): String = {
    val p = path.replaceFirst("^[A-Za-z][A-Za-z0-9+.-]*:/*", "/")
    if (p.startsWith("/")) p else s"/$p"
  }

  private[sql] def postCommitFailureCount(path: String): Long =
    postCommitFailures.get(gaugeKey(path)).map(_.get()).getOrElse(0L)

  private def notePostCommitFailure(sp: SparkSession, path: String,
      e: Throwable): Unit = {
    postCommitFailures.getOrElseUpdate(gaugeKey(path),
      new java.util.concurrent.atomic.AtomicLong()).incrementAndGet()
    System.err.println(s"[graft] WARN: post-commit maintenance failed " +
      s"at $path (the commit IS durable; cached handles purged, the " +
      s"next read replays the log): $e")
    purgeAllSessions(sp, path)
  }

  /** ATOMIC MULTI-TABLE WRITE — `BEGIN/COMMIT` across graft tables:
    * every listed table gets one new version holding its change sets,
    * and the versions become visible ALL OR NOTHING.
    *
    * Protocol (the delta-log analog of a 2-phase commit, with ONE
    * atomic action as the commit point):
    *
    *  1. STAGE each table's change sets (writer-private, no claims).
    *  2. CLAIM the next version on EVERY table, in canonical path
    *     order (rival transactions claim in the same order, so there
    *     is no deadlock); losing any claim releases the ones held and
    *     retries on top of the winner.
    *  3. PROMOTE each table's staged files under its claim, writing a
    *     PENDING meta that references one shared COORDINATOR marker.
    *     Pending metas are invisible: [[committedAt]] counts them only
    *     while the coordinator exists.
    *  4. Create the coordinator marker (atomic create) — THE commit
    *     point. A crash anywhere BEFORE leaves every table at its
    *     pre-transaction version (pending members look like any
    *     crashed claim and are reclaimed by [[stealDead]], which IS
    *     the abort); a crash anywhere AFTER commits every table (any
    *     reader honors a pending meta whose coordinator exists and
    *     finalizes it in place).
    *  5. FINALIZE: advance each `_tver`, rewrite metas without the
    *     coordinator reference, refresh the live handles, and delete
    *     the marker once nothing references it.
    *
    * The coordinator lives in the FIRST (canonical-order) table's
    * directory and rides its OPTIMIZE/VACUUM swaps like the other
    * root sidecars. */
  private[sql] def commitTxnChange(sp: SparkSession,
      writes: Seq[(String, Option[DataFrame], Option[DataFrame])],
      txn: Option[(String, Long)] = None): Unit = {
    require(writes.nonEmpty, "empty transaction")
    val ordered = writes.sortBy(w => canonical(sp, w._1))
    require(ordered.map(w => canonical(sp, w._1)).distinct.size == ordered.size,
      "a transaction writes each table at most once")
    val writerId = java.util.UUID.randomUUID().toString
    val coord = s"${ordered.head._1}/_txnc_$writerId"
    val (coordFs, _) = fsOf(sp, ordered.head._1)
    // phase 1: stage every table (slow part, nothing claimed)
    val staged = ordered.map { case (path, del, up) =>
      val h0 = current(sp, path)._2
      val stage = stageDir(path, writerId)
      (del.toSeq ++ up.toSeq).foreach(f =>
        checkColumnsKnown(f.columns.toSeq, h0.schema, path))
      del.foreach(d => writable(alignTo(d, keySchemaOf(h0.schema, h0.keyCols)))
        .write.mode("overwrite").parquet(s"$stage/del"))
      up.foreach(u => writable(alignTo(u, h0.schema))
        .write.mode("overwrite").parquet(s"$stage/up"))
      (path, stage, del.isDefined, up.isDefined, h0.schema)
    }
    try {
      var attempt = 0
      while (true) {
        // metadata-conflict guard + CHECK constraints per table
        // against the staged bytes (see commitChange)
        staged.foreach { case (path, stage, _, hasUp, stagedSchema) =>
          val cur = current(sp, path)._2.schema
          checkStagedCompatible(stagedSchema, cur, path)
          if (hasUp) {
            val cs = readConstraints(sp, path)
            if (cs.nonEmpty) enforceConstraintList(cs,
              alignTo(sp.read.parquet(s"$stage/up"), cur))
          }
        }
        // phase 2: claim ALL, canonical order
        val claimed = scala.collection.mutable.ArrayBuffer
          .empty[(String, Long, TableHandle, Heartbeat)]
        var blocked: Option[(String, Long)] = None
        staged.foreach { case (path, _, _, _, _) =>
          if (blocked.isEmpty) {
            val (v, h) = current(sp, path)
            val next = v + 1
            if (claimDelta(sp, path, next, writerId)) {
              val (fs, _) = fsOf(sp, path)
              claimed += ((path, next, h, new Heartbeat(fs,
                new Path(deltaDir(path, next), "_claim_hb"))))
            } else blocked = Some((path, next))
          }
        }
        blocked match {
          case Some((bPath, bV)) =>
            // release what we hold (no metas yet — plain dirs) and
            // wait for the winner before retrying on top of it
            claimed.foreach { case (path, v, _, hb) =>
              hb.stop()
              val (fs, _) = fsOf(sp, path)
              fs.delete(new Path(deltaDir(path, v)), true)
              ()
            }
            attempt += 1
            require(attempt <= 1000,
              s"graft transaction conflict retry budget exhausted at $bPath")
            awaitCommitted(sp, bPath, bV)
          case None =>
            try {
              txnCrashHook("claimed")
              // phase 3: promote every member PENDING on the coordinator
              claimed.zip(staged).foreach {
                case ((path, v, _, _), (_, stage, hasDel, hasUp, _)) =>
                  promoteStage(sp, path, writerId, stage, v,
                    truncate = false, hasDel, hasUp, txn = txn,
                    pendingCoord = Some(coord), advance = false)
              }
              txnCrashHook("promoted")
              // phase 4: THE commit point — but first re-verify that
              // every member's claim STILL belongs to this writer: a
              // stalled transaction whose pending member was reclaimed
              // by a rival's stealDead (dir renamed to _tgrave_) between
              // promote and here must abort LOUDLY with nothing
              // committed (the coordinator never lands, so the
              // surviving pending members stay invisible and die the
              // same reclaim death), never land the coordinator and
              // commit a half-applied "atomic" transaction. This
              // narrows the residual race to the same post-check window
              // the single-table protocol already accepts (and the
              // stealer's grace beat covers).
              claimed.foreach { case (path, v, _, _) =>
                val (fs, _) = fsOf(sp, path)
                require(claimInfo(fs, new Path(deltaDir(path, v)))
                    .exists(_._1 == writerId),
                  s"graft transaction integrity: the claim on version " +
                    s"$v of $path no longer belongs to this " +
                    "transaction (a rival reclaimed a stalled member) " +
                    "— the transaction is aborted, nothing was " +
                    "committed on any table")
              }
              val out = coordFs.create(new Path(coord), false)
              try out.write(writerId.getBytes(
                java.nio.charset.StandardCharsets.UTF_8))
              finally out.close()
              txnCrashHook("committed")
              // phase 5: finalize — visible version pointers, final
              // metas, live handles (incrementally: one delta apply +
              // sidecar transplant per table, like single-table DML)
              claimed.zip(staged).foreach {
                case ((path, v, h, _), (_, _, hasDel, hasUp, _)) =>
                  val (fs, _) = fsOf(sp, path)
                  committedAt(fs, path, v) // finalizes the meta in place
                  writeVersion(sp, path, v)
                  // cache/accelerator materialization of a transaction
                  // that ALREADY committed (the coordinator is the
                  // commit point) — same succeed-after-commit contract
                  // as the single-table tail: absorb, gauge, purge;
                  // propagating would re-run an acknowledged txn
                  try {
                    val h2 = applyDelta(sp, h, path, v)
                    maintainIndexes(sp, path, h, h2, v, truncate = false,
                      hasDel, hasUp)
                    attachProjectionFor(sp, path, h2, v)
                    cacheOf(sp).put(canonical(sp, path), (v, h2))
                    // registered export mirrors refresh on the txn
                    // path too — "every DML commit" includes
                    // BEGIN/COMMIT members
                    GraftManifest.autoRefresh(sp, path)
                  } catch {
                    case scala.util.control.NonFatal(e) =>
                      notePostCommitFailure(sp, path, e)
                  }
                  txn.foreach { case (app, _) =>
                    try graft.MarkerFile.writeLong(fs,
                      new Path(path, s"_txnhint_${safeApp(app)}"), v)
                    catch { case scala.util.control.NonFatal(_) => () } }
                  if (foldEvery > 1 && v % foldEvery == 0)
                    scheduleFold(sp, path, v)
              }
              // nothing references the coordinator once every meta is
              // final; if a finalize rename declined (no-clobber
              // store), keep it — pending readers still need it
              val anyPending = claimed.exists { case (path, v, _, _) =>
                val (fs, _) = fsOf(sp, path)
                readMetaRec(fs, deltaDir(path, v)).pendingCoord.isDefined
              }
              if (!anyPending) { coordFs.delete(new Path(coord), false); () }
              return
            } finally claimed.foreach(_._4.stop())
        }
      }
    } finally staged.foreach { case (path, stage, _, _, _) =>
      val (fs, _) = fsOf(sp, path)
      fs.delete(new Path(stage), true)
      ()
    }
  }

  /** `ALTER TABLE ... ADD COLUMN(S)`: commit a SCHEMA delta (additive,
    * nullable — Delta's evolution semantics) under the same optimistic
    * claim protocol as DML. Existing rows read NULL in the new columns
    * via one narrow widening layer; nothing is rewritten, the log
    * replays each delta under the schema current at ITS commit, and
    * the version history (time travel to pre-evolution versions with
    * the OLD schema included) stays intact. Returns the new version. */
  private[sql] def addColumns(sp: SparkSession, path: String,
      cols: Seq[(String, org.apache.spark.sql.types.DataType)]): Long = {
    require(cols.nonEmpty, "ADD COLUMNS needs at least one column")
    val writerId = java.util.UUID.randomUUID().toString
    var attempt = 0
    while (true) {
      val (v, h) = current(sp, path)
      cols.foreach { case (n, _) =>
        require(!h.schema.fieldNames.exists(_.equalsIgnoreCase(n)),
          s"column '$n' already exists") }
      val next = v + 1
      if (claimDelta(sp, path, next, writerId)) {
        val newSchema = StructType(h.schema.fields ++ cols.map {
          case (n, t) =>
            org.apache.spark.sql.types.StructField(n, t, nullable = true)
        })
        val hbFs = fsOf(sp, path)._1
        val hb = new Heartbeat(hbFs,
          new Path(deltaDir(path, next), "_claim_hb"))
        try writeSchemaDelta(sp, path, next, newSchema, writerId)
        finally hb.stop()
        val h2 = h.widen(newSchema)
        // sidecars carry over verbatim: postings and zones reference
        // columns whose positions the append-only widening preserves
        h2.maintainSidecarsFrom(h, None, None)
        cacheOf(sp).put(canonical(sp, path), (next, h2))
        return next
      }
      attempt += 1
      require(attempt <= 1000,
        s"graft table commit conflict retry budget exhausted at $path")
      awaitCommitted(sp, path, next)
    }
    -1L // unreachable
  }

  /** Is write-time additive schema evolution on — Delta's
    * `mergeSchema` writer option / `autoMerge` session conf shape:
    * the per-write option wins; otherwise the session conf
    * `spark.graft.schema.autoMerge` (default false). */
  private[sql] def autoMergeEnabled(sp: SparkSession,
      parameters: Map[String, String] = Map.empty): Boolean =
    parameters.collectFirst {
      case (k, v) if k.equalsIgnoreCase("mergeSchema") => v.toBoolean
    }.getOrElse(
      sp.conf.getOption("spark.graft.schema.autoMerge").exists(_.toBoolean))

  /** Write-time AUTO-EVOLUTION (additive only): ADD COLUMNS for every
    * nullable-addable source column the table lacks, as one ordinary
    * schema delta under the claim protocol — so the write that follows
    * aligns exactly and a racing rival sees a normal evolution commit.
    * Renames, drops, and type changes stay explicit ALTERs (a name
    * mismatch is indistinguishable from a typo — Delta draws the same
    * line). No-op when the source carries no new columns. */
  private[sql] def autoEvolveFor(sp: SparkSession, path: String,
      src: StructType): Unit = {
    val h = current(sp, path)._2
    val have = h.schema.fieldNames.map(_.toLowerCase).toSet
    val extra = src.fields.filterNot(f => have(f.name.toLowerCase))
    if (extra.nonEmpty) {
      addColumns(sp, path, extra.toSeq.map(f => f.name -> f.dataType))
      syncCatalogSchema(sp, path)
    }
  }

  /** After a writer-API/sink auto-evolution (which knows only the
    * LOCATION): re-point any session-catalog table registered at this
    * location at the evolved schema — resolution trusts the stored
    * catalog schema, and a stale one fails the next lookup with a
    * schema-mismatch analysis error. Best-effort: path-only tables
    * have nothing to sync. */
  private def syncCatalogSchema(sp: SparkSession, path: String): Unit =
    try {
      val cat = sp.sessionState.catalog
      val key = canonical(sp, path)
      cat.listTables(cat.getCurrentDatabase).foreach { ident =>
        try {
          val ct = cat.getTableMetadata(ident)
          if (ct.provider.exists(_.equalsIgnoreCase("graft")) &&
              canonical(sp, ct.location.toString) == key) {
            cat.alterTable(ct.copy(schema = current(sp, path)._2.schema))
            cat.refreshTable(ident)
          }
        } catch { case scala.util.control.NonFatal(_) => () }
      }
    } catch { case scala.util.control.NonFatal(_) => () }

  /** One `ALTER TABLE` evolution verb beyond additive ADD COLUMNS
    * (phase-2 evolution: each is a METADATA commit — a schema delta
    * with a field mapping — never a rewrite; old versions time-travel
    * with their old names/types). */
  private[sql] sealed trait SchemaChange
  private[sql] object SchemaChange {
    final case class Rename(oldName: String, newName: String)
      extends SchemaChange
    final case class Drop(col: String) extends SchemaChange
    final case class Widen(col: String,
        to: org.apache.spark.sql.types.DataType) extends SchemaChange
  }

  /** Refuse to evolve a column that durable sidecars reference:
    * indexes/zones would silently stop routing (or route wrongly), and
    * CHECK expressions would stop parsing. The RDBMS contract: drop
    * the index/constraint first, evolve, re-create. */
  private def guardColumnRefs(sp: SparkSession, path: String, col: String,
      verb: String): Unit = {
    val idx = readIndexManifest(sp, path)
      .filter(_._3.exists(_.equalsIgnoreCase(col)))
    require(idx.isEmpty,
      s"$verb: column '$col' is referenced by index '${idx.headOption.map(_._1).getOrElse("")}' — DROP INDEX first")
    val pat = ("(?i)(?<![A-Za-z0-9_])" +
      java.util.regex.Pattern.quote(col) + "(?![A-Za-z0-9_])").r
    val cons = readConstraints(sp, path)
      .filter { case (_, text) => pat.findFirstIn(text).isDefined }
    require(cons.isEmpty,
      s"$verb: column '$col' is referenced by CHECK constraint " +
        s"'${cons.headOption.map(_._1).getOrElse("")}' — DROP CONSTRAINT first")
  }

  /** `ALTER TABLE ... RENAME COLUMN / DROP COLUMN / ALTER COLUMN TYPE`
    * — phase-2 schema evolution, committed as a schema delta carrying
    * the full post-evolution schema PLUS the per-field mapping
    * (`_schemamap`), under the same optimistic claim protocol as DML.
    * Nothing is rewritten: a rename is pure metadata, a drop is a
    * logical projection, a widening (int->long, float->double) is a
    * narrow cast layer — and replay applies each delta under the
    * schema current at ITS commit, so time travel to pre-evolution
    * versions keeps the old names and types. Returns the new
    * version. */
  private[sql] def evolveSchema(sp: SparkSession, path: String,
      change: SchemaChange): Long = {
    val writerId = java.util.UUID.randomUUID().toString
    var attempt = 0
    while (true) {
      val (v, h) = current(sp, path)
      val schema = h.schema
      def idxOf(c: String): Int = {
        val i = schema.fieldNames.indexWhere(_.equalsIgnoreCase(c))
        require(i >= 0, s"no column '$c' in ${schema.fieldNames.mkString(", ")}")
        i
      }
      val identity0 = Array.tabulate(schema.length)(i => i)
      val (newSchema, positions) = change match {
        case SchemaChange.Rename(o, n) =>
          val i = idxOf(o)
          require(!schema.fieldNames.exists(_.equalsIgnoreCase(n)),
            s"column '$n' already exists")
          guardColumnRefs(sp, path, schema.fields(i).name, "RENAME COLUMN")
          (StructType(schema.fields.updated(i,
            schema.fields(i).copy(name = n))), identity0)
        case SchemaChange.Drop(c) =>
          val i = idxOf(c)
          require(!h.keyCols.contains(schema.fields(i).name),
            s"cannot drop key column '${schema.fields(i).name}'")
          guardColumnRefs(sp, path, schema.fields(i).name, "DROP COLUMN")
          (StructType(schema.fields.patch(i, Nil, 1).toIndexedSeq),
            identity0.patch(i, Nil, 1).toArray)
        case SchemaChange.Widen(c, to) =>
          val i = idxOf(c)
          require(!h.keyCols.contains(schema.fields(i).name),
            s"cannot change the type of key column '${schema.fields(i).name}'")
          guardColumnRefs(sp, path, schema.fields(i).name, "ALTER COLUMN TYPE")
          require(IndexedFrame.widensTo(schema.fields(i).dataType, to),
            s"cannot evolve '${schema.fields(i).name}' from " +
              s"${schema.fields(i).dataType.catalogString} to " +
              s"${to.catalogString} in place — only lossless widenings " +
              "(tinyint->smallint->int->bigint, float->double) evolve " +
              "without a rewrite")
          (StructType(schema.fields.updated(i,
            schema.fields(i).copy(dataType = to))), identity0)
      }
      val next = v + 1
      if (claimDelta(sp, path, next, writerId)) {
        // change feeds cannot read ACROSS a rename/drop (delta files
        // before it carry the old names) — the fence ships INSIDE the
        // schema delta, atomic with the commit; a pure widening needs
        // no fence (the feed's casts serve it exactly)
        val fence = change match {
          case _: SchemaChange.Widen => false
          case _ => true
        }
        val hbFs = fsOf(sp, path)._1
        val hb = new Heartbeat(hbFs,
          new Path(deltaDir(path, next), "_claim_hb"))
        try writeSchemaDelta(sp, path, next, newSchema, writerId,
          Some(positions), feedFence = fence)
        finally hb.stop()
        // the root marker is only a scan-floor HINT now (see
        // latestFeedFence) — best-effort, self-healing on read
        if (fence)
          graft.MarkerFile.writeLong(hbFs, new Path(path, "_evolvever"), next)
        val h2 = h.remap(newSchema, positions)
        // name-keyed sidecars for UNTOUCHED columns carry over (the
        // evolved column was guarded reference-free above)
        h2.maintainSidecarsFrom(h, None, None)
        cacheOf(sp).put(canonical(sp, path), (next, h2))
        return next
      }
      attempt += 1
      require(attempt <= 1000,
        s"graft table commit conflict retry budget exhausted at $path")
      awaitCommitted(sp, path, next)
    }
    -1L // unreachable
  }

  /** `OPTIMIZE` for catalog tables: rewrite the base save as the
    * CURRENT content and drop the replayed deltas — a reopened session
    * then pays one load instead of base + n replays. Returns the
    * number of compacted deltas. Version NUMBERS stay stable (Delta
    * semantics): the current version keeps its number and becomes the
    * oldest readable one; folded versions fail like "no longer
    * exists". */
  /** `OPTIMIZE t REINDEX <index>`: retrain the named vector index's
    * centroids/codebooks on a fresh sample of the LIVE content and
    * re-assign every row ([[GraftVectorIndex.reindex]] — the drift
    * remedy; plain OPTIMIZE compacts lists but never retrains). A
    * rival statement committing DURING the retrain may have appended
    * into the OLD layout after our read — replay those versions into
    * the new one, same as [[compact]]'s index maintenance (idempotent:
    * duplicates collapse under the probe's newest-per-key window).
    * Returns (kind, buildVersion stamped). */
  private[sql] def reindexVector(sp: SparkSession, path: String,
      name: String): (String, Long) = {
    val (v, h) = current(sp, path)
    val m = GraftVectorIndex.reindex(sp, path, name, h.toDF(sp),
      h.keyCols, v).getOrElse(throw new IllegalArgumentException(
        s"REINDEX: no vector index '$name' on the table at $path — " +
          "CREATE INDEX ... USING IVF/IVFPQ first"))
    val dvNow = diskVersion(sp, path)
    if (dvNow > v) {
      val (fs2, _) = fsOf(sp, path)
      val hNow = current(sp, path)._2
      (v + 1 to dvNow).foreach { vv =>
        val upd = new Path(deltaDir(path, vv), "up")
        if (fs2.exists(upd))
          GraftVectorIndex.append(sp, path, name,
            alignTo(sp.read.parquet(upd.toString), hNow.schema),
            hNow.keyCols, vv)
      }
    }
    (m.kind, m.buildVersion)
  }

  /** The export mirror's changed partition ids between exported
    * version `lastV` and current `v`: the distinct export-hash pids of
    * every key an upsert/delete touched in `(lastV, v]` — read from
    * the delta parquet (delta-cost, never the corpus), bounded output
    * (≤ nParts ints). None = the window cannot be answered delta-cost
    * (history vacuumed past lastV, a TRUNCATE/schema evolution inside
    * it, or unreadable delta files) → the caller full-rewrites. */
  private[sql] def exportChangedParts(sp: SparkSession, path: String,
      lastV: Long, v: Long, keyCols: Seq[String],
      nParts: Int): Option[Seq[Int]] = {
    import org.apache.spark.sql.functions.{lit, pmod, xxhash64}
    if (lastV >= v) return Some(Nil)
    try {
      if (lastV < tableFirstVersion(sp, path)) return None
      val metas = (lastV + 1 to v).map(vv => (vv, readMeta(sp, path, vv)))
      if (metas.exists { case (_, m) => m.truncate || m.hasSchema })
        return None
      val paths = metas.flatMap { case (vv, m) =>
        (if (m.hasUp) Seq(s"${deltaDir(path, vv)}/up") else Nil) ++
          (if (m.hasDel) Seq(s"${deltaDir(path, vv)}/del") else Nil)
      }
      if (paths.isEmpty) return Some(Nil)
      val pid = pmod(xxhash64(keyCols.map(col): _*), lit(nParts))
        .cast("int").as("__part")
      Some(paths.map(p => sp.read.parquet(p).select(pid))
        .reduce(_ union _).distinct().collect().map(_.getInt(0)).toSeq)
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  private[sql] def compact(sp: SparkSession, path: String,
      zorder: Option[Seq[String]] = None)
      : (Long, Long, Int, Int, Int) = {
    sweepOrphans(sp, path)
    val (v, h) = current(sp, path)
    val firstBefore = tableFirstVersion(sp, path)
    val depthBefore = h.idxAny.lineageDepth
    if (v == firstBefore && zorder.isEmpty)
      return (0L, h.idxAny.count(), h.idxAny.partitions.length,
        depthBefore, depthBefore)
    // TWO z-order forms: exactly the composite KEY columns (any arity
    // >= 2, any order) -> the rank-space z repartition of the primary
    // (key routing preserved BY the layout — the partitioner stays a
    // pure key function); a pair of VALUE columns -> the sort
    // PROJECTION (the primary is compacted unchanged; see
    // [[ZProjection]]). Mixing key and value columns is refused —
    // neither form can serve it.
    val projCols: Option[Seq[String]] = zorder.flatMap { dims =>
      require(dims.distinct.size == dims.size,
        s"ZORDER BY names a column twice: ${dims.mkString(", ")}")
      if (h.keyCols.toSet == dims.toSet && h.keyCols.size == dims.size) None
      else {
        require(dims.size >= 2 && dims.size <= ZProjection.MaxDims,
          "ZORDER BY on VALUE columns (sort projection) takes 2.." +
            s"${ZProjection.MaxDims} columns; ${dims.size} were named — " +
            "name exactly the composite key columns to re-cluster the " +
            "primary instead")
        dims.foreach { c =>
          require(h.schema.fieldNames.contains(c),
            s"ZORDER BY: no column '$c' in " +
              h.schema.fieldNames.mkString(", "))
          require(!h.keyCols.contains(c),
            s"ZORDER BY mixes key column '$c' with a value column — " +
              "name exactly the composite key columns (Morton layout) " +
              "or only value columns (sort projection)")
          require(h.schema(c).dataType.isInstanceOf[
            org.apache.spark.sql.types.NumericType],
            s"ZORDER BY value column '$c' must be numeric (got " +
              s"${h.schema(c).dataType.catalogString})")
        }
        Some(dims)
      }
    }
    val mortonZ = if (projCols.isEmpty) zorder else None
    // the value-column ZORDER form rewrites the projection itself just
    // below — skip rebase's own carry/rebuild to avoid a double pass
    rebase(sp, path, v, zorderTransform(mortonZ),
      keepProjection = projCols.isEmpty)
    // record the z-order zones in the index manifest so DML keeps
    // maintaining them and a reopened session re-derives
    mortonZ.foreach { dims =>
      val entries = readIndexManifest(sp, path)
      if (!entries.exists(_._2 == "zonemap"))
        writeIndexManifest(sp, path,
          entries :+ (("zorder_zones", "zonemap", dims.toList)))
    }
    val reloaded = loadBase(sp, path)
    // the value-column form: materialize the sort projection of the
    // freshly compacted content and attach it to the live handle (a
    // reopened session re-attaches from the persisted meta)
    projCols.foreach { cols =>
      val info = writeZProjection(sp, path, reloaded, cols, v)
      swapOverlay(canonical(sp, path), None) // rebuild absorbs the deltas
      reloaded.handleAny.asInstanceOf[IndexedFrame.ZoneMapped]
        .attachZProjection(info)
    }
    // plain compact: the projection rebase carried (or rebuilt) is now
    // AT version v — attach it so this session's handle serves pruned
    // without waiting for a reopen
    if (projCols.isEmpty) attachProjectionFor(sp, path, reloaded, v)
    // vector indexes compact with the table: dead list entries
    // (superseded versions, deleted keys) rewrite away and the probe's
    // read-mostly fast path re-arms (buildVersion = v). Best-effort
    // like all accelerator maintenance — the staged swap means a
    // failure leaves the old, still-correct index in place.
    readIndexManifest(sp, path)
      .filter(e => e._2 == "ivf" || e._2 == "ivfpq")
      .foreach { case (n, _, _) =>
        try {
          GraftVectorIndex.compactIndex(sp, path, n,
            reloaded.toDF(sp), reloaded.keyCols, v)
          // a rival statement committing DURING the compaction may
          // have appended into the OLD lists dir after our read —
          // replay any versions past `v` into the compacted layout.
          // Idempotent: a delta both compacted and replayed yields
          // exact-duplicate entries the probe's newest-per-key window
          // collapses.
          val dvNow = diskVersion(sp, path)
          if (dvNow > v) {
            val (fs2, _) = fsOf(sp, path)
            val hNow = current(sp, path)._2
            (v + 1 to dvNow).foreach { vv =>
              val upd = new Path(deltaDir(path, vv), "up")
              if (fs2.exists(upd))
                GraftVectorIndex.append(sp, path, n,
                  alignTo(sp.read.parquet(upd.toString), hNow.schema),
                  hNow.keyCols, vv)
            }
          }
        } catch { case scala.util.control.NonFatal(_) => () }
      }
    cacheOf(sp).put(canonical(sp, path), (v, reloaded))
    (v - firstBefore, reloaded.idxAny.count(),
      reloaded.idxAny.partitions.length,
      depthBefore, reloaded.idxAny.lineageDepth)
  }

  /** The one persisted overlay frame per table: each DML commit's
    * attach builds a FRESH delta overlay for the new handle, and the
    * superseded handle's cached frame would otherwise sit in the
    * CacheManager forever (entries are not GC-reclaimed) — under the
    * repeated-DML dashboard workload this feature targets that is an
    * unbounded cache leak. Registered on first materialization;
    * swapping in a successor (or a fresh projection with no overlay)
    * unpersists the predecessor. */
  private val overlayReg =
    new scala.collection.concurrent.TrieMap[String, DataFrame]()

  private def swapOverlay(key: String, next: Option[DataFrame]): Unit = {
    val prev = next match {
      case Some(d) => overlayReg.put(key, d)
      case None => overlayReg.remove(key)
    }
    prev.filterNot(p => next.exists(_ eq p)).foreach { p =>
      try p.unpersist(blocking = false)
      catch { case scala.util.control.NonFatal(_) => () }
    }
  }

  /** Attach the persisted z projection to `h` for serving at version
    * `v`. Exactly-current projections (built AT `v`) attach plain; a
    * STALE one — `v` advanced past its build version by PLAIN deltas
    * only — attaches with a lazy DELTA OVERLAY: the last-op-per-key
    * frame of the versions in between, which the scan anti-joins /
    * unions for an EXACT result (see [[IndexedFrame.zProjServe]]).
    * Projection cost model at 100 TB: the anti side stays zb-pruned,
    * the overlay is delta-sized, and the next OPTIMIZE re-absorbs it.
    * A truncate or schema evolution in between fences the overlay off
    * (the primary serves — correct, just unpruned). Best-effort:
    * projections are acceleration, never truth. */
  private def attachProjectionFor(sp: SparkSession, path: String,
      h: TableHandle, v: Long): Unit =
    try readZProjMeta(sp, path).foreach { case (pv, info) =>
      val ovKey = canonical(sp, path)
      def attach(i: ZProjection.ZProjInfo): Unit =
        h.handleAny.asInstanceOf[IndexedFrame.ZoneMapped]
          .attachZProjection(i)
      if (pv == v) { swapOverlay(ovKey, None); attach(info) }
      else if (pv < v) {
        val items = coverVersions(sp, path, pv, v)
        val plain = items.forall {
          case Left((_, m)) => m.plain
          case Right(_) => true
        }
        if (plain) {
          val segs = items.map {
            case Right(f) =>
              Seg(f.hi, foldDir(path, f.lo, f.hi), f.hasDel, f.hasUp)
            case Left((i, m)) =>
              Seg(i, deltaDir(path, i), m.hasDel, m.hasUp)
          }
          val schema = h.schema
          val keyCols = h.keyCols
          // memoized AND pinned: the overlay frame is delta-sized, so
          // it persists on first use (exactly like the live handle's
          // own caching) — repeated boxed queries pay one broadcast
          // anti-join against it, not a re-run of the last-op window;
          // registration evicts the SUPERSEDED handle's frame
          lazy val ovDF = {
            val d = lastOpFrame(sp, schema, keyCols, segs).map(_.persist())
            swapOverlay(ovKey, d)
            d
          }
          attach(info.copy(overlay = Some(() => ovDF)))
        }
      }
    } catch { case scala.util.control.NonFatal(_) => () }

  private def zProjDir(path: String): String = s"$path/_tproj_zorder"

  /** Materialize the z-order SORT PROJECTION of `h` (the content at
    * version `v`): one corpus re-write parquet-partitioned by the
    * Morton cell of the two columns' equal-depth bucket ranks. The
    * `_zprojmeta` sidecar (version + bucket edges) is staged INSIDE
    * the projection dir BEFORE the promote rename, so meta and data
    * commit in the same atomic step — a crash (or a rival reader in
    * another process) mid-OPTIMIZE can never observe OLD bounds
    * describing NEW parquet, which would prune with mismatched edges
    * and silently drop rows. Between the delete and the rename the
    * projection is simply ABSENT (readers fall back to the primary —
    * correct, just unpruned). */
  private def writeZProjection(sp: SparkSession, path: String,
      h: TableHandle, cols: Seq[String],
      v: Long): ZProjection.ZProjInfo = {
    val (fs, p) = fsOf(sp, path)
    val df = h.toDF(sp)
    val zbc = ZProjection.ZbCol
    require(!h.schema.fieldNames.contains(zbc),
      s"table has a column named '$zbc' (reserved for the z projection)")
    val nb = 1 << ZProjection.bitsFor(cols.size)
    val qs = (1 until nb).map(_.toDouble / nb).toArray
    // ONE quantile job covering every dimension (multi-column
    // approxQuantile shares a single aggregation pass; it ignores
    // null/NaN per column, the same population the old per-column
    // na.drop pass measured) — the previous shape paid one full corpus
    // pass PER dimension before the rewrite even started
    val casted = df.select(cols.map(c => col(c).cast("double").as(c)): _*)
    val allEdges = casted.stat.approxQuantile(cols.toArray, qs, 0.001)
    val dims = cols.zip(allEdges.map(_.distinct.sorted))
    val target = new Path(zProjDir(path))
    val tmp = new Path(p, s"_tprojtmp_${java.util.UUID.randomUUID()}")
    // cluster by cell BEFORE the partitioned write: without the
    // repartition every input task opens a writer per cell it sees —
    // O(tasks x cells) tiny parquet files per rebuild (at 8 tasks x
    // 256/512 cells that is ~2-4k files whose create/commit/list costs
    // dominated the rebuild AND every later scan's partition
    // discovery). Hashing on the cell id lands each cell in exactly
    // one task -> one file per cell; cells are equal-population by
    // construction (rank-space buckets), so the shuffle cannot skew,
    // and the partition count stays the scale-adaptive
    // spark.sql.shuffle.partitions/AQE choice, not a constant. Rows
    // sort by the projected dims inside each cell so parquet row-group
    // min/max stats stay tight for the residual pushdown.
    df.withColumn(zbc,
        ZProjection.zbCol(dims.map { case (c, b) => (col(c), b) }))
      .repartition(sp.sessionState.conf.numShufflePartitions, col(zbc))
      // zbc LEADS the sort: the file writer requires per-partition
      // ordering on the partition column, so without it Spark inserts
      // its OWN sort by zbc above this one and the dims order inside
      // each cell survived only by sorter stability — with zbc first
      // the required ordering is satisfied, no extra sort is inserted,
      // and the within-cell dims order is guaranteed by contract
      .sortWithinPartitions((col(zbc) +: cols.map(col)): _*)
      .write.partitionBy(zbc).mode("overwrite").parquet(tmp.toString)
    // magic + format version lead the sidecar so a future layout
    // change can tell old metas from torn ones and migrate instead of
    // silently degrading to unpruned scans (the r18 ndims widening had
    // no tag — pre-widening metas just read as absent)
    val out = new java.io.ObjectOutputStream(
      fs.create(new Path(tmp, "_zprojmeta"), true))
    try {
      out.writeInt(ZProjMetaMagic); out.writeInt(ZProjMetaVersion)
      out.writeLong(v)
      out.writeInt(dims.size)
      dims.foreach { case (c, b) => out.writeObject(c); out.writeObject(b) }
    } finally out.close()
    fs.delete(target, true)
    require(fs.rename(tmp, target),
      s"z-projection promote rename failed for $path")
    // legacy root sidecar (pre-r18 layout) — remove so a stale copy
    // can never shadow the in-dir meta
    fs.delete(new Path(p, "_tprojmeta"), false)
    // the shared base-source memo pins FILE PATHS from its listing —
    // a rebuild into the same dir must drop it (both key spellings:
    // Path.toString normalizes file:/// to file:/, raw strings don't)
    ZProjection.invalidateBase(zProjDir(path))
    ZProjection.invalidateBase(target.toString)
    ZProjection.ZProjInfo(target.toString, dims, pv = v)
  }

  /** The persisted projection meta: (version it reflects, info). Read
    * from `_zprojmeta` INSIDE the projection dir (promoted atomically
    * with the data — see [[writeZProjection]]). None when
    * absent/torn/headless. */
  private[sql] val ZProjMetaMagic = 0x475A504D // "GZPM"
  private[sql] val ZProjMetaVersion = 2

  private[sql] def readZProjMeta(sp: SparkSession,
      path: String): Option[(Long, ZProjection.ZProjInfo)] = {
    val (fs, _) = fsOf(sp, path)
    val f = new Path(zProjDir(path), "_zprojmeta")
    def parse(in: java.io.ObjectInputStream) = {
      val pv = in.readLong()
      val dims = Seq.fill(in.readInt())(
        (in.readObject().asInstanceOf[String],
          in.readObject().asInstanceOf[Array[Double]]))
      (pv, ZProjection.ZProjInfo(zProjDir(path), dims, pv = pv))
    }
    try {
      if (!fs.exists(f)) None
      else {
        // tagged layout leads with magic+version; a legacy r18 meta
        // leads with the version LONG — its high word can never equal
        // the magic, so one readInt disambiguates. An unknown FUTURE
        // version degrades to None: the projection is pure
        // acceleration, an unpruned primary scan stays correct.
        val tagged =
          try {
            val in = new java.io.ObjectInputStream(fs.open(f))
            try { if (in.readInt() == ZProjMetaMagic) Some(in.readInt()) else None }
            finally in.close()
          } catch { case _: java.io.IOException => None }
        tagged match {
          case Some(ZProjMetaVersion) =>
            val in = new java.io.ObjectInputStream(fs.open(f))
            try { in.readInt(); in.readInt(); Some(parse(in)) }
            finally in.close()
          case Some(_) => None // newer build's layout — serve unpruned
          case None =>
            val in = new java.io.ObjectInputStream(fs.open(f))
            try Some(parse(in)) finally in.close()
        }
      }
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** The base-rewrite transform behind `OPTIMIZE t ZORDER BY (x, y,
    * ...)`: re-cluster the rewritten base along the z-curve of the
    * table's composite key columns and analyze zone maps on all of them
    * (see [[IndexedFrame.CompositeNHandle.zOrderedN]] — under a z-curve
    * layout key columns zone-map like any clustered value column, and
    * the zone path is what prunes box queries). Restricted to the key
    * columns BY DESIGN: partition assignment must stay a pure key
    * function or point routing and one-sided COW shuffles break — a
    * keyed store cannot re-cluster by non-key columns; key the table
    * by the dimensions instead. */
  private def zorderTransform(
      zorder: Option[Seq[String]]): TableHandle => TableHandle =
    zorder match {
      case None => identity
      case Some(dims) => {
        case HN(ch) =>
          HN(ch.zOrderedN(dims).analyzeZones(dims: _*))
        case other => throw new IllegalArgumentException(
          "OPTIMIZE ... ZORDER BY needs a composite-key graft table " +
            s"(this table's key is ${other.keyCols.mkString(", ")})")
      }
    }

  /** Write the SQL index-name manifest (the durable twin of the
    * session registry — see [[GraftSqlExtension.persistSidecars]],
    * which rewrites it on DDL after hydrating FROM disk, so entries
    * appended here survive). */
  private[sql] def writeIndexManifest(sp: SparkSession, path: String,
      entries: Seq[(String, String, List[String])]): Unit = {
    val (fs, p) = fsOf(sp, path)
    graft.MarkerFile.writeAtomic(fs, new Path(p, "_indexnames")) { raw =>
      val out = new java.io.ObjectOutputStream(raw)
      out.writeInt(entries.size)
      entries.foreach { case (n, t, cs) =>
        out.writeObject(n); out.writeObject(t); out.writeObject(cs)
      }
      out.flush()
    }
  }

  /** `VACUUM <table> RETAIN n VERSIONS`: fold everything older than
    * the newest `retain` versions into the base save. Version numbers
    * NEVER renumber (Delta semantics): the retained tail keeps its
    * numbers, dropped versions fail with "compacted away". Returns
    * (versions dropped, first retained version, current version). */
  private[sql] def vacuumTable(sp: SparkSession, path: String,
      retain: Int): (Long, Long, Long) = {
    require(retain >= 1, s"VACUUM must retain at least 1 version (got $retain)")
    sweepOrphans(sp, path)
    val dv = diskVersion(sp, path)
    val first = tableFirstVersion(sp, path)
    val readable = dv - first + 1
    if (readable <= retain) return (0L, first, dv)
    val newFirst = dv - retain + 1
    rebase(sp, path, newFirst)
    (newFirst - first, newFirst, dv)
  }

  /** Express a HISTORICAL version's full frame under the CURRENT
    * column names: compose the persisted `_schemamap` chain of every
    * schema delta in `(fromVersion, current]` — renames map
    * positionally, drops project away (additive deltas carry no map
    * and touch no existing name). The caller's alignTo then fills
    * later-added columns with NULL and applies widening casts, so a
    * RESTORE to a pre-evolution version rolls the DATA back under the
    * evolved schema instead of failing on the old names. */
  private def remapToCurrent(sp: SparkSession, path: String,
      fromVersion: Long, df: DataFrame): DataFrame =
    remapAcross(sp, path, fromVersion, diskVersion(sp, path), df)

  /** The general form: express version `fromVersion`'s frame under
    * version `toVersion`'s column names (used by RESTORE with
    * `toVersion` = current and by the CDC TVF diffing two arbitrary
    * endpoints across an evolution). */
  private[sql] def remapAcross(sp: SparkSession, path: String,
      fromVersion: Long, toVersion: Long, df: DataFrame): DataFrame = {
    val (fs, _) = fsOf(sp, path)
    var tableNames = df.columns.toSeq // == full schema at fromVersion
    var out = df
    (fromVersion + 1 to toVersion).foreach { v =>
      val dir = deltaDir(path, v)
      if (readMetaRec(fs, dir).hasSchema) {
        val sin = fs.open(new Path(dir, "_schema"))
        val newSchema =
          try org.apache.spark.sql.types.DataType.fromJson(new String(
            org.apache.hadoop.io.IOUtils.readFullyToByteArray(sin),
            java.nio.charset.StandardCharsets.UTF_8))
            .asInstanceOf[StructType]
          finally sin.close()
        val mapFile = new Path(dir, "_schemamap")
        if (fs.exists(mapFile)) {
          val min = new java.io.ObjectInputStream(fs.open(mapFile))
          val positions =
            try Array.fill(min.readInt())(min.readInt())
            finally min.close()
          // old full-schema index -> new name; unreferenced = dropped
          val newNameOf = positions.zipWithIndex.collect {
            case (p, i) if p >= 0 => tableNames(p) -> newSchema.fields(i).name
          }.toMap
          out = out.select(out.columns.collect {
            case c if newNameOf.contains(c) => col(c).as(newNameOf(c))
          }.toIndexedSeq: _*)
        }
        tableNames = newSchema.fieldNames.toSeq
      }
    }
    out
  }

  /** `RESTORE TABLE t TO VERSION AS OF target`: commit the DIFF that
    * turns the current content back into version `target`'s — a new
    * delta version, history intact (contrast [[rebase]], which folds
    * history away). The two change sets are key equi-joins of two
    * co-partitioned snapshots of the same base save, so with the graft
    * strategies injected they plan as zero-Exchange zip joins; only
    * the diff rows are written and replayed. Returns
    * (new version, deleted rows, upserted rows). Caller validates the
    * target window and handles the `target == current` no-op. */
  private[sql] def restoreTable(sp: SparkSession, path: String,
      target: Long): (Long, Long, Long) = {
    val (cur, hCur) = current(sp, path)
    val hT = loadVersion(sp, path, target)
    val c = hCur.toDF(sp)
    // restoring to a PRE-EVOLUTION version rolls back the DATA under
    // the CURRENT schema: renamed columns map positionally through the
    // persisted _schemamap chain, dropped ones project away, added
    // ones read NULL at the target — the schema itself never reverts
    val t = alignTo(remapToCurrent(sp, path, target, hT.toDF(sp)),
      hCur.schema)
    val keys = hCur.keyCols
    val cols = c.columns.toSeq
    val nonKeys = cols.filterNot(keys.contains)
    // keys to delete: present now, absent at the target
    val del = c.join(t, keys, "left_anti").select(keys.map(col): _*)
    // rows to upsert: target rows absent now, plus target rows whose
    // non-key columns differ from the current value
    val ins = t.join(c, keys, "left_anti").select(cols.map(col): _*)
    val up =
      if (nonKeys.isEmpty) ins
      else ins.unionByName(
        t.join(c, keys.map(k => t(k) === c(k)).reduce(_ && _), "inner")
          .where(nonKeys.map(cl => !(t(cl) <=> c(cl))).reduce(_ || _))
          .select(cols.map(cl => t(cl).as(cl)): _*))
    // both sets are read twice (count for metrics + the delta write) —
    // pin the diff, not the corpus
    val delP = del.persist()
    val upP = up.persist()
    try {
      val nDel = delP.count()
      val nUp = upP.count()
      // identical content still commits an (empty) restore version —
      // the verb's contract is "a new version AT the target content"
      commitChange(sp, path, truncate = false,
        if (nDel > 0) Some(delP) else None,
        if (nUp > 0) Some(upP) else None)
      (cur + 1, nDel, nUp)
    } finally {
      delP.unpersist(false)
      upP.unpersist(false)
      ()
    }
  }

  /** Rewrite the base save as the CONTENT OF version `target` and drop
    * the folded deltas — numbering stays stable (`_tfirst` = target).
    * Sibling-dir swap: the old base stays readable until the new one
    * is complete. Durable ACCELERATOR sidecars survive the swap:
    * `_tivf_*` vector indexes carry verbatim (their entries key on
    * stable version numbers and liveness resolves at probe time, so a
    * base rewrite never invalidates them); the z sort projection
    * carries while its build version stays replayable from the
    * retained delta dirs, and is otherwise REBUILT fresh against the
    * post-swap content — the maintenance verbs keep accelerators
    * alive, they never silently shed them. `keepProjection = false`
    * skips both carry and rebuild for callers about to rewrite the
    * projection themselves (`OPTIMIZE ... ZORDER BY (values)`). */
  private def rebase(sp: SparkSession, path: String, target: Long,
      transform: TableHandle => TableHandle = identity,
      keepProjection: Boolean = true): Unit = {
    // derive (and self-heal into `_evolvever`) the latest feed fence
    // BEFORE the fold: the per-version `_feedfence` markers of the
    // folded-away versions vanish with their dirs, and only the healed
    // root hint carries the fence across the swap
    latestFeedFence(sp, path)
    val h0 = loadVersion(sp, path, target)
    // re-run the skew guard while the base is being rewritten anyway:
    // a hot bucket that absorbed months of upserts re-splits here, so
    // no partition outgrows the persisted cap indefinitely
    val h = transform(readSkewCap(sp, path).map(h0.reskew).getOrElse(h0))
    val (fs, p) = fsOf(sp, path)
    // UNIQUE per-run stage (the r19 vector-index lesson applied to the
    // table's own rebase): with the old FIXED `.{name}_compact_tmp`
    // sibling, a rival OPTIMIZE's pre-lock `delete(tmp) + saveTo(tmp)`
    // could interleave with an owner's locked carry/swap — the owner
    // then promoted a half-written rival stage and LOST its carried
    // commit records. Unique names make rival stages disjoint: the
    // loser burns a staging pass and aborts on the live lock, nothing
    // more. Recovery lists the prefix (legacy fixed name included).
    val tmp = newRebaseStage(p)
    // the whole staging window is heartbeated (`_hb` inside the stage):
    // the unlocked O(corpus) save writes only DEEP files, so the stage
    // root's mtime goes stale while the stage is very much alive — and
    // a rival OPTIMIZE's sweepOrphans would otherwise delete the live
    // stage mid-save (the same mtime-does-not-move failure the
    // vector-index stages fixed with their heartbeat)
    val stageHb = new Heartbeat(fs, new Path(tmp, "_hb"))
    try {
    h.saveTo(tmp.toString)
    // SWAP FENCE (see the notes above [[rebaseLockPath]]): the slow
    // O(corpus) stage write above runs unlocked; everything from here
    // to the rename holds `_rebaselock`, so the delta carry below
    // reads every commit record a writer will ever be acknowledged
    // for — without it a rival landing between carry and delete was
    // ERASED after being told success (a lost update, found by the
    // writers-vs-maintenance stress matrix)
    val (lockHb, lockToken) = acquireRebaseLock(fs, path)
    try {
    rebaseStallHook(lockHb)
    // a stall (GC pause, starvation) can outlive the steal age: if a
    // rival reclaimed the lock while we slept, abort before reading
    // anything — the carry below must never mix eras
    requireRebaseOwnership(fs, path, lockToken, tmp)
    // the committed tail AFTER the fence: the marker walk in
    // [[diskVersion]] scans past the hint to every commit record
    val dv = diskVersion(sp, path)
    // carry the RETAINED deltas (> target) into the new dir before the
    // swap so no window exists where they are missing, and write the
    // version/first markers INTO the staged dir — the promoted dir is
    // complete and self-describing whenever the swap lands (or is
    // recovered after a crash mid-swap)
    (target + 1 to dv).foreach { v =>
      val d = new Path(deltaDir(path, v))
      if (fs.exists(d))
        org.apache.hadoop.fs.FileUtil.copy(fs, d, fs,
          new Path(tmp, d.getName), false, sp.sparkContext.hadoopConfiguration)
    }
    // committed fold sidecars covering only RETAINED versions ride the
    // swap too; folds that reach into the folded-away history drop
    // with it (replay over the retained tail re-creates them)
    val keptFolds = listFolds(sp, path)
      .filter(f => f.lo > target && f.hi <= dv)
    keptFolds.foreach { f =>
      val d = new Path(foldDir(path, f.lo, f.hi))
      if (fs.exists(d))
        org.apache.hadoop.fs.FileUtil.copy(fs, d, fs,
          new Path(tmp, d.getName), false, sp.sparkContext.hadoopConfiguration)
    }
    writeVersion(sp, tmp.toString, dv)
    writeFirstVersion(sp, tmp.toString, target)
    // a FRESH checkpoint manifest for the rebased log (the old one
    // described dropped versions and must not ride the swap): retained
    // versions' commit records read from the pre-swap log
    val keptMetas = (target + 1 to dv).map { i =>
      val dir = deltaDir(path, i)
      val m = readMetaRec(fs, dir)
      i -> VerMeta(m.truncate, m.hasDel, m.hasUp, m.hasSchema, m.stamp,
        m.hasSchema && fs.exists(new Path(dir, "_feedfence")))
    }.toMap
    val keptFence = math.max(
      latestFeedFence(sp, path).getOrElse(0L),
      keptMetas.collect { case (i, vm) if vm.fence => i }
        .maxOption.getOrElse(0L))
    writeManifest(sp, tmp.toString,
      Manifest(dv, target, keptFence, keptFolds, keptMetas))
    // the rebased version keeps its ORIGINAL commit stamp, so
    // TIMESTAMP AS OF times inside the folded history still floor to
    // it (the stamp is read pre-swap from the about-to-fold log)
    writeFirstTime(sp, tmp.toString,
      historyTimes(sp, path)((target - tableFirstVersion(sp, path)).toInt))
    // durable root-dir sidecars ride the swap too: the SQL index-name
    // manifest (losing it would silently end index maintenance after
    // an OPTIMIZE), the CHECK constraints, the idempotent-writer
    // markers, and the skew cap
    val rootSidecars = (Seq("_indexnames", "_constraints", "_evolvever",
      "_texport_auto") ++
      fs.listStatus(p).map(_.getPath.getName).filter(n =>
        n.startsWith("_txnhint_") || n.startsWith("_txnfold_") ||
          n.startsWith("_txn_") || n.startsWith("_txnc_"))).distinct
    rootSidecars.foreach { f =>
      val src = new Path(p, f)
      if (fs.exists(src))
        org.apache.hadoop.fs.FileUtil.copy(fs, src, fs,
          new Path(tmp, f), false, sp.sparkContext.hadoopConfiguration)
    }
    // idempotence tags of the versions being folded away collapse into
    // per-app FLOOR markers — an idempotent writer's dedup question
    // survives any amount of compaction
    val foldedTags = (tableFirstVersion(sp, path) + 1 to target).flatMap(v =>
      readTxnTag(fs, new Path(deltaDir(path, v))))
    foldedTags.groupBy(_._1).foreach { case (app, tags) =>
      val f = new Path(tmp, s"_txnfold_${safeApp(app)}")
      val prev = graft.MarkerFile.readLong(fs, f).getOrElse(Long.MinValue)
      graft.MarkerFile.writeLong(fs, f,
        math.max(prev, tags.map(_._2).max))
    }
    readSkewCap(sp, path).foreach(c =>
      graft.MarkerFile.writeLong(fs, new Path(tmp, "_skewcap"), c))
    // durable vector-index sidecars ride the swap verbatim (losing one
    // would hard-break every graft_ann caller and silently end the
    // index's DML maintenance)
    val ivfNames = fs.listStatus(p).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("_tivf_"))
      .map(_.getPath.getName)
    ivfNames.foreach { n =>
      org.apache.hadoop.fs.FileUtil.copy(fs, new Path(p, n), fs,
        new Path(tmp, n), false, sp.sparkContext.hadoopConfiguration)
    }
    // the z sort projection carries only while its overlay stays
    // replayable (build version inside the retained window); a
    // projection the fold strands is rebuilt fresh below
    val projPre = if (keepProjection) readZProjMeta(sp, path) else None
    val carryProj = projPre.exists(_._1 >= target)
    if (carryProj) {
      val d = new Path(zProjDir(path))
      if (fs.exists(d))
        org.apache.hadoop.fs.FileUtil.copy(fs, d, fs,
          new Path(tmp, d.getName), false,
          sp.sparkContext.hadoopConfiguration)
    }
    // bury-tolerant swap (see [[swapInStage]]): rivals recreating the
    // path mid-window (heartbeats, fold worker, a claim that slipped
    // past the fence pre-check) can neither brick the table nor get
    // their skeleton acknowledged (the post-commit fence sees
    // record-gone and the statement retries)
    // the stage is fully written — stop (and JOIN) its heartbeat
    // BEFORE the rename, or an in-flight `_hb` write's fs.create could
    // recreate the just-renamed stage dir as an empty orphan
    stageHb.stopJoin()
    // last ownership check before the point of no return: a theft
    // landing after this is the advisory-lock residue every dir-swap
    // protocol carries; swapInStage + the post-commit fence absorb it
    requireRebaseOwnership(fs, path, lockToken, tmp)
    fs.delete(p, true)
    require(swapInStage(fs, tmp, p), s"compaction rename failed for $path")
    purgeAllSessions(sp, path)
    // the copied index files are byte-identical but NEW inodes — drop
    // the per-path memos so no cached listing outlives the swap
    ivfNames.foreach(n => GraftVectorIndex.invalidate(s"$path/$n"))
    if (!carryProj) projPre.foreach { case (_, info) =>
      val (cv, hc) = current(sp, path)
      // rebuild only if the projection columns still exist as numeric
      // VALUE columns (schema evolution may have dropped or retyped
      // them since the original OPTIMIZE ... ZORDER BY)
      val ok = info.dims.map(_._1).forall(c =>
        hc.schema.fieldNames.contains(c) &&
          hc.schema(c).dataType
            .isInstanceOf[org.apache.spark.sql.types.NumericType] &&
          !hc.keyCols.contains(c))
      if (ok) {
        writeZProjection(sp, path, hc, info.dims.map(_._1), cv)
        purgeAllSessions(sp, path)
      }
    }
    } finally releaseRebaseLock(fs, path, lockHb, lockToken)
    } catch {
      case e: Throwable =>
        // drop our own stage on failure — but ONLY while the table is
        // healthy: mid-swap (between delete and rename) the stage can
        // be the single surviving copy, and recovery needs it
        try { if (fs.exists(new Path(p, "_frame"))) fs.delete(tmp, true) }
        catch { case scala.util.control.NonFatal(_) => () }
        throw e
    } finally stageHb.stop()
    ()
  }

  private def rebaseStagePrefix(p: Path): String =
    s".${p.getName}_compact_tmp"

  /** Unique per-run rebase staging dir beside the table (see the note
    * in [[rebase]] — the fixed name let rival OPTIMIZEs corrupt each
    * other's stage pre-lock). */
  private def newRebaseStage(p: Path): Path = new Path(p.getParent,
    s"${rebaseStagePrefix(p)}_${java.util.UUID.randomUUID().toString.replace("-", "")}")

  /** Is dir entry `n` a rebase stage of the table at `p`? The legacy
    * fixed name or prefix + "_" + exactly 32 hex chars — un-nestable,
    * like the vector-index stage matcher. */
  private def isRebaseStageOf(p: Path, n: String): Boolean = {
    val pre = rebaseStagePrefix(p)
    n == pre || (n.length == pre.length + 33 && n.startsWith(pre + "_") &&
      n.substring(pre.length + 1).forall(c =>
        (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f')))
  }

  /** Spec hook: runs inside [[rebase]] right after the lock is taken —
    * tests stall here (stopping the heartbeat) to exercise the
    * steal-while-alive reclaim deterministically. */
  private[sql] var rebaseStallHook: Heartbeat => Unit = _ => ()

  /** Move the COMPLETE staged dir `tmp` to `p` while rivals may
    * recreate `p` concurrently (a pending claim's heartbeat, the
    * async fold worker, or a marker write — `fs.create` makes parent
    * dirs): Hadoop's rename moves the source INSIDE an existing
    * destination dir, so a recreation landing in the delete→rename
    * window silently BURIES the stage one level down and the table
    * stays headless forever (found by the writers-vs-maintenance
    * stress matrix). Detect the burial, pull the stage back out, and
    * retry. True when `p` ends up healthy — by our rename or by a
    * rival's recovery promoting the same stage. */
  private def swapInStage(fs: FileSystem, tmp: Path, p: Path): Boolean = {
    val frame = new Path(p, "_frame")
    var attempts = 0
    while (attempts < 10) {
      if (fs.exists(frame)) return true // a rival promoted the stage
      if (!fs.exists(tmp)) {
        val buried = new Path(p, tmp.getName)
        if (fs.exists(new Path(buried, "_frame"))) { fs.rename(buried, tmp); () }
        else return fs.exists(frame)
      } else {
        fs.delete(p, true)
        if (fs.rename(tmp, p) && fs.exists(frame)) return true
      }
      attempts += 1
    }
    fs.exists(frame)
  }

  /** Crash recovery for [[rebase]]'s swap: if the table dir is gone
    * (or headless) but the staged sibling is complete (possibly
    * BURIED inside a recreated dir — see [[swapInStage]]), promote
    * it. Called by every read-side entry point before trusting the
    * dir. Serialized under the rebase lock: concurrent recoverers
    * running the delete→rename dance unserialized can delete each
    * other's just-promoted dir while the stage is the ONLY surviving
    * copy. While a LIVE owner holds the lock the swap is theirs —
    * this returns and the caller's read fails transiently. */
  private def recoverIfNeeded(sp: SparkSession, path: String): Unit = {
    val (fs, p) = fsOf(sp, path)
    if (fs.exists(new Path(p, "_frame"))) return // healthy fast path
    def complete(d: Path): Boolean =
      fs.exists(new Path(d, "_frame")) && fs.exists(new Path(d, "_tver"))
    // any candidate at all? (cheap pre-check before the lock dance —
    // covers unique-named siblings, the legacy fixed name, and stages
    // BURIED inside a recreated headless dir)
    def listCands(): Seq[Path] = {
      val siblings =
        try fs.listStatus(p.getParent).toSeq
          .filter(st => isRebaseStageOf(p, st.getPath.getName))
          .map(_.getPath)
        catch { case _: java.io.FileNotFoundException => Seq.empty }
      val buried =
        if (!fs.exists(p)) Seq.empty
        else try fs.listStatus(p).toSeq
          .filter(st => isRebaseStageOf(p, st.getPath.getName))
          .map(_.getPath)
        catch { case _: java.io.FileNotFoundException => Seq.empty }
      siblings ++ buried
    }
    if (!listCands().exists(complete)) return
    if (rebaseLockAlive(fs, path)) return // live owner mid-swap
    val (hb, token) =
      try acquireRebaseLock(fs, path)
      catch { case _: java.util.ConcurrentModificationException => return }
    try {
      // re-check under the lock — a rival recovery may have healed
      if (!fs.exists(new Path(p, "_frame"))) {
        // pull buried stages back beside the table so the promote sees
        // them (serialized under the lock, so no rival pulls them too)
        if (fs.exists(p))
          try fs.listStatus(p)
            .filter(st => isRebaseStageOf(p, st.getPath.getName))
            .foreach(st => fs.rename(st.getPath,
              new Path(p.getParent, st.getPath.getName)))
          catch { case scala.util.control.NonFatal(_) => () }
        val cands = listCands().filter(complete)
        if (cands.nonEmpty) {
          val winner = cands.map(c => (c, fs.getFileStatus(c)))
            .maxBy(_._2.getModificationTime)._1
          require(swapInStage(fs, winner, p),
            s"compaction recovery failed for $path")
          purgeAllSessions(sp, path)
        }
      }
    } finally releaseRebaseLock(fs, path, hb, token)
    ()
  }
}
