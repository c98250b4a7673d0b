package graft.sources

import org.apache.spark.sql.{DataFrame, GraftSqlAccess, SQLContext}
import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit,
  ReadAllAvailable, ReadLimit, ReadMaxBytes, ReadMaxFiles,
  SupportsAdmissionControl, SupportsTriggerAvailableNow,
  Offset => OffsetV2}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.{LongOffset, SerializedOffset}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}

/** `spark.readStream.format("graft")` — a snapshot table's commit log
  * as a Structured Streaming source. The log is already an ordered,
  * immutable, replayable sequence of versions, which is exactly the
  * shape a streaming source wants: offsets are COMMIT VERSIONS, a
  * micro-batch is the rows the table gained between two committed
  * versions, and restart replay re-reads the same immutable manifests
  * (so the checkpoint contract is exactly-once without any
  * source-side bookkeeping).
  *
  * Modes:
  *  - default (append feed): the NET inserted row images between the
  *    batch's two versions — [[SnapshotTable.changes]]' insert side.
  *    Cost scales with churn (only files added/rewritten in the range
  *    are read), never with table size.
  *  - `readChangeFeed=true`: full per-version CDC — `change_type`
  *    ('insert' | 'delete') and `_commit_version` columns, one
  *    [[SnapshotTable.changes]] diff per version in the batch (batch
  *    size is bounded by `maxVersionsPerTrigger`, so a trigger never
  *    fans out unboundedly).
  *
  * Options: `startingVersion` (default 0 — replay the full history;
  * the initial version's rows arrive as the first batch),
  * `startingTimestamp` (epoch millis or a session-zone datetime
  * string; resolves to the earliest version committed at/after the
  * instant — an instant past the head means only future commits),
  * `maxVersionsPerTrigger` (cap versions consumed per micro-batch;
  * default unbounded for the append feed — whose batch is ONE
  * manifest diff however many versions it spans — and
  * [[GraftStreamSource.CdcDefaultVersionsPerTrigger]] under
  * `readChangeFeed=true`, which plans one diff per version),
  * `maxFilesPerTrigger` / `maxBytesPerTrigger` (append feed only):
  * split LARGE commits across micro-batches. Offsets become
  * (version, units-consumed) pairs — the Delta file-index shape —
  * and a PURE-APPEND version's added files (sorted by path, a
  * deterministic order immutable manifests replay exactly) are
  * consumed up to the file count and/or manifest-recorded byte
  * budget per trigger (whichever exhausts first; bytes are what
  * actually bound executor pressure when file sizes vary 1 KB–1 GB),
  * so starting a stream against an existing 100 TB table backfills
  * as bounded batches instead of one table-sized batch. A version
  * that is NOT a pure append (rewrites, deletes, DV changes — whose
  * insert diff is row-level, not file-level) is consumed atomically
  * even when it exceeds the budget, like Delta's non-append commits.
  *
  * Scale/robustness notes: offsets are pure metadata (one manifest
  * list per trigger); replay after `vacuum` of a still-uncommitted
  * range fails LOUDLY at execution (the manifests are gone) instead
  * of silently skipping data — retention must outlive checkpoint
  * lag, the same contract Delta documents (a checkpoint that
  * ADVANCED PAST a vacuumed range keeps streaming: recovery batches
  * are constructed lazily). The source implements
  * SupportsAdmissionControl + SupportsTriggerAvailableNow (the Delta
  * V1-source pattern), so `Trigger.AvailableNow` pins the head
  * version at start and drains to it in budget-bounded batches,
  * self-terminating — the periodic-batch-job-over-a-stream shape a
  * 100 TB backfill actually runs. Reference consumers that re-read
  * intermediate outputs per run (sf_datalake's postprocessing scripts
  * over written parquet, `io.py:89-90`) become incremental for free.
  */
private[graft] class GraftStreamSource(
    sqlContext: SQLContext,
    path: String,
    options: Map[String, String]) extends Source
    with SupportsAdmissionControl with SupportsTriggerAvailableNow {

  private val spark = sqlContext.sparkSession

  private def opt(key: String): Option[String] =
    options.collectFirst {
      case (k, v) if k.equalsIgnoreCase(key) => v
    }

  private val cdc = opt("readChangeFeed").exists(_.toBoolean)

  /** `updateImages=true` (CDC mode only): a MERGE/UPDATE-MOR commit's
    * matched rows arrive as paired `update_preimage`/
    * `update_postimage` rows instead of bare delete+insert — what a
    * downstream MERGE-applier or audit consumer keys on (Delta CDF's
    * contract). Opt-in: existing delete+insert consumers (st12's
    * applier) see no change. */
  private val updImages = opt("updateImages").exists(_.toBoolean)
  require(!updImages || cdc,
    "graft: updateImages applies to the CDC feed only — set " +
      "readChangeFeed=true")
  private val startingVersion = opt("startingVersion").map(_.toInt)
    .orElse(opt("startingTimestamp").map { ts =>
      // earliest version committed at/after the instant (session-zone
      // string or epoch millis); an instant past the head means
      // "only future commits" — start one past the current maximum
      val millis = SnapshotTable.parseTimestampOption(spark, ts)
      SnapshotTable.versionAtOrAfter(spark, path, millis).getOrElse(
        SnapshotTable.versions(spark, path)
          .maxOption.map(_ + 1).getOrElse(0))
    })
    .getOrElse(0)
  /** Versions consumed per micro-batch. The append feed defaults to
    * unbounded — its batch is ONE manifest diff regardless of how many
    * versions it spans. CDC mode plans one change-feed diff PER
    * VERSION in the batch, so an unbounded default over a long history
    * (a fresh stream against a 10k-commit table) would build a
    * 10k-way union in a single batch — a driver plan explosion before
    * any task runs. Default CDC to a bounded batch instead; the
    * stream still replays the full history, just across triggers. */
  private val maxVersionsPerTrigger = opt("maxVersionsPerTrigger")
    .map(_.toLong)
    .getOrElse(if (cdc) GraftStreamSource.CdcDefaultVersionsPerTrigger
               else Long.MaxValue)
  require(maxVersionsPerTrigger >= 1,
    "maxVersionsPerTrigger must be >= 1")

  /** Sub-version batching budgets; both unset = version-grained
    * offsets (the default, byte-compatible with existing checkpoints).
    * `maxBytesPerTrigger` budgets the staged file LENGTHS recorded in
    * the manifest (`len=` item) — the cap that actually bounds
    * executor pressure when file sizes vary 1 KB–1 GB; a file whose
    * manifest predates length recording (legacy) budgets as 0 bytes,
    * so combine with `maxFilesPerTrigger` on legacy tables. A single
    * file larger than the byte budget still ships alone (a trigger
    * always makes progress). */
  private val fileCap: Option[Long] = opt("maxFilesPerTrigger").map(_.toLong)
  private val byteCap: Option[Long] = opt("maxBytesPerTrigger").map(_.toLong)
  require(fileCap.forall(_ >= 1), "maxFilesPerTrigger must be >= 1")
  require(byteCap.forall(_ >= 1), "maxBytesPerTrigger must be >= 1")
  private val subVersion = fileCap.isDefined || byteCap.isDefined
  require(!subVersion || !cdc,
    "graft: maxFilesPerTrigger/maxBytesPerTrigger apply to the append " +
      "feed only — the CDC feed is version-grained (use " +
      "maxVersionsPerTrigger)")

  override val schema: StructType =
    GraftStreamSource.sourceSchema(spark, path, options)

  /** Highest (version, units-consumed) already offered to the engine —
    * trigger pacing state only (restart replay re-teaches it through
    * getBatch); correctness rides on the checkpointed offsets. Units
    * only advance past version grain under `maxFilesPerTrigger`. */
  @volatile private var lastSeen: Long = startingVersion - 1L
  @volatile private var lastSeenUnits: Long = Long.MaxValue

  private def versionOf(o: Offset): Long = {
    val t = o match {
      case l: LongOffset => return l.offset
      case s: SerializedOffset => s.json.trim
      case other => other.json.trim
    }
    if (t.startsWith("{"))
      throw new IllegalStateException(
        "graft: this stream checkpoint holds sub-version " +
          "(maxFilesPerTrigger/maxBytesPerTrigger) offsets — restart " +
          "the query with a trigger budget set, or use a fresh " +
          "checkpoint")
    t.toLong
  }

  /** Any offset as (version, units-consumed): composite JSON, or a
    * legacy long meaning that version fully consumed. */
  private def compositeOf(o: Offset): (Long, Long) = o match {
    case g: GraftSourceOffset => (g.v, g.u)
    case l: LongOffset => (l.offset, Long.MaxValue)
    case other =>
      val t = other.json.trim
      if (t.startsWith("{")) GraftSourceOffset.parse(t)
      else (t.toLong, Long.MaxValue)
  }

  /** Sub-version unit accounting for the trigger budgets: splittable
    * flag, unit count, and — for a splittable version — the sorted
    * added files' REL PATHS and manifest-recorded byte lengths. A
    * PURE-APPEND version (every prior entry survives verbatim by
    * (path, dv) identity) splits by added file — its insert diff IS
    * exactly the added entries' visible rows, so a partition of the
    * sorted add list partitions the batch rows. Anything else
    * (rewrites, deletes, DV changes) is ONE atomic unit: its diff is
    * row-level. Paths sort — a deterministic order immutable
    * manifests replay exactly across restarts.
    *
    * Driver residency is deliberately paths + lengths ONLY (~100 B +
    * 8 B per add), never whole entry lines (~0.5 KB+ of stats each):
    * backfilling a 10M-file initial version would otherwise hold
    * multiple GB of strings in this LRU. Full entry lines are
    * re-materialized per batch for just the slice being shipped
    * ([[SnapshotTable.readSliceAt]]); manifests are immutable so
    * recomputation is always safe. */
  private final case class UnitInfo(split: Boolean, cnt: Long,
      paths: Array[String], sizes: Array[Long])

  private val unitCache =
    new java.util.LinkedHashMap[Int, UnitInfo](8, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[Int, UnitInfo]): Boolean = size() > 4
    }

  /** Versions already warned about for the zero-length/byte-cap
    * combination — once per version per source instance. */
  private val warnedZeroLen =
    java.util.Collections.newSetFromMap(
      new java.util.concurrent.ConcurrentHashMap[Long, java.lang.Boolean]())

  private def unitInfo(v: Int): UnitInfo =
    unitCache.synchronized {
      val hit = unitCache.get(v)
      if (hit != null) hit
      else {
        // paths are Int-indexed arrays, so a slice position can never
        // exceed Int range (manifests are Int-sized sequences; the
        // Long offsets clamp to cnt before slicing)
        def ofAdds(adds: Seq[String]): UnitInfo = {
          val sorted = adds.sortBy(SnapshotTable.entryPath)
          UnitInfo(split = true, sorted.size.toLong,
            sorted.map(SnapshotTable.entryPath).toArray,
            sorted.map(e => SnapshotTable.entryFileMeta(e)
              .map(_._1).getOrElse(0L)).toArray)
        }
        val cur = SnapshotTable.manifestEntries(spark, path, v)
        val computed =
          if (v == 0) ofAdds(cur)
          else {
            val curKeys = cur.map(SnapshotTable.entryKey).toSet
            val prev = SnapshotTable.manifestEntries(spark, path, v - 1)
            val removed =
              prev.exists(e => !curKeys(SnapshotTable.entryKey(e)))
            if (removed) {
              // an atomic version still CHARGES the byte budget with
              // its newly-written bytes (the rewrite's churn — the
              // best cheap proxy for its row-level diff's read cost):
              // without a charge, a run of merge/delete commits under
              // maxBytesPerTrigger alone would collapse into ONE
              // unbounded trigger
              val prevKeys = prev.map(SnapshotTable.entryKey).toSet
              val newBytes = cur.iterator
                .filter(e => !prevKeys(SnapshotTable.entryKey(e)))
                .map(e => SnapshotTable.entryFileMeta(e)
                  .map(_._1).getOrElse(0L))
                .sum
              UnitInfo(split = false, 1L, Array.empty,
                Array(newBytes))
            } else {
              val prevKeys = prev.map(SnapshotTable.entryKey).toSet
              ofAdds(cur.filter(e => !prevKeys(SnapshotTable.entryKey(e))))
            }
          }
        unitCache.put(v, computed)
        computed
      }
    }

  /** Test/observability hook: characters resident in the unit cache's
    * path arrays — the driver-residency bound the cache design pins
    * (paths only, never entry lines). */
  private[graft] def unitCacheResidentChars: Long =
    unitCache.synchronized {
      var total = 0L
      unitCache.values.forEach { info =>
        var i = 0
        while (i < info.paths.length) {
          total += info.paths(i).length; i += 1
        }
      }
      total
    }

  // ---- trigger admission control ------------------------------------
  // The source implements SupportsAdmissionControl +
  // SupportsTriggerAvailableNow (the Delta pattern for V1 sources):
  // without them, Trigger.AvailableNow snapshots the RATE-LIMITED
  // getOffset once and terminates after one capped batch — a
  // "process everything available" run that silently processes
  // maxFilesPerTrigger files. With them, the engine calls
  // prepareForTriggerAvailableNow (pin the head version at start),
  // then drains to that pin in budget-bounded batches and
  // self-terminates. Versions are immutable once committed, so the
  // pin is just a version number.

  /** Versions beyond this do not exist for the current
    * Trigger.AvailableNow run (None = unbounded / not an
    * AvailableNow run). */
  @volatile private var availableNowCapV: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit = {
    val vs = SnapshotTable.versions(spark, path)
    availableNowCapV =
      Some(vs.maxOption.map(_.toLong).getOrElse(startingVersion - 1L))
  }

  override def getDefaultReadLimit: ReadLimit = {
    val ls: Seq[ReadLimit] =
      fileCap.map(f => ReadLimit.maxFiles(
        math.min(f, Int.MaxValue.toLong).toInt)).toSeq ++
        byteCap.map(b => ReadLimit.maxBytes(b)).toSeq
    if (ls.isEmpty) ReadLimit.allAvailable()
    else if (ls.size == 1) ls.head
    else ReadLimit.compositeLimit(ls.toArray)
  }

  /** (file budget, byte budget) a ReadLimit asks for. Unknown limit
    * shapes fall back to the option-derived budgets (never silently
    * unbounded). */
  private def budgetsOf(limit: ReadLimit): (Long, Long) = limit match {
    case f: ReadMaxFiles => (f.maxFiles().toLong, Long.MaxValue)
    case b: ReadMaxBytes => (Long.MaxValue, b.maxBytes())
    case c: CompositeReadLimit =>
      c.getReadLimits.map(budgetsOf).reduce((a, b) =>
        (math.min(a._1, b._1), math.min(a._2, b._2)))
    case _: ReadAllAvailable => (Long.MaxValue, Long.MaxValue)
    case _ =>
      (fileCap.getOrElse(Long.MaxValue), byteCap.getOrElse(Long.MaxValue))
  }

  override def latestOffset(start: OffsetV2, limit: ReadLimit)
      : OffsetV2 = {
    val (fb, bb) = budgetsOf(limit)
    walkOffset(fb, bb).orNull
  }

  override def getOffset: Option[Offset] =
    walkOffset(fileCap.getOrElse(Long.MaxValue),
      byteCap.getOrElse(Long.MaxValue))

  /** One trigger's offset under the given budgets (and the
    * AvailableNow pin when set): advances [[lastSeen]]. */
  private def walkOffset(fileBudget0: Long, byteBudget0: Long)
      : Option[Offset] = {
    val vs = SnapshotTable.versions(spark, path)
    if (vs.isEmpty) return None
    val headAll = availableNowCapV
      .fold(vs.max.toLong)(c => math.min(vs.max.toLong, c))
    if (!subVersion) {
      // saturating add: the unbounded default is Long.MaxValue, and a
      // positive lastSeen (startingVersion > 0) would overflow a plain +
      val horizon =
        try Math.addExact(lastSeen, maxVersionsPerTrigger)
        catch { case _: ArithmeticException => Long.MaxValue }
      val capped = math.min(headAll, horizon)
      if (capped <= lastSeen) None
      else {
        lastSeen = capped
        Some(LongOffset(capped))
      }
    } else {
      val head = headAll
      var v = lastSeen
      var u = lastSeenUnits
      var fileBudget = fileBudget0
      var byteBudget = byteBudget0
      var versionsLeft = maxVersionsPerTrigger
      var progressed = false
      var done = false
      while (!done && fileBudget > 0 && byteBudget > 0 &&
          versionsLeft > 0) {
        if (v < startingVersion) { v = startingVersion.toLong; u = 0L }
        else if (v > head) done = true
        else {
          val info = unitInfo(v.toInt)
          if (u >= info.cnt) {
            if (v >= head) done = true
            else { v += 1; u = 0L }
          } else if (!info.split) {
            // an atomic version is consumed whole even past the
            // budgets (a trigger always makes progress); it charges
            // 1 file unit plus its newly-written bytes, so a RUN of
            // rewrite commits stays bounded under either cap
            u = info.cnt
            fileBudget -= 1
            byteBudget -= (if (info.sizes.nonEmpty) info.sizes(0) else 0L)
            progressed = true
            versionsLeft -= 1
          } else {
            // a legacy version whose entries predate length recording
            // budgets every file as 0 bytes: with ONLY the byte cap
            // set, the whole version — however many files — ships in
            // one trigger. Nothing can be charged (the sizes are
            // simply unknown), but the silent unbounded trigger must
            // at least be visible: warn once per such version and
            // name the fix (combine with maxFilesPerTrigger).
            if (byteCap.isDefined && fileCap.isEmpty && info.cnt > 1 &&
                u == 0L && info.sizes.forall(_ == 0L) &&
                warnedZeroLen.add(v))
              GraftStreamSource.log.warn(
                s"graft stream at $path: version $v has ${info.cnt} " +
                  "added files with no recorded byte lengths (legacy " +
                  "manifest) — maxBytesPerTrigger cannot bound this " +
                  "trigger; set maxFilesPerTrigger as well to cap it")
            // per-file walk under BOTH budgets (whichever exhausts
            // first stops the trigger); the first file of a trigger
            // always ships, even when alone it exceeds the byte
            // budget — progress over strictness, Delta's contract
            while (u < info.cnt &&
                (!progressed || (fileBudget > 0 && byteBudget > 0))) {
              byteBudget -= info.sizes(u.toInt)
              fileBudget -= 1
              u += 1
              progressed = true
            }
            if (u >= info.cnt) versionsLeft -= 1
            else done = true
          }
        }
      }
      if (!progressed) None
      else {
        lastSeen = v
        lastSeenUnits = u
        Some(GraftSourceOffset(v, u))
      }
    }
  }

  /** Versions in [first, last] absent from the log (vacuumed or never
    * committed). A batch over them cannot be rebuilt. */
  private def missingVersions(first: Long, last: Long): Seq[Long] = {
    val have = SnapshotTable.versions(spark, path).map(_.toLong).toSet
    (math.max(0L, first) to last).filterNot(have)
  }

  /** A batch whose EXECUTION fails loudly: getBatch must stay cheap
    * and storage-free to CONSTRUCT, because the engine re-calls it
    * over the last committed range on every restart and discards the
    * result (V1 recovery) — a checkpoint that advanced past a
    * vacuumed range must keep streaming. Only a batch the engine
    * actually RUNS may (and must) fail, with the retention contract
    * named; data is never silently skipped. */
  private def deferredFailure(msg: String): DataFrame =
    GraftSqlAccess.streamingDfFromInternal(spark,
      spark.sparkContext.parallelize(Seq(0), 1)
        .mapPartitions[org.apache.spark.sql.catalyst.InternalRow](
          _ => throw new IllegalStateException(msg)), schema)

  /** The deferred-failure batch for a replay range with vacuumed
    * manifests, or None when every needed version is present. */
  private def vacuumedRangeBatch(firstNeeded: Long, last: Long)
      : Option[DataFrame] = {
    val missing = missingVersions(firstNeeded, last)
    if (missing.isEmpty) None
    else Some(deferredFailure(
      s"graft stream at $path: replay needs version(s) " +
        s"${missing.mkString(",")} but their manifests are gone — " +
        "vacuum retention must outlive streaming checkpoint lag " +
        "(raise vacuum's keep; check lag first with vacuumPlan); " +
        "this stream cannot resume without a fresh checkpoint"))
  }

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    if (subVersion) return getBatchSliced(start, end)
    val endV = versionOf(end).toInt
    // (start, end] — a fresh stream (no checkpoint) begins at
    // startingVersion inclusive
    val startV = start.map(o => versionOf(o).toInt + 1)
      .getOrElse(startingVersion)
    lastSeen = math.max(lastSeen, endV)
    // version v's rows need manifest v-1 too (the diff's other side)
    if (startV <= endV) {
      val firstNeeded = if (startV == 0) 0L else startV - 1L
      vacuumedRangeBatch(firstNeeded, endV.toLong)
        .foreach(d => return d)
    }
    // every component aligns to the stream's fixed schema BEFORE any
    // union: versions on either side of a schema evolution carry
    // different columns
    val batch =
      if (startV > endV) emptyBatch()
      else if (cdc) {
        // balanced union: a left-leaning reduce over a replayed range
        // (a restart batch can span more versions than the trigger
        // cap if checkpointed that way) builds an O(n)-DEEP plan that
        // Catalyst recurses over; a tree keeps depth O(log n)
        treeUnion((startV to endV).map(v => align(changeFeedOf(v))))
      } else {
        // NET inserts over the whole range in ONE manifest diff —
        // churn-proportional, version-count-independent
        val base = align(versionRows(startV))
        if (startV == endV) base
        else base.unionByName(align(SnapshotTable
          .changes(spark, path, startV, Some(endV))
          .filter(org.apache.spark.sql.functions
            .col("change_type") === "insert")
          .drop("change_type")))
      }
    GraftSqlAccess.streamingDf(spark, batch)
  }

  /** The (start, end] batch under sub-version offsets: per version,
    * the covered slice of a pure-append version's sorted add list
    * reads directly ([[SnapshotTable.readSliceAt]] — masks applied,
    * that version's stored schema), an atomic version contributes its
    * whole row-level diff. Replay determinism: slices are positions
    * into a path-sorted list computed from immutable manifests, so a
    * restarted query reconstructs the exact checkpointed batches. */
  private def getBatchSliced(start: Option[Offset], end: Offset)
      : DataFrame = {
    val (ev, euRaw) = compositeOf(end)
    val (sv, su) = start.map(compositeOf)
      .getOrElse((startingVersion.toLong, 0L))
    if (ev > lastSeen || (ev == lastSeen && euRaw > lastSeenUnits)) {
      lastSeen = ev
      lastSeenUnits = euRaw
    }
    val firstV = math.max(sv, startingVersion.toLong)
    // unitInfo(v) diffs manifests v-1 and v — both must exist
    if (firstV <= ev)
      vacuumedRangeBatch(math.max(0L, firstV - 1L), ev)
        .foreach(d => return d)
    val parts = (firstV to ev).flatMap { vL =>
      val v = vL.toInt
      val info = unitInfo(v)
      val from = math.min(if (vL == sv) math.min(su, info.cnt) else 0L,
        Int.MaxValue.toLong)
      val until = math.min(if (vL == ev) math.min(euRaw, info.cnt)
                           else info.cnt, Int.MaxValue.toLong)
      if (from >= until) None
      else if (!info.split) Some(align(versionRows(v)))
      else {
        // re-materialize FULL entry lines for just this slice — the
        // cache holds paths only (driver residency), the immutable
        // manifest supplies the rest per batch
        val slicePaths =
          info.paths.slice(from.toInt, until.toInt).toSet
        Some(align(SnapshotTable.readSliceAt(spark, path, v, slicePaths)))
      }
    }
    GraftSqlAccess.streamingDf(spark,
      if (parts.isEmpty) emptyBatch() else treeUnion(parts))
  }

  /** Union as a balanced binary tree (plan depth O(log n)). */
  private def treeUnion(parts: Seq[DataFrame]): DataFrame =
    SnapshotTable.unionTree(parts)

  /** `batch` aligned to the stream's FIXED schema: the table can
    * evolve mid-stream (or before the stream started, with old
    * versions replaying), so versions on either side of an additive
    * evolution carry different columns — columns the stream's schema
    * declares but the batch lacks null-fill (exactly how the batch
    * readers surface pre-evolution files), columns the batch gained
    * past the stream's definition are dropped (a restart with a fresh
    * checkpoint picks up the wider schema). A RENAME breaks the
    * by-name alignment and fails loudly — never silent misalignment. */
  private def align(batch: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    if (batch.columns.sameElements(schema.fieldNames)) batch
    else {
      // the rename fingerprint: the batch carries a column the stream
      // schema lacks WHILE the schema expects one the batch lacks —
      // by-name alignment would silently null the renamed column's
      // values. Fail loudly (the documented contract); extra-only is
      // benign mid-stream additive evolution (dropped until a fresh
      // checkpoint), missing-only is pre-evolution null-fill.
      val extra = batch.columns
        .filterNot(schema.fieldNames.contains).toSeq
      val missing = schema.fieldNames
        .filterNot(batch.columns.contains).toSeq
      if (extra.nonEmpty && missing.nonEmpty)
        throw new IllegalStateException(
          s"graft stream at $path: a batch's schema carries " +
            s"[${extra.mkString(",")}] while the stream schema " +
            s"expects [${missing.mkString(",")}] — a column rename " +
            "mid-stream cannot be aligned by name; restart the " +
            "query with a fresh checkpoint past the rename")
      schema.fields.foldLeft(batch) { (df, f) =>
        if (df.columns.contains(f.name)) df
        else df.withColumn(f.name, lit(null).cast(f.dataType))
      }.select(schema.fieldNames.map(col).toSeq: _*)
    }
  }

  /** Version `v`'s own contribution to the append feed: the full
    * snapshot for the starting version (its rows were never seen by
    * this stream), the v-1 → v insert diff otherwise. */
  private def versionRows(v: Int): DataFrame =
    if (v == 0) SnapshotTable.read(spark, path, Some(0))
    else SnapshotTable.changes(spark, path, v - 1, Some(v))
      .filter(org.apache.spark.sql.functions
        .col("change_type") === "insert")
      .drop("change_type")

  /** Version `v` as CDC rows (change_type + _commit_version). */
  private def changeFeedOf(v: Int): DataFrame = {
    val rows =
      if (v == 0) SnapshotTable.read(spark, path, Some(0))
        .withColumn("change_type", lit("insert"))
      else SnapshotTable.changes(spark, path, v - 1, Some(v),
        updateImages = updImages)
    rows.withColumn("_commit_version", lit(v))
  }

  private def emptyBatch(): DataFrame = {
    import org.apache.spark.sql.Row
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], schema)
  }

  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()
}

/** Sub-version stream offset: `u` units of version `v`'s add list
  * consumed (units = added files of a pure-append version; 1 atomic
  * unit otherwise). JSON round-trips through the checkpoint log. */
private[graft] case class GraftSourceOffset(v: Long, u: Long)
    extends Offset {
  override val json: String = s"""{"v":$v,"u":$u}"""
}

private[graft] object GraftSourceOffset {
  def parse(json: String): (Long, Long) = {
    def field(name: String): Long = {
      val i = json.indexOf(s""""$name":""")
      require(i >= 0, s"malformed graft stream offset: $json")
      val from = i + name.length + 3
      var to = from
      while (to < json.length &&
          (json.charAt(to).isDigit || json.charAt(to) == '-')) to += 1
      json.substring(from, to).toLong
    }
    (field("v"), field("u"))
  }
}

private[graft] object GraftStreamSource {
  private[sources] val log =
    org.slf4j.LoggerFactory.getLogger(classOf[GraftStreamSource])

  /** Default `maxVersionsPerTrigger` under `readChangeFeed=true`:
    * bounds the per-batch union width (one change-feed plan per
    * version) so a fresh CDC stream over a long commit history plans
    * bounded batches instead of one history-wide union. */
  val CdcDefaultVersionsPerTrigger = 128L

  /** The stream's fixed schema: the table's stored schema at stream
    * definition time, plus the CDC columns when `readChangeFeed`. */
  def sourceSchema(spark: org.apache.spark.sql.SparkSession,
      path: String, options: Map[String, String]): StructType = {
    val base = SnapshotTable.read(spark, path).schema
    val cdcOn = options.collectFirst {
      case (k, v) if k.equalsIgnoreCase("readChangeFeed") => v
    }.exists(_.toBoolean)
    if (!cdcOn) base
    else StructType(base.fields :+
      StructField("change_type", StringType, nullable = false) :+
      StructField("_commit_version", IntegerType, nullable = false))
  }
}
