package graft.queries

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.streaming.Streaming

/** Structured Streaming queries in the graded surface: the stream runs
  * for real (readStream → watermark → window agg → memory sink,
  * processAllAvailable), and because the logical plan is identical to
  * the batch form, the result carries an exact DuckDB oracle.
  */
object StreamingQueries {

  private val runCounter = new AtomicInteger(0)

  /** Stage `events.parquet` into a per-sf temp directory (the streaming
    * file source only monitors directories) and return a thunk making
    * fresh streaming readers over it — several queries need the same
    * stream twice (self-union, two-sided join). `ts` converts to a
    * µs-resolution instant for watermarks/windows whatever physical
    * type the parquet stored — ns-long or timestamp[us]
    * (Tables.withEventTimestamp dispatches on the source schema). */
  private def eventsStream(s: SparkSession, dir: String): () => DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val batchSchema = s.read.parquet(s"$dir/events.parquet").schema
    val staged = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"),
      "graft_stream_events_" + dir.replaceAll("[^A-Za-z0-9]", "_"))
    java.nio.file.Files.createDirectories(staged)
    // clear stale stagings first: part-file names are run-unique, so
    // re-staging a regenerated table would otherwise ACCUMULATE files
    // and silently double the stream
    java.nio.file.Files.list(staged).forEach(f =>
      java.nio.file.Files.deleteIfExists(f))
    // the source may be a single parquet FILE (driver testdata) or a
    // multi-file parquet DIRECTORY (GenScale output) — a bare
    // Files.copy on a directory copies only the empty directory entry
    // and the stream would read ZERO rows
    val src = java.nio.file.Paths.get(s"$dir/events.parquet")
    if (java.nio.file.Files.isDirectory(src))
      java.nio.file.Files.list(src)
        .filter(f => f.getFileName.toString.endsWith(".parquet"))
        .forEach(f => java.nio.file.Files.copy(f,
          staged.resolve(f.getFileName),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING))
    else
      java.nio.file.Files.copy(src, staged.resolve("events.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    () => Tables.withEventTimestamp(
      s.readStream.schema(batchSchema).parquet(staged.toString), "ts")
  }

  /** State-store partition count for the harness streams — the
    * measured local optimum (see below). */
  private val stateParts = 8

  // State partitions stay FIXED at 8 for this rig: an r6 experiment
  // sized them from source volume (~8 MB/partition → 26 at sf10) and
  // MEASURED it slower (st6 at sf10: 48.7 s at 26 partitions vs
  // 38.6 s at 8) — in a single local JVM the per-partition state-store
  // load/commit overhead outweighs the extra parallelism, because all
  // partitions share the same 32 cores either way. On a real cluster,
  // where state partitions map to distinct executors, sizing them to
  // stream volume is still the right rule (see runToMemory's
  // scaladoc); the harness encodes the measured local optimum.

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // tumbling 1-hour windows per event type, computed by an actual
    // streaming query over the events parquet
    "st1_stream_windows" -> ((s, dir) => {
      val stream = eventsStream(s, dir)
      val agg = Streaming.windowedCounts(stream(),
        windowLength = "1 hour", watermark = "2 hours")
      val name = s"st1_out_${runCounter.incrementAndGet()}"
      Streaming.runToMemory(s, agg, name, outputMode = "complete",
          statePartitions = Some(stateParts))
        .select(col("window_start").cast(DateType).as("d"),
          hour(col("window_start")).as("h"),
          col("event_type"), col("n"))
        .orderBy(col("d"), col("h"), col("event_type"))
    }),

    // streaming dedup over an at-least-once source: the stream is
    // unioned with itself (every event delivered twice), then
    // dropDuplicatesWithinWatermark restores exactly-once — counts per
    // type equal the plain batch counts, giving an exact oracle
    "st2_stream_dedup" -> ((s, dir) => {
      val stream = eventsStream(s, dir)
      val duplicated = stream().unionAll(stream())
      val deduped = Streaming.dedupStream(duplicated, Seq("event_id"),
        eventTimeCol = "ts", watermark = "2 hours")
        .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      val name = s"st2_out_${runCounter.incrementAndGet()}"
      Streaming.runToMemory(s, deduped, name, outputMode = "complete",
        statePartitions = Some(stateParts))
        .orderBy(col("event_type"))
    }),

    // windowed anomaly scoring against a batch-trained profile: the
    // streaming twin of e6_outlier_flags. The per-type (mean, var)
    // profile comes from exact decimal sums over the batch table,
    // broadcast-joins the raw stream (stateless), and every tumbling
    // window's mean is z-tested against it — squared-deviation
    // decision path, so the flags replay float-exact in the oracle
    "st8_stream_anomaly" -> ((s, dir) => {
      val stream = eventsStream(s, dir) // also sets nanosAsLong
      val dec = col("value").cast(DecimalType(18, 2))
      val profile = Tables(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(sum(dec).as("sxd"), sum(dec * dec).as("sxxd"),
          count(lit(1)).as("np"))
        .select(col("event_type"),
          (col("sxd").cast(DoubleType) / col("np")).as("mean_v"),
          ((col("sxxd").cast(DoubleType) -
            col("sxd").cast(DoubleType) * col("sxd").cast(DoubleType) / col("np"))
            / (col("np") - 1)).as("var_v"))
      val agg = Streaming.windowedAnomaly(stream(), profile)
      val name = s"st8_out_${runCounter.incrementAndGet()}"
      Streaming.runToMemory(s, agg, name, outputMode = "complete",
          statePartitions = Some(stateParts))
        .select(col("window_start").cast(DateType).as("d"),
          hour(col("window_start")).as("h"),
          col("event_type"), col("n"),
          round(col("win_mean"), 6).as("win_mean"), col("anomaly"))
        .orderBy(col("d"), col("h"), col("event_type"))
    }),

    // stream-stream interval join: each click paired with the same
    // user's views in the following 30 minutes, as an actual
    // watermarked two-sided streaming join (append mode); the per-user
    // pair count is batch presentation over the sink, so the result
    // carries an exact oracle
    "st3_stream_join" -> ((s, dir) => {
      val stream = eventsStream(s, dir)
      val clicks = stream().filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id"))
      val views = stream().filter(col("event_type") === "view")
        .select(col("user_id"), col("ts"), col("event_id"))
      val joined = Streaming.intervalJoin(clicks, views, "user_id", "ts",
        windowMs = 30L * 60 * 1000)
      val name = s"st3_out_${runCounter.incrementAndGet()}"
      Streaming.runToMemory(s, joined, name, outputMode = "append",
        statePartitions = Some(stateParts))
        .groupBy(col("l_user_id").as("user_id"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("user_id"))
    }),

    // stream-static enrichment: events enriched with the customer
    // dimension (broadcast per micro-batch, stateless), aggregated per
    // market segment — the canonical streaming dimension join
    "st4_stream_enrich" -> ((s, dir) => {
      val stream = eventsStream(s, dir)
      val dim = Tables(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      val enriched = Streaming.enrichWithStatic(stream(), dim,
          col("user_id") === col("c_custkey"))
        .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n"))
      val name = s"st4_out_${runCounter.incrementAndGet()}"
      Streaming.runToMemory(s, enriched, name, outputMode = "complete",
        statePartitions = Some(stateParts))
        .orderBy(col("c_mktsegment"))
    }),

    // stream-stream LEFT OUTER interval join: clicks with no view in
    // the following 30' emit a null row once the watermark passes
    // their join window (outer state eviction — the capability inner
    // st3 can't show). Zero-delay watermark makes the closure rule
    // exact: an unmatched click emits iff ts + 30' precedes the final
    // watermark (= global max event time)
    "st7_stream_outer_join" -> ((s, dir) => {
      val stream = eventsStream(s, dir)
      val clicks = stream().filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id"))
      val views = stream().filter(col("event_type") === "view")
        .select(col("user_id"), col("ts"), col("event_id"))
      val joined = Streaming.intervalJoin(clicks, views, "user_id", "ts",
        windowMs = 30L * 60 * 1000, watermark = "0 seconds",
        joinType = "leftOuter")
      val name = s"st7_out_${runCounter.incrementAndGet()}"
      Streaming.runToMemory(s, joined, name, outputMode = "append",
          statePartitions = Some(stateParts))
        .groupBy(col("l_user_id").as("user_id"))
        .agg(count(col("r_event_id")).as("n_matched"),
          count(when(col("r_event_id").isNull, 1)).as("n_unmatched"))
        .orderBy(col("user_id"))
    }),

    // event-time sessionization over the stream via the native
    // session_window generator (30' gap, zero-delay watermark, append
    // mode): emitted sessions are exactly those whose end (last event
    // + gap) the final watermark (= max event time) has passed — the
    // oracle applies the same closure rule to its gaps-and-islands
    "st6_stream_sessions" -> ((s, dir) => {
      val stream = eventsStream(s, dir)
      val sess = Streaming.sessionWindows(stream(), gap = "30 minutes",
        watermark = "0 seconds")
      val name = s"st6_out_${runCounter.incrementAndGet()}"
      Streaming.runToMemory(s, sess, name, outputMode = "append",
          statePartitions = Some(stateParts))
        .select(col("user_id"),
          unix_micros(col("session_start")).as("session_start"),
          col("n_events"), col("total_value"))
        .orderBy(col("user_id"), col("session_start"))
    }),

    // stream → snapshot-table ingestion with exactly-once batch
    // commits (the lakehouse landing path): the events stream is
    // written through runToSnapshot/appendStreamBatch, then the TABLE
    // is aggregated — equality with the plain batch aggregate proves
    // every event landed exactly once through the micro-batch commits
    // ST10: streaming CROSS-BATCH dedup ingestion — documents arrive
    // as 4 doc_id-range micro-batches (one staged file per trigger,
    // mtime-ordered); each batch anti-joins its md5 fingerprints
    // against the persistent snapshot store and appends only
    // first-ever occurrences (exactly-once batch markers). Injected
    // duplicates (doc_id ≥ qs with doc_id % 10 == 1 borrow the
    // fingerprint of doc_id % qs — always an earlier batch) make the
    // cross-batch drop arm provably non-vacuous; the store ends
    // holding exactly min(doc_id) per distinct fingerprint, which the
    // oracle replays relationally
    "st10_stream_dedup_ingest" -> ((s, dir) => {
      import graft.sources.SnapshotTable
      val raw = Tables(s, dir, "documents").select(col("doc_id"),
        graft.operators.TextOps.fingerprint(col("text")).as("fp"))
      val maxId = raw.agg(max(col("doc_id"))).head().getLong(0)
      val qs = maxId / 4 + 1
      val partner = raw.select(col("doc_id").as("pid"),
        col("fp").as("pfp"))
      val fp = raw.withColumn("pid", col("doc_id") % qs)
        .join(partner, Seq("pid"), "left")
        .select(col("doc_id"),
          when(col("doc_id") >= qs && col("doc_id") % 10 === 1
              && col("pfp").isNotNull, col("pfp"))
            .otherwise(col("fp")).as("fp"))
      val base = java.nio.file.Files.createTempDirectory("graft_st10")
      val staged = base.resolve("in")
      java.nio.file.Files.createDirectories(staged)
      for (k <- 0 until 4) {
        val tmp = base.resolve(s"tmp$k").toString
        fp.filter(col("doc_id") >= k * qs && col("doc_id") < (k + 1) * qs)
          .coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        val dst = staged.resolve(f"batch$k%02d.parquet")
        java.nio.file.Files.move(part.toPath, dst)
        // distinct, strictly increasing mtimes: the file source orders
        // batches by modification time, making batch order = doc_id
        // range order (the determinism the oracle depends on)
        java.nio.file.Files.setLastModifiedTime(dst,
          java.nio.file.attribute.FileTime.fromMillis(
            System.currentTimeMillis() - 400000L + k * 60000L))
      }
      val stream = s.readStream.schema(fp.schema)
        .option("maxFilesPerTrigger", "1").parquet(staged.toString)
      graft.streaming.Streaming.dedupIngestToSnapshot(s, stream,
        base.resolve("t").toString, base.resolve("ckpt").toString)
      SnapshotTable.read(s, base.resolve("t").toString)
        .select(col("doc_id"), col("fp"))
        .orderBy(col("doc_id"))
    }),

    // ST11: watermark LATE-DATA DROP, observed end to end — three
    // mtime-ordered micro-batches (first 60% of the timeline, then
    // 60–80%, then the rest PLUS planted copies of the first two
    // hours' events with shifted ids). The copies' windows are
    // EVICTED at the end of batch 2 (watermark ≈ day 18 of a 30-day
    // span), so batch 3 must DROP them; if the watermark pipeline
    // mis-accepted them the early windows would re-emit or
    // double-count and the hash would fail. Lateness is staged a full
    // batch past eviction deliberately: measured on this Spark, an
    // append-mode aggregation still ACCEPTS a late row while its
    // window state is open (eviction lags one batch behind the
    // watermark), so arrival-after-eviction is the regime where the
    // drop is guaranteed — the honest contract a pipeline can rely
    // on (NOTES_ROUND round 8). Append-mode output, post-filtered to
    // windows ending ≥3 h before the global max event time —
    // strictly inside the final watermark, so emission boundary
    // semantics can't wobble the compare. The oracle is the original
    // events only (no copies), same interior-window filter.
    "st11_stream_late_drop" -> ((s, dir) => {
      val raw = Tables.withEventTimestamp(
        s.read.parquet(s"$dir/events.parquet"), "ts")
        .select(col("event_id"), col("ts"), col("event_type"),
          col("value"))
      val b = raw.agg(min(unix_micros(col("ts"))).as("mn"),
        max(unix_micros(col("ts"))).as("mx")).head()
      val (mn, mx) = (b.getLong(0), b.getLong(1))
      val cut1 = mn + (mx - mn) * 6 / 10
      val cut2 = mn + (mx - mn) * 8 / 10
      val hourUs = 3600L * 1000000L
      val late = raw.filter(unix_micros(col("ts")) <= mn + 2 * hourUs)
        .withColumn("event_id", col("event_id") + 10000000L)
      val base = java.nio.file.Files.createTempDirectory("graft_st11")
      val staged = base.resolve("in")
      java.nio.file.Files.createDirectories(staged)
      val tus = unix_micros(col("ts"))
      val batches = Seq(
        raw.filter(tus <= cut1),
        raw.filter(tus > cut1 && tus <= cut2),
        raw.filter(tus > cut2).unionByName(late))
      for ((bdf, k) <- batches.zipWithIndex) {
        val tmp = base.resolve(s"tmp$k").toString
        bdf.coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        val dst = staged.resolve(f"batch$k%02d.parquet")
        java.nio.file.Files.move(part.toPath, dst)
        java.nio.file.Files.setLastModifiedTime(dst,
          java.nio.file.attribute.FileTime.fromMillis(
            System.currentTimeMillis() - 400000L + k * 60000L))
      }
      val stream = s.readStream.schema(batches.head.schema)
        .option("maxFilesPerTrigger", "1").parquet(staged.toString)
      val agg = Streaming.windowedCounts(stream,
        windowLength = "1 hour", watermark = "2 hours")
      val name = s"st11_out_${runCounter.incrementAndGet()}"
      Streaming.runToMemory(s, agg, name, outputMode = "append",
          statePartitions = Some(stateParts))
        .filter(unix_micros(col("window_start")) + hourUs <=
          lit(mx) - 3 * hourUs)
        .select(unix_micros(col("window_start")).as("win_start"),
          col("event_type"), col("n"))
        .orderBy(col("win_start"), col("event_type"))
    }),

    // ST12: streaming CDC-apply — a keyed change stream (3 mtime-
    // ordered time slices, one micro-batch each) folds into a snapshot
    // table as latest-row-per-user: each batch reduces to its newest
    // row per key, then MERGEs idempotently (batch marker inside the
    // atomic commit). Slices partition the timeline in order, so the
    // final table is exactly "latest event per user" — which the
    // oracle states relationally, no batch replay. Per-batch cost is
    // the pruned merge rewrite; no stream state beyond the batch.
    "st12_stream_cdc_apply" -> ((s, dir) => {
      val raw = Tables(s, dir, "events")
        .select(col("event_id"), col("ts"), col("user_id"), col("value"))
      val b = raw.agg(min(col("ts")).as("mn"), max(col("ts")).as("mx")).head()
      val (mn, mx) = (b.getLong(0), b.getLong(1))
      val cut1 = mn + (mx - mn) * 4 / 10
      val cut2 = mn + (mx - mn) * 7 / 10
      val base = java.nio.file.Files.createTempDirectory("graft_st12")
      val staged = base.resolve("in")
      java.nio.file.Files.createDirectories(staged)
      val batches = Seq(
        raw.filter(col("ts") <= cut1),
        raw.filter(col("ts") > cut1 && col("ts") <= cut2),
        raw.filter(col("ts") > cut2))
      for ((bdf, k) <- batches.zipWithIndex) {
        val tmp = base.resolve(s"tmp$k").toString
        bdf.coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        val dst = staged.resolve(f"batch$k%02d.parquet")
        java.nio.file.Files.move(part.toPath, dst)
        java.nio.file.Files.setLastModifiedTime(dst,
          java.nio.file.attribute.FileTime.fromMillis(
            System.currentTimeMillis() - 400000L + k * 60000L))
      }
      val stream = s.readStream.schema(batches.head.schema)
        .option("maxFilesPerTrigger", "1").parquet(staged.toString)
      graft.streaming.Streaming.cdcApplyToSnapshot(s, stream,
        base.resolve("t").toString, keyCols = Seq("user_id"),
        orderCols = Seq("ts", "event_id"),
        checkpoint = base.resolve("ckpt").toString)
      graft.sources.SnapshotTable.read(s, base.resolve("t").toString)
        .select(col("user_id"), col("event_id"),
          floor(col("value") * 100).cast(LongType).as("cents"))
        .orderBy(col("user_id"))
    }),

    // ST13: streaming ingest into a bloom-INDEXED table — the graded
    // proof that pruning power does not decay under continuous
    // ingestion. indexBloom records its policy in the log meta; each
    // appendStreamBatch then blooms its OWN new files inside the
    // batch's commit (one churn-sized scan per batch). Batches are
    // doc_id % 4 slices, so every file spans the full key range: the
    // first require() pins that min/max ranges prune NOTHING, the
    // second that the bloom probe — keyed to land in the LAST streamed
    // batch — prunes 4×+ from the manifest alone. Oracle: the same
    // point lookup + total count over raw documents.
    "st13_stream_bloom_ingest" -> ((s, dir) => {
      import graft.sources.SnapshotTable
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val base = java.nio.file.Files.createTempDirectory("graft_st13")
      val path = base.resolve("t").toString
      // table pre-exists with a bloom policy; the stream then feeds it
      SnapshotTable.create(
        docs.filter(col("doc_id") % 4 === 0L)
          .repartition(4, col("doc_id")), path)
      SnapshotTable.indexBloom(s, path, Seq("doc_id"))
      val staged = base.resolve("in")
      java.nio.file.Files.createDirectories(staged)
      for (k <- 1 until 4) {
        val tmp = base.resolve(s"tmp$k").toString
        docs.filter(col("doc_id") % 4 === k.toLong)
          .coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        val dst = staged.resolve(f"batch$k%02d.parquet")
        java.nio.file.Files.move(part.toPath, dst)
        java.nio.file.Files.setLastModifiedTime(dst,
          java.nio.file.attribute.FileTime.fromMillis(
            System.currentTimeMillis() - 400000L + k * 60000L))
      }
      val stream = s.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1").parquet(staged.toString)
      graft.streaming.Streaming.runToSnapshot(s, stream,
        path, base.resolve("ckpt").toString)
      // probe key lands in the last streamed batch (doc_id % 4 == 3)
      val mid = docs.agg(max(col("doc_id"))).head().getLong(0) / 2
      val target = docs
        .filter(col("doc_id") <= mid && col("doc_id") % 4 === 3L)
        .agg(max(col("doc_id"))).head().getLong(0)
      val (_, keptR, totalR) = SnapshotTable.readWherePruned(s, path,
        col("doc_id") === target)
      require(totalR >= 7,
        s"st13 setup: expected 4 create files + 3 batch files, got $totalR")
      require(keptR * 4 < totalR,
        s"bloom maintenance decayed under streaming: kept $keptR of " +
          s"$totalR files on a point probe (ranges cannot prune this " +
          "layout, so only per-batch bloom upkeep explains a prune)")
      val looked = SnapshotTable.readWhere(s, path,
        col("doc_id") === target)
        .select(col("doc_id"), col("lang"), col("n_chars"))
      looked.crossJoin(
        SnapshotTable.read(s, path).agg(count(lit(1)).as("n_total")))
    }),

    // the COMMIT LOG as a streaming source (st15): a snapshot table
    // built in three commits is consumed one version per trigger
    // (maxVersionsPerTrigger) into a second snapshot table, with a
    // stop/RESTART in the middle — commits landing while the stream
    // was down (an append and a MoR delete) must arrive exactly once
    // from the checkpoint; the CDC feed then replays the whole log and
    // its net state (inserts minus deletes) must equal the table's
    // current rows. n_append_total pins exactly-once: a re-emitted
    // version would inflate it past the oracle's count(*).
    "st15_stream_source" -> ((s, dir) => {
      import graft.sources.SnapshotTable
      val ev = Tables(s, dir, "events").select(col("event_id"),
        col("user_id"), col("event_type"), col("value"))
      val base = java.nio.file.Files
        .createTempDirectory("graft_st15").toString
      val src = s"$base/src"
      val out = s"$base/out"
      val ckpt = s"$base/ckpt"
      SnapshotTable.create(ev.filter(col("event_id") % 3 === 0), src)
      SnapshotTable.append(ev.filter(col("event_id") % 3 === 1), src)
      def run(): Unit = { Streaming.runToSnapshot(s,
        s.readStream.format("graft")
          .option("maxVersionsPerTrigger", "1").load(src), out, ckpt)
        () }
      run()
      SnapshotTable.append(ev.filter(col("event_id") % 3 === 2), src)
      SnapshotTable.deleteMoR(s, src, col("event_id") % 97 === 0)
      run()
      val cdc = Streaming.runToMemory(s,
        s.readStream.format("graft")
          .option("readChangeFeed", "true").load(src),
        s"st15_cdc_${runCounter.incrementAndGet()}")
      // net state in ONE aggregation (inserts count +1, deletes -1;
      // surviving rows net to +1) — no self-join of the feed
      val dataCols = cdc.columns.toSeq
        .filterNot(Set("change_type", "_commit_version"))
      val net = cdc.withColumn("__delta",
          when(col("change_type") === "insert", 1).otherwise(-1))
        .groupBy(dataCols.map(col): _*)
        .agg(sum(col("__delta")).as("__net"))
        .filter(col("__net") > 0).drop("__net")
      net.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("total"))
        .crossJoin(SnapshotTable.read(s, out)
          .agg(count(lit(1)).as("n_append_total")))
        .orderBy(col("event_type"))
    }),

    // SUB-VERSION backfill (st17): streaming an EXISTING table is the
    // first thing a 100 TB deployment does, and version-grained
    // offsets would make the initial snapshot ONE table-sized batch.
    // With maxFilesPerTrigger the source's offsets become (version,
    // units) pairs and the 8-file create splits into >=3 bounded
    // micro-batches (require-pinned, plus a per-batch row cap); the
    // graded aggregate is over the landed result table, so any
    // dropped or re-emitted slice breaks the count/sum oracle.
    "st17_stream_backfill" -> ((s, dir) => {
      import graft.sources.SnapshotTable
      import org.apache.spark.sql.DataFrame
      val orders = Tables(s, dir, "orders").select(
        col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
      val base = java.nio.file.Files
        .createTempDirectory("graft_st17").toString
      val src = s"$base/src"
      val out = s"$base/out"
      SnapshotTable.create(orders
        .repartitionByRange(8, col("o_orderkey"))
        .sortWithinPartitions(col("o_orderkey")), src)
      // per-batch row ceiling = the 3 LARGEST files (range
      // partitioning samples, so file sizes are uneven) — read from
      // the table's own metadata, no data scan
      val perBatchCap = SnapshotTable.metadataTable(s, src)
        .orderBy(col("rows").desc).limit(3)
        .agg(sum(col("rows"))).head().getLong(0)
      val batches = new java.util.concurrent.atomic.AtomicInteger
      val q = s.readStream.format("graft")
        .option("maxFilesPerTrigger", "3").load(src)
        .writeStream.option("checkpointLocation", s"$base/ckpt")
        .foreachBatch { (b: DataFrame, _: Long) =>
          val n = b.count()
          require(n <= perBatchCap,
            s"a backfill batch held $n rows (> $perBatchCap) — the " +
              "3-file cap leaked")
          if (n > 0) batches.incrementAndGet()
          if (SnapshotTable.versions(s, out).isEmpty)
            SnapshotTable.create(b, out)
          else SnapshotTable.append(b, out)
          ()
        }.start()
      try q.processAllAvailable() finally q.stop()
      require(batches.get() >= 3,
        s"an 8-file backfill at 3 files/trigger must split into >=3 " +
          s"batches, got ${batches.get()}")
      SnapshotTable.read(s, out)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("o_totalprice").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("total"))
        .orderBy(col("o_orderpriority"))
    }),

    // ST18: the REGISTERED streaming sink — df.writeStream
    // .format("graft").start(path), the obvious safe path that until
    // r15 required hand-rolled foreachBatch. The graded lifecycle:
    // the FIRST batch creates the table through the sink; a bloom
    // policy lands; the stream restarts with its last checkpoint
    // commit marker DELETED (the crash window: sink committed, Spark's
    // commit log didn't) so batch 0 REPLAYS and the sink must skip it
    // via the in-commit batch marker; three more batches arrive after
    // the restart, each bloomed inside its own commit (st13's pin
    // shape). versions.max pins exactly-once structurally (a replayed
    // append would add a version); the count oracle pins it by rows.
    "st18_stream_sink" -> ((s, dir) => {
      import graft.sources.SnapshotTable
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val base = java.nio.file.Files.createTempDirectory("graft_st18")
      val out = base.resolve("t").toString
      val ckpt = base.resolve("ckpt").toString
      val staged = base.resolve("in")
      java.nio.file.Files.createDirectories(staged)
      // 4 doc_id%4 slices, TWO files each (same mtime pair → one
      // 2-file micro-batch per slice), every file spanning the full
      // doc_id range so min/max ranges can never prune the point probe
      def stageSlice(k: Int): Unit = {
        for (half <- 0 until 2) {
          val tmp = base.resolve(s"tmp${k}_$half").toString
          docs.filter(col("doc_id") % 4 === k.toLong &&
              col("doc_id") % 8 === (k + 4 * half).toLong)
            .coalesce(1).write.mode("overwrite").parquet(tmp)
          val part = new java.io.File(tmp).listFiles()
            .find(_.getName.endsWith(".parquet")).get
          val dst = staged.resolve(f"batch$k%02d_$half.parquet")
          java.nio.file.Files.move(part.toPath, dst)
          java.nio.file.Files.setLastModifiedTime(dst,
            java.nio.file.attribute.FileTime.fromMillis(
              System.currentTimeMillis() - 400000L + k * 60000L))
        }
      }
      def run(): Unit = {
        val q = s.readStream.schema(docs.schema)
          .option("maxFilesPerTrigger", "2").parquet(staged.toString)
          .writeStream.format("graft")
          .option("checkpointLocation", ckpt)
          .start(out)
        try q.processAllAvailable() finally q.stop()
      }
      stageSlice(0)
      run() // batch 0 creates the table through the sink
      SnapshotTable.indexBloom(s, out, Seq("doc_id"))
      // simulate the replay crash window: Spark wrote offsets/0 and
      // ran the sink, but its commits/0 marker was lost — on restart
      // batch 0 re-executes and the SINK must recognize and skip it
      val commit0 = new java.io.File(s"$ckpt/commits/0")
      require(commit0.exists, s"checkpoint commit marker missing: $commit0")
      require(commit0.delete(), s"could not remove $commit0")
      // the local checksummed FS keeps a CRC sidecar; a leftover one
      // makes the replayed commit's rename fail
      new java.io.File(s"$ckpt/commits/.0.crc").delete()
      (1 until 4).foreach(stageSlice)
      run() // replays batch 0 (skipped), then streams slices 1..3
      val vs = SnapshotTable.versions(s, out)
      require(vs.max == 4,
        s"expected v0=create v1=bloom v2..v4=appends, got $vs — a " +
          "replayed batch committed twice or a batch was dropped")
      // bloom maintenance fired per batch: a point probe keyed into
      // the LAST batch prunes from the manifest alone (ranges cannot)
      val mid = docs.agg(max(col("doc_id"))).head().getLong(0) / 2
      val target = docs
        .filter(col("doc_id") <= mid && col("doc_id") % 4 === 3L)
        .agg(max(col("doc_id"))).head().getLong(0)
      val (_, keptR, totalR) = SnapshotTable.readWherePruned(s, out,
        col("doc_id") === target)
      require(totalR == 8, s"expected 8 data files, got $totalR")
      require(keptR * 3 < totalR,
        s"bloom maintenance decayed under the registered sink: kept " +
          s"$keptR of $totalR files on a point probe")
      val looked = SnapshotTable.readWhere(s, out,
        col("doc_id") === target)
        .select(col("doc_id"), col("lang"), col("n_chars"))
      looked.crossJoin(
        SnapshotTable.read(s, out).agg(count(lit(1)).as("n_total")))
    }),

    // ST19: CDC UPDATE IMAGES — a MERGE's matched rows arrive from
    // the change feed as paired update_preimage/update_postimage rows
    // (Delta CDF's contract), keyed by the mergeKeys the commit
    // recorded in its log meta; unmatched sides keep plain tags
    // (removeKeys → delete, fresh keys → insert). Opt-in
    // (updateImages=true), so st12's delete+insert applier is
    // untouched. One MERGE carries all three shapes at once; the
    // oracle restates each class relationally from the raw table —
    // a mispaired row lands in the wrong change_type group and
    // breaks count, balance sum, and key sum together.
    "st19_cdc_update_images" -> ((s, dir) => {
      import graft.sources.SnapshotTable
      val cust = Tables(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"))
      val base = java.nio.file.Files
        .createTempDirectory("graft_st19").toString
      val src = s"$base/t"
      SnapshotTable.create(cust.repartition(4, col("c_custkey")), src)
      val maxKey = cust.agg(max(col("c_custkey"))).head().getLong(0)
      // updates: negative balances flip sign (always a real change)
      val upd = cust.filter(col("c_acctbal") < 0)
        .withColumn("c_acctbal", -col("c_acctbal"))
      // fresh inserts: keys shifted past the key space
      val ins = cust.filter(col("c_custkey") % 100 === 7L)
        .withColumn("c_custkey", col("c_custkey") + lit(maxKey))
      // removals, disjoint from the update set
      val rem = cust
        .filter(col("c_custkey") % 50 === 0L && col("c_acctbal") >= 0)
        .select(col("c_custkey"))
      SnapshotTable.merge(upd.unionByName(ins), src,
        keyCols = Seq("c_custkey"), removeKeys = Some(rem))
      val cdc = Streaming.runToMemory(s,
        s.readStream.format("graft")
          .option("readChangeFeed", "true")
          .option("updateImages", "true")
          .option("startingVersion", "1").load(src),
        s"st19_cdc_${runCounter.incrementAndGet()}")
      cdc.groupBy(col("change_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("c_acctbal").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("bal_total"),
          sum(col("c_custkey")).as("key_total"))
        .orderBy(col("change_type"))
    }),

    // ST20: APPLY CHANGES INTO — table-to-table replication off the
    // update-images CDC stream (the DLT shape, and the consumer st19's
    // pre/post pairs exist FOR). Source lifecycle: v0 create, v1 MERGE
    // (bal-flip updates + shifted fresh inserts + removeKeys), then —
    // while the replica's stream is DOWN — v2 MoR delete; the restart
    // must apply v2 exactly once from the checkpoint. The replica is
    // maintained by Streaming.applyChangeFeed (per batch: final
    // disposition per key by (_commit_version, post>delete>pre), one
    // keyed merge, batch marker for exactly-once). Oracle: the
    // source's final state restated relationally — a mis-paired
    // image, dropped delete, or double-applied batch each break
    // count/balance/key sums per nation.
    "st20_cdc_apply_images" -> ((s, dir) => {
      import graft.sources.SnapshotTable
      val cust = Tables(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"))
      val base = java.nio.file.Files
        .createTempDirectory("graft_st20").toString
      val src = s"$base/src"
      val rep = s"$base/replica"
      val ckpt = s"$base/ckpt"
      SnapshotTable.create(cust.repartition(4, col("c_custkey")), src)
      val maxKey = cust.agg(max(col("c_custkey"))).head().getLong(0)
      val upd = cust.filter(col("c_acctbal") < 0)
        .withColumn("c_acctbal", -col("c_acctbal"))
      val ins = cust.filter(col("c_custkey") % 100 === 7L)
        .withColumn("c_custkey", col("c_custkey") + lit(maxKey))
      val rem = cust
        .filter(col("c_custkey") % 50 === 0L && col("c_acctbal") >= 0)
        .select(col("c_custkey"))
      SnapshotTable.merge(upd.unionByName(ins), src,
        keyCols = Seq("c_custkey"), removeKeys = Some(rem))
      def run(): Unit = {
        Streaming.applyChangeFeed(s,
          s.readStream.format("graft")
            .option("readChangeFeed", "true")
            .option("updateImages", "true")
            .option("maxVersionsPerTrigger", "1").load(src),
          rep, keyCols = Seq("c_custkey"), checkpoint = ckpt)
        ()
      }
      run()
      // a commit lands while the replica is down; restart applies it
      // exactly once from the checkpoint
      SnapshotTable.deleteMoR(s, src,
        col("c_custkey") % 97 === 11L && col("c_custkey") <= maxKey)
      run()
      // the replica IS the source's latest state, row for row
      require(SnapshotTable.read(s, rep).count() ==
        SnapshotTable.read(s, src).count(),
        "replica row count diverged from the source")
      SnapshotTable.read(s, rep)
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n"),
          sum(col("c_acctbal").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("bal_total"),
          sum(col("c_custkey")).as("key_total"))
        .orderBy(col("c_nationkey"))
    }),

    // ST21: the st20 replica maintained by the REGISTERED Update-mode
    // sink ALONE — readStream(readChangeFeed) piped straight into
    // writeStream.format("graft").outputMode("update")
    // .option("mergeKeys", ...), zero foreachBatch (the VERDICT r15
    // one-liner; the per-batch body is the same shared
    // applyChangeBatch st20's applyChangeFeed uses). Same source
    // lifecycle as st20: v0 create, v1 MERGE (updates + shifted
    // inserts + removals), then a MoR delete landing while the stream
    // is DOWN, applied exactly once from the checkpoint on restart.
    // Exactly-once is then pinned through the CRASH window (st18's
    // arm): the engine's newest commit marker is deleted from the
    // checkpoint, so the restarted stream re-offers the already-
    // applied batch — the sink must recognize the batch id from the
    // replica's log head, skip it, and the replica's version count
    // must not move. Oracle: the source's final state restated
    // relationally (same math as st20, independent dirs).
    "st21_update_sink_replica" -> ((s, dir) => {
      import graft.sources.SnapshotTable
      val cust = Tables(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"))
      val base = java.nio.file.Files
        .createTempDirectory("graft_st21").toString
      val src = s"$base/src"
      val rep = s"$base/replica"
      val ckpt = s"$base/ckpt"
      SnapshotTable.create(cust.repartition(4, col("c_custkey")), src)
      val maxKey = cust.agg(max(col("c_custkey"))).head().getLong(0)
      val upd = cust.filter(col("c_acctbal") < 0)
        .withColumn("c_acctbal", -col("c_acctbal"))
      val ins = cust.filter(col("c_custkey") % 100 === 7L)
        .withColumn("c_custkey", col("c_custkey") + lit(maxKey))
      val rem = cust
        .filter(col("c_custkey") % 50 === 0L && col("c_acctbal") >= 0)
        .select(col("c_custkey"))
      SnapshotTable.merge(upd.unionByName(ins), src,
        keyCols = Seq("c_custkey"), removeKeys = Some(rem))
      def run(): Unit = {
        val q = s.readStream.format("graft")
          .option("readChangeFeed", "true")
          .option("updateImages", "true")
          .option("maxVersionsPerTrigger", "1").load(src)
          .writeStream.format("graft").outputMode("update")
          .option("mergeKeys", "c_custkey")
          .option("checkpointLocation", ckpt)
          .start(rep)
        try q.processAllAvailable() finally q.stop()
      }
      run()
      SnapshotTable.deleteMoR(s, src,
        col("c_custkey") % 97 === 11L && col("c_custkey") <= maxKey)
      run()
      require(SnapshotTable.read(s, rep).count() ==
        SnapshotTable.read(s, src).count(),
        "replica row count diverged from the source")
      // crash-window replay: with the newest engine commit marker
      // gone, the restart re-runs the last batch — already applied
      val commits = new java.io.File(s"$ckpt/commits")
      val newest = commits.listFiles()
        .filter(_.getName.forall(_.isDigit))
        .maxBy(_.getName.toLong)
      require(newest.delete(), "st21: could not delete commit marker")
      // the LocalFS checksum sidecar must go with it, or the restart
      // reads a stale-crc ghost and aborts as a concurrent-use clash
      new java.io.File(s"$ckpt/commits/.${newest.getName}.crc").delete()
      val vBefore = SnapshotTable.versions(s, rep).max
      run()
      require(SnapshotTable.versions(s, rep).max == vBefore,
        "replayed batch must be skipped (exactly-once), but the " +
          "replica committed a new version")
      require(SnapshotTable.read(s, rep).count() ==
        SnapshotTable.read(s, src).count(),
        "replica diverged after the crash-window replay")
      SnapshotTable.read(s, rep)
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n"),
          sum(col("c_acctbal").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("bal_total"),
          sum(col("c_custkey")).as("key_total"))
        .orderBy(col("c_nationkey"))
    }),

    "st9_stream_ingest" -> ((s, dir) => {
      val stream = eventsStream(s, dir)
      val base = java.nio.file.Files
        .createTempDirectory("graft_st9").toString
      graft.streaming.Streaming.runToSnapshot(s, stream(),
        s"$base/t", s"$base/ckpt")
      graft.sources.SnapshotTable.read(s, s"$base/t")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("total"))
        .orderBy(col("event_type"))
    }),

    // sliding 1-hour windows every 30 minutes over the stream — the
    // streaming twin of batch e4 (same oracle math: each event lands in
    // exactly window/slide = 2 windows, keyed by start in epoch µs)
    "st5_stream_sliding" -> ((s, dir) => {
      val stream = eventsStream(s, dir)
      val agg = Streaming.windowedCounts(stream(), windowLength = "1 hour",
        watermark = "2 hours", slide = Some("30 minutes"))
      val name = s"st5_out_${runCounter.incrementAndGet()}"
      Streaming.runToMemory(s, agg, name, outputMode = "complete",
          statePartitions = Some(stateParts))
        .select(unix_micros(col("window_start")).as("win_start"),
          col("event_type"), col("n"))
        .orderBy(col("win_start"), col("event_type"))
    })
  )

  val oracles: Map[String, String] = Map(
    // net CDC state = all events minus the MoR-deleted slice;
    // n_append_total = every event exactly once through the append
    // feed (deletes are retractions the append feed ignores)
    "st15_stream_source" ->
      """WITH kept AS (SELECT * FROM events WHERE event_id % 97 != 0)
        |SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |  (SELECT count(*) FROM events) AS n_append_total
        |FROM kept GROUP BY event_type ORDER BY event_type""".stripMargin,

    "st17_stream_backfill" ->
      """SELECT o_orderpriority, count(*) AS n_rows,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    // the replica's final state restated from raw customer: flipped
    // negative balances, minus the removed and MoR-deleted keys, plus
    // the shifted inserts (shifted keys can't match the delete
    // predicates: > max for %50/%97-with-bound arms)
    "st20_cdc_apply_images" ->
      """WITH flipped AS (
        |  SELECT c_custkey, c_nationkey,
        |    CASE WHEN c_acctbal < 0 THEN -c_acctbal ELSE c_acctbal END
        |      AS bal
        |  FROM customer
        |  WHERE NOT (c_custkey % 50 = 0 AND c_acctbal >= 0)
        |    AND NOT c_custkey % 97 = 11),
        |ins AS (
        |  SELECT c_custkey + (SELECT max(c_custkey) FROM customer)
        |      AS c_custkey, c_nationkey, c_acctbal AS bal
        |  FROM customer WHERE c_custkey % 100 = 7),
        |final AS (SELECT * FROM flipped UNION ALL SELECT * FROM ins)
        |SELECT c_nationkey, count(*) AS n,
        |  CAST(sum(CAST(bal AS DECIMAL(18,2))) AS DOUBLE) AS bal_total,
        |  CAST(sum(c_custkey) AS BIGINT) AS key_total
        |FROM final GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,

    // st21 replays st20's lifecycle through the registered Update
    // sink — the replica's final state is the same relational
    // restatement (independent temp dirs, so both can run in one
    // session)
    "st21_update_sink_replica" ->
      """WITH flipped AS (
        |  SELECT c_custkey, c_nationkey,
        |    CASE WHEN c_acctbal < 0 THEN -c_acctbal ELSE c_acctbal END
        |      AS bal
        |  FROM customer
        |  WHERE NOT (c_custkey % 50 = 0 AND c_acctbal >= 0)
        |    AND NOT c_custkey % 97 = 11),
        |ins AS (
        |  SELECT c_custkey + (SELECT max(c_custkey) FROM customer)
        |      AS c_custkey, c_nationkey, c_acctbal AS bal
        |  FROM customer WHERE c_custkey % 100 = 7),
        |final AS (SELECT * FROM flipped UNION ALL SELECT * FROM ins)
        |SELECT c_nationkey, count(*) AS n,
        |  CAST(sum(CAST(bal AS DECIMAL(18,2))) AS DOUBLE) AS bal_total,
        |  CAST(sum(c_custkey) AS BIGINT) AS key_total
        |FROM final GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,

    // each change class restated relationally; pre/post share keys
    "st19_cdc_update_images" ->
      """WITH upd AS (SELECT c_custkey, c_acctbal FROM customer
        |             WHERE c_acctbal < 0),
        |ins AS (SELECT c_custkey + (SELECT max(c_custkey) FROM customer)
        |          AS c_custkey, c_acctbal
        |        FROM customer WHERE c_custkey % 100 = 7),
        |rem AS (SELECT c_custkey, c_acctbal FROM customer
        |        WHERE c_custkey % 50 = 0 AND c_acctbal >= 0)
        |SELECT * FROM (
        |  SELECT 'delete' AS change_type, count(*) AS n,
        |    CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
        |      AS bal_total,
        |    CAST(sum(c_custkey) AS BIGINT) AS key_total FROM rem
        |  UNION ALL
        |  SELECT 'insert', count(*),
        |    CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE),
        |    CAST(sum(c_custkey) AS BIGINT) FROM ins
        |  UNION ALL
        |  SELECT 'update_postimage', count(*),
        |    CAST(sum(CAST(-c_acctbal AS DECIMAL(18,2))) AS DOUBLE),
        |    CAST(sum(c_custkey) AS BIGINT) FROM upd
        |  UNION ALL
        |  SELECT 'update_preimage', count(*),
        |    CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE),
        |    CAST(sum(c_custkey) AS BIGINT) FROM upd
        |) ORDER BY change_type""".stripMargin,

    // same probe math as st13: the point row + the exactly-once total
    "st18_stream_sink" ->
      """WITH mid AS (SELECT max(doc_id) // 2 AS m FROM documents),
        |t AS (SELECT max(doc_id) AS target FROM documents, mid
        |      WHERE doc_id <= m AND doc_id % 4 = 3)
        |SELECT doc_id, lang, n_chars,
        |  (SELECT count(*) FROM documents) AS n_total
        |FROM documents, t WHERE doc_id = target""".stripMargin,

    "st13_stream_bloom_ingest" ->
      """WITH mid AS (SELECT max(doc_id) // 2 AS m FROM documents),
        |t AS (SELECT max(doc_id) AS target FROM documents, mid
        |      WHERE doc_id <= m AND doc_id % 4 = 3)
        |SELECT doc_id, lang, n_chars,
        |  (SELECT count(*) FROM documents) AS n_total
        |FROM documents, t WHERE doc_id = target""".stripMargin,

    // the store converges to min(doc_id) per distinct fingerprint:
    // borrowed fps always have their original owner in an earlier
    // doc_id-range batch, so first-occurrence-in-batch-order = global
    // min doc_id — expressible relationally without replaying batches
    "st10_stream_dedup_ingest" ->
      """WITH raw AS (SELECT doc_id,
        |    md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        |  FROM documents),
        |q AS (SELECT max(doc_id) // 4 + 1 AS qs FROM raw),
        |f AS (SELECT r.doc_id,
        |    CASE WHEN r.doc_id >= q.qs AND r.doc_id % 10 = 1
        |        AND p.fp IS NOT NULL THEN p.fp ELSE r.fp END AS fp
        |  FROM raw r CROSS JOIN q
        |  LEFT JOIN raw p
        |    ON r.doc_id >= q.qs AND p.doc_id = r.doc_id % q.qs)
        |SELECT min(doc_id) AS doc_id, fp FROM f
        |GROUP BY fp ORDER BY doc_id""".stripMargin,
    // session_window semantics (verified by the boundary golden spec):
    // an event at EXACTLY last+gap still merges — split only when the
    // gap is strictly exceeded (same rule as e2's islands); close iff
    // last + gap ≤ the final watermark (global max event time)
    "st6_stream_sessions" ->
      """WITH t AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us, value
        |  FROM events),
        |flagged AS (SELECT *,
        |    CASE WHEN ts_us - lag(ts_us) OVER w > 1800000000 THEN 1
        |      ELSE 0 END AS new_session
        |  FROM t WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
        |sessions AS (SELECT *,
        |    CAST(sum(new_session) OVER (PARTITION BY user_id
        |      ORDER BY ts_us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
        |  FROM flagged),
        |agg AS (SELECT user_id, sid, min(ts_us) AS session_start,
        |    max(ts_us) AS session_last, count(*) AS n_events,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |  FROM sessions GROUP BY 1, 2),
        |mx AS (SELECT max(epoch_us(ts)) AS max_us FROM events)
        |SELECT user_id, session_start, n_events, total_value
        |FROM agg, mx WHERE session_last + 1800000000 <= max_us
        |ORDER BY user_id, session_start""".stripMargin,

    // closure rule mirrors the engine exactly (pinned by checking the
    // per-click emissions): matches always emit; an unmatched click
    // emits iff its join window end precedes the final GLOBAL
    // watermark, which is the MINIMUM across the two watermarked
    // sources — min(max click ts, max view ts) — not the corpus max
    "st7_stream_outer_join" ->
      """WITH c AS (SELECT user_id, event_id, epoch_us(ts) AS tus
        |  FROM events WHERE event_type = 'click'),
        |v AS (SELECT user_id, event_id, epoch_us(ts) AS tus
        |  FROM events WHERE event_type = 'view'),
        |mx AS (SELECT least((SELECT max(tus) FROM c),
        |    (SELECT max(tus) FROM v)) AS mus),
        |j AS (SELECT c.user_id, c.event_id AS cid, c.tus AS ctus,
        |    v.event_id AS vid
        |  FROM c LEFT JOIN v ON c.user_id = v.user_id
        |    AND v.tus >= c.tus AND v.tus <= c.tus + 1800000000),
        |f AS (SELECT user_id, cid, vid FROM j, mx
        |  WHERE vid IS NOT NULL OR ctus + 1800000000 < mus)
        |SELECT user_id, count(vid) AS n_matched,
        |  count(*) FILTER (WHERE vid IS NULL) AS n_unmatched
        |FROM f GROUP BY 1 ORDER BY 1""".stripMargin,

    "st1_stream_windows" ->
      """SELECT CAST(date_trunc('hour', ts) AS DATE) AS d,
        |  hour(date_trunc('hour', ts)) AS h,
        |  event_type, count(*) AS n
        |FROM events GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    "st2_stream_dedup" ->
      """SELECT event_type, count(*) AS n
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "st12_stream_cdc_apply" ->
      """WITH r AS (SELECT user_id, event_id, value,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events)
        |SELECT user_id, event_id,
        |  CAST(floor(value * 100) AS BIGINT) AS cents
        |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin,

    "st9_stream_ingest" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "st8_stream_anomaly" ->
      """WITH st AS (SELECT event_type,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(value AS DECIMAL(18,2)) *
        |      CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
        |    count(*) AS np
        |  FROM events GROUP BY 1),
        |m AS (SELECT event_type, sx / np AS mean_v,
        |    (sxx - sx * sx / np) / (np - 1) AS var_v FROM st),
        |w AS (SELECT CAST(date_trunc('hour', ts) AS DATE) AS d,
        |    hour(date_trunc('hour', ts)) AS h, event_type,
        |    count(*) AS n,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sx
        |  FROM events GROUP BY 1, 2, 3)
        |SELECT w.d, w.h, w.event_type, w.n,
        |  round(w.sx / w.n, 6) AS win_mean,
        |  (w.sx / w.n - mean_v) * (w.sx / w.n - mean_v)
        |    > 4 * var_v / w.n AS anomaly
        |FROM w JOIN m USING (event_type)
        |ORDER BY 1, 2, 3""".stripMargin,

    "st3_stream_join" ->
      """SELECT a.user_id, count(*) AS n_pairs
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id
        |  AND a.event_type = 'click' AND b.event_type = 'view'
        |  AND b.ts >= a.ts
        |  AND b.ts <= a.ts + INTERVAL 30 MINUTE
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "st4_stream_enrich" ->
      """SELECT c.c_mktsegment, count(*) AS n
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "st5_stream_sliding" ->
      """WITH e AS (SELECT epoch_ns(ts) // 1000 AS tus, event_type
        |  FROM events),
        |w AS (SELECT (tus // 1800000000 - o) * 1800000000 AS win_start,
        |    event_type
        |  FROM e CROSS JOIN (VALUES (0), (1)) AS t(o))
        |SELECT win_start, event_type, count(*) AS n
        |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // the planted late copies are DROPPED by the watermark, so the
    // expectation is the ORIGINAL events only, restricted to the same
    // interior windows (end ≥ 3 h before the max event time)
    "st11_stream_late_drop" ->
      """WITH e AS (SELECT epoch_ns(ts) // 1000 AS tus, event_type
        |  FROM events),
        |b AS (SELECT max(tus) AS mx FROM e),
        |w AS (SELECT (tus // 3600000000) * 3600000000 AS win_start,
        |    event_type FROM e)
        |SELECT win_start, event_type, count(*) AS n
        |FROM w, b
        |WHERE win_start + 3600000000 <= mx - 3 * 3600000000
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  )
}
