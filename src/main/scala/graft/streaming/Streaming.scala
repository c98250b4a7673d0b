package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface (beyond the reference, which is purely
  * batch — SURVEY.md §2.10): the same panel/aggregation semantics over
  * an unbounded `events` stream, plus stateful sessionization.
  *
  * Batch-stream parity: `windowedCounts` accepts either a static or a
  * streaming DataFrame — the plan is identical, so batch tests verify
  * streaming logic (run the stream with a memory sink to verify the
  * incremental path).
  */
object Streaming {

  /** Stream-static enrichment join: each micro-batch hash-joins
    * against the broadcast static dimension — stateless (no store, no
    * watermark needed on the static side); the canonical
    * dimension-enrichment shape. The static side is re-planned per
    * batch, so a dimension TABLE (delta/parquet dir) picks up updates
    * between batches. */
  def enrichWithStatic(stream: DataFrame, dim: DataFrame,
      joinExpr: org.apache.spark.sql.Column,
      joinType: String = "inner"): DataFrame =
    stream.join(broadcast(dim), joinExpr, joinType)

  /** Watermarked tumbling- or sliding-window counts/sums per event
    * type (`slide` < window length → each event lands in
    * window/slide overlapping windows, expanded by the native window()
    * generator inside the scan — no self-join). */
  def windowedCounts(events: DataFrame, windowLength: String = "5 minutes",
      watermark: String = "10 minutes",
      slide: Option[String] = None): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(slide.map(sl => window(col("ts"), windowLength, sl))
        .getOrElse(window(col("ts"), windowLength)), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("total"))

  /** Windowed anomaly scoring against a STATIC profile — the
    * production monitoring shape: train (mean, var) per key in batch,
    * score the stream one tumbling window at a time with a z-test of
    * the window mean against the profile (|z| > 2 ⇔ squared deviation
    * > 4·var/n, no sqrt on the decision path so the flag is
    * float-deterministic).
    *
    * Streaming constraints drive the plan shape: aggregation-then-join
    * is unsupported, so the profile broadcast-joins the RAW stream
    * (stateless, per micro-batch) and rides through the window groupBy
    * as functionally-dependent grouping keys. Window state is the only
    * state; the profile is O(#keys).
    *
    * `profile` must carry (keyCol, mean_v, var_v). */
  def windowedAnomaly(events: DataFrame, profile: DataFrame,
      keyCol: String = "event_type", windowLength: String = "1 hour",
      watermark: String = "2 hours"): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val winMean = col("sxd").cast(DoubleType) / col("n")
    events
      .withWatermark("ts", watermark)
      .join(broadcast(profile), keyCol)
      .groupBy(window(col("ts"), windowLength), col(keyCol),
        col("mean_v"), col("var_v"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).as("sxd"))
      .select(col("window.start").as("window_start"), col(keyCol),
        col("n"), winMean.as("win_mean"),
        ((winMean - col("mean_v")) * (winMean - col("mean_v")) >
          lit(4.0) * col("var_v") / col("n")).as("anomaly"))
  }

  case class Event(event_id: Long, ts: Timestamp, user_id: Long,
    event_type: String, value: Double)
  case class Session(user_id: Long, session_start: Timestamp,
    session_end: Timestamp, n_events: Long, total_value: Double)
  private case class SessionState(start: Long, last: Long, n: Long,
    total: Double)

  /** Stateful sessionization with a gap timeout: events for a user
    * belong to one session while they arrive within `gapMs` of each
    * other; a quiet gap closes and emits the session
    * (flatMapGroupsWithState with ProcessingTime timeout). */
  def sessionize(events: Dataset[Event],
      gapMs: Long = 30 * 60 * 1000L): Dataset[Session] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append, GroupStateTimeout.ProcessingTimeTimeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          val sorted = rows.toSeq.sortBy(_.ts.getTime)
          var st = state.getOption.orNull
          val closed = Seq.newBuilder[Session]
          for (e <- sorted) {
            val t = e.ts.getTime
            if (st == null) {
              st = SessionState(t, t, 1, e.value)
            } else if (t - st.last <= gapMs) {
              st = st.copy(last = math.max(st.last, t), n = st.n + 1,
                total = st.total + e.value)
            } else {
              closed += Session(userId, new Timestamp(st.start),
                new Timestamp(st.last), st.n, st.total)
              st = SessionState(t, t, 1, e.value)
            }
          }
          if (state.hasTimedOut) {
            if (st != null) {
              closed += Session(userId, new Timestamp(st.start),
                new Timestamp(st.last), st.n, st.total)
            }
            state.remove()
          } else if (st != null) {
            state.update(st)
            state.setTimeoutDuration(gapMs)
          }
          closed.result().iterator
      }
  }

  /** Event-time sessionization via the NATIVE session_window generator:
    * gap-merged windows maintained in the state store, one session row
    * per (user, island). Append mode emits a session once the event-
    * time watermark passes its end (= last event + gap) — so on a
    * bounded stream the final still-open session per user stays in
    * state (the oracle mirrors that closure rule exactly). Works
    * identically on batch frames (the generator merges per group in a
    * single aggregation), preserving batch-stream parity.
    *
    * Output: (user_id, session_start timestamp, n_events,
    * total_value) — total_value decimal-summed for cross-engine float
    * determinism. */
  def sessionWindows(events: DataFrame, gap: String = "30 minutes",
      watermark: String = "0 seconds"): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val src =
      if (events.isStreaming) events.withWatermark("ts", watermark)
      else events
    src.groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType)
          .as("total_value"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("n_events"), col("total_value"))
  }

  /** Streaming deduplication: drop repeated `idCols` rows within the
    * event-time watermark (`dropDuplicatesWithinWatermark`) — exactly
    * the at-least-once-source dedup a training-data ingest needs, with
    * BOUNDED state: a key is only held until the watermark passes it,
    * unlike plain `dropDuplicates` on a stream whose state grows
    * forever. Works on batch frames too (plain dropDuplicates
    * semantics), preserving batch-stream parity testing. */
  def dedupStream(events: DataFrame, idCols: Seq[String],
      eventTimeCol: String = "ts",
      watermark: String = "10 minutes"): DataFrame =
    if (events.isStreaming)
      events.withWatermark(eventTimeCol, watermark)
        .dropDuplicatesWithinWatermark(idCols)
    else events.dropDuplicates(idCols)

  /** Stream-stream interval join: pair each left event with every
    * right event of the same key within `[ts, ts + windowMs]` — the
    * watermarked two-sided join (both sides' state is droppable once
    * the watermark passes the interval bound, which the time condition
    * encodes in both directions). Works identically on batch frames —
    * batch-stream parity again. Columns: left prefixed `l_`, right
    * `r_`. */
  def intervalJoin(left: DataFrame, right: DataFrame, keyCol: String,
      tsCol: String, windowMs: Long,
      watermark: String = "1 hour",
      joinType: String = "inner"): DataFrame = {
    def prefix(df: DataFrame, p: String): DataFrame =
      df.columns.foldLeft(df)((d, c) => d.withColumnRenamed(c, p + c))
    val l = prefix(
      if (left.isStreaming) left.withWatermark(tsCol, watermark) else left,
      "l_")
    val r = prefix(
      if (right.isStreaming) right.withWatermark(tsCol, watermark) else right,
      "r_")
    // joinType "leftOuter": unmatched left rows emit with nulls once
    // the watermark passes their join window (l_ts + windowMs) — the
    // state-eviction point; matches emit as they are found
    l.join(r,
      col(s"l_$keyCol") === col(s"r_$keyCol") &&
        col(s"r_$tsCol") >= col(s"l_$tsCol") &&
        col(s"r_$tsCol") <=
          // millisecond granularity: SECONDS via integer division floors
          // any sub-second window to INTERVAL 0, dropping all matches
          col(s"l_$tsCol") + expr(s"INTERVAL $windowMs MILLISECOND"),
      joinType)
  }

  /** Drive a streaming query over a parquet directory with a memory
    * sink, synchronously (local smoke-test harness for streams).
    *
    * `statePartitions` sizes the stateful-operator parallelism: a
    * streaming query pins its state-store instance count to
    * `spark.sql.shuffle.partitions` AT START, and every instance pays
    * per-micro-batch load/commit overhead regardless of data volume —
    * so size it to the stream's actual throughput (a handful for
    * MB-scale local fixtures, hundreds on a real cluster). The session
    * conf is restored after the stream finishes, so surrounding batch
    * queries are unaffected. */
  def runToMemory(spark: SparkSession, streamed: DataFrame,
      queryName: String, outputMode: String = "append",
      statePartitions: Option[Int] = None): DataFrame = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    statePartitions.foreach(n =>
      spark.conf.set("spark.sql.shuffle.partitions", n.toString))
    try {
      val q = streamed.writeStream
        .format("memory").queryName(queryName).outputMode(outputMode)
        .start()
      q.processAllAvailable()
      q.stop()
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prev)
    }
    spark.table(queryName)
  }

  /** Stream → snapshot-table ingestion with EXACTLY-ONCE batch
    * commits: each micro-batch appends through
    * [[graft.sources.SnapshotTable.appendStreamBatch]], whose batch-id
    * marker rides inside the same atomic manifest commit as the data —
    * a batch replayed after crash/restart (same checkpoint) is
    * recognized and skipped, so the table never holds duplicates. Runs
    * the stream to completion of the currently-available input and
    * returns the final committed version. One logical stream per
    * table (see appendStreamBatch). */
  def runToSnapshot(spark: SparkSession, streamed: DataFrame,
      tablePath: String, checkpoint: String): Int = {
    val q = streamed.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        graft.sources.SnapshotTable.appendStreamBatch(batch, tablePath, id)
        ()
      }
      .start()
    q.processAllAvailable()
    q.stop()
    graft.sources.SnapshotTable.versions(spark, tablePath).max
  }

  /** Streaming CROSS-BATCH DEDUP ingestion — the streaming twin of the
    * d8 incremental-dedup shape, and the production pipeline for
    * continuously-arriving training documents: each micro-batch
    *  1. anti-joins its `keyCol` (a bounded fingerprint, never the
    *     text) against the persistent snapshot store — only rows whose
    *     key was never accepted before survive;
    *  2. keeps the min-`idCol` row per surviving key (within-batch
    *     first-occurrence);
    *  3. appends the accepted (idCol, keyCol) rows through
    *     [[graft.sources.SnapshotTable.appendStreamBatch]], whose
    *     batch-id marker rides inside the atomic manifest commit —
    *     exactly-once under crash/replay, same as [[runToSnapshot]].
    * The store doubles as the dedup state AND the output: at any point
    * it holds exactly one row per distinct key ever seen, the first
    * occurrence in (batch, id) order. State never lives in the
    * stream's own state store, so it survives checkpoint wipes and is
    * shared across restarts and even across DIFFERENT streams feeding
    * one corpus. Scale shape: the per-batch wide ops are one
    * fingerprint anti-join (16-byte keys) and one key agg — both
    * proportional to the BATCH, while the store side is a snapshot
    * scan of keys only (at 100 TB: partition/z-order the store by key
    * so the anti-join prunes files). */
  def dedupIngestToSnapshot(spark: SparkSession, streamed: DataFrame,
      tablePath: String, checkpoint: String, keyCol: String = "fp",
      idCol: String = "doc_id"): Int = {
    import graft.sources.SnapshotTable
    val q = streamed.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val ss = batch.sparkSession
        if (!SnapshotTable.committedStreamBatch(ss, tablePath)
            .exists(_ >= id)) {
          val fresh =
            if (SnapshotTable.versions(ss, tablePath).isEmpty) batch
            else batch.join(
              SnapshotTable.read(ss, tablePath).select(col(keyCol)),
              Seq(keyCol), "left_anti")
          val accepted = fresh.groupBy(col(keyCol))
            .agg(min(col(idCol)).as(idCol))
            .select(col(idCol), col(keyCol))
          SnapshotTable.appendStreamBatch(accepted, tablePath, id)
        }
        ()
      }
      .start()
    q.processAllAvailable()
    q.stop()
    SnapshotTable.versions(spark, tablePath).max
  }

  /** Streaming CDC-apply: each micro-batch UPSERTS into the snapshot
    * table through [[graft.sources.SnapshotTable.merge]] (update rows
    * replace matched keys, new keys insert), with the same
    * exactly-once batch marker as [[runToSnapshot]] riding inside the
    * merge's atomic commit — a replayed batch is skipped, so the
    * table converges to one row per key regardless of crash/restart
    * timing. The first batch creates the table. Single stream writer
    * per table; a concurrent committer fails the batch's merge with
    * ConcurrentModificationException (surfaced through the stream)
    * rather than losing rows. */
  /** Streaming CDC-apply: reduce each micro-batch to its LATEST row per
    * key (by `orderCols`, descending, ties broken by the later column)
    * and MERGE that reduction into the snapshot table, idempotently
    * (batch-id marker inside the same atomic commit — a replayed batch
    * after checkpoint recovery is recognized and skipped). The 100 TB
    * shape for keyed change streams: per-batch state is the batch
    * itself (no unbounded stream state), per-batch write cost is
    * merge's pruned rewrite (files containing touched keys only).
    *
    * Batch-order contract: merges apply batches in arrival order, so
    * the final table equals "latest row per key" only when the
    * source's batch order respects `orderCols` across batches (a
    * time-sliced CDC feed does; an arbitrary shuffle of history does
    * not — that caller wants upsert-with-version-guard instead). */
  def cdcApplyToSnapshot(spark: SparkSession, streamed: DataFrame,
      tablePath: String, keyCols: Seq[String], orderCols: Seq[String],
      checkpoint: String): Int = {
    import graft.sources.SnapshotTable
    import org.apache.spark.sql.expressions.Window
    val q = streamed.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        if (!SnapshotTable.committedStreamBatch(batch.sparkSession,
            tablePath).exists(_ >= id)) {
          val w = Window.partitionBy(keyCols.map(col): _*)
            .orderBy(orderCols.map(c => col(c).desc): _*)
          val latest = batch.withColumn("__rn", row_number().over(w))
            .filter(col("__rn") === 1).drop("__rn")
          if (SnapshotTable.versions(batch.sparkSession, tablePath).isEmpty)
            SnapshotTable.appendStreamBatch(latest, tablePath, id)
          else
            SnapshotTable.merge(latest, tablePath, keyCols,
              meta = Map("streamBatch" -> id.toString))
        }
        ()
      }
      .start()
    q.processAllAvailable()
    q.stop()
    SnapshotTable.versions(spark, tablePath).max
  }

  /** APPLY CHANGES INTO (the DLT/Delta Live shape): consume another
    * graft table's CDC stream — `readStream.format("graft")` with
    * `readChangeFeed=true, updateImages=true` — and maintain an
    * exact REPLICA by key. Per micro-batch:
    *  1. reduce to each key's FINAL disposition: highest
    *     `_commit_version` wins; within one version an
    *     insert/update_postimage beats a delete beats an
    *     update_preimage (a matched update carries pre+post in the
    *     same version — post IS the new state; a preimage without
    *     its postimage in the batch decides nothing);
    *  2. one [[graft.sources.SnapshotTable.merge]]: final
    *     insert/postimage rows upsert, final delete keys remove —
    *     the keyed-churn commit, exactly-once via the batch marker
    *     (a replayed batch after restart is recognized and skipped).
    * The first batch (the source's v0 snapshot, all inserts) creates
    * the replica through the same exactly-once append.
    *
    * Batch-order contract: commit versions are totally ordered and
    * the CDC stream delivers them in order, so the replica equals
    * the source's latest state whatever the trigger batching —
    * unlike [[cdcApplyToSnapshot]]'s time-slice assumption, version
    * order is the source table's own serialization. */
  def applyChangeFeed(spark: SparkSession, streamed: DataFrame,
      tablePath: String, keyCols: Seq[String],
      checkpoint: String): Int = {
    import graft.sources.{GraftStreamSink, SnapshotTable}
    // the per-batch body — disposition reduce, deterministic
    // tie-break, one keyed merge, exactly-once batch marker — is
    // shared verbatim with the registered Update-mode sink
    // (writeStream.format("graft").outputMode("update")
    //  .option("mergeKeys", ...)): one body, one contract
    val q = streamed.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        GraftStreamSink.applyKeyedBatch(batch, tablePath, keyCols, id,
          cdcOverride = Some(true))
      }
      .start()
    q.processAllAvailable()
    q.stop()
    SnapshotTable.versions(spark, tablePath).max
  }

  def upsertToSnapshot(spark: SparkSession, streamed: DataFrame,
      tablePath: String, keyCols: Seq[String], checkpoint: String): Int = {
    import graft.sources.SnapshotTable
    val q = streamed.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        if (!SnapshotTable.committedStreamBatch(batch.sparkSession,
            tablePath).exists(_ >= id)) {
          if (SnapshotTable.versions(batch.sparkSession, tablePath).isEmpty)
            SnapshotTable.appendStreamBatch(batch, tablePath, id)
          else
            SnapshotTable.merge(batch, tablePath, keyCols,
              meta = Map("streamBatch" -> id.toString))
        }
        ()
      }
      .start()
    q.processAllAvailable()
    q.stop()
    SnapshotTable.versions(spark, tablePath).max
  }
}
