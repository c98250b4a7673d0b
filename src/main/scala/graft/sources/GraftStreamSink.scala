package graft.sources

import org.apache.spark.sql.{DataFrame, GraftSqlAccess, SQLContext}
import org.apache.spark.sql.execution.streaming.Sink

/** `df.writeStream.format("graft").start(path)` — the snapshot table
  * as a registered Structured Streaming SINK, closing the read/write
  * asymmetry (`readStream.format("graft")` has existed since r13;
  * until now the write side forced every pipeline to hand-roll
  * `foreachBatch { (b, id) => appendStreamBatch(b, path, id) }`).
  *
  * Exactly-once comes from [[SnapshotTable.appendStreamBatch]]: the
  * micro-batch id rides INSIDE the atomic manifest commit, so a
  * replayed batch after a crash/restart is recognized from the log
  * head and skipped — no separate delivery ledger whose update could
  * tear away from the data commit. Bloom maintenance, stats harvest,
  * and schema/partition-layout recording all flow through the same
  * batch-append path every other writer uses.
  *
  * Output modes:
  *  - Append (default): plain batch appends. `mergeKeys` is refused —
  *    an append sink silently deduplicating by key would be an
  *    accident waiting to be discovered.
  *  - Update + `.option("mergeKeys", "k1,k2")` (r16): each micro-batch
  *    applies as ONE keyed merge — upsert by the key columns, with
  *    exactly-once via the same batch marker. A batch carrying CDC
  *    columns (`change_type`, `_commit_version` — the shape the graft
  *    CDC stream source emits) is first reduced to each key's FINAL
  *    disposition and its deletes become `removeKeys` removals, so
  *    `readStream(readChangeFeed) → writeStream(update, mergeKeys)`
  *    maintains an exact replica with no `foreachBatch` at all. A
  *    batch without the CDC columns upserts as-is (every row is the
  *    key's new image); intra-batch duplicate keys are refused loudly
  *    — a set of images carries no ordering to pick the newest.
  *    Update WITHOUT `mergeKeys` is refused loudly (per-trigger
  *    upserts need a key identity).
  *  - Complete: refused — rewriting the whole table per trigger is
  *    [[SnapshotTable.overwrite]] semantics, under user control only.
  *
  * The first batch CREATES the table; `partitionBy` (from the stream
  * writer or a `partitionBy` option, comma-separated) applies then
  * and must match the stored layout ever after. `mergeSchema=true`
  * admits a restarted stream whose schema gained columns — the
  * additive evolution commits with the batch, metadata-only, exactly
  * [[SnapshotTable.append]]'s evolveSchema contract (the
  * drifting-CDC-ingestion shape); schema drift is refused loudly
  * otherwise.
  *
  * Reference behavior source: sf_datalake writes all outputs as plain
  * parquet snapshots (`io.py:89-99`); this is the beyond-reference
  * streaming-lakehouse surface.
  */
private[graft] class GraftStreamSink(
    sqlContext: SQLContext,
    path: String,
    partitionBy: Seq[String],
    mergeSchema: Boolean,
    mergeKeys: Seq[String],
    cdcOverride: Option[Boolean] = None) extends Sink {

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    // the incoming frame is the micro-batch engine's incremental
    // execution — pin its rows to an RDD and re-wrap as a plain batch
    // frame before handing it to the batch-append path (which plans a
    // fresh write job over it)
    val batch = GraftSqlAccess.batchDf(sqlContext.sparkSession, data)
    if (mergeKeys.isEmpty)
      SnapshotTable.appendStreamBatch(batch, path, batchId, partitionBy,
        evolveSchema = mergeSchema)
    else
      GraftStreamSink.applyKeyedBatch(batch, path, mergeKeys, batchId,
        partitionBy, cdcOverride)
  }

  override def toString: String = s"GraftStreamSink[$path]"
}

private[graft] object GraftStreamSink {

  /** Does this micro-batch carry the CDC feed's shape? (the columns
    * [[SnapshotTable.changeFeed]] and the CDC stream source emit). */
  private def isCdcShaped(batch: DataFrame): Boolean = {
    val cs = batch.columns.toSet
    cs.contains("change_type") && cs.contains("_commit_version")
  }

  /** The change_type values the CDC reduction understands. Anything
    * else would silently rank at precedence 0 and vanish from both
    * the upserts and the removals (ADVICE r16 #4) — validated loudly
    * in [[applyChangeBatch]] instead. */
  private val CdcTypes =
    Seq("insert", "update_postimage", "update_preimage", "delete")

  /** The batch's columns, name-sorted, each rendered hashable for the
    * deterministic replay tie-break: Spark's hash family refuses
    * MapType anywhere in the type tree (ADVICE r16 #3 — before this,
    * a CDC feed carrying a map column failed at runtime), so
    * map-bearing columns ride as their JSON image (content-stable
    * across replays of the same batch bytes), everything else raw. */
  private def hashableCols(batch: DataFrame)
      : Seq[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.{col, struct, to_json}
    batch.schema.fields.sortBy(_.name).toSeq.map(f =>
      if (SnapshotTable.containsMapType(f.dataType))
        to_json(struct(col(f.name)))
      else col(f.name))
  }

  /** One Update-mode micro-batch applied to the snapshot table at
    * `tablePath` as ONE keyed merge, exactly-once via the batch
    * marker (a replayed batch after restart is recognized from the
    * log head and skipped). CDC-shaped batches reduce to final
    * dispositions first ([[applyChangeBatch]]); plain batches upsert
    * every row as its key's new image. The FIRST batch creates the
    * table through the exactly-once append (honoring `partitionBy`).
    * Shared by the registered Update-mode sink and
    * `graft.streaming.Streaming.applyChangeFeed` — one body, one
    * contract. One read of the log head serves the marker check, the
    * create-or-merge choice and the merge itself, so a keyed batch
    * costs the log reads of one plain merge. */
  def applyKeyedBatch(batch: DataFrame, tablePath: String,
      keyCols: Seq[String], batchId: Long,
      partitionBy: Seq[String] = Seq.empty,
      cdcOverride: Option[Boolean] = None): Unit = {
    val head = SnapshotTable.headSnapshot(batch.sparkSession, tablePath)
    if (head.flatMap(SnapshotTable.streamBatchOf).exists(_ >= batchId))
      return
    // `cdc` option pins the interpretation; without it the shape is
    // sniffed from the column names (and the CDC path then VALIDATES
    // the change_type values loudly — see applyChangeBatch)
    cdcOverride.foreach(want => require(!want || isCdcShaped(batch),
      "graft update sink: .option(\"cdc\", \"true\") requires the CDC " +
        "columns change_type and _commit_version in the stream, got " +
        s"[${batch.columns.mkString(",")}]"))
    if (cdcOverride.getOrElse(isCdcShaped(batch)))
      applyChangeBatch(batch, tablePath, keyCols, batchId, partitionBy,
        head)
    else {
      import org.apache.spark.sql.functions.col
      require(keyCols.forall(batch.columns.contains),
        s"graft update sink: mergeKeys [${keyCols.mkString(",")}] " +
          s"must all be batch columns [${batch.columns.mkString(",")}]")
      // a plain Update batch is a SET of row images — two images of
      // one key carry no ordering that says which is newest, and a
      // keyed merge landing both would duplicate the key. Refuse
      // loudly (Delta's merge takes the same stance on multiple
      // source matches); the CDC shape's `_commit_version` is the
      // ordering that resolves this, and pre-reducing the stream is
      // the user-controlled alternative. One churn-sized aggregation.
      val dup = batch.groupBy(keyCols.map(col): _*).count()
        .filter(col("count") > 1).limit(1).collect()
      if (dup.nonEmpty)
        throw new IllegalStateException(
          s"graft update sink: micro-batch $batchId carries multiple " +
            s"rows for key (${keyCols.mkString(",")}) = " +
            s"(${dup.head.toSeq.init.mkString(",")}) — a plain Update " +
            "batch has no ordering to pick the newest image; emit the " +
            "CDC shape (change_type/_commit_version) or reduce the " +
            "stream to one image per key per trigger")
      commitBatch(batch, tablePath, keyCols, batchId, partitionBy, head,
        removeKeys = None)
    }
  }

  /** The batch's one commit: the first batch creates the table through
    * the exactly-once append, a later one merges on the `head` it was
    * checked against, recording its batch marker. */
  private def commitBatch(ups: DataFrame, tablePath: String,
      keyCols: Seq[String], batchId: Long, partitionBy: Seq[String],
      head: Option[SnapshotTable.Snapshot],
      removeKeys: Option[DataFrame]): Unit = head match {
    case None =>
      SnapshotTable.appendStreamBatch(ups, tablePath, batchId, partitionBy)
    case Some(read) =>
      SnapshotTable.mergeOn(ups, tablePath, keyCols, read,
        Map("streamBatch" -> batchId.toString), removeKeys,
        evolveSchema = false)
  }

  /** A CDC micro-batch (rows tagged `change_type` with
    * `_commit_version`) reduced to each key's FINAL disposition and
    * applied as one keyed merge:
    *  1. highest `_commit_version` wins; within one version an
    *     insert/update_postimage beats a delete beats an
    *     update_preimage (a matched update carries pre+post in the
    *     same version — post IS the new state; a preimage without its
    *     postimage in the batch decides nothing);
    *  2. final insert/postimage rows upsert, final delete keys remove
    *     — one keyed merge on `head`, whose batch marker
    *     [[applyKeyedBatch]] has already checked.
    * Determinism (ADVICE r15): two rows of one key with EQUAL version
    * and precedence — a key-duplicated source append, or a v0
    * snapshot carrying duplicate keys — would rank nondeterministically
    * under (version, precedence) alone, so the replica could differ
    * across replays. A stable hash over every batch column (sorted by
    * name) is the final orderBy key: the chosen row is a pure function
    * of the batch CONTENTS, identical on every replay/restart. */
  private def applyChangeBatch(batch: DataFrame, tablePath: String,
      keyCols: Seq[String], batchId: Long, partitionBy: Seq[String],
      head: Option[SnapshotTable.Snapshot]): Unit = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, row_number, when, xxhash64}
    require(keyCols.forall(batch.columns.contains),
      s"graft CDC apply: key columns [${keyCols.mkString(",")}] must " +
        s"all be batch columns [${batch.columns.mkString(",")}]")
    // an unrecognized change_type would rank at precedence 0 and
    // silently vanish from both the upserts and the removals — a
    // mis-shaped feed (or a plain stream that merely happens to carry
    // these column names) must fail LOUDLY, not drop rows. One
    // churn-sized early-out scan.
    val bad = batch.filter(!col("change_type").isin(CdcTypes: _*))
      .select(col("change_type")).limit(1).collect()
    if (bad.nonEmpty)
      throw new IllegalStateException(
        s"graft CDC apply: micro-batch $batchId carries change_type " +
          s"'${bad.head.get(0)}' — not a CDC disposition " +
          s"[${CdcTypes.mkString(",")}]; if the stream is NOT a " +
          "change feed, set .option(\"cdc\", \"false\") to upsert " +
          "rows as plain images")
    val prec = when(col("change_type")
        .isin("insert", "update_postimage"), 2)
      .when(col("change_type") === "delete", 1)
      .otherwise(0)
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col("_commit_version").desc, prec.desc,
        xxhash64(hashableCols(batch): _*).desc)
    val fin = batch.withColumn("__p", prec)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
    val ups = fin.filter(col("__p") === 2)
      .drop("change_type", "_commit_version", "__p", "__rn")
    val rems = fin.filter(col("__p") === 1)
      .select(keyCols.map(col): _*)
    commitBatch(ups, tablePath, keyCols, batchId, partitionBy, head,
      removeKeys = Some(rems))
  }
}
