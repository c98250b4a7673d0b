package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.Barrier.BarrierOps

/** Incremental materialized-view maintenance over a snapshot table's
  * CDC feed: keep a (group → count, sum) aggregate table in sync with
  * its base table at a cost proportional to CHURN, never base size.
  *
  * The algebra is the classical delta-maintenance rule for
  * count/sum aggregates: the change feed's row images contribute
  * (+1, +value) per insert and (−1, −value) per delete; summing the
  * contributions per group yields the group's delta, and
  * new = old + delta. Groups whose count reaches zero are REMOVED
  * (matching a full recompute, where an empty group has no row).
  *
  * min/max are NOT delta-maintainable under deletes without per-group
  * history, so [[refreshCountSumMinMax]] uses the standard
  * invalidate-and-recompute rule: inserts tighten min/max exactly
  * (new = least/greatest(old, inserted)); a delete only matters when
  * it may have removed a CURRENT extremum (deleted min <= view min or
  * deleted max >= view max — without multiplicity history the view
  * cannot know if a duplicate survives), and exactly those
  * INVALIDATED groups recompute min/max from the base table via one
  * semi-join-restricted scan. Cost stays churn-proportional except
  * for invalidated groups.
  *
  * Scale shape: one aggregate over the feed (churn-sized, map-side
  * combined), one group-keyed join against the view, then ONE
  * [[SnapshotTable.merge]] carrying both the upserts and the
  * emptied-group removals (`removeKeys`) — rewrite cost is the view
  * files the changed groups touch. Nothing rescans the base table,
  * nothing collects keys to the driver.
  */
object IncrementalView {

  /** Refresh the count/sum view at `aggPath` (schema: groupCol,
    * `n`, `total` — both long) from the base table's
    * [[SnapshotTable.changes]] feed between `fromVersion` and
    * `toVersion`. `valueCol` must be an integral column of the base
    * (sum semantics are exact; convert money to minor units
    * upstream). Returns the view's new version (its current one if
    * the feed is empty of effective changes). */
  def refreshCountSum(spark: SparkSession, basePath: String,
      aggPath: String, groupCol: String, valueCol: String,
      fromVersion: Int, toVersion: Option[Int] = None): Int = {
    val feed = SnapshotTable.changes(spark, basePath, fromVersion,
      toVersion)
    val sign = when(col("change_type") === "insert", lit(1L))
      .otherwise(lit(-1L))
    val delta = feed
      .groupBy(col(groupCol))
      .agg(sum(sign).as("dn"),
        sum(sign * col(valueCol).cast("long")).as("dv"))
      .filter(col("dn") =!= 0L || col("dv") =!= 0L)
    val old = SnapshotTable.read(spark, aggPath)
      .select(col(groupCol), col("n").as("old_n"),
        col("total").as("old_total"))
    val changed = delta.join(old, Seq(groupCol), "left")
      .select(col(groupCol),
        (coalesce(col("old_n"), lit(0L)) + col("dn")).as("n"),
        (coalesce(col("old_total"), lit(0L)) + col("dv")).as("total"))
      .barrier() // two consumers below; compute the join once
    // upserts and emptied-group removals ride ONE merge rewrite —
    // fully distributed, no driver-side key list, no second pass
    try SnapshotTable.merge(
      changed.filter(col("n") =!= 0L)
        .select(col(groupCol), col("n"), col("total")),
      aggPath, Seq(groupCol),
      removeKeys = Some(changed.filter(col("n") === 0L)
        .select(col(groupCol))))
    finally graft.Barrier.release(changed)
  }

  /** Refresh a count/sum/min/max view at `aggPath` (schema: groupCol,
    * `n`, `total`, `mn`, `mx` — all long) from the base table's
    * change feed. count/sum maintain by pure deltas as in
    * [[refreshCountSum]]; min/max by the invalidate-and-recompute
    * rule in the object scaladoc — only groups whose current extremum
    * MAY have been deleted rescan (base restricted by a semi-join on
    * the invalidated keys; everything else never touches the base).
    * Returns the view's new version. */
  def refreshCountSumMinMax(spark: SparkSession, basePath: String,
      aggPath: String, groupCol: String, valueCol: String,
      fromVersion: Int, toVersion: Option[Int] = None): Int =
    refreshCountSumMinMaxPruned(spark, basePath, aggPath, groupCol,
      valueCol, fromVersion, toVersion)._1

  /** [[refreshCountSumMinMax]] plus the recompute arm's pruning
    * evidence: (view version, base files read by the rescan, base
    * files total). The rescan is restricted to the manifest entries
    * whose cached `groupCol` range intersects the invalidated key
    * range (readWhere's evaluator) — on a groupCol-clustered base
    * with localized invalidation that is the few straddling files,
    * and an EMPTY invalidation set never touches the base at all
    * (0 files read). Scattered invalidation over an unclustered base
    * honestly keeps everything (sound; pruning never changes
    * results). */
  private[graft] def refreshCountSumMinMaxPruned(spark: SparkSession,
      basePath: String, aggPath: String, groupCol: String,
      valueCol: String, fromVersion: Int,
      toVersion: Option[Int] = None): (Int, Int, Int) = {
    val toV = toVersion.getOrElse(
      SnapshotTable.versions(spark, basePath).max)
    val feed = SnapshotTable.changes(spark, basePath, fromVersion,
      Some(toV))
    val v = col(valueCol).cast("long")
    val isIns = col("change_type") === "insert"
    val delta = feed
      .groupBy(col(groupCol))
      .agg(sum(when(isIns, lit(1L)).otherwise(lit(-1L))).as("dn"),
        sum(when(isIns, v).otherwise(-v)).as("dv"),
        min(when(isIns, v)).as("ins_mn"),
        max(when(isIns, v)).as("ins_mx"),
        min(when(!isIns, v)).as("del_mn"),
        max(when(!isIns, v)).as("del_mx"))
    val old = SnapshotTable.read(spark, aggPath)
      .select(col(groupCol), col("n").as("old_n"),
        col("total").as("old_total"), col("mn").as("old_mn"),
        col("mx").as("old_mx"))
    val newN = coalesce(col("old_n"), lit(0L)) + col("dn")
    // a delete at-or-below the view min (at-or-above the view max)
    // may have removed the extremum: the view has no multiplicity
    // history, so those groups are INVALID and rescan. New groups
    // (old_n null) are always exact: the feed holds their every row.
    val minInvalid = col("old_n").isNotNull &&
      col("del_mn").isNotNull && col("del_mn") <= col("old_mn")
    val maxInvalid = col("old_n").isNotNull &&
      col("del_mx").isNotNull && col("del_mx") >= col("old_mx")
    val joined = delta.join(old, Seq(groupCol), "left")
      .withColumn("n", newN)
      .withColumn("total", coalesce(col("old_total"), lit(0L)) + col("dv"))
      .withColumn("invalid",
        (minInvalid || maxInvalid) && col("n") > 0L)
      .barrier() // three consumers; compute the join once
    try {
      val exact = joined.filter(!col("invalid") && col("n") > 0L)
        .select(col(groupCol), col("n"), col("total"),
          least(coalesce(col("old_mn"), col("ins_mn")),
            coalesce(col("ins_mn"), col("old_mn"))).as("mn"),
          greatest(coalesce(col("old_mx"), col("ins_mx")),
            coalesce(col("ins_mx"), col("old_mx"))).as("mx"))
      val invalidated = joined.filter(col("invalid"))
        .select(col(groupCol), col("n"), col("total"))
      // count/sum stay delta-exact even for invalidated groups; only
      // min/max come from the restricted base scan (at the feed's end
      // version, so a concurrent later commit cannot skew the view).
      // The scan is DOUBLY restricted: manifest entries prune by the
      // invalidated KEYS — an exact bounded IN-list when the groups are
      // few (the common localized-churn case: two far-apart invalidated
      // groups no longer keep every file between them, each IN element
      // range-tests independently), falling back to the [min, max]
      // envelope when they are many (a huge IN-list would cost more to
      // evaluate per file than it prunes) — and the semi-join keeps
      // exactly the invalidated groups' rows. The gate is one
      // approx_count_distinct in the same 1-row aggregate, so the
      // driver collect stays bounded by construction. No invalidation →
      // no base I/O at all.
      val invAgg = invalidated.agg(min(col(groupCol)),
        max(col(groupCol)),
        approx_count_distinct(col(groupCol))).head()
      val (recomputed, filesKept, filesTotal) =
        if (invAgg.isNullAt(0))
          (exact.limit(0), 0,
            SnapshotTable.fileCount(spark, basePath, Some(toV)))
        else {
          val restrictPred =
            if (invAgg.getLong(2) <= 64L) {
              val ks = invalidated.select(col(groupCol)).distinct()
                .collect().toSeq.map(_.get(0))
              col(groupCol).isin(ks: _*)
            } else
              col(groupCol) >= lit(invAgg.get(0)) &&
                col(groupCol) <= lit(invAgg.get(1))
          val (restricted, kept, total) = SnapshotTable.readWherePruned(
            spark, basePath, restrictPred, Some(toV))
          val rec = restricted
            .select(col(groupCol), v.as("__v"))
            .join(invalidated.select(col(groupCol)), Seq(groupCol),
              "left_semi")
            .groupBy(col(groupCol))
            .agg(min(col("__v")).as("mn"), max(col("__v")).as("mx"))
            .join(invalidated, Seq(groupCol))
            .select(col(groupCol), col("n"), col("total"), col("mn"),
              col("mx"))
          (rec, kept, total)
        }
      val ver = SnapshotTable.merge(exact.unionByName(recomputed), aggPath,
        Seq(groupCol),
        removeKeys = Some(joined.filter(col("n") === 0L)
          .select(col(groupCol))))
      (ver, filesKept, filesTotal)
    } finally graft.Barrier.release(joined)
  }
}
