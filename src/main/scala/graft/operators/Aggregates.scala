package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Barrier.BarrierOps
import org.apache.spark.sql.types.LongType

/** Group-by aggregation patterns from the reference (SURVEY.md §2.4). */
object Aggregates {

  /** Map-form aggregator with passthrough columns — the reference's
    * `SirenAggregator` contract (transform.py:471-539): aggregate
    * `aggMap` columns per `keyCols` with the named function, keep the
    * output column names identical to the inputs, and re-attach the
    * non-aggregated columns via distinct + left join.
    *
    * NOTE (reference quirk, preserved — SURVEY.md §7.4.4): if the
    * passthrough columns are not functionally dependent on the keys, the
    * re-join duplicates rows, exactly as the reference does.
    */
  def keyedAggregate(df: DataFrame, keyCols: Seq[String],
      aggMap: Map[String, String]): DataFrame = {
    val aggExprs = aggMap.toSeq.map { case (c, f) => expr(s"$f(`$c`)").as(c) }
    val aggregated = df.groupBy(keyCols.map(col): _*)
      .agg(aggExprs.head, aggExprs.tail: _*)
    val passthrough = df.columns.toSeq
      .filterNot(c => keyCols.contains(c) || aggMap.contains(c))
    if (passthrough.isEmpty) aggregated
    else {
      val other = df.select((keyCols ++ passthrough).map(col): _*).distinct()
      aggregated.join(other, keyCols, "left")
    }
  }

  /** Latest snapshot per group: the reference uses groupBy + last()
    * relying on upstream file order (altares_preprocessing.py:74-76 —
    * nondeterministic in general, SURVEY.md §7.4.5). We use
    * max_by(value, orderCol): deterministic, single hash aggregate,
    * no window shuffle. */
  def lastByGroup(df: DataFrame, keyCols: Seq[String], orderCol: String,
      valueCols: Seq[String]): DataFrame =
    df.groupBy(keyCols.map(col): _*)
      .agg(max_by(col(valueCols.head), col(orderCol)).as(valueCols.head),
        valueCols.tail.map(c => max_by(col(c), col(orderCol)).as(c)): _*)

  /** Per-class row counts collected to the driver — drives resampling
    * ratios (reference transform.py:1129-1137). The collected map is
    * O(#classes), never O(rows). */
  def classCounts(df: DataFrame, classCol: String): Map[Any, Long] =
    df.groupBy(col(classCol)).count()
      .collect().map(r => r.get(0) -> r.getLong(1)).toMap

  /** Per-column null counts as a single-row DataFrame
    * (reference utils.py:244-273 count_missing_values). */
  def nullCounts(df: DataFrame, cols: Seq[String]): DataFrame =
    df.select(cols.map(c =>
      count(when(col(c).isNull, lit(1))).as(c)): _*)

  /** Cumulative sum of `valueCol` in GLOBAL `sortCols` order — the
    * distributed prefix-sum, NOT a global window (an empty-partitionBy
    * window funnels the whole table through ONE task at any scale):
    *
    * 1. range-repartition on the sort key (sampled split points give
    *    ordered, balanced partitions);
    * 2. per-partition running sums via an ordinary partitioned window
    *    (partition id is the window key — each task scans only its
    *    range);
    * 3. per-partition TOTALS — one O(#partitions) row set — prefix-
    *    scanned on the driver and joined back as broadcast offsets.
    *
    * `sortCols` must be a total order (add a unique tiebreak) for the
    * result to be deterministic. Two passes over the ranged data, no
    * global funnel; the only driver state is #partitions scalars. */
  def globalCumSum(df: DataFrame, sortCols: Seq[org.apache.spark.sql.Column],
      valueCol: org.apache.spark.sql.Column, outCol: String,
      numPartitions: Option[Int] = None): DataFrame = {
    // The broadcast offsets are integral; a fractional value column
    // would be silently floored by the LongType cast below. Fail loudly
    // instead — scale fractional values to integers first.
    val vType = df.select(valueCol).schema.head.dataType
    require(Seq(org.apache.spark.sql.types.ByteType,
        org.apache.spark.sql.types.ShortType,
        org.apache.spark.sql.types.IntegerType, LongType).contains(vType),
      s"globalCumSum requires an integral value column (token counts, " +
        s"sizes); got $vType — scale fractional values to integers first")
    val parts = numPartitions.getOrElse(
      df.sparkSession.sessionState.conf.numShufflePartitions)
    // localCheckpoint, NOT persist: the per-partition totals and the
    // window pass below MUST see one consistent partition assignment,
    // and (range sampling, spark_partition_id) are only deterministic
    // within one materialization — a cache miss that silently
    // recomputed the shuffle with fresh sample bounds would shift rows
    // across __part values and corrupt every offset after the moved
    // boundary (observed under memory pressure as a constant deficit
    // in the tail). The checkpoint pins the assignment as DATA: a lost
    // block fails the job instead of recomputing differently.
    val ranged = df.repartitionByRange(parts, sortCols: _*)
      .withColumn("__part", spark_partition_id())
      .barrier()
    // cast the per-partition totals explicitly: sum() of a DoubleType
    // value column returns DoubleType and getLong would throw; an
    // all-null partition sums to null. The running-sum output keeps the
    // value column's own type — only the OFFSETS are integral, so the
    // contract is: valueCol must be integral-valued (token counts,
    // sizes). Fractional inputs need a scaled-integer representation.
    val totals = ranged.groupBy(col("__part"))
      .agg(sum(valueCol).cast(LongType).as("__tot"))
      .collect()
      .map(r => r.getInt(0) -> (if (r.isNullAt(1)) 0L else r.getLong(1)))
      .sortBy(_._1)
    // a partition's offset: the sum of every earlier partition's total
    val offsets = totals.map(_._1).zip(totals.map(_._2).scanLeft(0L)(_ + _))
    val offCol = offsets.foldLeft(lit(0L)) { case (acc, (p, off)) =>
      when(col("__part") === p, off).otherwise(acc)
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__part")).orderBy(sortCols: _*)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    ranged
      .withColumn(outCol, sum(valueCol).over(w) + offCol)
      .drop("__part")
  }

  /** Ordered N-step funnel: per entity, stage i keeps the EARLIEST
    * event of `steps(i)` at-or-after stage i-1's timestamp; entities
    * enter only by completing step 0. Output: (entityCol, t_0..t_n-1
    * nullable, stage ∈ [1, n]).
    *
    * SINGLE-SCAN shape (the r5 multi-pass read the fact table once per
    * step — N full scans plus N shuffle joins; at 100 TB the scan
    * multiplier dominates): ONE pass over the events, type filter
    * pruned at the scan, ONE shuffle on the entity key into a
    * collect_list aggregate, then the chained earliest-at-or-after
    * semantics run as a codegen'd `aggregate` fold over the per-entity
    * (ts, step)-sorted struct array. Sorting by (ts, step) makes
    * same-timestamp events process in step order, which reproduces the
    * staged-aggregate semantics exactly (parity-spec-gated against
    * [[funnelMultiPass]] on goldens and random fixtures, null
    * timestamps included). Per-entity state is the events of the N
    * funnel types only — bounded by entity activity, never the corpus.
    *
    * HOT-ENTITY GUARD (opt-in): `preThinPerEntityType = Some(k)` caps
    * the per-entity state at n·k events by pre-thinning each
    * (entity, type) group to its k EARLIEST DISTINCT timestamps with a
    * bounded [[graft.functions.expressions.BottomKDistinct]] aggregate
    * — map-side combined, so a 10M-event bot entity contributes ≤ k
    * longs per map task to the exchange instead of 10M structs to one
    * reducer. Requires a long `tsCol`. Semantics: duplicate
    * (entity, type, ts) events are interchangeable to the fold, so
    * thinning is EXACT whenever no (entity, type) exceeds k distinct
    * timestamps; past the cap, degradation is one-sided and monotone —
    * a stage can only resolve later or be missed, never earlier or
    * spuriously (dropping events only removes candidates). Null-ts
    * events are preserved via a per-group marker (they gate step-0
    * entry but never fill a stage). */
  def funnel(df: DataFrame, entityCol: String, typeCol: String,
      tsCol: String, steps: Seq[String],
      preThinPerEntityType: Option[Int] = None,
      maxStepGap: Option[Long] = None): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    require(steps.distinct.size == steps.size, "funnel steps must be distinct")
    require(entityCol != "stage" && !steps.indices.exists(i => entityCol == s"t_$i"),
      s"entityCol '$entityCol' collides with a funnel output column")
    val n = steps.size
    val tsType = df.select(col(tsCol)).schema.head.dataType
    maxStepGap.foreach { g =>
      require(g > 0, "maxStepGap must be positive")
      // the gap arithmetic (ts - prev <= g) is numeric-only; a
      // timestamp-typed tsCol would fail analysis with an obscure
      // interval error deep in the fold — reject it up front, like
      // the preThinPerEntityType LongType guard
      require(tsType.isInstanceOf[org.apache.spark.sql.types.NumericType],
        s"maxStepGap needs a numeric $tsCol (epoch units), got " +
          tsType.catalogString)
    }
    val stepIdx = steps.tail.zipWithIndex.foldLeft(
      when(col(typeCol) === steps.head, 0)) { case (acc, (s, i)) =>
        acc.when(col(typeCol) === s, i + 1)
    }
    val ofSteps = df.filter(col(typeCol).isin(steps: _*))
    val thinned = preThinPerEntityType match {
      case None => ofSteps
      case Some(k) =>
        require(k >= 1, "preThinPerEntityType must keep at least one event")
        require(tsType == LongType,
          s"preThinPerEntityType needs a bigint $tsCol, got ${tsType.catalogString}")
        import graft.functions.expressions.BottomK.bottom_k_distinct
        ofSteps
          .groupBy(col(entityCol), col(typeCol))
          .agg(bottom_k_distinct(col(tsCol), k).as("__ts"),
            max(col(tsCol).isNull).as("__hasnull"))
          .select(col(entityCol), col(typeCol),
            explode(when(col("__hasnull"),
                concat(col("__ts"), array(lit(null).cast(LongType))))
              .otherwise(col("__ts"))).as(tsCol))
    }
    val grouped = thinned
      .select(col(entityCol),
        struct(col(tsCol).as("ts"), stepIdx.as("si")).as("ev"))
      .groupBy(col(entityCol))
      .agg(sort_array(collect_list(col("ev"))).as("__evs"),
        // entities enter only via step 0 — even one with a null-ts
        // step-0 event (it gets t_0 = null, stage 1, like the min()
        // in the staged form)
        max(when(col("ev.si") === 0, true)).as("__has0"))
      .filter(col("__has0"))
    // fold: acc = array of n stage timestamps (null = not reached);
    // an event of step i fills acc[i] iff unfilled, ts non-null, and
    // (i == 0 | acc[i-1] filled with acc[i-1] <= ts). `get` is 0-based
    // and null-safe at i-1 = -1, so no branch ever indexes out.
    val folded = aggregate(col("__evs"),
      array_repeat(lit(null).cast(tsType), n),
      (acc, e) => {
        val ts = e.getField("ts"); val si = e.getField("si")
        transform(acc, (x, i) => {
          val prev = get(acc, i - lit(1))
          // conversion window: stage i>0 only converts within
          // maxStepGap of the previous stage's timestamp (ts units)
          val inWindow = maxStepGap
            .map(g => ts - prev <= g).getOrElse(lit(true))
          when(i === si && x.isNull && ts.isNotNull &&
              (i === 0 || (prev.isNotNull && ts >= prev && inWindow)), ts)
            .otherwise(x)
        })
      })
    val withAcc = grouped.withColumn("__acc", folded)
    val ts = (0 until n).map(i => get(col("__acc"), lit(i)).as(s"t_$i"))
    val stageCol = (1 until n)
      .map(i => when(get(col("__acc"), lit(i)).isNotNull, 1).otherwise(0))
      .foldLeft(lit(1))(_ + _)
    withAcc.select(col(entityCol) +: ts :+ stageCol.as("stage"): _*)
  }

  /** The staged-aggregate funnel (reference SQL shape): one
    * conditional min-aggregation per step chained by entity-key joins.
    * Correct and skew-proof, but each stage re-scans the fact table —
    * N scans for an N-step funnel — so [[funnel]]'s single-scan fold
    * supersedes it as the default; kept as the independent
    * implementation the parity spec checks the fold against.
    * Internal stage columns are uniquely prefixed so inputs that
    * already carry `t_i`/`stage` names cannot be captured. */
  def funnelMultiPass(df: DataFrame, entityCol: String, typeCol: String,
      tsCol: String, steps: Seq[String],
      maxStepGap: Option[Long] = None): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    require(steps.distinct.size == steps.size, "funnel steps must be distinct")
    require(entityCol != "stage" && !steps.indices.exists(i => entityCol == s"t_$i"),
      s"entityCol '$entityCol' collides with a funnel output column")
    def tc(i: Int) = s"__funnel_t_$i"
    val stage0 = df.filter(col(typeCol) === steps.head)
      .groupBy(col(entityCol)).agg(min(col(tsCol)).as(tc(0)))
    val stages = steps.indices.tail.scanLeft(stage0) { (prev, i) =>
      df.filter(col(typeCol) === steps(i))
        .join(prev.select(col(entityCol), col(tc(i - 1))), entityCol)
        .filter(col(tsCol) >= col(tc(i - 1)) && maxStepGap
          .map(g => col(tsCol) <= col(tc(i - 1)) + g).getOrElse(lit(true)))
        .groupBy(col(entityCol)).agg(min(col(tsCol)).as(tc(i)))
    }
    val joined = stages.tail.foldLeft(stages.head) { (acc, st) =>
      acc.join(st.select(col(entityCol), st.columns.filter(_ != entityCol)
        .map(col).last), Seq(entityCol), "left")
    }
    val stageCol = steps.indices.tail
      .map(i => when(col(tc(i)).isNotNull, 1).otherwise(0))
      .foldLeft(lit(1))(_ + _)
    joined.withColumn("stage", stageCol)
      .select(col(entityCol) +:
        steps.indices.map(i => col(tc(i)).as(s"t_$i")) :+ col("stage"): _*)
  }
}
