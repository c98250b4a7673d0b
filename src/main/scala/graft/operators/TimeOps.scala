package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.ColumnOps

/** The entity–time panel window library — the reference's densest
  * capability (SURVEY.md §2.5, reference src/sf_datalake/transform.py).
  *
  * Every function is generic over `(entityCols, timeCol)` instead of the
  * reference's hard-coded `("siren", "période")` so the same operators
  * scale past the reference's schema.
  *
  * Scale notes: all windows here partition by the entity key, so Spark
  * plans one exchange on the entity columns which is *reused* by
  * consecutive window operators over the same key (Catalyst collapses
  * adjacent Window nodes sharing a partitioning). Chaining lag + diff +
  * movingAvg over the same entity costs ONE shuffle. A caller that
  * range-partitions its input on the entity key (`repartitionByRange`)
  * gets that partitioning reused too, and a final ORDER BY led by the
  * entity key then needs no exchange of its own.
  *
  * Every frame is linear per entity: a "next known value" is computed
  * as `last(ignoreNulls)` over a running frame in the reversed order,
  * never as `first(ignoreNulls)` over `(CURRENT ROW, UNBOUNDED
  * FOLLOWING)`, which Spark's WindowExec recomputes for every row
  * (O(n²) in an entity's row count). See Leis et al., "Efficient
  * Processing of Window Functions in Analytical SQL Queries" (VLDB 2015).
  */
object TimeOps {

  private def entityWindow(entityCols: Seq[String], orderCol: Column) =
    Window.partitionBy(entityCols.map(col): _*).orderBy(orderCol)

  /** Row-lag of `cols` by `n` months over the per-entity monthly panel,
    * ordered by the integer month index — reproducing the reference's
    * LagOperator (transform.py:683-764) exactly: this is a ROW lag after
    * ordering by month index, so missing months shift the lag (documented
    * quirk, SURVEY.md §7.4.3). Output columns `{c}_lag{n}m`.
    */
  def lag_(df: DataFrame, entityCols: Seq[String], timeCol: String,
      cols: Seq[String], n: Int, ref: String = "2014-01-01"): DataFrame = {
    val w = entityWindow(entityCols, ColumnOps.monthIndex(col(timeCol), ref))
    cols.foldLeft(df)((d, c) => d.withColumn(s"${c}_lag${n}m", lag(col(c), n).over(w)))
  }

  /** `{c}_diff{n}m = c - c_lag{n}m`, synthesizing the lag if absent and
    * dropping the temporary (reference DiffOperator, transform.py:767-843). */
  def diff(df: DataFrame, entityCols: Seq[String], timeCol: String,
      cols: Seq[String], n: Int, ref: String = "2014-01-01"): DataFrame =
    cols.foldLeft(df) { (d, c) =>
      val lagName = s"${c}_lag${n}m"
      val hadLag = d.columns.contains(lagName)
      val withLag = if (hadLag) d else lag_(d, entityCols, timeCol, Seq(c), n, ref)
      val out = withLag.withColumn(s"${c}_diff${n}m", col(c) - col(lagName))
      if (hadLag) out else out.drop(lagName)
    }

  /** Calendar moving average over the last `n` months INCLUSIVE of the
    * current month (⇒ n+1 months), via rangeBetween(-n, 0) on the integer
    * month index (reference MovingAverage, transform.py:601-680).
    * Output `{c}_mean{n}m`. */
  def movingAverage(df: DataFrame, entityCols: Seq[String], timeCol: String,
      cols: Seq[String], n: Int, ref: String = "2014-01-01"): DataFrame = {
    val w = entityWindow(entityCols, ColumnOps.monthIndex(col(timeCol), ref))
      .rangeBetween(-n, Window.currentRow)
    cols.foldLeft(df)((d, c) => d.withColumn(s"${c}_mean${n}m", avg(col(c)).over(w)))
  }

  /** Forward-fill nulls within each entity ordered by time
    * (reference transform.py:251-269: last(ignorenulls) over
    * (unboundedPreceding, currentRow)). */
  def ffill(df: DataFrame, entityCols: Seq[String], timeCol: String,
      cols: Seq[String]): DataFrame = {
    val w = entityWindow(entityCols, col(timeCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cols.foldLeft(df)((d, c) =>
      d.withColumn(c, last(col(c), ignoreNulls = true).over(w)))
  }

  /** Backward-fill nulls — the reference's first(ignorenulls) over
    * (currentRow, unboundedFollowing) (transform.py:251-269), computed as
    * last(ignorenulls) over a running frame ordered by `timeCol` desc:
    * desc (nulls last) is the exact reverse of asc (nulls first), so the
    * rows from the current one onward are the same set, and the frame is
    * linear per entity instead of recomputed per row. Identical results
    * whenever `timeCol` orders each entity totally; under ties both forms
    * pick an arbitrary tied row. */
  def bfill(df: DataFrame, entityCols: Seq[String], timeCol: String,
      cols: Seq[String]): DataFrame = {
    val w = entityWindow(entityCols, col(timeCol).desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cols.foldLeft(df)((d, c) =>
      d.withColumn(c, last(col(c), ignoreNulls = true).over(w)))
  }

  /** Linear interpolation of interior null gaps per entity — the
    * gaps-and-islands algorithm of the reference's
    * LinearInterpolationOperator (transform.py:939-1054):
    * row_number → previous/next known value + row position via
    * last(ignorenulls) over running frames, ascending for the previous
    * and descending for the next (the [[bfill]] reversal: linear per
    * entity, identical whenever `timeCol` orders each entity totally) →
    * fill = prev + (next - prev) * (pos - prevPos) / (nextPos - prevPos),
    * only where the value is null. Leading/trailing nulls stay null.
    */
  def interpolate(df: DataFrame, entityCols: Seq[String], timeCol: String,
      cols: Seq[String]): DataFrame = {
    val wOrd = entityWindow(entityCols, col(timeCol))
    val wPrev = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = entityWindow(entityCols, col(timeCol).desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val rnCol = "__rn_interp"
    val base = df.withColumn(rnCol, row_number().over(wOrd))
    val out = cols.foldLeft(base) { (d, c) =>
      val known = when(col(c).isNotNull, col(rnCol))
      val prevVal = last(col(c), ignoreNulls = true).over(wPrev)
      val prevRn = last(known, ignoreNulls = true).over(wPrev)
      val nextVal = last(col(c), ignoreNulls = true).over(wNext)
      val nextRn = last(known, ignoreNulls = true).over(wNext)
      val filled = prevVal +
        (nextVal - prevVal) * (col(rnCol) - prevRn) / (nextRn - prevRn)
      d.withColumn(c, when(col(c).isNull, filled).otherwise(col(c)))
    }
    out.drop(rnCol)
  }

  /** Dense monthly (or daily) date spine between two dates, inclusive —
    * the Spark-native replacement for the reference's driver-side
    * pandas.date_range (extract_financial_DGFiP.py:197-204 et al.).
    * Generated with sequence+explode: no driver materialization, and the
    * spine broadcast-joins for free at any scale. */
  def dateSpine(spark: SparkSession, start: String, end: String,
      step: String = "1 month", colName: String = "période"): DataFrame =
    spark.sql(
      s"SELECT explode(sequence(to_date('$start'), to_date('$end'), interval $step)) AS `$colName`")

  /** Explode a per-row [startCol, endCol] validity interval into one row
    * per period of `step` (reference J5 — extract_financial_DGFiP.py:206-212
    * does this with a cross-range join against the spine; sequence+explode
    * avoids that join entirely and never shuffles). `endExclusive` matches
    * the `BETWEEN start AND end-1` variants. */
  def explodeInterval(df: DataFrame, startCol: String, endCol: String,
      outCol: String = "période", step: String = "1 month",
      endExclusive: Boolean = false): DataFrame = {
    val endExpr = if (endExclusive) date_sub(col(endCol), 1) else col(endCol)
    df.withColumn(outCol,
      explode(sequence(date_trunc("month", col(startCol)).cast(DateType),
        date_trunc("month", endExpr).cast(DateType),
        expr(s"interval $step"))))
  }

  /** Interval → monthly rows via a broadcast date-spine range join —
    * the reference's own shape (extract_financial_DGFiP.py:206-212).
    * Measured on 2M intervals × 7 months (ScaleProbe): the codegen'd
    * broadcast join is ~3.5× faster than sequence+explode, whose
    * per-element calendar arithmetic dominates. Use this form when the
    * global spine bounds are known; `explodeInterval` when they are not
    * (per-row unbounded ranges can't broadcast a spine).
    *
    * Drop-in equivalent to `explodeInterval` (the start bound is
    * month-truncated, so the month CONTAINING startCol is included)
    * provided `spineStart` is a month boundary ≤ every trunc(start) and
    * `spineEnd` ≥ every end date. Intervals outside the spine are
    * silently clipped — that's the point when a global [min, max) window
    * bounds the analysis anyway. */
  def explodeIntervalViaSpine(df: DataFrame, startCol: String,
      endCol: String, spineStart: String, spineEnd: String,
      outCol: String = "période", endExclusive: Boolean = false): DataFrame = {
    val spark = df.sparkSession
    val spine = broadcast(dateSpine(spark, spineStart, spineEnd,
      colName = outCol))
    val endExpr =
      if (endExclusive) date_sub(col(endCol), 1) else col(endCol)
    df.join(spine, col(outCol).between(
      date_trunc("month", col(startCol)).cast(DateType), endExpr), "inner")
  }

  /** Merge overlapping/adjacent [startCol, endCol] intervals per entity —
    * gaps-and-islands (reference W8, extract_ap_data.py:159-180):
    * cumulative max(end) over preceding rows; a new island starts where
    * start > lag(cummax); island id = running sum of the flag; then
    * min(start)/max(end) per island. */
  def mergeIntervals(df: DataFrame, entityCols: Seq[String],
      startCol: String, endCol: String): DataFrame = {
    val wOrd = Window.partitionBy(entityCols.map(col): _*)
      .orderBy(col(startCol), col(endCol))
    val cummax = max(col(endCol))
      .over(wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    val newIsland = when(
      col(startCol) > lag(cummax, 1).over(wOrd), 1).otherwise(0)
    val islandId = sum(newIsland)
      .over(wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    df.withColumn("__island", islandId)
      .groupBy((entityCols.map(col) :+ col("__island")): _*)
      .agg(min(col(startCol)).as(startCol), max(col(endCol)).as(endCol))
      .drop("__island")
  }

  /** Keep, per key group, the row with the fewest nulls across
    * `candidateCols` (reference W6, extract_financial_DGFiP.py:213-222:
    * row_number over orderBy(null_count) == 1). `tieBreak` makes the
    * choice deterministic where the reference left it engine-dependent. */
  def leastNullDedup(df: DataFrame, keyCols: Seq[String],
      candidateCols: Seq[String], tieBreak: Seq[String] = Nil): DataFrame = {
    val nulls = ColumnOps.nullCount(candidateCols.map(col))
    val order = nulls.asc +: tieBreak.map(col(_).asc)
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Keep only rows carrying the latest revision number per key group
    * (reference W7, extract_debit_urssaf.py:107-135: whole-partition
    * last() ordered by the revision column + filter). Equivalent, cheaper
    * form: filter rev === max(rev) over the partition. */
  def latestRevision(df: DataFrame, keyCols: Seq[String],
      revisionCol: String): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*)
    df.withColumn("__maxrev", max(col(revisionCol)).over(w))
      .filter(col(revisionCol) === col("__maxrev")).drop("__maxrev")
  }

  /** Build a type-2 slowly-changing dimension from a revision stream:
    * collapse consecutive same-state revisions per key, then assign each
    * surviving state change its validity interval — `valid_from` = the
    * change's order value, `valid_to` = the NEXT change's (null while
    * current), plus an `is_current` flag. The warehouse-standard SCD2
    * derivation (detect-changes + interval assignment), composed from
    * W1's lag-compare and a lead over the change rows.
    *
    * State comparison is null-safe (`<=>` on a struct of `stateCols`), so
    * a null→value transition counts as a change. `tieBreakCol` must make
    * (key, orderCol, tieBreak) unique or the change detection is
    * nondeterministic. Scale: one shuffle on the key; both window passes
    * reuse that partitioning (the second runs over the filtered — much
    * smaller — change rows). */
  def scd2(df: DataFrame, keyCols: Seq[String], stateCols: Seq[String],
      orderCol: String, tieBreakCol: String): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(orderCol), col(tieBreakCol))
    val state = struct(stateCols.map(col): _*)
    val changed = df
      .withColumn("__prev", lag(state, 1).over(w))
      .filter(not(state <=> col("__prev")))
      .drop("__prev")
    changed
      .withColumn("valid_from", col(orderCol))
      .withColumn("valid_to", lead(col(orderCol), 1).over(w))
      .withColumn("is_current", col("valid_to").isNull)
  }

  /** Running sum + count per group ordered by `orderCols`
    * (reference W9, rar_dataset.py:36-76). Appends `{c}_cumsum` and
    * `n_cum`. */
  def cumulative(df: DataFrame, entityCols: Seq[String],
      orderCols: Seq[String], valueCols: Seq[String]): DataFrame = {
    val w = Window.partitionBy(entityCols.map(col): _*)
      .orderBy(orderCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withSums = valueCols.foldLeft(df)((d, c) =>
      d.withColumn(s"${c}_cumsum", sum(col(c)).over(w)))
    withSums.withColumn("n_cum", count(lit(1)).over(w))
  }
}
