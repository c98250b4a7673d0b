package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of (nearest-key) join — the reference's `merge_asof`
  * (src/sf_datalake/utils.py:101-241), reproduced with a single-shuffle
  * union-tag + window algorithm instead of the reference's
  * outer-join → window → re-join (which shuffles three times).
  *
  * Semantics (validated against the reference's tests/test_utils.py):
  *  - direction = "backward": each left row takes the right row with the
  *    greatest `on` value ≤ the left `on` value within the same `by`
  *    group (equal `on` matches).
  *  - direction = "forward": smallest right `on` ≥ left `on`.
  *  - "nearest" is NOT implemented — the reference documents it but its
  *    dispatch table only maps backward/forward (utils.py:190-193 raises
  *    KeyError); we raise too, for parity.
  *  - tolerance (days): matches farther than `tolerance` days are nulled.
  *
  * Scale: one exchange on `by`, one sort on (`on`, tag) per partition —
  * no join explosion, skew-bounded by the entity key like every other
  * panel operator. Both directions carry values through a running
  * frame, linear per group: forward is the backward search in the
  * reversed order (see [[carrier]]), because Spark's WindowExec
  * recomputes an UnboundedFollowing frame per row — O(n²) in a hot
  * group (175 s for ONE 100k-row entity, empirical exponent 1.99,
  * ScaleProbe r5). [[mergeAsOfNative]] instead plans one
  * co-partitioning exchange per side and no union or whole-table window.
  */
object AsOfJoin {

  /** The nearest non-null value of a column at or before (backward) or
    * at or after (forward) each row of a union tagged by `tag` (1 =
    * right), within each `by` group, in `on` order. At equal `on` a
    * right row is visible to a left row. Forward computes the
    * reference's first(ignoreNulls) over (currentRow, unboundedFollowing)
    * in (on asc, tag asc) as last(ignoreNulls) over a running frame in
    * the exact reverse order (on desc, tag desc), so both directions are
    * linear per group. Identical results whenever (on, tag) orders each
    * group's rows totally; under ties both forms pick an arbitrary tied
    * row. */
  private def carrier(by: Seq[String], on: String, tag: String,
      direction: String): Column => Column = {
    val onOrder = if (direction == "backward") col(on).asc else col(on).desc
    val frame = Window.partitionBy(by.map(col): _*)
      .orderBy(onOrder, col(tag).desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    c => last(c, ignoreNulls = true).over(frame)
  }

  def mergeAsOf(
      left: DataFrame,
      right: DataFrame,
      on: String,
      by: Seq[String],
      toleranceDays: Option[Int] = None,
      direction: String = "backward"): DataFrame = {

    require(direction == "backward" || direction == "forward",
      s"merge_asof direction '$direction' not implemented (reference " +
        "utils.py:190-193 supports only backward/forward)")

    val valueCols = right.columns.filterNot(c => c == on || by.contains(c)).toSeq
    val leftCols = left.columns.toSeq
    require(valueCols.nonEmpty, "right side has no value columns")

    val tag = "__is_right"
    val matchedOn = "__matched_on"

    // Union-tag: right rows carry their values; left rows carry nulls.
    val taggedRight = right.select(
      by.map(col) ++ Seq(col(on), lit(1).as(tag)) ++ valueCols.map(col): _*)
    val taggedLeft = left.select(
      (by.map(col) ++ Seq(col(on), lit(0).as(tag))
        ++ valueCols.map(c => lit(null).cast(right.schema(c).dataType).as(c))
        ++ leftCols.filterNot(c => by.contains(c) || c == on)
             .map(c => col(c))): _*)
    // Align schemas: right side lacks the left-only columns.
    val leftOnly = leftCols.filterNot(c => by.contains(c) || c == on)
    val taggedRightFull = leftOnly.foldLeft(taggedRight)((d, c) =>
      d.withColumn(c, lit(null).cast(left.schema(c).dataType)))
    val unioned = taggedLeft.unionByName(taggedRightFull)

    val carried = carrier(by, on, tag, direction)
    val rightOn = when(col(tag) === 1, col(on))
    var out = unioned
      .withColumn(matchedOn, carried(rightOn))
    for (c <- valueCols)
      out = out.withColumn(c, carried(when(col(tag) === 1, col(c))))

    // Tolerance: null out values matched farther than `toleranceDays`.
    val withTol = toleranceDays match {
      case Some(tol) =>
        val dist =
          if (direction == "backward") datediff(col(on), col(matchedOn))
          else datediff(col(matchedOn), col(on))
        val ok = col(matchedOn).isNotNull && dist <= tol
        valueCols.foldLeft(out)((d, c) =>
          d.withColumn(c, when(ok, col(c)).otherwise(lit(null))))
      case None => out
    }

    withTol.filter(col(tag) === 0)
      .select((leftCols ++ valueCols).map(col): _*)
  }

  /** merge_asof on the NATIVE Catalyst operator
    * ([[graft.plans.AsOfJoinNode]] → planner strategy →
    * whole-stage-codegen'd [[graft.plans.AsOfJoinExec]]): same
    * semantics and signature as [[mergeAsOf]] (parity spec-gated),
    * different physical plan — one co-partitioning exchange per side
    * and a per-partition merge scan with O(1) state, instead of union +
    * whole-table window. Measured at 10M rows (ScaleProbe r5, values
    * consumed): 3.0 s vs the window's 5.2 s naive; 0.6 s vs 1.1 s on
    * bucketed+sorted tables (zero exchanges, zero sorts). Both forms
    * are linear per group in both directions: this scan keeps O(1)
    * state, and the window form runs forward as a reversed running
    * frame. What this operator adds is the co-partitioned, union-free
    * plan. Prefer it whenever the right side is keyed uniquely per
    * (by, on). */
  def mergeAsOfNative(
      left: DataFrame,
      right: DataFrame,
      on: String,
      by: Seq[String],
      toleranceDays: Option[Int] = None,
      direction: String = "backward"): DataFrame = {
    import org.apache.spark.sql.GraftSqlAccess
    import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute}
    import org.apache.spark.sql.catalyst.plans.logical.Project
    import org.apache.spark.sql.types._

    require(direction == "backward" || direction == "forward",
      s"merge_asof direction '$direction' not implemented (reference " +
        "utils.py:190-193 supports only backward/forward)")
    val spark = left.sparkSession
    graft.plans.AsOfJoinPlan.register(spark)

    val lPlan = GraftSqlAccess.analyzed(left)
    // fresh exprIds on the right child so self-as-of-joins (and shared
    // lineage) stay unambiguous — the same re-alias trick Dataset.join
    // performs during dedup
    val rPlan = Project(
      GraftSqlAccess.analyzed(right).output.map(a => Alias(a, a.name)()),
      GraftSqlAccess.analyzed(right))
    val rOut = rPlan.output
    def att(out: Seq[Attribute], n: String): Attribute =
      out.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(s"column '$n' not found"))
    val leftOn = att(lPlan.output, on); val rightOn = att(rOut, on)
    require(leftOn.dataType == rightOn.dataType,
      s"'$on' types differ: ${leftOn.dataType} vs ${rightOn.dataType}")
    // The physical merge scan reads `on` as a raw int/long word
    // (AsOfJoinExec.onVal) — any other type would compare garbage, so
    // reject it HERE, unconditionally (not just on the tolerance path).
    leftOn.dataType match {
      case DateType | TimestampType | TimestampNTZType |
           IntegerType | LongType => ()
      case t => throw new IllegalArgumentException(
        s"mergeAsOfNative supports on-types Date/Timestamp/TimestampNTZ/" +
          s"Int/Long; got $t — use mergeAsOf for other orderable types")
    }
    val valueAttrs = rOut.filterNot(a => a.name == on || by.contains(a.name))
    require(valueAttrs.nonEmpty, "right side has no value columns")
    val tol: Option[Long] = toleranceDays.map { d =>
      leftOn.dataType match {
        case DateType => d.toLong // days are the native unit
        case TimestampType | TimestampNTZType => d.toLong * 86400L * 1000000L
        case IntegerType | LongType => d.toLong
        case t => throw new IllegalArgumentException(
          s"tolerance unsupported for on-type $t")
      }
    }
    GraftSqlAccess.ofRows(spark, graft.plans.AsOfJoinNode(
      lPlan, rPlan,
      by.map(att(lPlan.output, _)), by.map(att(rOut, _)),
      leftOn, rightOn, valueAttrs, direction, tol))
  }

  /** merge_asof with the reference's EXACT duplicate-key behavior
    * (utils.py:168-241): instead of carrying values through the window,
    * only the matched right DATE is computed; left rows then equi-join
    * back to the right table on (by, matchedDate) — so multiple right
    * rows at the same (by, on) duplicate left rows, exactly like the
    * reference's algorithm. Costs one more shuffle than `mergeAsOf`;
    * prefer `mergeAsOf` when the right side is keyed uniquely. */
  def mergeAsOfJoinBack(
      left: DataFrame,
      right: DataFrame,
      on: String,
      by: Seq[String],
      toleranceDays: Option[Int] = None,
      direction: String = "backward"): DataFrame = {

    require(direction == "backward" || direction == "forward",
      s"merge_asof direction '$direction' not implemented")

    val leftCols = left.columns.toSeq
    val valueCols = right.columns.filterNot(c => c == on || by.contains(c)).toSeq

    val tag = "__is_right"
    val rightKeys = right.select(by.map(col) :+ col(on): _*).distinct()
      .withColumn(tag, lit(1))
    val taggedLeft = left.withColumn(tag, lit(0))
    val unioned = taggedLeft.unionByName(
      leftCols.filterNot(c => by.contains(c) || c == on)
        .foldLeft(rightKeys)((d, c) =>
          d.withColumn(c, lit(null).cast(left.schema(c).dataType))))

    val carried =
      carrier(by, on, tag, direction)(when(col(tag) === 1, col(on)))

    val matched = unioned.withColumn("__matched_on", carried)
      .filter(col(tag) === 0)
    val withTol = toleranceDays match {
      case Some(tol) =>
        val dist =
          if (direction == "backward") datediff(col(on), col("__matched_on"))
          else datediff(col("__matched_on"), col(on))
        matched.withColumn("__matched_on",
          when(col("__matched_on").isNotNull && dist <= tol,
            col("__matched_on")))
      case None => matched
    }
    val rightRenamed = right.withColumnRenamed(on, "__matched_on")
    withTol.join(rightRenamed, by :+ "__matched_on", "left")
      .select((leftCols ++ valueCols).map(col): _*)
  }
}
