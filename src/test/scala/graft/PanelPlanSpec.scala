package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{CurrentRow, RowFrame,
  SpecifiedWindowFrame, UnboundedFollowing}
import org.apache.spark.sql.execution.exchange.{EnsureRequirements,
  ShuffleExchangeLike}
import org.apache.spark.sql.execution.window.WindowExec

import graft.operators.{AsOfJoin, TimeOps}

/** Plan-shape gates for the panel pipeline: how many shuffles each
  * entity-keyed query plans, and that no fill or as-of window recomputes
  * a frame per row. */
class PanelPlanSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  /** Shuffle Exchanges that planning inserts into `df`'s physical plan,
    * counted before adaptive execution reshapes it. */
  private def plannedShuffles(df: DataFrame): Int =
    EnsureRequirements()(df.queryExecution.sparkPlan)
      .collectWithSubqueries { case e: ShuffleExchangeLike => e }.size

  /** Window frames of `df`'s plan that run from the current row to the
    * partition end: WindowExec recomputes those for every row. */
  private def followingFrames(df: DataFrame): Seq[String] =
    df.queryExecution.sparkPlan.collect { case w: WindowExec => w }
      .flatMap(_.windowExpression.flatMap(_.collect {
        case f @ SpecifiedWindowFrame(RowFrame, CurrentRow,
          UnboundedFollowing) => f.sql
      }))

  test("each entity-keyed panel query plans one shuffle, the flagship " +
      "five") {
    val expected = Seq("w1_lag", "w2_diff", "w3_moving_avg", "w4_fill",
      "w5_interpolate", "w6_leastnull_dedup", "w7_latest_revision",
      "w8_interval_merge", "w9_cumulative", "w13_scd2")
      .map(_ -> 1) :+ ("flagship_panel" -> 5)
    val planned = expected.map { case (q, _) =>
      q -> plannedShuffles(SparkEntry.queries(q)(spark, dir))
    }
    assert(planned === expected)
  }

  test("fills and the forward as-of join plan no per-row following " +
      "frame") {
    val d = java.sql.Date.valueOf(_: String)
    val panel = Seq((1, d("2020-01-01"), Some(1.0)), (1, d("2020-02-01"), None),
      (1, d("2020-03-01"), Some(3.0)), (2, d("2020-01-01"), None))
      .toDF("k", "t", "x")
    val right = Seq((1, d("2020-02-15"), 7.0)).toDF("k", "t", "v")
    val plans = Seq(
      "bfill" -> TimeOps.bfill(panel, Seq("k"), "t", Seq("x")),
      "interpolate" -> TimeOps.interpolate(panel, Seq("k"), "t", Seq("x")),
      "forward mergeAsOf" -> AsOfJoin.mergeAsOf(panel.select("k", "t"),
        right, on = "t", by = Seq("k"), direction = "forward"))
    for ((name, df) <- plans)
      assert(followingFrames(df).isEmpty, name)
  }
}
