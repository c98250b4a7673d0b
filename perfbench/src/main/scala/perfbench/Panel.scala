package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkEntry

/** The reference's own pipeline: the monthly panel, its lags, diffs,
  * moving averages, fills, as-of joins, aggregates and scoring, run
  * through `SparkEntry.queries` on the generated tables. */
final class Panel(run: Run) extends Workload {
  import Main._

  val queries: Seq[String] = Seq("flagship_panel", "w1_lag", "w2_diff",
    "w3_moving_avg", "w4_fill", "w5_interpolate", "w6_leastnull_dedup",
    "w7_latest_revision", "w8_interval_merge", "w9_cumulative",
    "w11_ranking", "w12_offset_frames", "w13_scd2", "w22_ewma_decay",
    "j5_interval_explode", "j6_asof_backward", "j6_asof_forward",
    "j6_asof_native", "a1_agg_named", "a2_keyed_agg", "a4_grouped_last",
    "m11_target", "m14_threshold_metrics", "m16_calibration",
    "p11_group_split")

  private val spark = run.spark
  private val a = run.args
  var inputs = ""
  /** Window and Exchange counts of each query's full result, and the
    * Window count a `count()` of it keeps. */
  private val fullPlans = scala.collection.mutable.Map.empty[String, (Int, Int, Int)]

  def setup(rep: Int): Unit = {
    if (inputs.nonEmpty) deleteTree(inputs)
    inputs = run.dir(s"in$rep")
    Gen.write(spark, inputs, a.seed, a.sf, Gen.Tables.toSet)
  }

  def check(): Unit = {
    val out = run.dir("out")
    // a query that throws here is a failed operation, and its missing
    // output a failed check in run.py
    for (q <- shuffled(queries, a.seed)) {
      run.timed(q, "check", "queries") {
        val df = SparkEntry.queries(q)(spark, inputs)
        val counted = df.groupBy().count().queryExecution.optimizedPlan
        fullPlans(q) = (windows(df.queryExecution.optimizedPlan),
          plannedShuffles(df.queryExecution.sparkPlan),
          windows(counted))
        df.write.mode("overwrite").parquet(s"$out/$q")
      }
    }
    Files.writeString(Paths.get(s"$out/oracle_sql.json"),
      Json(SparkEntry.oracleSql.filter { case (k, _) => queries.contains(k) }))
  }

  def pass(p: Int): Unit = {
    // the first timed pass also captures each timed plan for the
    // self-check against the full result's plan
    val capture = if (p == 1) Some(new WritePlans) else None
    capture.foreach(spark.listenerManager.register)
    val spans = shuffled(queries, a.seed * 31 + p).map { q =>
      val t0 = System.currentTimeMillis
      run.timed(q, "query", "queries")(
        materialize(SparkEntry.queries(q)(spark, inputs)))
      (q, t0, System.currentTimeMillis)
    }
    capture.foreach { c =>
      var (stable, last) = (0, -1)
      while (stable < 3) {
        Thread.sleep(100)
        if (c.seen.size == last) stable += 1
        else { stable = 0; last = c.seen.size }
      }
      spark.listenerManager.unregister(c)
      selfCheck(spans, c.seen.asScala.toSeq)
    }
  }

  /** The timed plan of each query must keep the Window and Exchange
    * nodes of its full result: nothing is pruned by the timing sink. */
  private def selfCheck(spans: Seq[(String, Long, Long)],
      seen: Seq[(Long, QueryExecution)]): Unit = {
    val report = spans.map { case (q, t0, t1) =>
      val timed = seen.filter { case (ms, _) => ms >= t0 && ms <= t1 }
        .map(_._2).lastOption
      val (fw, fx, cw) = fullPlans.getOrElse(q, (-1, -1, -1))
      val (tw, tx) = timed.map(qe => (windows(qe.optimizedPlan),
        plannedShuffles(qe.sparkPlan)))
        .getOrElse((-2, -2))
      run.check(fw == tw && fx == tx,
        s"$q: timed plan keeps $tw windows/$tx exchanges, full result " +
          s"has $fw/$fx")
      q -> Map("full_windows" -> fw, "full_exchanges" -> fx,
        "timed_windows" -> tw, "timed_exchanges" -> tx,
        "count_windows" -> cw)
    }
    run.raw("plan_check") = report.toMap
  }
}

/** Captures the QueryExecution of every noop write, keyed by the time
  * its analysis started, to compare the timed plan with the full
  * result's plan. */
final class WritePlans extends QueryExecutionListener {
  val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, QueryExecution)]()
  private def add(qe: QueryExecution): Unit = {
    val isNoop = qe.analyzed.collectFirst {
      case w: V2WriteCommand => w
    }.nonEmpty
    if (isNoop) seen.add((qe.tracker.phases.get("analysis")
      .map(_.startTimeMs).getOrElse(0L), qe))
  }
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
    add(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
    add(qe)
}
