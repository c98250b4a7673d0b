package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.SparkContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Materialization barrier — the one place the engine decides HOW an
  * intermediate DataFrame is pinned.
  *
  * Every iterative operator (PageRank rounds, BFS frontiers, CC label
  * propagation), multi-consumer intermediate (merge key sets, PPJoin
  * outputs) and optimizer fence (the g4/g7 md5-below-distinct trap)
  * needs the same primitive: "compute this frame HERE, once, and give
  * downstream plans a leaf instead of my lineage".
  *
  * The rule every barrier keeps: a barrier frame is NEVER recomputed
  * from lineage. Callers rely on it for nondeterministic derivations
  * (`monotonically_increasing_id` surrogate ids, `spark_partition_id`
  * offsets — a recompute could assign differently and corrupt every
  * consumer that already saw the first assignment) and for
  * read-then-overwrite lineages (the frame reads a path or table the
  * caller mutates right after — a recompute would read the NEW state).
  *
  * The form follows one observable input, whether the SparkContext has
  * a checkpoint dir:
  *
  *  - no dir — eager [[org.apache.spark.sql.Dataset!.localCheckpoint()*]]:
  *    executor-memory blocks, lineage truncated. Fastest; an executor
  *    loss FAILS the job (never silently recomputes). local[*] never
  *    loses an executor, so this is the local form.
  *  - a dir — eager reliable [[org.apache.spark.sql.Dataset!.checkpoint()*]]
  *    to `sparkContext.getCheckpointDir`: survives executor loss. A
  *    deployment that configured durable storage gets durable barriers
  *    without a second knob; the switch is logged once per SparkContext.
  *
  * Both forms return a frame whose plan is a `LogicalRDD` leaf, so the
  * rule above holds for every frame. Without a checkpoint dir this
  * helper is byte-for-byte `df.localCheckpoint()` — plans, results
  * and timings are unchanged (BarrierSpec pins result equality across
  * both forms).
  *
  * Lifecycle: [[release]] drops a barrier frame that no live plan
  * references any more (an iterative loop's previous round, a verb's
  * intermediate after its commit). It deletes the frame's reliable
  * checkpoint files; `localCheckpoint` blocks are left to the
  * ContextCleaner, which reclaims them once the frame is
  * garbage-collected.
  */
object Barrier {
  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Contexts whose switch to reliable checkpoints was logged. */
  private[graft] val flipLogged = java.util.Collections.newSetFromMap(
    new java.util.WeakHashMap[SparkContext, java.lang.Boolean]())

  /** Eagerly materialize `df` and return a frame whose plan is a leaf
    * over the materialized data (optimizer fence + lineage cut). */
  def materialize(df: DataFrame): DataFrame = {
    val sc = df.sparkSession.sparkContext
    sc.getCheckpointDir match {
      case Some(dir) =>
        if (flipLogged.synchronized(flipLogged.add(sc)))
          log.warn(s"a checkpoint dir is set ($dir): every engine " +
            "barrier is a reliable checkpoint (one write per barrier)")
        df.checkpoint()
      case None => df.localCheckpoint()
    }
  }

  /** Release a barrier frame no live plan references any more: delete
    * its reliable checkpoint directory, if it has one. Reads only the
    * frame's unanalyzed logical plan — starts no job and plans
    * nothing; a frame that is not a reliably checkpointed leaf is left
    * alone. */
  def release(df: DataFrame): Unit = df.queryExecution.logical match {
    case leaf: LogicalRDD =>
      leaf.rdd.getCheckpointFile.foreach { file =>
        val p = new Path(file)
        p.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
          .delete(p, true)
      }
    case _ =>
  }

  /** `.barrier()` postfix form so call sites read like the
    * `.localCheckpoint()` they replace. */
  implicit final class BarrierOps(private val df: DataFrame)
      extends AnyVal {
    def barrier(): DataFrame = materialize(df)
  }
}
