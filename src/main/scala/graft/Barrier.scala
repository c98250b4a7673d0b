package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Config-selected materialization barrier — the one place the engine
  * decides HOW an intermediate DataFrame is pinned.
  *
  * Every iterative operator (PageRank rounds, BFS frontiers, CC label
  * propagation), multi-consumer intermediate (merge key sets, PPJoin
  * outputs) and optimizer fence (the g4/g7 md5-below-distinct trap)
  * needs the same primitive: "compute this frame HERE, once, and give
  * downstream plans a leaf instead of my lineage". `localCheckpoint()`
  * is the cheapest form, but its blocks live in executor storage with
  * the lineage truncated — on a real cluster ONE lost executor fails
  * the job unrecoverably (the Dataset scaladoc itself says to prefer
  * reliable checkpoint / DISK_ONLY persist there). local[*] never
  * loses an executor, so the local default keeps the fast form; a
  * cluster deployment flips ONE config and every barrier in the
  * engine becomes durable.
  *
  * `spark.graft.barrier` selects the form:
  *
  *  - `localCheckpoint` — eager [[org.apache.spark.sql.Dataset!.localCheckpoint()*]]:
  *    executor-memory blocks, lineage truncated. Fastest; an executor
  *    loss FAILS the job (never silently recomputes). The default when
  *    no checkpoint dir is set.
  *  - `checkpoint` — eager reliable [[org.apache.spark.sql.Dataset!.checkpoint()*]]
  *    to `sparkContext.getCheckpointDir`: survives executor loss; the
  *    default whenever a checkpoint dir IS set (callers who configured
  *    durable storage get durable barriers without a second knob).
  *  - `diskPersist` — `persist(DISK_ONLY)` + eager materialization:
  *    no per-barrier distributed-fs round trip, blocks on executor
  *    local disk, and a lost block RECOMPUTES from lineage. Cheaper
  *    than `checkpoint` on big intermediates, but recompute makes it
  *    unusable for frames whose content must be frozen — see `pinned`.
  *
  * `pinned = true` marks a frame whose bytes must NEVER be silently
  * recomputed from lineage: nondeterministic derivations
  * (`monotonically_increasing_id` surrogate ids, `spark_partition_id`
  * offsets — a recompute can assign differently and corrupt every
  * consumer that already saw the first assignment) and
  * read-then-overwrite lineages (the frame reads a path/table that the
  * caller mutates right after — a recompute would read the NEW state).
  * Pinned frames refuse the recompute-on-loss mode: under `diskPersist`
  * they fall back to reliable `checkpoint` when a checkpoint dir is
  * set, else `localCheckpoint` (failing on loss is the safe local
  * behavior; recomputing differently is not).
  *
  * Under the default mode this helper is byte-for-byte
  * `df.localCheckpoint()` — plans, results and timings are unchanged
  * (BarrierSpec pins result equality across all three modes on a graph
  * query and a chunked CDF read).
  *
  * Lifecycle: [[release]] drops a barrier frame that later rounds of an
  * iterative loop no longer reference — an `unpersist` for
  * `diskPersist` (whose cache-manager entries would otherwise
  * accumulate one per round for the life of the session), and a no-op
  * for the checkpoint forms. `localCheckpoint` blocks are reclaimed by
  * the ContextCleaner once the frame is garbage-collected. Reliable
  * `checkpoint` files are NOT: the ContextCleaner deletes them only
  * when `spark.cleaner.referenceTracking.cleanCheckpoints=true`
  * (default false), so otherwise every round's files stay in the
  * checkpoint dir until the caller removes them.
  */
object Barrier {
  val ConfKey = "spark.graft.barrier"

  /** Resolved mode: the explicit conf wins; otherwise `checkpoint`
    * when the context has a checkpoint dir, else `localCheckpoint`. */
  def mode(spark: SparkSession): String =
    spark.conf.getOption(ConfKey).getOrElse {
      if (spark.sparkContext.getCheckpointDir.isDefined) "checkpoint"
      else "localCheckpoint"
    }

  /** Eagerly materialize `df` and return a frame whose plan is a leaf
    * over the materialized data (optimizer fence + lineage cut). */
  def materialize(df: DataFrame, pinned: Boolean = false): DataFrame =
    mode(df.sparkSession) match {
      case "localCheckpoint" => df.localCheckpoint()
      case "checkpoint" => df.checkpoint()
      case "diskPersist" =>
        if (pinned) {
          // recompute-on-loss would unfreeze the frame: use a
          // checkpoint form (reliable if configured, local otherwise)
          if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
            df.checkpoint()
          else df.localCheckpoint()
        } else {
          val p = df.persist(StorageLevel.DISK_ONLY)
          p.count() // eager: the barrier contract is computed-here-once
          p
        }
      case other => throw new IllegalArgumentException(
        s"$ConfKey must be localCheckpoint|checkpoint|diskPersist, " +
          s"got '$other'")
    }

  /** Release a barrier frame no longer referenced by any live plan
    * (iterative loops: the previous round). No-op unless the frame
    * holds a cache-manager entry (`diskPersist`). */
  def release(df: DataFrame): Unit = df.unpersist(blocking = false)

  /** `.barrier()` postfix form so call sites read like the
    * `.localCheckpoint()` they replace. */
  implicit final class BarrierOps(private val df: DataFrame)
      extends AnyVal {
    def barrier(pinned: Boolean = false): DataFrame =
      materialize(df, pinned)
  }
}
