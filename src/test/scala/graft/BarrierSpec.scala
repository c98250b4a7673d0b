package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.SnapshotTable

/** Round-18: `spark.graft.barrier` — every bare `localCheckpoint()` in
  * the engine now routes through [[Barrier.materialize]], so a cluster
  * deployment can flip ONE config and every iterative-loop round,
  * multi-consumer intermediate and optimizer fence becomes durable
  * (executor-loss-safe) instead of executor-memory-only. These specs
  * pin (a) result equality across all three modes on iterative graph
  * operators AND a chunked CDF read, (b) the checkpoint-dir default
  * flip, and (c) the `pinned` contract: frames whose bytes must never
  * be recomputed from lineage refuse the recompute-on-loss mode. */
class BarrierSpec extends SparkSpec {
  import spark.implicits._

  /** Run `body` under an explicit barrier mode and/or checkpoint dir,
    * restoring the shared session afterwards (leaving a checkpoint dir
    * behind would flip Barrier's default for every later suite). */
  private def withMode[T](mode: Option[String],
      ckptDir: Option[String] = None)(body: => T): T = {
    mode.foreach(m => spark.conf.set(Barrier.ConfKey, m))
    ckptDir.foreach(spark.sparkContext.setCheckpointDir)
    try body
    finally {
      spark.conf.unset(Barrier.ConfKey)
      if (ckptDir.isDefined)
        org.apache.spark.GraftTestCoreAccess
          .clearCheckpointDir(spark.sparkContext)
    }
  }

  private def edges = Seq(
    ("a", "b"), ("b", "c"), ("c", "a"), ("d", "a"), ("e", "d"),
    ("b", "a"), ("c", "b"), ("a", "c"), ("a", "d"), ("d", "e"))
    .toDF("src", "dst")

  private def graphResults(): (Set[(String, Long)], Set[(String, Long)],
      Set[(String, Long)]) = {
    val pr = graft.operators.Graph.pageRankQuantized(edges, 3)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val kc = graft.operators.Graph.kCore(edges, 2, 3)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val cc = graft.operators.Dedup.connectedComponents(
        Seq(1L, 2L, 3L, 4L, 5L, 6L).toDF("doc_id"), "doc_id",
        Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("i", "j"))
      .collect().map(r => (r.getLong(0).toString, r.getLong(1))).toSet
    (pr, kc, cc)
  }

  test("iterative graph operators: identical results under " +
      "localCheckpoint (default), diskPersist, and reliable checkpoint") {
    val base = java.nio.file.Files.createTempDirectory("barrier")
    val expected = graphResults() // default mode
    val persisted = withMode(Some("diskPersist")) { graphResults() }
    assert(persisted === expected)
    val durable = withMode(Some("checkpoint"),
      Some(s"$base/ckpt")) { graphResults() }
    assert(durable === expected)
    // reliable checkpoint actually wrote to the configured dir
    assert(new java.io.File(s"$base/ckpt").listFiles() != null &&
      new java.io.File(s"$base/ckpt").listFiles().nonEmpty,
      "checkpoint mode must write RDD checkpoints under the dir")
  }

  test("chunked CDF read: identical rows under the durable mode") {
    val base = java.nio.file.Files.createTempDirectory("barriercdf")
    val path = s"$base/t"
    SnapshotTable.create(Seq((0L, 0L)).toDF("id", "v"), path)
    (1 to 13).foreach(i => SnapshotTable.append(
      Seq((i.toLong, i.toLong)).toDF("id", "v"), path))
    def rows(df: DataFrame): Set[(Long, Long, String, Int)] =
      df.select(col("id"), col("v"), col("change_type"),
        col("_commit_version")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
          r.getInt(3))).toSet
    val expected = (0 to 13).map(i =>
      (i.toLong, i.toLong, "insert", i)).toSet
    try {
      spark.conf.set("spark.graft.changeFeed.maxPlanVersions", "4")
      assert(rows(SnapshotTable.changeFeed(spark, path, 0)) === expected)
      val durable = withMode(Some("checkpoint"), Some(s"$base/ckpt")) {
        rows(SnapshotTable.changeFeed(spark, path, 0))
      }
      assert(durable === expected)
    } finally spark.conf.unset("spark.graft.changeFeed.maxPlanVersions")
  }

  test("mode default: localCheckpoint without a checkpoint dir, " +
      "reliable checkpoint once one is configured") {
    assert(Barrier.mode(spark) === "localCheckpoint")
    val base = java.nio.file.Files.createTempDirectory("barrierdflt")
    withMode(None, Some(s"$base/ckpt")) {
      assert(Barrier.mode(spark) === "checkpoint")
      // the explicit conf still wins over the dir-implied default
      spark.conf.set(Barrier.ConfKey, "localCheckpoint")
      assert(Barrier.mode(spark) === "localCheckpoint")
    }
    assert(Barrier.mode(spark) === "localCheckpoint")
  }

  test("pinned frames refuse recompute-on-loss: under diskPersist they " +
      "fall back to a checkpoint form (leaf plan), never a cached plan") {
    val df = spark.range(100).toDF("id")
      .withColumn("part", spark_partition_id())
    withMode(Some("diskPersist")) {
      val pinned = Barrier.materialize(df, pinned = true)
      // checkpoint forms return a frame whose plan is a leaf over the
      // materialized rows; the persist form returns the ORIGINAL plan
      // (content would recompute from lineage on block loss)
      assert(pinned.queryExecution.logical.children.isEmpty,
        s"pinned frame must be a materialized leaf, got " +
          pinned.queryExecution.logical.getClass.getSimpleName)
      val unpinned = Barrier.materialize(df)
      assert(unpinned.queryExecution.logical.children.nonEmpty ||
        unpinned.storageLevel.useDisk,
        "unpinned diskPersist must go through the persist path")
      assert(unpinned.storageLevel.useDisk &&
        !unpinned.storageLevel.useMemory,
        "unpinned diskPersist must cache DISK_ONLY")
      Barrier.release(unpinned)
    }
  }

  test("connected components under diskPersist: one call leaves only " +
      "the frame its result reads in the persistent RDDs") {
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    withMode(Some("diskPersist")) {
      val sc = spark.sparkContext
      val before = sc.getPersistentRDDs.keySet
      // ids unlike graphResults' so no frame cached by an earlier test
      // has the same plan (the cache manager matches plans by result)
      val cc = graft.operators.Dedup.connectedComponents(
        Seq(11L, 12L, 13L, 14L, 15L, 16L).toDF("doc_id"), "doc_id",
        Seq((11L, 12L), (12L, 13L), (14L, 15L)).toDF("i", "j"))
      val added = sc.getPersistentRDDs.keySet -- before
      assert(cc.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ===
        Set((11L, 11L), (12L, 11L), (13L, 11L), (14L, 14L), (15L, 14L),
          (16L, 16L)))
      // pointer jumping joins the last round with itself, so the one
      // live frame can appear twice in the plan
      val read = cc.queryExecution.withCachedData.collect {
        case r: InMemoryRelation => r.cacheBuilder
      }.distinctBy(_.cachedColumnBuffers.id)
      assert(read.size === 1, "the result must read one cached frame")
      assert(added === Set(read.head.cachedColumnBuffers.id),
        s"leaked frames: ${added - read.head.cachedColumnBuffers.id}")
      read.head.clearCache()
    }
  }

  test("unknown mode fails loudly") {
    withMode(Some("ramCache")) {
      val e = intercept[IllegalArgumentException] {
        Barrier.materialize(spark.range(3).toDF("id"))
      }
      assert(e.getMessage.contains(Barrier.ConfKey))
    }
  }
}
