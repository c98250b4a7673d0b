package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.SnapshotTable

/** Long-range batch CDF chunks pin through [[Barrier]], so a chunked
  * read is durable exactly when barriers are: without a checkpoint dir
  * the chunk rows live in executor storage with a truncated lineage
  * (losing them fails the read — simulated here by unpersisting the
  * cached RDDs under the consumer's feet); with one, they are reliable
  * checkpoint files and the same loss is a non-event. */
class ChangeFeedMaterializeSpec extends SparkSpec {
  import spark.implicits._

  /** The whole feed, planned in chunks of 6 versions. */
  private def chunkedFeed(path: String): DataFrame =
    SnapshotTable.changeFeed(spark, path, 0, None, updateImages = false,
      chunkSize = 6)

  private def rows(df: DataFrame): Set[(Long, Long, String, Int)] =
    df.select(col("id"), col("v"), col("change_type"),
      col("_commit_version")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getInt(3))).toSet

  /** Unpersist every RDD cached since `before`; returns how many. */
  private def dropCachedSince(before: Set[Int]): Int = {
    val added = spark.sparkContext.getPersistentRDDs
      .filterNot { case (id, _) => before.contains(id) }
    added.values.foreach(_.unpersist(blocking = true))
    added.size
  }

  test("chunked CDF: same rows with and without a checkpoint dir; " +
      "with one the chunks are checkpoint files and the read SURVIVES " +
      "losing cached blocks") {
    val n = 25
    val base = java.nio.file.Files.createTempDirectory("cdfmat")
    val path = s"$base/t"
    SnapshotTable.create(Seq((0L, 0L)).toDF("id", "v"), path)
    (1 to n).foreach(i =>
      SnapshotTable.append(Seq((i.toLong, i.toLong)).toDF("id", "v"),
        path))
    val expected = (0 to n).map(i =>
      (i.toLong, i.toLong, "insert", i)).toSet
    // arm 1: localCheckpoint chunks — correct while blocks live,
    // but DEAD after the blocks vanish (the simulated executor loss)
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val local = chunkedFeed(path)
    assert(rows(local) === expected)
    assert(dropCachedSince(before) > 0,
      "chunked CDF must have pinned chunks to cached RDDs")
    intercept[Exception] { rows(local) }
    // arm 2: under a checkpoint dir — identical rows, chunks as
    // reliable checkpoint files, and the same block-loss storm is a
    // non-event
    val ckpt = s"$base/ckpt"
    spark.sparkContext.setCheckpointDir(ckpt)
    try {
      val before2 = spark.sparkContext.getPersistentRDDs.keySet.toSet
      val durable = chunkedFeed(path)
      assert(rows(durable) === expected)
      val files = java.nio.file.Files.walk(java.nio.file.Paths.get(ckpt))
      try assert(files.anyMatch(p =>
          p.getFileName.toString.startsWith("rdd-")),
        "chunks must land as checkpoint files under the dir")
      finally files.close()
      dropCachedSince(before2)
      assert(rows(durable) === expected,
        "the checkpointed frame must re-read after losing cached blocks")
    } finally org.apache.spark.GraftTestCoreAccess
      .clearCheckpointDir(spark.sparkContext)
  }
}
