package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

import graft.sources.{IncrementalView, SnapshotTable}

/** [[Barrier]]: every engine materialization barrier routes through
  * [[Barrier.materialize]], whose form follows one input — whether the
  * SparkContext has a checkpoint dir. These specs pin (a) result
  * equality across both forms on iterative graph operators and a
  * chunked CDF read, (b) the checkpoint dir as the one switch, and
  * (c) that under a checkpoint dir neither iterative loops nor the
  * table verbs leave checkpoint files behind for the frames they
  * release. */
class BarrierSpec extends SparkSpec {
  import spark.implicits._

  /** Run `body` under a fresh temp checkpoint dir, restoring the shared
    * session afterwards (leaving a checkpoint dir behind would switch
    * every barrier of every later suite to reliable checkpoints). */
  private def withCheckpointDir[T](body: java.nio.file.Path => T): T = {
    val dir = java.nio.file.Files.createTempDirectory("barrierckpt")
    spark.sparkContext.setCheckpointDir(dir.toString)
    try body(dir)
    finally org.apache.spark.GraftTestCoreAccess
      .clearCheckpointDir(spark.sparkContext)
  }

  /** Names of the reliable checkpoint directories (`rdd-<id>`) under
    * `dir` (the context puts them one level down, in a per-context
    * subdirectory). */
  private def rddDirs(dir: java.nio.file.Path): Set[String] = {
    val s = java.nio.file.Files.walk(dir)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala
        .filter(p => java.nio.file.Files.isDirectory(p) &&
          p.getFileName.toString.startsWith("rdd-"))
        .map(_.getFileName.toString).toSet
    } finally s.close()
  }

  /** Checkpoint directory names of the reliably checkpointed leaves
    * `df`'s plan reads. */
  private def checkpointsRead(df: DataFrame): Set[String] =
    df.queryExecution.logical.collect {
      case r: LogicalRDD => r.rdd.getCheckpointFile
    }.flatten.map(f => new org.apache.hadoop.fs.Path(f).getName).toSet

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
      "localCheckpoint (no checkpoint dir) and reliable checkpoint") {
    val expected = graphResults()
    withCheckpointDir { dir =>
      assert(graphResults() === expected)
      assert(rddDirs(dir).nonEmpty,
        "reliable checkpoints must land under the checkpoint dir")
    }
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
    // 14 versions in chunks of 4
    def feed() = SnapshotTable.changeFeed(spark, path, 0, None,
      updateImages = false, chunkSize = 4)
    assert(rows(feed()) === expected)
    withCheckpointDir { dir =>
      assert(rows(feed()) === expected)
      assert(rddDirs(dir).nonEmpty,
        "durable chunks must land as checkpoint files under the dir")
    }
  }

  test("the checkpoint dir decides: a localCheckpoint leaf and no " +
      "files without one, reliable checkpoint files and one logged " +
      "switch with one") {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    def leaf(df: DataFrame): LogicalRDD = df.queryExecution.logical match {
      case r: LogicalRDD => r
      case other => fail(s"a barrier must be a LogicalRDD leaf, got " +
        other.getClass.getSimpleName)
    }
    val src = spark.range(100).toDF("id")
      .withColumn("part", spark_partition_id())
    val local = leaf(Barrier.materialize(src))
    // checkpointed, but with no reliable file behind it
    assert(local.rdd.isCheckpointed && local.rdd.getCheckpointFile.isEmpty)

    val logged = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val appender = new AbstractAppender("barrier-spec", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        logged.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val logger = LogManager.getLogger(Barrier.getClass.getName)
      .asInstanceOf[CoreLogger]
    logger.addAppender(appender)
    // forget any earlier suite's switch line for the shared context
    Barrier.flipLogged.synchronized(
      Barrier.flipLogged.remove(spark.sparkContext))
    try withCheckpointDir { dir =>
      val before = rddDirs(dir)
      val durable = (1 to 2).map(_ => leaf(Barrier.materialize(src)))
      durable.foreach(r => assert(r.rdd.getCheckpointFile.isDefined))
      assert(rddDirs(dir) -- before === durable.map(r =>
        new org.apache.hadoop.fs.Path(r.rdd.getCheckpointFile.get)
          .getName).toSet)
      // two barriers, one line: the switch is logged once per context
      assert(logged.size === 1, logged)
      assert(logged.get(0).contains(dir.toString), logged)
    } finally logger.removeAppender(appender)
  }

  test("loops under a checkpoint dir leave only the checkpoints their " +
      "result reads: connected components, kCore and sssp") {
    withCheckpointDir { dir =>
      def check[T](run: => DataFrame, rows: DataFrame => Set[T],
          expected: Set[T]): Unit = {
        val before = rddDirs(dir)
        val out = run
        assert(rows(out) === expected)
        val added = rddDirs(dir) -- before
        assert(added.nonEmpty, "the call must checkpoint under the dir")
        assert(added === checkpointsRead(out),
          s"leaked checkpoints: ${added -- checkpointsRead(out)}")
      }
      check(graft.operators.Dedup.connectedComponents(
          Seq(11L, 12L, 13L, 14L, 15L, 16L).toDF("doc_id"), "doc_id",
          Seq((11L, 12L), (12L, 13L), (14L, 15L)).toDF("i", "j")),
        (df: DataFrame) => df.collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet,
        Set((11L, 11L), (12L, 11L), (13L, 11L), (14L, 14L), (15L, 14L),
          (16L, 16L)))
      check(graft.operators.Graph.kCore(edges, 2, 3),
        (df: DataFrame) => df.collect()
          .map(r => (r.getString(0), r.getLong(1))).toSet,
        Set(("a", 2L), ("b", 2L), ("c", 2L)))
      check(graft.operators.Graph.sssp(
          Seq(("a", "b", 1L), ("b", "c", 2L), ("a", "c", 5L),
            ("c", "d", 1L)).toDF("src", "dst", "w"),
          Seq("a").toDF("node"), 3),
        (df: DataFrame) => df.collect()
          .map(r => (r.getString(0), r.getLong(1))).toSet,
        Set(("a", 0L), ("b", 1L), ("c", 3L), ("d", 4L)))
    }
  }

  test("table verbs under a checkpoint dir release their barriers: " +
      "merge, deleteMoR, updateMoR and refreshCountSum leave no " +
      "checkpoint behind and return the same tables") {
    /** The verb sequence on a fresh base table and its count/sum view;
      * returns both tables' final rows. */
    def verbs(): (Set[(Long, Long, Long)], Set[(Long, Long, Long)]) = {
      val base = java.nio.file.Files.createTempDirectory("barrierverbs")
      val t = s"$base/t"
      val agg = s"$base/agg"
      SnapshotTable.create(
        (1L to 20L).map(i => (i, i % 4, i * 10)).toDF("id", "grp", "v"), t)
      SnapshotTable.create(SnapshotTable.read(spark, t).groupBy("grp")
        .agg(count(lit(1)).as("n"), sum(col("v")).as("total")), agg)
      SnapshotTable.merge(
        Seq((3L, 1L, 300L), (21L, 2L, 210L)).toDF("id", "grp", "v"),
        t, Seq("id"))
      SnapshotTable.deleteMoR(spark, t, col("id") === 5L)
      SnapshotTable.updateMoR(spark, t, col("grp") === 0L,
        Map("v" -> (col("v") + 1L)))
      IncrementalView.refreshCountSum(spark, t, agg, "grp", "v",
        fromVersion = 0)
      def rows(p: String) = SnapshotTable.read(spark, p).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      (rows(t), rows(agg))
    }
    val expected = verbs()
    withCheckpointDir { dir =>
      val before = rddDirs(dir)
      assert(verbs() === expected)
      assert(rddDirs(dir) === before,
        s"leaked checkpoints: ${rddDirs(dir) -- before}")
    }
  }
}
