package graft

import org.apache.spark.sql.functions._

import graft.sources.{GraftRelation, SnapshotTable}

/** Gates for the versioned snapshot table: commit visibility, time
  * travel, optimize-as-commit, vacuum, and the create-exclusive
  * conflict path. */
class SnapshotTableSpec extends SparkSpec {
  import spark.implicits._

  private def freshPath(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"snap$tag").toString + "/t"

  test("create / append / overwrite version and time-travel correctly") {
    val path = freshPath("basic")
    val v0 = SnapshotTable.create(spark.range(10).toDF("id"), path)
    assert(v0 === 0)
    val v1 = SnapshotTable.append(spark.range(10, 15).toDF("id"), path)
    assert(v1 === 1)
    // latest sees both commits, v0 is frozen
    assert(SnapshotTable.read(spark, path).count() === 15)
    assert(SnapshotTable.read(spark, path, Some(0)).count() === 10)
    val v2 = SnapshotTable.overwrite(
      spark.range(100, 103).toDF("id"), path)
    assert(v2 === 2)
    assert(SnapshotTable.read(spark, path)
      .collect().map(_.getLong(0)).sorted.toSeq === Seq(100L, 101L, 102L))
    // every prior version still reads exactly as committed
    assert(SnapshotTable.read(spark, path, Some(1)).count() === 15)
    assert(SnapshotTable.versions(spark, path) === Seq(0, 1, 2))
    // double-create refuses
    intercept[IllegalArgumentException] {
      SnapshotTable.create(spark.range(1).toDF("id"), path)
    }
  }

  test("optimize publishes a compacted NEW version; old files survive") {
    val path = freshPath("opt")
    SnapshotTable.create(
      spark.range(4000).toDF("id").repartition(16), path)
    val before = SnapshotTable.read(spark, path)
      .agg(sum(col("id"))).collect()(0).getLong(0)
    val v = SnapshotTable.optimize(spark, path,
      targetFileBytes = 256L * 1024 * 1024, sortCols = Seq("id"))
    assert(v === 1)
    // compacted to one file, content identical
    val filesOf = (ver: Int) => SnapshotTable.read(spark, path, Some(ver))
      .inputFiles.length
    assert(filesOf(1) === 1 && filesOf(0) === 16)
    assert(SnapshotTable.read(spark, path)
      .agg(sum(col("id"))).collect()(0).getLong(0) === before)
  }

  test("vacuum drops unreferenced files and old manifests only") {
    val path = freshPath("vac")
    SnapshotTable.create(spark.range(100).toDF("id").repartition(4), path)
    SnapshotTable.overwrite(spark.range(50).toDF("id").repartition(2), path)
    SnapshotTable.append(spark.range(50, 60).toDF("id"), path)
    // graceMs=0: single-writer test scenario, no in-flight staging
    val deleted = SnapshotTable.vacuum(spark, path, keep = 2, graceMs = 0)
    assert(deleted === 4) // exactly v0's four files are unreferenced
    assert(SnapshotTable.versions(spark, path) === Seq(1, 2))
    assert(SnapshotTable.read(spark, path).count() === 60)
    assert(SnapshotTable.read(spark, path, Some(1)).count() === 50)
    intercept[IllegalArgumentException] {
      SnapshotTable.read(spark, path, Some(0))
    }
  }

  test("a committer losing the manifest race retries on the next version") {
    val path = freshPath("race")
    SnapshotTable.create(spark.range(5).toDF("id"), path)
    // steal version 1: simulate a concurrent committer winning the
    // create-exclusive write first (an overwrite referencing no files)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stolen = new org.apache.hadoop.fs.Path(path,
      "_graft_log/v00000001.manifest")
    // a real racer's manifest ends with the end-of-transaction
    // marker — without it the loser correctly refuses to inherit a
    // possibly-torn file list (gated by its own test below)
    val out = fs.create(stolen, false)
    out.write("#eot=1\n".getBytes("UTF-8")); out.close()
    // append must lose against v1, retry, and land on v2 — still on
    // top of the CURRENT latest manifest's files (v1's empty list)
    val v = SnapshotTable.append(spark.range(5, 8).toDF("id"), path)
    assert(v === 2)
    assert(SnapshotTable.read(spark, path).count() === 3)
    assert(SnapshotTable.read(spark, path, Some(0)).count() === 5)
  }

  test("REGRESSION: partition values containing ';' survive segment aggregation") {
    // Hive path escaping does NOT escape ';' — an unescaped part=
    // aggregate would truncate at the item separator, and the
    // wrongly-narrowed tuple would prune matching segments (silent
    // missing rows through readCatalyst AND readWhere)
    val path = freshPath("semicolon")
    spark.conf.set("spark.graft.manifest.segmentEntries", "4")
    try {
      val rows = (0L until 400L)
        .map(i => (i, if (i % 2 == 0) "a;b" else "plain", i * 2))
        .toDF("id", "cat", "score")
      SnapshotTable.create(rows.repartition(8, col("id")), path,
        partitionBy = Seq("cat"))
      val viaCatalyst = SnapshotTable.readCatalyst(spark, path)
        .filter(col("cat") === "a;b")
      assert(viaCatalyst.count() === 200,
        "segment-level partition pruning dropped the ';' partition")
      assert(viaCatalyst.agg(sum(col("score"))).head.getLong(0) ===
        rows.filter(col("cat") === "a;b")
          .agg(sum(col("score"))).head.getLong(0))
      val (viaWhere, _, _) = SnapshotTable.readWherePruned(spark, path,
        col("cat") === "a;b")
      assert(viaWhere.count() === 200)
      // the other partition still prunes (the escape didn't break
      // the positive case)
      val (_, kept, total) = SnapshotTable.readWherePruned(spark, path,
        col("cat") === "plain")
      assert(kept < total)
    } finally spark.conf.unset("spark.graft.manifest.segmentEntries")
  }

  test("REGRESSION: bloom policy follows renameColumn (and leaves on dropColumn)") {
    val path = freshPath("renamebloom")
    val rows = (0 until 2000).map(i => (i.toLong, s"t$i", i.toLong + 7))
      .toDF("id", "tag", "aux")
    SnapshotTable.create(
      rows.filter(col("id") < 1000L).repartition(4, col("id")), path)
    SnapshotTable.indexBloom(spark, path, Seq("id", "aux"))
    SnapshotTable.renameColumn(spark, path, "id", "key")
    // appends after the rename must keep blooming the renamed column
    SnapshotTable.append(
      rows.filter(col("id") >= 1000L)
        .withColumnRenamed("id", "key")
        .repartition(4, col("key")), path)
    val (hit, kept, total) = SnapshotTable.readWherePruned(spark, path,
      col("key") === 1777L)
    assert(hit.count() === 1)
    assert(total === 8 && kept * 4 < total,
      s"rename silently stopped bloom upkeep: kept $kept of $total")
    // dropColumn removes the dropped name from the policy, the rest
    // keeps maintaining
    SnapshotTable.dropColumn(spark, path, "tag")
    SnapshotTable.dropColumn(spark, path, "aux")
    SnapshotTable.append(
      Seq((5000L, "late")).toDF("key", "tag"), path,
      evolveSchema = true)
    val (hit2, kept2, total2) = SnapshotTable.readWherePruned(spark, path,
      col("key") === 5000L)
    assert(hit2.count() === 1)
    assert(kept2 < total2,
      s"post-drop append lost key blooming: kept $kept2 of $total2")
  }

  test("history() reports each commit's own operation, never an inherited one") {
    val path = freshPath("history")
    val rows = (0 until 200).map(i => (i.toLong, s"t$i")).toDF("id", "tag")
    SnapshotTable.create(rows.repartition(4, col("id")), path)
    SnapshotTable.append(rows.limit(0)
      .unionByName(Seq((500L, "x")).toDF("id", "tag")), path)
    SnapshotTable.merge(Seq((3L, "upd")).toDF("id", "tag"), path,
      Seq("id"))
    SnapshotTable.deleteMoR(spark, path, col("id") === 7L)
    SnapshotTable.renameColumn(spark, path, "tag", "label")
    SnapshotTable.optimizeIncremental(spark, path,
      targetFileBytes = 256L * 1024 * 1024)
    val h = SnapshotTable.history(spark, path).collect()
    // newest first; every commit labeled with ITS op (the rename
    // between DELETE-MOR and OPTIMIZE would show the inheritance bug
    // immediately if ops leaked through the meta chain)
    assert(h.map(_.getInt(0)).toSeq === Seq(5, 4, 3, 2, 1, 0))
    assert(h.map(_.getString(2)).toSeq === Seq("OPTIMIZE",
      "RENAME-COLUMN", "DELETE-MOR", "MERGE", "APPEND", "CREATE"))
    // timestamps nondecreasing oldest->newest; n_files sane
    val ts = h.map(_.getTimestamp(1).getTime).toSeq.reverse
    assert(ts === ts.sorted)
    assert(h.map(_.getInt(3)).forall(_ >= 1))
    // history survives vacuum (reports only retained versions)
    SnapshotTable.vacuum(spark, path, keep = 2, graceMs = 0)
    assert(SnapshotTable.history(spark, path).collect()
      .map(_.getInt(0)).toSeq === Seq(5, 4))
  }

  test("vacuum distributes a large delete phase across executors") {
    import spark.implicits._
    val path = freshPath("vacdist")
    SnapshotTable.create(
      spark.range(400).toDF("id").repartition(8), path)
    SnapshotTable.overwrite(spark.range(10).toDF("id"), path)
    // force the distributed path on this small reclaim
    spark.conf.set("spark.graft.vacuum.parallelDeleteMinFiles", "2")
    try {
      assert(SnapshotTable.vacuum(spark, path, keep = 1,
        graceMs = 0L) === 8)
      assert(SnapshotTable.read(spark, path)
        .as[Long].collect().sorted === (0L until 10L).toArray)
      assert(SnapshotTable.versions(spark, path) === Seq(1))
    } finally
      spark.conf.unset("spark.graft.vacuum.parallelDeleteMinFiles")
  }

  test("concurrent appends on a SEGMENTED table: loser retries, segments stay sound") {
    val path = freshPath("segrace")
    spark.conf.set("spark.graft.manifest.segmentEntries", "4")
    try {
      SnapshotTable.create(
        spark.range(64).toDF("id").repartition(16), path)
      // two genuinely concurrent appends: one loses the
      // create-exclusive race, retries on the new latest, and must
      // inherit the WINNER's segments (not resurrect its own stale
      // base)
      val t1 = new Thread(() =>
        SnapshotTable.append(spark.range(100, 110).toDF("id"), path))
      val t2 = new Thread(() =>
        SnapshotTable.append(spark.range(200, 210).toDF("id"), path))
      t1.start(); t2.start(); t1.join(); t2.join()
      assert(SnapshotTable.versions(spark, path) === Seq(0, 1, 2))
      val ids = SnapshotTable.read(spark, path)
        .collect().map(_.getLong(0)).toSet
      assert(ids === ((0L until 64L) ++ (100L until 110L) ++
        (200L until 210L)).toSet,
        "a lost append race dropped or duplicated rows")
      // the final list reuses v0's segments (the race cannot force a
      // full rewrite) and a lost attempt's orphan segments vacuum away
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      def segRels(v: Int): Set[String] = {
        val in = fs.open(new org.apache.hadoop.fs.Path(
          path + f"/_graft_log/v$v%08d.manifest"))
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
          .filter(_.startsWith("@seg=")).map(_.split("\t")(0)).toSet
        finally in.close()
      }
      assert(segRels(0).subsetOf(segRels(2)),
        "the racing commits rewrote v0's segments")
      SnapshotTable.vacuum(spark, path, keep = 3, graceMs = 0)
      val live = segRels(2).map(_.stripPrefix("@seg=").split("/").last) ++
        segRels(1).map(_.stripPrefix("@seg=").split("/").last) ++
        segRels(0).map(_.stripPrefix("@seg=").split("/").last)
      val onDisk = fs.listStatus(new org.apache.hadoop.fs.Path(
        path + "/_graft_log")).toSeq.map(_.getPath.getName)
        .filter(_.startsWith("seg-")).toSet
      assert(onDisk === live,
        s"orphan segments survived vacuum: ${onDisk -- live}")
      assert(SnapshotTable.read(spark, path).count() === 84)
    } finally spark.conf.unset("spark.graft.manifest.segmentEntries")
  }

  test("a crash between vacuum's manifest and data phases is recoverable") {
    val path = freshPath("crash")
    SnapshotTable.create(spark.range(100).toDF("id").repartition(4), path)
    SnapshotTable.overwrite(spark.range(50).toDF("id").repartition(2), path)
    SnapshotTable.append(spark.range(50, 60).toDF("id"), path)
    // simulate vacuum(keep=2) crashing right after phase 1: the v0
    // manifest is gone, v0's four data files are still on disk
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(new org.apache.hadoop.fs.Path(path,
      "_graft_log/v00000000.manifest"), false))
    // time travel to the vacuumed version fails with the CLEAN log
    // error (the manifest-first ordering guarantees no manifest can
    // ever reference deleted files)
    val e = intercept[IllegalArgumentException] {
      SnapshotTable.read(spark, path, Some(0))
    }
    assert(e.getMessage.contains("version 0 not in"))
    // surviving versions are untouched, and the NEXT vacuum reclaims
    // exactly the four orphans the crash left behind
    assert(SnapshotTable.read(spark, path).count() === 60)
    assert(SnapshotTable.vacuum(spark, path, keep = 2, graceMs = 0) === 4)
    assert(SnapshotTable.read(spark, path).count() === 60)
    assert(SnapshotTable.read(spark, path, Some(1)).count() === 50)
  }

  test("merge: updates replace matched keys, inserts append, old versions frozen") {
    import spark.implicits._
    val path = freshPath("merge")
    SnapshotTable.create(
      (1L to 100L).map(i => (i, s"v$i")).toDF("id", "payload"), path)
    // 10 updates (existing keys, new payloads) + 5 inserts (new keys)
    val updates = ((1L to 10L).map(i => (i, s"UPD$i")) ++
      (101L to 105L).map(i => (i, s"NEW$i"))).toDF("id", "payload")
    val v = SnapshotTable.merge(updates, path, Seq("id"))
    assert(v === 1)
    val got = SnapshotTable.read(spark, path).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.size === 105)
    assert((1L to 10L).forall(i => got(i) == s"UPD$i"))
    assert((11L to 100L).forall(i => got(i) == s"v$i"))
    assert((101L to 105L).forall(i => got(i) == s"NEW$i"))
    // time travel still sees the pre-merge table
    val v0 = SnapshotTable.read(spark, path, Some(0)).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(v0.size === 100 && v0(1L) == "v1")
    // the change feed between the versions is exactly the merge's
    // row-level effect: one delete + one insert per updated key, one
    // bare insert per new key — survivors cancel
    val feed = SnapshotTable.changes(spark, path, 0, Some(1)).collect()
      .map(r => (r.getString(r.fieldIndex("change_type")), r.getLong(0),
        r.getString(1))).toSet
    val wantFeed =
      (1L to 10L).map(i => ("delete", i, s"v$i")).toSet ++
        (1L to 10L).map(i => ("insert", i, s"UPD$i")) ++
        (101L to 105L).map(i => ("insert", i, s"NEW$i"))
    assert(feed === wantFeed)
    // schema mismatch is refused loudly
    intercept[IllegalArgumentException] {
      SnapshotTable.merge(updates.withColumnRenamed("payload", "p2"),
        path, Seq("id"))
    }
  }

  test("merge: only files containing matched keys are rewritten") {
    import spark.implicits._
    val path = freshPath("mergeprune")
    // key-clustered layout: 8 range-partitioned files over id 1..800
    SnapshotTable.create(
      (1L to 800L).map(i => (i, i * 2.0)).toDF("id", "x")
        .repartitionByRange(8, col("id")).sortWithinPartitions(col("id")),
      path)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def manifest(v: Int): Seq[String] = {
      val in = fs.open(new org.apache.hadoop.fs.Path(path,
        f"_graft_log/v$v%08d.manifest"))
      try scala.io.Source.fromInputStream(in).getLines().toList
        .filterNot(_.startsWith("#")) // meta lines (schema etc.)
      finally in.close()
    }
    val before = manifest(0)
    assert(before.size === 8)
    // every entry carries the footer-harvested key-range index the
    // merge's level-1 pruning reads (pure metadata, no footer I/O)
    assert(before.forall(_.matches("""files/.*\.parquet\t.*\bid=-?\d+:-?\d+.*""")),
      s"manifest entries missing id range stats: $before")
    // touch keys living in ONE range partition
    SnapshotTable.merge(Seq((3L, -1.0), (5L, -2.0)).toDF("id", "x"),
      path, Seq("id"))
    val after = manifest(1)
    // at most one data file was rewritten: >= 7 of the 8 original
    // entries carry over BY NAME (zero data movement for them)
    assert(after.toSet.intersect(before.toSet).size >= 7,
      s"expected >=7 untouched files, before=$before after=$after")
    assert(SnapshotTable.read(spark, path)
      .filter(col("id") === 3L).collect().head.getDouble(1) === -1.0)
    assert(SnapshotTable.read(spark, path).count() === 800)
  }

  test("delete: predicate rows removed, only touched files rewritten, no-op commits nothing") {
    import spark.implicits._
    val path = freshPath("delete")
    // key-clustered layout: 8 range-partitioned files over id 1..800
    SnapshotTable.create(
      (1L to 800L).map(i => (i, i * 2.0)).toDF("id", "x")
        .repartitionByRange(8, col("id")).sortWithinPartitions(col("id")),
      path)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def manifest(v: Int): Seq[String] = {
      val in = fs.open(new org.apache.hadoop.fs.Path(path,
        f"_graft_log/v$v%08d.manifest"))
      try scala.io.Source.fromInputStream(in).getLines().toList
        .filterNot(_.startsWith("#")) // meta lines (schema etc.)
      finally in.close()
    }
    val before = manifest(0)
    assert(before.size === 8)
    // delete keys living in ONE range partition
    val v1 = SnapshotTable.delete(spark, path,
      col("id") >= 10L && col("id") <= 20L)
    assert(v1 === 1)
    val after = manifest(1)
    assert(after.toSet.intersect(before.toSet).size >= 7,
      s"expected >=7 untouched files, before=$before after=$after")
    val now = SnapshotTable.read(spark, path)
    assert(now.count() === 789)
    assert(now.filter(col("id").between(10L, 20L)).count() === 0)
    // time travel: version 0 still has every row
    assert(SnapshotTable.read(spark, path, Some(0)).count() === 800)
    // no-match delete: same version back, no new manifest
    assert(SnapshotTable.delete(spark, path, col("id") > 10000L) === 1)
    assert(SnapshotTable.versions(spark, path) === Seq(0, 1))
  }

  test("append evolveSchema: metadata-only column add; old rows read NULL; versions keep their schema") {
    import spark.implicits._
    val path = freshPath("evolve")
    SnapshotTable.create(Seq((1L, "a"), (2L, "b")).toDF("id", "name"),
      path)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dataEntries(v: Int): Seq[String] = {
      val in = fs.open(new org.apache.hadoop.fs.Path(path,
        f"_graft_log/v$v%08d.manifest"))
      try scala.io.Source.fromInputStream(in).getLines().toList
        .filterNot(_.startsWith("#"))
      finally in.close()
    }
    val before = dataEntries(0)
    // a widened append WITHOUT the flag is refused loudly
    intercept[IllegalArgumentException] {
      SnapshotTable.append(
        Seq((3L, "c", 30.0)).toDF("id", "name", "score"), path)
    }
    // ... and a type conflict is refused even WITH it
    intercept[IllegalArgumentException] {
      SnapshotTable.append(Seq(("x", "c")).toDF("id", "name"), path,
        evolveSchema = true)
    }
    SnapshotTable.append(
      Seq((3L, "c", 30.0)).toDF("id", "name", "score"), path,
      evolveSchema = true)
    // metadata-only: every v0 data file carried over BY NAME
    assert(dataEntries(1).toSet.intersect(before.toSet) === before.toSet)
    val now = SnapshotTable.read(spark, path)
    assert(now.columns.toSeq === Seq("id", "name", "score"))
    val rows = now.collect()
      .map(r => r.getLong(0) -> (r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    assert(rows === Map(1L -> ("a", None), 2L -> ("b", None),
      3L -> ("c", Some(30.0))))
    // time travel: version 0 still reads with its OWN schema
    assert(SnapshotTable.read(spark, path, Some(0)).columns.toSeq ===
      Seq("id", "name"))
    // merge on the evolved table: pre-evolution rows survive the
    // rewrite with their null score intact
    SnapshotTable.merge(Seq((1L, "a2", 10.0)).toDF("id", "name", "score"),
      path, Seq("id"))
    val merged = SnapshotTable.read(spark, path).collect()
      .map(r => r.getLong(0) -> (r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    assert(merged === Map(1L -> ("a2", Some(10.0)), 2L -> ("b", None),
      3L -> ("c", Some(30.0))))
    // delete by a predicate ON the added column: NULL rows survive
    SnapshotTable.delete(spark, path, col("score") > 20.0)
    assert(SnapshotTable.read(spark, path).select("id").collect()
      .map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L))
  }

  test("delete: NULL predicate keeps the row (SQL DELETE semantics)") {
    import spark.implicits._
    val path = freshPath("deletenull")
    SnapshotTable.create(
      Seq((1L, Some(1.0)), (2L, None), (3L, Some(3.0)))
        .toDF("id", "x"), path)
    // x > 2 is NULL for id=2 — that row must survive
    SnapshotTable.delete(spark, path, col("x") > 2.0)
    assert(SnapshotTable.read(spark, path).select("id")
      .collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L))
    // delete-all: the table stays readable (schema preserved), empty
    SnapshotTable.delete(spark, path, lit(true))
    assert(SnapshotTable.read(spark, path).count() === 0)
    assert(SnapshotTable.read(spark, path).columns.toSeq === Seq("id", "x"))
  }

  test("merge removeKeys: upserts and key removals in ONE commit; updates win on overlap") {
    import spark.implicits._
    val path = freshPath("mergerm")
    SnapshotTable.create(
      (1L to 100L).map(i => (i, s"v$i")).toDF("id", "payload"), path)
    val v = SnapshotTable.merge(
      Seq((5L, "U5"), (101L, "NEW")).toDF("id", "payload"), path,
      Seq("id"),
      removeKeys = Some(Seq(5L, 10L, 11L).toDF("id")))
    assert(v === 1) // one commit for the whole keyed-churn batch
    val got = SnapshotTable.read(spark, path).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.size === 99) // 100 - 2 removed + 1 insert
    assert(!got.contains(10L) && !got.contains(11L))
    assert(got(5L) === "U5") // in both sets: the upsert wins
    assert(got(101L) === "NEW")
    assert(got(12L) === "v12")
    // removeKeys columns must be exactly the merge keys
    intercept[IllegalArgumentException] {
      SnapshotTable.merge(
        Seq((6L, "U6")).toDF("id", "payload"), path, Seq("id"),
        removeKeys = Some(Seq((7L, "x")).toDF("id", "junk")))
    }
  }

  test("property: incremental count/sum view equals a full recompute under merges and deletes") {
    import spark.implicits._
    import graft.sources.IncrementalView
    val rnd = new scala.util.Random(11)
    val tmp = java.nio.file.Files.createTempDirectory("snapiv").toString
    val basePath = tmp + "/base"
    val aggPath = tmp + "/agg"
    val base0 = (1L to 300L).map(i =>
      (i, rnd.nextInt(20).toLong, (1 + rnd.nextInt(100)).toLong))
    SnapshotTable.create(base0.toDF("id", "grp", "v"), basePath)
    SnapshotTable.create(
      SnapshotTable.read(spark, basePath).groupBy("grp")
        .agg(count(lit(1)).as("n"), sum(col("v")).as("total")), aggPath)
    // churn: value updates on random keys, inserts of new keys, then a
    // delete that empties ENTIRE groups (grp 3 and 7 vanish)
    val updates = ((1L to 300L).filter(_ => rnd.nextBoolean()).map(i =>
      (i, rnd.nextInt(20).toLong, (1 + rnd.nextInt(100)).toLong)) ++
      (301L to 340L).map(i =>
        (i, rnd.nextInt(22).toLong, (1 + rnd.nextInt(100)).toLong)))
      .toDF("id", "grp", "v")
    SnapshotTable.merge(updates, basePath, Seq("id"))
    SnapshotTable.delete(spark, basePath,
      col("grp") === 3L || col("grp") === 7L)
    IncrementalView.refreshCountSum(spark, basePath, aggPath,
      "grp", "v", fromVersion = 0)
    val got = SnapshotTable.read(spark, aggPath).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val want = SnapshotTable.read(spark, basePath).groupBy("grp")
      .agg(count(lit(1)).as("n"), sum(col("v")).as("total")).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got === want)
    assert(!got.contains(3L) && !got.contains(7L))
  }

  test("property: incremental min/max view equals a full recompute under extremum churn") {
    import spark.implicits._
    import graft.sources.IncrementalView
    val rnd = new scala.util.Random(13)
    val tmp = java.nio.file.Files.createTempDirectory("snapivmm").toString
    val basePath = tmp + "/base"
    val aggPath = tmp + "/agg"
    val base0 = (1L to 300L).map(i =>
      (i, rnd.nextInt(15).toLong, (1 + rnd.nextInt(100)).toLong))
    SnapshotTable.create(base0.toDF("id", "grp", "v"), basePath)
    SnapshotTable.create(
      SnapshotTable.read(spark, basePath).groupBy("grp")
        .agg(count(lit(1)).as("n"), sum(col("v")).as("total"),
          min(col("v")).as("mn"), max(col("v")).as("mx")), aggPath)
    // churn engineered to hit every maintenance arm: random value
    // updates (delete+insert pairs, some of extrema), new keys in new
    // AND old groups, a delete of every v > 90 (removes many groups'
    // current max -> invalidate-and-recompute), and a delete emptying
    // group 5 entirely (removal arm)
    val updates = ((1L to 300L).filter(_ => rnd.nextBoolean()).map(i =>
      (i, rnd.nextInt(15).toLong, (1 + rnd.nextInt(100)).toLong)) ++
      (301L to 340L).map(i =>
        (i, rnd.nextInt(17).toLong, (1 + rnd.nextInt(100)).toLong)))
      .toDF("id", "grp", "v")
    SnapshotTable.merge(updates, basePath, Seq("id"))
    SnapshotTable.delete(spark, basePath,
      col("v") > 90L || col("grp") === 5L)
    IncrementalView.refreshCountSumMinMax(spark, basePath, aggPath,
      "grp", "v", fromVersion = 0)
    def snap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val got = snap(SnapshotTable.read(spark, aggPath)
      .select("grp", "n", "total", "mn", "mx"))
    val want = snap(SnapshotTable.read(spark, basePath).groupBy("grp")
      .agg(count(lit(1)).as("n"), sum(col("v")).as("total"),
        min(col("v")).as("mn"), max(col("v")).as("mx")))
    assert(got === want)
    assert(!got.contains(5L))
    // a second refresh round from the new watermark stays in sync
    // (insert-only: the exact arm, no base rescan needed)
    val fromV = SnapshotTable.versions(spark, basePath).max
    SnapshotTable.append(
      (400L to 420L).map(i => (i, (i % 15).toLong, 200L))
        .toDF("id", "grp", "v"), basePath)
    IncrementalView.refreshCountSumMinMax(spark, basePath, aggPath,
      "grp", "v", fromVersion = fromV)
    val got2 = snap(SnapshotTable.read(spark, aggPath)
      .select("grp", "n", "total", "mn", "mx"))
    val want2 = snap(SnapshotTable.read(spark, basePath).groupBy("grp")
      .agg(count(lit(1)).as("n"), sum(col("v")).as("total"),
        min(col("v")).as("mn"), max(col("v")).as("mx")))
    assert(got2 === want2)
  }

  test("invalidate rescan prunes by IN-list: far-apart groups keep no span") {
    import spark.implicits._
    import graft.sources.IncrementalView
    val tmp = java.nio.file.Files.createTempDirectory("snapivin").toString
    val basePath = tmp + "/base"
    val aggPath = tmp + "/agg"
    // 1000 groups × 5 rows, CLUSTERED by group over 20 files; each
    // group's max is v = grp*1000 + 4
    val base0 = (0L until 1000L).flatMap(g =>
      (0L to 4L).map(j => (g * 10 + j, g, g * 1000 + j)))
    SnapshotTable.create(base0.toDF("id", "grp", "v")
      .repartitionByRange(20, col("grp"))
      .sortWithinPartitions(col("grp")), basePath)
    SnapshotTable.create(
      SnapshotTable.read(spark, basePath).groupBy("grp")
        .agg(count(lit(1)).as("n"), sum(col("v")).as("total"),
          min(col("v")).as("mn"), max(col("v")).as("mx")), aggPath)
    // delete the MAX of exactly two FAR-APART groups (5 and 995):
    // their [min,max] envelope spans nearly every file, but the
    // IN-list restriction keeps only the two straddling files
    SnapshotTable.delete(spark, basePath,
      (col("grp") === 5L || col("grp") === 995L) &&
        col("v") % 1000L === 4L)
    val (_, kept, total) = IncrementalView.refreshCountSumMinMaxPruned(
      spark, basePath, aggPath, "grp", "v", fromVersion = 0)
    assert(total >= 20, s"setup: expected >=20 base files, got $total")
    assert(kept <= 4,
      s"far-apart invalidation kept $kept of $total files — the " +
        "[min,max] envelope is back")
    // and the view is exact
    def snap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(snap(SnapshotTable.read(spark, aggPath)
      .select("grp", "n", "total", "mn", "mx")) ===
      snap(SnapshotTable.read(spark, basePath).groupBy("grp")
        .agg(count(lit(1)).as("n"), sum(col("v")).as("total"),
          min(col("v")).as("mn"), max(col("v")).as("mx"))))
  }

  test("merge: a concurrent commit fails the merge instead of dropping rows") {
    import spark.implicits._
    val path = freshPath("mergerace")
    SnapshotTable.create(
      (1L to 10L).map(i => (i, i.toString)).toDF("id", "s"), path)
    // the racer commits BETWEEN merge's version read and its pinned
    // commit: a side-effecting UDF inside the updates frame steals
    // version 1 the first time the update rows are evaluated (during
    // merge's own file-pruning join / staging — i.e. mid-merge),
    // which is exactly the window blind-retry would silently lose
    val stolenPath = s"$path/_graft_log/v00000001.manifest"
    val steal = udf { (i: Long) =>
      try {
        val p = java.nio.file.Paths.get(stolenPath)
        java.nio.file.Files.createDirectories(p.getParent)
        // a complete (marker-terminated) empty overwrite — the racer
        // a loser can legally observe
        java.nio.file.Files.write(p, "#eot=1\n".getBytes("UTF-8"),
          java.nio.file.StandardOpenOption.CREATE_NEW)
      } catch { case _: java.nio.file.FileAlreadyExistsException => () }
      i
    }
    val updates = Seq((1L, "upd")).toDF("id", "s")
      .withColumn("id", steal(col("id")))
    intercept[java.util.ConcurrentModificationException] {
      SnapshotTable.merge(updates, path, Seq("id"))
    }
    // the racer's version is the log's latest; the merge left only
    // unreferenced staged files behind (vacuum fodder), no manifest
    assert(SnapshotTable.versions(spark, path) === Seq(0, 1))
  }

  test("appendStreamBatch: exactly-once under batch replay, markers survive other commits") {
    import spark.implicits._
    val path = freshPath("stream")
    // batch 0 creates the table; batch 1 appends
    assert(SnapshotTable.appendStreamBatch(
      (1L to 10L).toDF("id"), path, 0L).contains(0))
    assert(SnapshotTable.appendStreamBatch(
      (11L to 20L).toDF("id"), path, 1L).contains(1))
    assert(SnapshotTable.read(spark, path).count() === 20)
    // replay of an already-committed batch (crash/restart) is a no-op
    assert(SnapshotTable.appendStreamBatch(
      (11L to 20L).toDF("id"), path, 1L).isEmpty)
    assert(SnapshotTable.appendStreamBatch(
      (1L to 10L).toDF("id"), path, 0L).isEmpty)
    assert(SnapshotTable.read(spark, path).count() === 20)
    // an interleaved NON-stream commit doesn't erase the marker: the
    // newest-first log scan still finds batch 1 and skips its replay
    SnapshotTable.append((100L to 102L).toDF("id"), path)
    assert(SnapshotTable.appendStreamBatch(
      (11L to 20L).toDF("id"), path, 1L).isEmpty)
    // and the next NEW batch commits normally
    assert(SnapshotTable.appendStreamBatch(
      (21L to 25L).toDF("id"), path, 2L).isDefined)
    assert(SnapshotTable.read(spark, path).count() === 28)
    assert(SnapshotTable.committedStreamBatch(spark, path).contains(2L))
    // markers are inherited commit-over-commit, so even vacuuming the
    // log down to ONE version cannot reopen the replay window
    SnapshotTable.append((200L to 201L).toDF("id"), path)
    SnapshotTable.vacuum(spark, path, keep = 1)
    assert(SnapshotTable.committedStreamBatch(spark, path).contains(2L))
    assert(SnapshotTable.appendStreamBatch(
      (21L to 25L).toDF("id"), path, 2L).isEmpty)
    assert(SnapshotTable.read(spark, path).count() === 30)
  }

  test("two committers racing merge: loser retries, both key sets land") {
    import spark.implicits._
    val path = freshPath("mergerace")
    SnapshotTable.create(
      (1L to 50L).map(i => (i, "base")).toDF("id", "payload"), path)
    // A updates keys 1-10, B inserts keys 101-110 — disjoint, so any
    // serialization of the two merges must preserve BOTH effects
    val dfA = (1L to 10L).map(i => (i, s"A$i")).toDF("id", "payload")
    val dfB = (101L to 110L).map(i => (i, s"B$i")).toDF("id", "payload")
    val latch = new java.util.concurrent.CountDownLatch(2)
    val conflicts = new java.util.concurrent.atomic.AtomicInteger(0)
    @volatile var failure: Option[Throwable] = None
    def runner(df: org.apache.spark.sql.DataFrame): Thread = new Thread(() =>
      try {
        latch.countDown(); latch.await()
        var done = false
        var attempts = 0
        while (!done) {
          try { SnapshotTable.merge(df, path, Seq("id")); done = true }
          catch {
            case _: java.util.ConcurrentModificationException =>
              // the documented contract: the loser re-runs on the NEW
              // snapshot — bounded retry, never silent drop
              conflicts.incrementAndGet()
              attempts += 1
              assert(attempts < 10, "merge retry did not converge")
          }
        }
      } catch { case t: Throwable => failure = Some(t) })
    val (ta, tb) = (runner(dfA), runner(dfB))
    ta.start(); tb.start(); ta.join(); tb.join()
    failure.foreach(throw _)
    val fin = SnapshotTable.read(spark, path).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fin.size === 60) // 50 base + 10 inserts, no lost update
    assert((1L to 10L).forall(i => fin(i) === s"A$i"))
    assert((101L to 110L).forall(i => fin(i) === s"B$i"))
    assert((11L to 50L).forall(i => fin(i) === "base"))
    // both merges committed: two new versions on the log
    assert(SnapshotTable.versions(spark, path) === Seq(0, 1, 2))
  }

  test("stress: concurrent disjoint merges, appends and compaction all land") {
    import spark.implicits._
    val path = freshPath("mergestress")
    // keys 0..999 clustered over 8 files: each merge's key band maps
    // to its own files, so the REBASE path (not abort) should carry
    // most of the traffic
    SnapshotTable.create(
      (0L until 1000L).map(i => (i, "base")).toDF("id", "payload")
        .repartitionByRange(8, col("id"))
        .sortWithinPartitions(col("id")), path)
    val conflicts = new java.util.concurrent.atomic.AtomicInteger(0)
    @volatile var failure: Option[Throwable] = None
    def retrying(body: => Unit): Thread = new Thread(() =>
      try {
        var done = false
        var n = 0
        while (!done) {
          try { body; done = true }
          catch {
            case _: java.util.ConcurrentModificationException =>
              conflicts.incrementAndGet(); n += 1
              assert(n < 20, "retry did not converge")
          }
        }
      } catch { case t: Throwable => failure = Some(t) })
    val mergers = (0 until 4).map { t =>
      retrying(SnapshotTable.merge(
        (t * 250L until t * 250L + 250L).map(i => (i, s"T$t"))
          .toDF("id", "payload"), path, Seq("id")))
    }
    val appender = retrying(SnapshotTable.append(
      (2000L until 2050L).map(i => (i, "NEW")).toDF("id", "payload"),
      path))
    val compactor = retrying {
      SnapshotTable.optimizeIncremental(spark, path, 1L << 20)
      ()
    }
    val threads = mergers :+ appender :+ compactor
    threads.foreach(_.start()); threads.foreach(_.join())
    failure.foreach(throw _)
    val fin = SnapshotTable.read(spark, path).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fin.size === 1050, s"row loss/dup: ${fin.size}")
    (0 until 4).foreach(t => (t * 250L until t * 250L + 250L).foreach(i =>
      assert(fin(i) === s"T$t", s"key $i lost merge T$t (got ${fin(i)})")))
    (2000L until 2050L).foreach(i => assert(fin(i) === "NEW"))
    // every data writer committed exactly once (create + 4 merges +
    // append; the compactor may legally no-op on a retry if racers
    // left a single right-sized file)
    val nv = SnapshotTable.versions(spark, path).size
    assert(nv === 6 || nv === 7,
      s"expected 6-7 versions, got ${SnapshotTable.versions(spark, path)}")
  }

  test("a crash between stage and commit leaves only invisible orphans") {
    import spark.implicits._
    val path = freshPath("mergecrash")
    SnapshotTable.create(
      (1L to 100L).map(i => (i, s"v$i")).toDF("id", "payload"), path)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // simulate a committer dying AFTER staging, BEFORE its manifest
    // commit: a staged parquet sits under files/ with no manifest
    // referencing it (the protocol's only crash window)
    def stageOrphan(): String = {
      val tmp = new org.apache.hadoop.fs.Path(path,
        s"__crash_${java.util.UUID.randomUUID()}")
      (9000L to 9004L).map(i => (i, "PHANTOM")).toDF("id", "payload")
        .coalesce(1).write.parquet(tmp.toString)
      val part = fs.listStatus(tmp).map(_.getPath)
        .find(_.getName.endsWith(".parquet")).get
      val dest = new org.apache.hadoop.fs.Path(s"$path/files",
        s"${java.util.UUID.randomUUID()}.parquet")
      assert(fs.rename(part, dest))
      fs.delete(tmp, true)
      dest.getName
    }
    val orphan = stageOrphan()
    // no reader ever sees phantom rows — visibility IS the manifest
    assert(SnapshotTable.read(spark, path).count() === 100)
    // the re-run of the crashed job merges cleanly on top
    SnapshotTable.merge(
      (1L to 5L).map(i => (i, s"UPD$i")).toDF("id", "payload"),
      path, Seq("id"))
    val fin = SnapshotTable.read(spark, path)
    assert(fin.count() === 100)
    assert(fin.filter(col("payload") === "PHANTOM").count() === 0)
    // vacuum (no in-flight writers → graceMs=0) reclaims the orphan
    SnapshotTable.vacuum(spark, path, keep = 1, graceMs = 0)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/files", orphan)))
    assert(SnapshotTable.read(spark, path).count() === 100)
    // and the DEFAULT grace window protects a fresh in-flight stage:
    // a just-staged file survives vacuum even though unreferenced
    val inflight = stageOrphan()
    SnapshotTable.vacuum(spark, path, keep = 1)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$path/files", inflight)))
  }

  test("optimizeIncremental compacts only the small-file backlog") {
    import spark.implicits._
    val path = freshPath("inc")
    // one big file + eight tiny per-batch files (the post-ingestion
    // shape); the big file must stay comfortably above the small-file
    // threshold (distinct payloads defeat dictionary compression)
    SnapshotTable.create(
      spark.range(2000000L).select(col("id"),
        concat(lit("payload_"), col("id")).as("s")).coalesce(1), path)
    for (b <- 0 until 8)
      SnapshotTable.appendStreamBatch(
        Seq((10000000L + b, "late")).toDF("id", "s"), path, b.toLong)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def manifest(v: Int): Seq[String] = {
      val in = fs.open(new org.apache.hadoop.fs.Path(path,
        f"_graft_log/v$v%08d.manifest"))
      try scala.io.Source.fromInputStream(in).getLines().toList
        .filterNot(_.startsWith("#"))
      finally in.close()
    }
    val before = manifest(8)
    assert(before.size === 9)
    val v = SnapshotTable.optimizeIncremental(spark, path,
      targetFileBytes = 4L * 1024 * 1024)
    assert(v.contains(9))
    val after = manifest(9)
    // the big file carried by reference, the 8 tiny ones became 1
    assert(after.size === 2)
    assert(after.toSet.intersect(before.toSet).size === 1)
    assert(SnapshotTable.read(spark, path).count() === 2000008)
    // streaming markers survive the compaction commit
    assert(SnapshotTable.committedStreamBatch(spark, path).contains(7L))
    // nothing left to compact → no new version
    assert(SnapshotTable.optimizeIncremental(spark, path,
      targetFileBytes = 4L * 1024 * 1024).isEmpty)
  }

  test("readCatalyst: manifest pruning fires at planning time from pushed filters") {
    val path = freshPath("catidx")
    val rows = (0L until 3000L).map(i => (i, s"p$i", (i % 5).toLong))
      .toDF("id", "tag", "grp")
    SnapshotTable.create(
      rows.repartitionByRange(6, col("id")).sortWithinPartitions("id"),
      path)
    val df = SnapshotTable.readCatalyst(spark, path)
    assert(df.count() === 3000)
    def scanFiles(q: org.apache.spark.sql.DataFrame): Long = {
      q.collect()
      q.queryExecution.executedPlan.collectLeaves().collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.metrics("numFiles").value
      }.getOrElse(sys.error("no FileSourceScanExec in plan"))
    }
    // a plain .filter prunes through Catalyst, no explicit predicate arg
    val filtered = SnapshotTable.readCatalyst(spark, path)
      .filter(col("id") < 500L)
    assert(filtered.count() === 500)
    assert(scanFiles(SnapshotTable.readCatalyst(spark, path)
      .filter(col("id") < 500L)) < 6)
    // SQL WHERE over a temp view prunes the same way
    SnapshotTable.readCatalyst(spark, path).createOrReplaceTempView("snap_cat")
    val sqlQ = spark.sql(
      "SELECT count(*) AS n FROM snap_cat WHERE id >= 2500")
    assert(sqlQ.head.getLong(0) === 500L)
    assert(scanFiles(spark.sql(
      "SELECT id, tag FROM snap_cat WHERE id >= 2500")) < 6)
    // results equal the classic reader under arbitrary predicates
    val p = (col("id") % 7 === 0) || col("grp") === 2L
    assert(SnapshotTable.readCatalyst(spark, path).filter(p).count() ===
      SnapshotTable.read(spark, path).filter(p).count())
    // version pinning works; non-eligible tables fall back soundly
    SnapshotTable.append(rows.limit(10), path)
    assert(SnapshotTable.readCatalyst(spark, path, Some(0)).count() === 3000)
    SnapshotTable.deleteMoR(spark, path, col("id") === 7L)
    // both copies of id 7 (original + appended) are masked: 3010 - 2
    assert(SnapshotTable.readCatalyst(spark, path).count() === 3008)
  }

  test("readCatalyst: partitioned tables get planning-time partition pruning and DPP") {
    val path = freshPath("catpart")
    val rows = (0L until 4000L)
      .map(i => (i, s"g${i % 8}", i * 3))
      .toDF("id", "grp", "score")
    SnapshotTable.create(rows, path, partitionBy = Seq("grp"))
    val df = SnapshotTable.readCatalyst(spark, path)
    // schema keeps the stored column order and the partition col type
    assert(df.columns.toSeq === Seq("id", "grp", "score"))
    assert(df.count() === 4000)
    def scan(q: org.apache.spark.sql.DataFrame)
        : org.apache.spark.sql.execution.FileSourceScanExec = {
      q.collect()
      def find(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          find(a.executedPlan)
        case qs: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          find(qs.plan)
        case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
        case other => other.children.flatMap(find) ++ other.subqueries.flatMap(find)
      }
      find(q.queryExecution.executedPlan)
        .find(_.relation.location.isInstanceOf[graft.sources.GraftFileIndex])
        .getOrElse(sys.error("no FileSourceScanExec over GraftFileIndex"))
    }
    // static partition pruning: an equality on the partition col
    // keeps 1 of 8 partitions at planning time
    val eq = SnapshotTable.readCatalyst(spark, path).filter(col("grp") === "g3")
    assert(eq.count() === 500)
    val eqScan = scan(SnapshotTable.readCatalyst(spark, path)
      .filter(col("grp") === "g3").groupBy().count())
    val total = scan(SnapshotTable.readCatalyst(spark, path)
      .groupBy().count()).metrics("numFiles").value
    assert(eqScan.metrics("numFiles").value < total)
    // parity with the classic reader under a mixed predicate
    val p = (col("grp") === "g2") || (col("score") > 11000L)
    assert(SnapshotTable.readCatalyst(spark, path).filter(p)
      .agg(sum(col("id"))).head.getLong(0) ===
      SnapshotTable.read(spark, path).filter(p)
        .agg(sum(col("id"))).head.getLong(0))
    // dynamic partition pruning: a selective dim join on grp prunes
    // fact partitions at RUNTIME (numFiles < staticFilesNum)
    // (the dim must be file-backed: PartitionPruning skips
    // LocalRelation build sides)
    SnapshotTable.readCatalyst(spark, path).createOrReplaceTempView("fact_cat")
    val dimPath = freshPath("catpart_dim")
    Seq(("g1", 1), ("g5", 1)).toDF("grp", "flag").write.parquet(dimPath)
    spark.read.parquet(dimPath).createOrReplaceTempView("dim_cat")
    val dpp = spark.sql(
      """SELECT f.grp, count(*) AS n FROM fact_cat f
        |JOIN dim_cat d ON f.grp = d.grp WHERE d.flag = 1
        |GROUP BY 1""".stripMargin)
    assert(dpp.collect().map(r => (r.getString(0), r.getLong(1))).sorted
      .toSeq === Seq(("g1", 500L), ("g5", 500L)))
    val s = scan(dpp)
    assert(s.metrics.contains("staticFilesNum"),
      "DPP did not fire: no staticFilesNum metric on the fact scan")
    assert(s.metrics("numFiles").value < s.metrics("staticFilesNum").value)
    // null partition value round-trips through the default marker
    val withNull = Seq((9000L, null.asInstanceOf[String], 1L))
      .toDF("id", "grp", "score")
    SnapshotTable.append(withNull, path)
    assert(SnapshotTable.readCatalyst(spark, path)
      .filter(col("grp").isNull).count() === 1)
  }

  test("segmented manifests: commits reuse unchanged segments, O(churn) writes") {
    val path = freshPath("segman")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    def rawLines(v: Int): Seq[String] = {
      val p = new org.apache.hadoop.fs.Path(
        path + f"/_graft_log/v$v%08d.manifest")
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8")
        .getLines().toList.filter(_.nonEmpty)
      finally in.close()
    }
    def segRefs(v: Int): Seq[String] =
      rawLines(v).filter(_.startsWith("@seg="))
        .map(_.stripPrefix("@seg=").split("\t")(0))
    spark.conf.set("spark.graft.manifest.segmentEntries", "8")
    try {
      val rows = (0L until 640L).map(i => (i, i % 7, s"t$i"))
        .toDF("id", "grp", "tag")
      // 40 files, range-clustered on id -> 5 segments of 8
      SnapshotTable.create(
        rows.repartitionByRange(40, col("id"))
          .sortWithinPartitions(col("id")), path)
      assert(segRefs(0).size === 5)
      assert(rawLines(0).count(l =>
        !l.startsWith("#") && !l.startsWith("@seg=")) === 0)
      // APPEND: every v0 segment passes through VERBATIM and the two
      // new entries join the INLINE tail — no segment churn at all
      // (a small append is O(churn) bytes, the delta-commit contract)
      SnapshotTable.append(
        Seq((1000L, 1L, "x"), (1001L, 2L, "y")).toDF("id", "grp", "tag"),
        path)
      assert(segRefs(1).toSet === segRefs(0).toSet,
        "append rewrote previously-committed segments")
      assert(rawLines(1).count(l =>
        !l.startsWith("#") && !l.startsWith("@seg=")) === 2,
        "appended entries should ride the inline tail")
      // MERGE touching ONE file: only its segment is replaced; the
      // dirty segment's survivors + inline tail + staged re-enter as
      // loose lines (re-chunked only when they outgrow the threshold)
      SnapshotTable.merge(
        Seq((3L, 99L, "upd")).toDF("id", "grp", "tag"), path, Seq("id"))
      val reused = segRefs(2).toSet intersect segRefs(1).toSet
      assert(reused.size === 4,
        s"point merge should reuse exactly 4 of 5 segments, got ${reused.size}")
      // reads resolve segments transparently; parity with a recompute
      val expect = (0L until 640L).filterNot(_ == 3L).map(i => (i, i % 7))
        .toSet + ((3L, 99L)) + ((1000L, 1L)) + ((1001L, 2L))
      assert(SnapshotTable.read(spark, path)
        .select(col("id"), col("grp")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet === expect)
      // time travel still sees v0 exactly
      assert(SnapshotTable.read(spark, path, Some(0)).count() === 640)
      // segment-level pruning: a narrow id range drops whole segments
      // (counters see per-FILE totals, segment aggregates prune)
      val (dfP, keptN, total) = SnapshotTable.readWherePruned(spark, path,
        col("id") >= 100L && col("id") < 140L)
      assert(total >= 42 && keptN < 10, s"kept $keptN of $total")
      assert(dfP.count() === 40)
      // DELETE: rewrites only straddling files; their segments replaced
      SnapshotTable.delete(spark, path, col("id") === 200L)
      assert(SnapshotTable.read(spark, path).count() === 641)
      // VACUUM: segments of dropped versions reclaim, kept ones survive
      val liveSegs = segRefs(SnapshotTable.versions(spark, path).max).toSet
      SnapshotTable.vacuum(spark, path, keep = 1, graceMs = 0L)
      val onDisk = fs.listStatus(
        new org.apache.hadoop.fs.Path(path + "/_graft_log")).toSeq
        .map(_.getPath.getName).filter(_.startsWith("seg-")).toSet
      assert(onDisk === liveSegs.map(r => r.split("/").last),
        s"vacuum left ${onDisk.size} segments for ${liveSegs.size} live")
      assert(SnapshotTable.read(spark, path).count() === 641)
    } finally spark.conf.unset("spark.graft.manifest.segmentEntries")
  }

  test("readCatalyst composes with deletion vectors and column mapping (DPP intact)") {
    val path = freshPath("catcompose")
    val rows = (0L until 4000L)
      .map(i => (i, s"g${i % 8}", i * 3))
      .toDF("id", "grp", "score")
    SnapshotTable.create(rows, path, partitionBy = Seq("grp"))
    // MoR-delete a slice (deletion vectors, no file rewritten), then
    // rename a data column (column mapping): the exact combination
    // that used to silently fall back to the classic reader
    SnapshotTable.deleteMoR(spark, path, col("score") % 100L === 0L)
    SnapshotTable.renameColumn(spark, path, "score", "points")
    val expected = rows.filter(col("score") % 100L =!= 0L)
      .withColumnRenamed("score", "points")
    val df = SnapshotTable.readCatalyst(spark, path)
    assert(df.columns.toSeq === Seq("id", "grp", "points"))
    // value parity with the classic reader AND with a from-scratch
    // recompute: the DV mask and the physical->logical projection
    // both applied
    assert(df.count() === expected.count())
    assert(df.agg(sum(col("points"))).head.getLong(0) ===
      expected.agg(sum(col("points"))).head.getLong(0))
    assert(df.filter(col("grp") === "g3").count() ===
      expected.filter(col("grp") === "g3").count())
    def scan(q: org.apache.spark.sql.DataFrame)
        : org.apache.spark.sql.execution.FileSourceScanExec = {
      q.collect()
      def find(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          find(a.executedPlan)
        case qs: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          find(qs.plan)
        case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
        case other => other.children.flatMap(find) ++ other.subqueries.flatMap(find)
      }
      find(q.queryExecution.executedPlan)
        .find(_.relation.location.isInstanceOf[graft.sources.GraftFileIndex])
        .getOrElse(sys.error("no FileSourceScanExec over GraftFileIndex"))
    }
    // static partition pruning still reaches the manifest through the
    // DV anti-join and the rename projection
    val eqScan = scan(SnapshotTable.readCatalyst(spark, path)
      .filter(col("grp") === "g3").groupBy().count())
    val total = scan(SnapshotTable.readCatalyst(spark, path)
      .groupBy().count()).metrics("numFiles").value
    assert(eqScan.metrics("numFiles").value < total)
    // data-column pruning under the RENAMED name reaches the physical
    // stats (filter on 'points', stats stored under 'score')
    SnapshotTable.optimize(spark, path, targetFileBytes = 64L * 1024)
    SnapshotTable.deleteMoR(spark, path, col("id") === 17L)
    val afterOpt = SnapshotTable.readCatalyst(spark, path)
    assert(afterOpt.filter(col("points") < 300L).count() ===
      expected.filter(col("id") =!= 17L)
        .filter(col("points") < 300L).count())
    // DPP: a selective file-backed dim join on the partition column
    // prunes fact files at RUNTIME even with the DV mask in the plan
    SnapshotTable.readCatalyst(spark, path)
      .createOrReplaceTempView("fact_compose")
    val dimPath = freshPath("catcompose_dim")
    Seq(("g1", 1), ("g5", 1)).toDF("grp", "flag").write.parquet(dimPath)
    spark.read.parquet(dimPath).createOrReplaceTempView("dim_compose")
    val dpp = spark.sql(
      """SELECT f.grp, count(*) AS n FROM fact_compose f
        |JOIN dim_compose d ON f.grp = d.grp WHERE d.flag = 1
        |GROUP BY 1""".stripMargin)
    val exp = expected.filter(col("id") =!= 17L)
      .filter(col("grp").isin("g1", "g5"))
      .groupBy(col("grp")).count()
      .collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    assert(dpp.collect().map(r => (r.getString(0), r.getLong(1)))
      .sorted.toSeq === exp)
    val s = scan(dpp)
    assert(s.metrics.contains("staticFilesNum"),
      "DPP did not fire through the DV/mapping wrappers")
    assert(s.metrics("numFiles").value < s.metrics("staticFilesNum").value)
  }

  test("lazy FileIndex: pruned segments are never parsed") {
    val path = freshPath("lazyseg")
    spark.conf.set("spark.graft.manifest.segmentEntries", "4")
    try {
      val rows = (0L until 4000L)
        .map(i => (i, s"g${i % 5}", i * 3))
        .toDF("id", "grp", "score")
      // 5 partitions × 8 files = 40 entries → partition-aligned
      // segments of ≤4 (rel-path sort groups each lang dir together)
      SnapshotTable.create(rows.repartition(8, col("id")), path,
        partitionBy = Seq("grp"))
      def indexOf(q: org.apache.spark.sql.DataFrame)
          : graft.sources.GraftFileIndex = {
        q.collect()
        def find(p: org.apache.spark.sql.execution.SparkPlan)
            : Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
          p match {
            case a: org.apache.spark.sql.execution.adaptive
                .AdaptiveSparkPlanExec => find(a.executedPlan)
            case qs: org.apache.spark.sql.execution.adaptive
                .QueryStageExec => find(qs.plan)
            case f: org.apache.spark.sql.execution
                .FileSourceScanExec => Seq(f)
            case other => other.children.flatMap(find) ++
              other.subqueries.flatMap(find)
          }
        find(q.queryExecution.executedPlan)
          .map(_.relation.location)
          .collectFirst { case g: graft.sources.GraftFileIndex => g }
          .getOrElse(sys.error("no GraftFileIndex scan"))
      }
      // a partition-filtered query parses ONLY the matching
      // partition's segments — the rest are refuted by their uniform
      // part= tuple and never load
      val q1 = SnapshotTable.readCatalyst(spark, path)
        .filter(col("grp") === "g3")
        .agg(sum(col("score")))
      val idx1 = indexOf(q1)
      assert(idx1.segmentCount >= 8,
        s"setup: expected a segmented manifest, got ${idx1.segmentCount}")
      assert(idx1.loadedSegmentCount < idx1.segmentCount,
        s"partition filter parsed ${idx1.loadedSegmentCount} of " +
          s"${idx1.segmentCount} segments")
      assert(q1.head.getLong(0) ===
        rows.filter(col("grp") === "g3").agg(sum(col("score")))
          .head.getLong(0))
      // a data-range filter skips segments by merged id aggregates on
      // a range-clustered flat table
      val path2 = freshPath("lazyseg2")
      SnapshotTable.create(
        rows.repartitionByRange(8, col("id"))
          .sortWithinPartitions(col("id")), path2)
      val q2 = SnapshotTable.readCatalyst(spark, path2)
        .filter(col("id") < 400L).agg(count(lit(1)))
      val idx2 = indexOf(q2)
      assert(idx2.loadedSegmentCount < idx2.segmentCount,
        s"range filter parsed ${idx2.loadedSegmentCount} of " +
          s"${idx2.segmentCount} segments")
      assert(q2.head.getLong(0) === 400L)
      // unfiltered parity: lazy resolution returns everything
      assert(SnapshotTable.readCatalyst(spark, path).count() === 4000)
    } finally spark.conf.unset("spark.graft.manifest.segmentEntries")
  }

  test("batch append maintains the bloom index for its own files") {
    val path = freshPath("appendbloom")
    val rows = (0 until 2000).map(i => (i.toLong, s"t$i")).toDF("id", "tag")
    SnapshotTable.create(
      rows.filter(col("id") < 1000L).repartition(4, col("id")), path)
    SnapshotTable.indexBloom(spark, path, Seq("id"))
    // two plain batch appends, each hash-spread over the id range so
    // min/max ranges cannot prune them
    SnapshotTable.append(rows.filter(col("id") >= 1000L &&
      col("id") < 1500L).repartition(2, col("id")), path)
    SnapshotTable.append(rows.filter(col("id") >= 1500L)
      .repartition(2, col("id")), path)
    // probe a key living in the LAST appended slice: only per-append
    // bloom upkeep can prune the other files
    val (hit, kept, total) = SnapshotTable.readWherePruned(spark, path,
      col("id") === 1777L)
    assert(hit.count() === 1)
    assert(total === 8 && kept * 4 < total,
      s"append decayed the bloom index: kept $kept of $total")
  }

  test("widenColumn strips the widened column's bloom items (no false-negative pruning)") {
    val path = freshPath("widenbloom")
    val rows = (0 until 2000).map(i => (i, s"t$i")).toDF("id", "tag")
    SnapshotTable.create(rows.repartition(8, col("id")), path)
    SnapshotTable.indexBloom(spark, path, Seq("id"))
    // sanity: the bloom prunes an equality probe on the narrow type
    val (hit0, kept0, total0) = SnapshotTable.readWherePruned(spark, path,
      col("id") === 1234)
    assert(hit0.count() === 1 && kept0 < total0)
    // widening changes the column's xxhash64 domain: INT and BIGINT
    // hash differently, so carrying the bloom would false-negative on
    // EVERY probe and silently prune the matching file. The widen
    // commit must drop exactly that column's items.
    SnapshotTable.widenColumn(spark, path, "id",
      org.apache.spark.sql.types.LongType)
    val (hit1, kept1, total1) = SnapshotTable.readWherePruned(spark, path,
      col("id") === 1234L)
    assert(hit1.count() === 1,
      "row lost: stale narrow-type bloom pruned the matching file")
    assert(kept1 === total1,
      "widened column should carry NO bloom items (keep all files)")
    // deleteWhere-style paths see the row too (the advice's wrong-
    // results scenario: deleteMoR must not miss the key)
    SnapshotTable.deleteMoR(spark, path, col("id") === 1234L)
    assert(SnapshotTable.read(spark, path)
      .filter(col("id") === 1234L).count() === 0)
    // blooms on OTHER columns survive a widen of one column
    val path2 = freshPath("widenbloom2")
    SnapshotTable.create(rows.toDF("id", "tag")
      .withColumn("other", col("id") + 1)
      .repartition(8, col("id")), path2)
    SnapshotTable.indexBloom(spark, path2, Seq("id", "other"))
    SnapshotTable.widenColumn(spark, path2, "id",
      org.apache.spark.sql.types.LongType)
    val (_, keptO, totalO) = SnapshotTable.readWherePruned(spark, path2,
      col("other") === 1235)
    assert(keptO < totalO, "unwidened column's bloom was dropped too")
  }

  test("widenColumn: metadata-only int->long / float->double; appends and pruning follow") {
    val path = freshPath("widen")
    val rows = (0 until 200).map(i => (i, i.toFloat / 2, s"r$i"))
      .toDF("id", "score", "tag")
    SnapshotTable.create(rows.repartitionByRange(4, col("id")), path)
    val files0 = SnapshotTable.read(spark, path).inputFiles.toSet
    SnapshotTable.widenColumn(spark, path, "id",
      org.apache.spark.sql.types.LongType)
    SnapshotTable.widenColumn(spark, path, "score",
      org.apache.spark.sql.types.DoubleType)
    val widened = SnapshotTable.read(spark, path)
    assert(widened.inputFiles.toSet === files0) // no rewrite
    assert(widened.schema("id").dataType ===
      org.apache.spark.sql.types.LongType)
    assert(widened.schema("score").dataType ===
      org.apache.spark.sql.types.DoubleType)
    assert(widened.agg(sum(col("id"))).head.getLong(0) === 19900L)
    // appends carry the NEW types; old + new files read uniformly
    SnapshotTable.append(Seq((5000000000L, 2.5d, "big"))
      .toDF("id", "score", "tag"), path)
    val all = SnapshotTable.read(spark, path)
    assert(all.count() === 201)
    assert(all.filter(col("id") > 4000000000L).count() === 1)
    // stats pruning still works across the widening boundary
    val (dfP, kept, total) = SnapshotTable.readWherePruned(spark, path,
      col("id") <= 20L)
    assert(dfP.count() === 21 && kept < total)
    // time travel reads the ORIGINAL narrow type
    assert(SnapshotTable.read(spark, path, Some(0))
      .schema("id").dataType === org.apache.spark.sql.types.IntegerType)
    // narrowing and long->double are refused
    intercept[IllegalArgumentException] {
      SnapshotTable.widenColumn(spark, path, "id",
        org.apache.spark.sql.types.IntegerType)
    }
    intercept[IllegalArgumentException] {
      SnapshotTable.widenColumn(spark, path, "id",
        org.apache.spark.sql.types.DoubleType)
    }
  }

  test("optimizeZOrder re-lays a table for multi-dimensional skipping") {
    val path = freshPath("optz")
    val rnd = new scala.util.Random(3)
    val rows = (0 until 20000).map { i =>
      (i.toLong, rnd.nextInt(10000).toLong, rnd.nextInt(10000).toLong)
    }.toDF("id", "x", "y")
    // append-ordered: files span the whole (x, y) space
    SnapshotTable.create(rows.repartition(16), path)
    val p = col("x") < 2000L && col("y") < 2000L
    val (_, keptBefore, totalBefore) =
      SnapshotTable.readWherePruned(spark, path, p)
    assert(keptBefore === totalBefore) // nothing prunable
    SnapshotTable.optimizeZOrder(spark, path, Seq("x", "y"),
      targetFileBytes = 24L * 1024)
    val (df, kept, total) = SnapshotTable.readWherePruned(spark, path, p)
    assert(total > 4 && kept * 2 < total,
      s"z-optimize did not improve pruning: $kept of $total")
    assert(df.count() === rows.filter(p).count())
    // the pre-optimize version is still readable
    assert(SnapshotTable.read(spark, path, Some(0)).count() === 20000)
  }

  test("bloom index prunes point lookups; stays sound under churn") {
    val path = freshPath("bloom")
    val rows = (0L until 4000L).map(i =>
      (i, f"u$i%04d", (i % 7).toLong)).toDF("id", "uid", "grp")
    // hash layout: every file spans the whole id range
    SnapshotTable.create(rows.repartition(8, col("id")), path)
    val (_, keptNo, total) = SnapshotTable.readWherePruned(spark, path,
      col("id") === 1234L)
    assert(keptNo === total) // ranges can't prune a hash layout
    SnapshotTable.indexBloom(spark, path, Seq("id", "uid"))
    // long key: prunes to the one file that holds it, result exact
    val (df1, kept1, _) = SnapshotTable.readWherePruned(spark, path,
      col("id") === 1234L)
    assert(kept1 <= 2 && df1.count() === 1)
    // string key through the same index commit
    val (df2, kept2, _) = SnapshotTable.readWherePruned(spark, path,
      col("uid") === "u0777")
    assert(kept2 <= 2 && df2.count() === 1)
    // IN probes test each element; an absent key can prune to zero
    val (df3, _, _) = SnapshotTable.readWherePruned(spark, path,
      col("id").isin(10L, 20L, 999999L))
    assert(df3.count() === 2)
    val (df4, kept4, _) = SnapshotTable.readWherePruned(spark, path,
      col("id") === 999999L)
    assert(kept4 === 0 && df4.count() === 0)
    // non-equality ops ignore the bloom; unindexed columns unaffected
    assert(SnapshotTable.readWherePruned(spark, path,
      col("id") >= 3990L)._1.count() === 10)
    assert(SnapshotTable.readWherePruned(spark, path,
      col("grp") === 3L)._1.count() === rows.filter(col("grp") === 3L)
        .count())
    // churn soundness: a MoR delete keeps the bloom (masked rows are
    // false positives, never false negatives)...
    SnapshotTable.deleteMoR(spark, path, col("id") === 1234L)
    assert(SnapshotTable.readWhere(spark, path,
      col("id") === 1234L).count() === 0)
    // ...and a merge REWRITE drops the rewritten files' items, so the
    // moved row is still found (no item = keep)
    SnapshotTable.merge(Seq((2000L, "u2000", 99L))
      .toDF("id", "uid", "grp"), path, Seq("id"))
    val hit = SnapshotTable.readWhere(spark, path, col("id") === 2000L)
    assert(hit.count() === 1 &&
      hit.select("grp").head.getLong(0) === 99L)
  }

  test("format(\"graft\") data source: round trip, pushdown, time travel, DV masking") {
    import spark.implicits._
    val path = freshPath("dsv1")
    val rows = (0L until 1000L).map(i => (i, s"g${i % 4}", i * 2))
      .toDF("id", "grp", "v")
    rows.write.format("graft").option("partitionBy", "grp").save(path)
    (1000L until 1100L).map(i => (i, s"g${i % 4}", i * 2))
      .toDF("id", "grp", "v")
      .write.format("graft").mode("append").save(path)
    val df = spark.read.format("graft").load(path)
    assert(df.count() === 1100)
    // FRONT DOOR: a clean version resolves to the GraftFileIndex-
    // backed HadoopFsRelation — native columnar scan, not a V1
    // row-materializing RDD scan — and the overlapped-partition-column
    // rule keeps the mid-schema partition column in stored order
    assert(df.columns.toSeq === Seq("id", "grp", "v"))
    assert(df.queryExecution.analyzed.collectFirst {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation
    }.exists(_.isInstanceOf[
      org.apache.spark.sql.execution.datasources.HadoopFsRelation]))
    val planStr = df.filter(col("grp") === "g1" && col("id") < 100L)
      .queryExecution.executedPlan.toString
    assert(planStr.contains("FileScan parquet"), planStr)
    assert(!planStr.contains("ExistingRDD"), planStr)
    // pushed partition + range filters ride the manifest machinery
    assert(df.filter(col("grp") === "g1" && col("id") < 100L)
      .count() === 25)
    // projection pushdown: a narrow select stays correct
    assert(df.select("v").agg(sum(col("v"))).head.getLong(0) ===
      (0L until 1100L).map(_ * 2).sum)
    // time travel via options
    assert(spark.read.format("graft").option("versionAsOf", "0")
      .load(path).count() === 1000)
    // deletion vectors mask INSIDE the scan — a DV'd version keeps
    // the columnar FileScan front door (GraftParquetFileFormat
    // filters row positions in the reader, Delta-style), instead of
    // falling off to the V1 row-materializing relation
    SnapshotTable.deleteMoR(spark, path, col("id") === 7L)
    val dvd = spark.read.format("graft").load(path)
    assert(dvd.queryExecution.analyzed.collectFirst {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation
    }.exists(_.isInstanceOf[
      org.apache.spark.sql.execution.datasources.HadoopFsRelation]))
    val dvPlan = dvd.queryExecution.executedPlan.toString
    assert(dvPlan.contains("FileScan parquet"), dvPlan)
    assert(!dvPlan.contains("ExistingRDD"), dvPlan)
    assert(dvd.count() === 1099)
    assert(dvd.filter(col("id") === 7L).count() === 0)
    // overwrite + errorIfExists modes
    rows.limit(10).write.format("graft").mode("overwrite").save(path)
    assert(spark.read.format("graft").load(path).count() === 10)
    intercept[IllegalArgumentException] {
      rows.write.format("graft").save(path)
    }
    // mergeSchema append evolves additively
    (0L until 5L).map(i => (i + 5000L, s"g0", i, s"t$i"))
      .toDF("id", "grp", "v", "tag")
      .write.format("graft").mode("append")
      .option("mergeSchema", "true").save(path)
    val evolved = spark.read.format("graft").load(path)
    assert(evolved.columns.toSeq === Seq("id", "grp", "v", "tag"))
    assert(evolved.filter(col("tag").isNotNull).count() === 5)
    // plain SQL DDL binds the source too: USING graft + OPTIONS(path)
    spark.sql(s"CREATE TABLE graft_ds_spec USING graft " +
      s"OPTIONS (path '$path')")
    try {
      assert(spark.sql(
        "SELECT count(*) AS n FROM graft_ds_spec WHERE tag IS NOT NULL")
        .head.getLong(0) === 5)
    } finally spark.sql("DROP TABLE graft_ds_spec")
  }

  test("front door keeps the columnar scan through deletion vectors " +
      "and column mapping") {
    import spark.implicits._
    val path = freshPath("fdoormor")
    val rows = (0L until 2000L).map(i => (i, s"g${i % 4}", i * 3))
      .toDF("id", "grp", "score")
    rows.repartitionByRange(4, col("id")).sortWithinPartitions("id")
      .write.format("graft").save(path)
    // MoR deletes scattered across files, then a rename — the exact
    // steady state (DV churn + evolution) that used to fall off to
    // the V1 row path
    SnapshotTable.deleteMoR(spark, path,
      col("id") % 100 === 0 || col("id") === 1999L)
    SnapshotTable.renameColumn(spark, path, "score", "points")
    val fd = spark.read.format("graft").load(path)
    assert(fd.columns.toSeq === Seq("id", "grp", "points"))
    val plan = fd.filter(col("points") > 0L).queryExecution
      .executedPlan.toString
    assert(plan.contains("FileScan parquet"), plan)
    assert(!plan.contains("ExistingRDD"), plan)
    // row parity with the always-correct explicit readers
    val expect = SnapshotTable.read(spark, path)
      .orderBy("id").collect().toSeq
    assert(fd.orderBy("id").collect().toSeq === expect)
    assert(fd.count() === 2000 - 21)
    assert(fd.filter(col("id") % 100 === 0).count() === 0)
    // pushed filters on the RENAMED column stay correct (translated
    // to the physical name for row-group pruning) and keep manifest
    // pruning: the range layout means a tight filter reads < 4 files
    def scanFiles(q: org.apache.spark.sql.DataFrame): Long = {
      q.collect()
      def find(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
        p match {
          case a: org.apache.spark.sql.execution.adaptive
              .AdaptiveSparkPlanExec => find(a.executedPlan)
          case qs: org.apache.spark.sql.execution.adaptive
              .QueryStageExec => find(qs.plan)
          case f: org.apache.spark.sql.execution.FileSourceScanExec =>
            Seq(f)
          case other => other.children.flatMap(find) ++
            other.subqueries.flatMap(find)
        }
      find(q.queryExecution.executedPlan)
        .find(_.relation.location.isInstanceOf[graft.sources.GraftFileIndex])
        .getOrElse(sys.error("no FileSourceScanExec over GraftFileIndex"))
        .metrics("numFiles").value
    }
    assert(fd.filter(col("points") > 5700L).count() ===
      (1901L until 2000L count (i => i % 100 != 0 && i != 1999L)))
    assert(scanFiles(spark.read.format("graft").load(path)
      .filter(col("points") > 5700L).groupBy().count()) < 4)
    // a second MoR delete stacks its vector on the same files; the
    // in-scan mask must apply the union of both
    SnapshotTable.deleteMoR(spark, path, col("id") === 3L)
    val fd2 = spark.read.format("graft").load(path)
    assert(fd2.count() === 2000 - 22)
    assert(fd2.filter(col("id") === 3L).count() === 0)
    // user-requested row coordinates compose with the in-scan mask:
    // deleted positions are absent, survivors keep their TRUE in-file
    // positions (gaps where rows were masked)
    val pos = fd2.select(col("id"),
        col("_metadata.row_index").as("pos"))
      .filter(col("id") < 6L).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pos === Seq((1L, 1L), (2L, 2L), (4L, 4L), (5L, 5L)),
      s"got $pos")
  }

  test("front door prunes files on explicit IS NULL / IS NOT NULL " +
      "filters from the manifest null counts") {
    import spark.implicits._
    val path = freshPath("fdnull")
    // the w41 layout: nullness-clustered files, so null metadata can
    // separate them; plus an all-null column
    val rows = spark.range(2000).select(col("id"),
      when(col("id") % 10 < 3, lit(null).cast("long"))
        .otherwise(col("id") * 2).as("cents"),
      lit(null).cast("long").as("legacy"))
    SnapshotTable.create(
      rows.repartitionByRange(8, col("cents").isNull, col("id"))
        .sortWithinPartitions(col("cents").isNull, col("id")), path)
    def scanFiles(q: org.apache.spark.sql.DataFrame): Long = {
      q.collect()
      def find(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
        p match {
          case a: org.apache.spark.sql.execution.adaptive
              .AdaptiveSparkPlanExec => find(a.executedPlan)
          case qs: org.apache.spark.sql.execution.adaptive
              .QueryStageExec => find(qs.plan)
          case f: org.apache.spark.sql.execution.FileSourceScanExec =>
            Seq(f)
          case other => other.children.flatMap(find) ++
            other.subqueries.flatMap(find)
        }
      find(q.queryExecution.executedPlan)
        .find(_.relation.location.isInstanceOf[graft.sources.GraftFileIndex])
        .getOrElse(sys.error("no FileSourceScanExec over GraftFileIndex"))
        .metrics("numFiles").value
    }
    def load = spark.read.format("graft").load(path)
    val total = scanFiles(load.groupBy().count())
    assert(load.filter(col("cents").isNull).count() === 600)
    val nullScan = scanFiles(
      load.filter(col("cents").isNull).groupBy().count())
    assert(nullScan < total,
      s"explicit IS NULL kept $nullScan of $total files — null " +
        "metadata did not reach the front-door FileIndex")
    // IS NOT NULL on an all-null column refutes every file
    assert(load.filter(col("legacy").isNotNull).count() === 0)
    assert(scanFiles(
      load.filter(col("legacy").isNotNull).groupBy().count()) === 0)
  }

  test("readStream over the commit log: exactly-once across restart, " +
      "bounded triggers, append and CDC feeds") {
    import spark.implicits._
    val path = freshPath("streamsrc")
    val out = freshPath("streamout")
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_gss_ckpt").toString
    SnapshotTable.create((0L until 10L).toDF("id"), path)
    SnapshotTable.append((10L until 20L).toDF("id"), path)
    // one version per micro-batch: the commit log is consumed as two
    // bounded triggers, landing exactly-once in a result table
    def run(): Unit = graft.streaming.Streaming.runToSnapshot(spark,
      spark.readStream.format("graft")
        .option("maxVersionsPerTrigger", "1").load(path),
      out, ckpt)
    run()
    assert(SnapshotTable.read(spark, out).as[Long].collect().sorted
      === (0L until 20L).toArray)
    assert(SnapshotTable.versions(spark, out).size >= 2,
      "maxVersionsPerTrigger=1 must split the history into batches")
    // commits landing while the stream is DOWN: an append (must be
    // emitted exactly once on restart from the checkpoint) and a MoR
    // delete (the append feed must ignore the retraction, not
    // re-emit or fail)
    SnapshotTable.append((20L until 30L).toDF("id"), path)
    SnapshotTable.deleteMoR(spark, path, col("id") === 5L)
    run()
    val resumed = SnapshotTable.read(spark, out).as[Long]
      .collect().sorted
    assert(resumed === (0L until 30L).toArray,
      "restart must emit only the new commits, exactly once " +
        s"(got ${resumed.length} rows)")
    // CDC feed: same log replayed as a change feed — every insert,
    // plus the DV delete with its commit version
    val cdc = graft.streaming.Streaming.runToMemory(spark,
      spark.readStream.format("graft")
        .option("readChangeFeed", "true").load(path),
      "gss_cdc")
    val inserts = cdc.filter(col("change_type") === "insert")
      .select("id").as[Long].collect().sorted
    assert(inserts === (0L until 30L).toArray)
    val deletes = cdc.filter(col("change_type") === "delete")
      .select(col("id"), col("_commit_version")).collect()
    assert(deletes.map(_.getLong(0)).toSeq === Seq(5L))
    assert(deletes.head.getInt(1) ===
      SnapshotTable.versions(spark, path).max,
      "the delete must carry the version that committed it")
    // startingTimestamp: begin at the earliest version committed
    // at/after an instant — here, just after v1's commit instant, so
    // only the post-restart commits (v2 append, v3 delete) replay
    val ts1 = SnapshotTable.history(spark, path).collect()
      .find(_.getInt(0) == 1).get.getTimestamp(1).getTime
    val late = graft.streaming.Streaming.runToMemory(spark,
      spark.readStream.format("graft")
        .option("startingTimestamp", (ts1 + 1).toString).load(path),
      "gss_late")
    assert(late.select("id").as[Long].collect().sorted ===
      (20L until 30L).toArray,
      "startingTimestamp must replay only commits at/after the instant")
    // an instant past the head: nothing to replay, stream just waits
    val future = graft.streaming.Streaming.runToMemory(spark,
      spark.readStream.format("graft")
        .option("startingTimestamp",
          (System.currentTimeMillis + 3600000L).toString).load(path),
      "gss_future")
    assert(future.count() === 0)
    // SCHEMA EVOLUTION mid-history: a new stream defined after an
    // additive evolution replays pre-evolution versions with the new
    // column null-filled — every batch aligns to the stream's fixed
    // schema instead of failing on column-count mismatch
    SnapshotTable.append(
      Seq((100L, "x")).toDF("id", "tag"), path, evolveSchema = true)
    val evolved = graft.streaming.Streaming.runToMemory(spark,
      spark.readStream.format("graft").load(path), "gss_evolved")
    assert(evolved.columns.toSeq === Seq("id", "tag"))
    assert(evolved.filter(col("tag").isNotNull).count() === 1)
    assert(evolved.filter(col("id") < 100L && col("tag").isNull)
      .count() === 30,
      "pre-evolution versions must replay with the added column null")
  }

  test("CDC readStream over a long commit history plans bounded " +
      "batches by default") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.LongOffset
    val path = freshPath("cdclong")
    SnapshotTable.create(Seq(0L).toDF("id"), path)
    (1 until 210).foreach(v =>
      SnapshotTable.append(Seq(v.toLong).toDF("id"), path))
    assert(SnapshotTable.versions(spark, path).max === 209)
    // with NO user cap, CDC mode defaults to a bounded trigger: the
    // first offer stops at the default cap, not the head
    val src = new graft.sources.GraftStreamSource(spark.sqlContext,
      path, Map("readChangeFeed" -> "true"))
    val cap = graft.sources.GraftStreamSource.CdcDefaultVersionsPerTrigger
    assert(src.getOffset === Some(LongOffset(cap - 1)),
      "CDC default must cap the first trigger below the 210-version head")
    assert(src.getOffset === Some(LongOffset(209L)))
    assert(src.getOffset === None)
    // a capped batch's union is a balanced tree: plan depth stays
    // O(log versions), not O(versions)
    val batch = src.getBatch(None, LongOffset(cap - 1))
    def depth(p: org.apache.spark.sql.catalyst.trees.TreeNode[_]): Int =
      1 + (if (p.children.isEmpty) 0
           else p.children.map(c => depth(
             c.asInstanceOf[org.apache.spark.sql.catalyst.trees
               .TreeNode[_]])).max)
    assert(depth(batch.queryExecution.logical) < 40,
      s"got plan depth ${depth(batch.queryExecution.logical)} for a " +
        s"$cap-version CDC batch — union must be a balanced tree")
    // end to end: the full 210-version history replays exactly once
    // across the bounded triggers
    val cdc = graft.streaming.Streaming.runToMemory(spark,
      spark.readStream.format("graft")
        .option("readChangeFeed", "true").load(path), "gss_cdclong")
    val got = cdc.select(col("id"), col("_commit_version")).collect()
      .map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
    assert(got === (0 until 210).map(i => (i.toLong, i)),
      "full-history CDC replay must deliver every version exactly once")
    // an explicit user cap still wins over the default
    val wide = new graft.sources.GraftStreamSource(spark.sqlContext,
      path, Map("readChangeFeed" -> "true",
        "maxVersionsPerTrigger" -> "1000"))
    assert(wide.getOffset === Some(LongOffset(209L)))
  }

  test("maxFilesPerTrigger: sub-version offsets split large commits " +
      "into bounded batches, exactly once across restart") {
    import spark.implicits._
    import graft.sources.{GraftSourceOffset, GraftStreamSource}
    import org.apache.spark.sql.DataFrame
    val path = freshPath("filecap")
    // v0: 8 files × 100 rows — the "stream an existing table" backfill
    SnapshotTable.create((0L until 800L).toDF("id").repartition(8), path)
    // the offset walker: 8 files at cap 3 → (0,3) (0,6) (0,8), done
    val src = new GraftStreamSource(spark.sqlContext, path,
      Map("maxFilesPerTrigger" -> "3"))
    assert(src.getOffset === Some(GraftSourceOffset(0L, 3L)))
    assert(src.getOffset === Some(GraftSourceOffset(0L, 6L)))
    assert(src.getOffset === Some(GraftSourceOffset(0L, 8L)))
    assert(src.getOffset === None)
    // end to end with batch-size accounting
    val out = freshPath("filecapout")
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_filecap_ckpt").toString
    val sizes = scala.collection.mutable.ArrayBuffer.empty[Long]
    def run(): Unit = {
      val q = spark.readStream.format("graft")
        .option("maxFilesPerTrigger", "3").load(path)
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (b: DataFrame, _: Long) =>
          val n = b.count()
          sizes.synchronized { sizes += n }
          if (SnapshotTable.versions(spark, out).isEmpty)
            SnapshotTable.create(b, out)
          else SnapshotTable.append(b, out)
          ()
        }.start()
      try q.processAllAvailable() finally q.stop()
    }
    run()
    assert(sizes.count(_ > 0) >= 3,
      s"8 files at cap 3 must take >= 3 batches, got $sizes")
    assert(sizes.forall(_ <= 300L),
      s"a batch exceeded 3 files x 100 rows: $sizes")
    assert(SnapshotTable.read(spark, out).as[Long].collect().sorted
      === (0L until 800L).toArray)
    // while DOWN: a pure 2-file append (one batch), an atomic MoR
    // delete (not splittable — and the append feed emits nothing for
    // a retraction), and a 4-file append (must split again)
    SnapshotTable.append(
      (800L until 1000L).toDF("id").repartition(2), path)
    SnapshotTable.deleteMoR(spark, path, col("id") === 5L)
    SnapshotTable.append(
      (1000L until 1400L).toDF("id").repartition(4), path)
    val before = sizes.size
    run()
    assert(SnapshotTable.read(spark, out).as[Long].collect().sorted
      === (0L until 1400L).toArray,
      "restart must emit the new commits exactly once, splits included")
    val resumed = sizes.drop(before)
    assert(resumed.forall(_ <= 300L),
      s"post-restart batches exceeded the file cap: $resumed")
    // a restart with NOTHING new must emit nothing: the fresh source
    // instance's offset walk must never rewind behind the committed
    // checkpoint and re-offer consumed slices
    run()
    assert(SnapshotTable.read(spark, out).count() === 1400,
      "an idle restart re-emitted already-consumed slices")
    // ... and a subsequent small append arrives alone, exactly once
    SnapshotTable.append(Seq(5000L).toDF("id"), path)
    run()
    assert(SnapshotTable.read(spark, out).as[Long].collect().sorted
      === ((0L until 1400L) :+ 5000L).toArray)
    // flipping the option OFF against a sub-version checkpoint must
    // fail LOUDLY (a version-grained restart could silently skip the
    // unconsumed remainder of a split version)
    SnapshotTable.append(Seq(9999L).toDF("id"), path)
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      val q = spark.readStream.format("graft").load(path)
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (_: DataFrame, _: Long) => () }.start()
      try q.processAllAvailable() finally q.stop()
    }
    assert(err.getMessage.contains("maxFilesPerTrigger") ||
      Option(err.getCause).exists(_.getMessage != null) &&
        err.getCause.getMessage.contains("maxFilesPerTrigger"),
      s"expected the sub-version checkpoint refusal, got: $err")
  }

  test("maxBytesPerTrigger: a byte budget splits a version the file " +
      "cap would not, restart replay exact") {
    import spark.implicits._
    import graft.sources.{GraftSourceOffset, GraftStreamSource}
    import org.apache.spark.sql.DataFrame
    val path = freshPath("bytecap")
    // v0: 6 similar-size files
    SnapshotTable.create((0L until 600L).toDF("id").repartition(6), path)
    val sizes = SnapshotTable.manifestEntries(spark, path, 0)
      .sortBy(SnapshotTable.entryPath)
      .map(e => SnapshotTable.entryFileMeta(e).map(_._1).getOrElse(0L))
    assert(sizes.length === 6 && sizes.forall(_ > 0L),
      s"manifest must record file lengths, got $sizes")
    // a FILE cap of 100 takes the whole version in one trigger...
    val wide = new GraftStreamSource(spark.sqlContext, path,
      Map("maxFilesPerTrigger" -> "100"))
    assert(wide.getOffset === Some(GraftSourceOffset(0L, 6L)))
    // ...while a two-file byte budget splits it: files are admitted
    // while the remaining budget is positive, so the walker ships
    // exactly 3 near-equal files per trigger here
    val budget = sizes.max * 2 + 1L
    val src = new GraftStreamSource(spark.sqlContext, path,
      Map("maxBytesPerTrigger" -> budget.toString))
    assert(src.getOffset === Some(GraftSourceOffset(0L, 3L)))
    assert(src.getOffset === Some(GraftSourceOffset(0L, 6L)))
    assert(src.getOffset === None)
    // a single file larger than the budget still ships, alone
    val tiny = new GraftStreamSource(spark.sqlContext, path,
      Map("maxBytesPerTrigger" -> "1"))
    assert(tiny.getOffset === Some(GraftSourceOffset(0L, 1L)))
    // end to end with restart: exactly-once, batches bounded
    val out = freshPath("bytecapout")
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_bytecap_ckpt").toString
    val counts = scala.collection.mutable.ArrayBuffer.empty[Long]
    def run(): Unit = {
      val q = spark.readStream.format("graft")
        .option("maxBytesPerTrigger", budget.toString).load(path)
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (b: DataFrame, _: Long) =>
          counts.synchronized { counts += b.count() }
          if (SnapshotTable.versions(spark, out).isEmpty)
            SnapshotTable.create(b, out)
          else SnapshotTable.append(b, out)
          ()
        }.start()
      try q.processAllAvailable() finally q.stop()
    }
    run()
    assert(counts.count(_ > 0) >= 2,
      s"6 files under a 2-file byte budget must take >= 2 batches: $counts")
    assert(counts.forall(_ <= 300L),
      s"a batch exceeded ~3 files x 100 rows: $counts")
    // while down: one 4-file append; the restart must split it too
    SnapshotTable.append((600L until 1000L).toDF("id").repartition(4),
      path)
    run()
    assert(SnapshotTable.read(spark, out).as[Long].collect().sorted
      === (0L until 1000L).toArray,
      "restart must emit the new commit exactly once, byte-split included")
  }

  test("sub-version offset walker holds PATHS, not entry lines: a " +
      "forged 100k-add backfill version stays path-sized on the driver") {
    import spark.implicits._
    import graft.sources.GraftStreamSource
    val path = freshPath("walkmem")
    SnapshotTable.create((0L until 20L).toDF("id").repartition(2), path)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val logDir = new org.apache.hadoop.fs.Path(path, "_graft_log")
    val v0 = new org.apache.hadoop.fs.Path(logDir, "v00000000.manifest")
    val in = fs.open(v0)
    val v0Lines = try scala.io.Source.fromInputStream(in, "UTF-8")
      .getLines().toList finally in.close()
    // forge v1 = v0 + 100k synthetic adds, each entry carrying a fat
    // realistic stats payload (~300 B) the walker must NOT retain.
    // The walker never opens data files (getBatch would), so the adds
    // need no backing parquet.
    val n = 100000
    val fatStats = (0 until 12)
      .map(c => s"c$c=${"0" * 9}:${"9" * 9}").mkString(";")
    val forged = (0 until n).map(i =>
      f"files/forge$i%06d.parquet\tn=100;len=f!1048576!0;$fatStats")
    // source constructed FIRST: its schema resolves against v0's real
    // files (the forged adds have no backing parquet — the walker
    // never opens data files, which is the point of this spec)
    val src = new GraftStreamSource(spark.sqlContext, path,
      Map("maxFilesPerTrigger" -> "30000"))
    val v1 = new org.apache.hadoop.fs.Path(logDir, "v00000001.manifest")
    val out = fs.create(v1, false)
    out.write((v0Lines.filterNot(_ == "#eot=1") ++ forged ++ Seq("#eot=1"))
      .mkString("\n").getBytes("UTF-8"))
    out.close()
    val bodyChars = forged.iterator.map(_.length.toLong).sum
    // walk the full backfill: ~4 triggers over 100,002 units
    var offers = 0
    while (src.getOffset.isDefined && offers < 100) offers += 1
    assert(offers >= 4 && offers < 100, s"unexpected trigger count $offers")
    val resident = src.unitCacheResidentChars
    assert(resident > 0L, "walker cache unexpectedly empty")
    // the pin: resident chars are path-sized (~25 B/add), a small
    // fraction of the entry-line bytes the old cache held
    assert(resident < bodyChars / 5,
      s"walker retains $resident chars vs $bodyChars entry-line chars " +
        "— cache must hold paths, not whole entry lines")
    assert(resident < n.toLong * 40,
      s"walker resident chars $resident exceed a path-sized budget")
  }

  test("DvSidecar: blob cache evicts to its byte bound; descriptor " +
      "rels refuse commas") {
    import graft.sources.DvSidecar
    intercept[IllegalArgumentException] {
      DvSidecar.Desc("files/a,b.dvs", 0L, 10, 1)
    }
    val dir = java.nio.file.Files.createTempDirectory("dvsbound")
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = org.apache.hadoop.fs.FileSystem.get(conf)
    // 8 blobs of 512 positions each (~4 KB decoded apiece), cache
    // bound shrunk to ~2.5 blobs: an insert run must keep evicting —
    // the old removeEldestEntry dropped at most ONE entry per put, so
    // same-size inserts walked the total past any bound
    val sidecar = new org.apache.hadoop.fs.Path(dir.toString, "pack.dvs")
    val outS = fs.create(sidecar, false)
    val descs = (0 until 8).map { b =>
      val blob = DvSidecar.encode(
        Array.tabulate(512)(i => (b * 100000 + i * 3).toLong))
      val off = outS.getPos
      outS.write(blob)
      DvSidecar.Desc(fs.makeQualified(sidecar).toString, off,
        blob.length, 512).render
    }
    outS.close()
    val saved = DvSidecar.cacheMaxBytes
    DvSidecar.cacheMaxBytes = 10L * 1024
    try {
      descs.foreach { d =>
        val got = DvSidecar.load(d, conf)
        assert(got.length === 512)
        assert(DvSidecar.cachedBytes <= DvSidecar.cacheMaxBytes,
          s"cache ${DvSidecar.cachedBytes} B exceeds its " +
            s"${DvSidecar.cacheMaxBytes} B bound mid-run")
      }
      // loads stay correct after eviction (re-read from the sidecar)
      assert(DvSidecar.load(descs.head, conf).length === 512)
      assert(DvSidecar.cachedBytes <= DvSidecar.cacheMaxBytes)
    } finally DvSidecar.cacheMaxBytes = saved
  }

  test("vacuum is retry-idempotent: files already gone count as " +
      "reclaimed, serial and distributed") {
    import spark.implicits._
    val path = freshPath("vacretry")
    SnapshotTable.create((0L until 100L).toDF("id").repartition(4), path)
    SnapshotTable.overwrite((0L until 10L).toDF("id"), path)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    // simulate a prior partial vacuum: one doomed v0 file already gone
    val keptNames = SnapshotTable.manifestEntries(spark, path, 1)
      .map(e => new org.apache.hadoop.fs.Path(path,
        SnapshotTable.entryPath(e)).getName).toSet
    val doomed = fs.listStatus(
      new org.apache.hadoop.fs.Path(path, "files"))
      .filterNot(f => keptNames.contains(f.getPath.getName))
    assert(doomed.length === 4)
    fs.delete(doomed.head.getPath, false)
    // serial path (below the parallel threshold): must not fail on
    // the already-missing file — Hadoop delete() returns false for it
    assert(SnapshotTable.vacuum(spark, path, keep = 1, graceMs = 0) >= 3)
    assert(SnapshotTable.read(spark, path).count() === 10)
    // distributed path: force it with a threshold of 1
    val path2 = freshPath("vacretry2")
    SnapshotTable.create((0L until 100L).toDF("id").repartition(4), path2)
    SnapshotTable.overwrite((0L until 10L).toDF("id"), path2)
    val kept2 = SnapshotTable.manifestEntries(spark, path2, 1)
      .map(e => new org.apache.hadoop.fs.Path(path2,
        SnapshotTable.entryPath(e)).getName).toSet
    val doomed2 = fs.listStatus(
      new org.apache.hadoop.fs.Path(path2, "files"))
      .filterNot(f => kept2.contains(f.getPath.getName))
    fs.delete(doomed2.head.getPath, false)
    spark.conf.set("spark.graft.vacuum.parallelDeleteMinFiles", "1")
    try
      assert(SnapshotTable.vacuum(spark, path2, keep = 1, graceMs = 0) >= 3)
    finally
      spark.conf.unset("spark.graft.vacuum.parallelDeleteMinFiles")
    assert(SnapshotTable.read(spark, path2).count() === 10)
  }

  test("whole-log legacy acceptance requires FULL-budget stability: " +
      "a racing reader never blesses a momentarily-stable torn prefix") {
    import spark.implicits._
    val path = freshPath("legacyrace")
    SnapshotTable.create((0L until 50L).toDF("id"), path)
    SnapshotTable.append((50L until 80L).toDF("id"), path)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val logDir = new org.apache.hadoop.fs.Path(path, "_graft_log")
    val manifests = fs.listStatus(logDir).map(_.getPath)
      .filter(_.getName.endsWith(".manifest")).sortBy(_.getName)
    def strip(lines: Seq[String]): Seq[String] = lines.filterNot(l =>
      l.startsWith("#wv=") || l.startsWith("#eot="))
    def contentOf(p: org.apache.hadoop.fs.Path): Seq[String] = {
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8")
        .getLines().toList finally in.close()
    }
    def write(p: org.apache.hadoop.fs.Path, lines: Seq[String]): Unit = {
      if (fs.exists(p)) fs.delete(p, false)
      val o = fs.create(p, false)
      o.write((lines.mkString("\n") + "\n").getBytes("UTF-8"))
      o.close()
    }
    // ALL manifests legacy-shaped (restored-table scenario), mtimes
    // young — the exact whole-log-exemption surface of the r14 ADVICE
    val full = manifests.map(m => strip(contentOf(m)))
    manifests.zip(full).foreach { case (m, ls) => write(m, ls) }
    // the head manifest starts as a TORN PREFIX (half its file list)
    // that sits stable for ~150 ms — longer than the old 2x20 ms
    // acceptance window — before the "writer" completes it
    val head = manifests.last
    val headFull = full.last
    write(head, headFull.take(headFull.length / 2))
    spark.conf.set("spark.graft.legacyManifestMinAgeMs", "300000")
    spark.conf.set("spark.graft.manifest.tornAwaitMs", "400")
    val filler = new Thread(() => {
      Thread.sleep(150)
      write(head, headFull)
    })
    filler.start()
    val t0 = System.nanoTime()
    try {
      // the read must return the COMPLETE content (all 80 rows), not
      // the momentarily-stable 50-row torn prefix the old two-read
      // acceptance would have blessed
      assert(SnapshotTable.read(spark, path).count() === 80)
      val elapsedMs = (System.nanoTime() - t0) / 1e6
      assert(elapsedMs >= 400.0,
        f"accepted after $elapsedMs%.0f ms — whole-log acceptance " +
          "must out-wait the full tornAwaitMs stability window")
    } finally {
      filler.join()
      spark.conf.unset("spark.graft.legacyManifestMinAgeMs")
      spark.conf.unset("spark.graft.manifest.tornAwaitMs")
    }
  }

  test("registered streaming sink: creates partitioned tables, " +
      "refuses non-Append modes and layout drift") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graftsink")
    val in = base.resolve("in")
    java.nio.file.Files.createDirectories(in)
    val rows = (0L until 40L).map(i => (i, s"l${i % 2}")).toDF("id", "lang")
    val tmp = base.resolve("tmp").toString
    rows.coalesce(1).write.parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath, in.resolve("b0.parquet"))
    val out = base.resolve("t").toString
    def start(mode: String, partCols: Seq[String],
        ckpt: String) = {
      val w = spark.readStream.schema(rows.schema)
        .parquet(in.toString)
        .writeStream.format("graft").outputMode(mode)
        .option("checkpointLocation", ckpt)
      (if (partCols.nonEmpty) w.partitionBy(partCols: _*) else w)
        .start(out)
    }
    // Complete/Update refused at start (sink construction), loudly
    val err = intercept[Exception] {
      val q = start("complete", Nil, s"$base/ckpt_bad")
      try q.processAllAvailable() finally q.stop()
    }
    assert(err.getMessage.contains("Append") ||
      Option(err.getCause).exists(_.getMessage.contains("Append")),
      s"expected the Append-only refusal, got: $err")
    // Append with partitionBy: first batch creates a PARTITIONED table
    val q = start("append", Seq("lang"), s"$base/ckpt")
    try q.processAllAvailable() finally q.stop()
    assert(SnapshotTable.partitioning(spark, out) === Seq("lang"))
    assert(SnapshotTable.read(spark, out).count() === 40)
    // partition values live in directory names — an equality prune
    // keeps only the l1 files
    val (_, kept, total) = SnapshotTable.readWherePruned(spark, out,
      col("lang") === "l1")
    assert(kept < total, s"partition prune kept $kept of $total")
    // a restarted stream with a DIFFERENT partitionBy fails loudly
    rows.coalesce(1).write.parquet(tmp + "2")
    val part2 = new java.io.File(tmp + "2").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part2.toPath, in.resolve("b1.parquet"))
    val drift = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      val q2 = start("append", Seq("id"), s"$base/ckpt")
      try q2.processAllAvailable() finally q2.stop()
    }
    def anyMsg(t: Throwable): String =
      (Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(e => Option(e.getMessage).getOrElse("")) ++ Iterator(""))
        .mkString("|")
    assert(anyMsg(drift).contains("does not match the table's layout"),
      s"expected the layout-drift refusal, got: $drift")
    // a stream whose schema GAINED a column vs its target table:
    // refused by default, admitted as additive evolution under
    // mergeSchema (old rows read the new column as null) — the
    // drifting-CDC-ingestion shape. A FRESH table (batch-created, no
    // stream markers): the sink's exactly-once contract is one stream
    // per table, so reusing `out` would skip the new stream's batch 0
    // as a replay of the old stream's.
    val out2 = base.resolve("t2").toString
    SnapshotTable.create(rows, out2)
    val wide = rows.withColumn("score", col("id") * 10L)
    wide.coalesce(1).write.parquet(tmp + "3")
    val part3 = new java.io.File(tmp + "3").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    val in2 = base.resolve("in2")
    java.nio.file.Files.createDirectories(in2)
    java.nio.file.Files.move(part3.toPath, in2.resolve("b0.parquet"))
    def startWide(merge: Boolean) = spark.readStream
      .schema(wide.schema).parquet(in2.toString)
      .writeStream.format("graft")
      .option("checkpointLocation", s"$base/ckpt_wide_$merge")
      .option("mergeSchema", merge.toString)
      .start(out2)
    val refuse = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      val q3 = startWide(merge = false)
      try q3.processAllAvailable() finally q3.stop()
    }
    assert(anyMsg(refuse).contains("mergeSchema"),
      s"expected the schema-drift refusal naming the option, got: $refuse")
    val q4 = startWide(merge = true)
    try q4.processAllAvailable() finally q4.stop()
    val evolved = SnapshotTable.read(spark, out2)
    assert(evolved.columns.toSeq === Seq("id", "lang", "score"))
    assert(evolved.count() === 80)
    assert(evolved.filter(col("score").isNull).count() === 40,
      "pre-evolution rows must read the added column as null")
    assert(evolved.filter(col("score") === col("id") * 10L).count() === 40)
  }

  test("Update-mode sink: mergeKeys maintains an exact CDC replica " +
      "with no foreachBatch; exactly-once; mode/option misuse refused") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graftupsink")
    val src = s"$base/src"
    val rep = s"$base/rep"
    // source lifecycle: create, then keyed churn
    SnapshotTable.create(
      (0L until 50L).map(i => (i, i * 2.0)).toDF("id", "bal")
        .repartition(4, col("id")), src)
    SnapshotTable.merge(
      ((0L until 5L).map(i => (i, -1.0)) ++
        (100L until 105L).map(i => (i, 9.0))).toDF("id", "bal"),
      src, Seq("id"),
      removeKeys = Some(Seq(40L, 41L).toDF("id")))
    def runStream(): Unit = {
      val q = spark.readStream.format("graft")
        .option("readChangeFeed", "true")
        .option("updateImages", "true")
        .load(src)
        .writeStream.format("graft").outputMode("update")
        .option("mergeKeys", "id")
        .option("checkpointLocation", s"$base/ckpt")
        .start(rep)
      try q.processAllAvailable() finally q.stop()
    }
    runStream()
    def snap(p: String): Set[(Long, Double)] =
      SnapshotTable.read(spark, p).as[(Long, Double)].collect().toSet
    def anyMsg(t: Throwable): String =
      (Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(e => Option(e.getMessage).getOrElse("")) ++ Iterator(""))
        .mkString("|")
    assert(snap(rep) === snap(src),
      "replica must equal the source after the first drain")
    // churn while the stream is DOWN — a MERGE and a MoR delete —
    // then a restart drains the missed versions through the same
    // checkpoint and converges again
    SnapshotTable.merge(Seq((3L, 42.0), (200L, 1.0)).toDF("id", "bal"),
      src, Seq("id"))
    SnapshotTable.deleteMoR(spark, src, col("id") >= 100L && col("id") < 105L)
    runStream()
    assert(snap(rep) === snap(src),
      "replica must converge after restart over merge + MoR delete")
    // exactly-once: a third run has nothing to deliver — the replica
    // commits NO new version (replayed batches recognized and skipped)
    val vBefore = SnapshotTable.versions(spark, rep).max
    runStream()
    assert(SnapshotTable.versions(spark, rep).max === vBefore,
      "an empty redrain must not commit new replica versions")
    // misuse is refused loudly at sink construction:
    // Update without mergeKeys...
    val noKeys = intercept[Exception] {
      val q = spark.readStream.format("graft").load(src)
        .writeStream.format("graft").outputMode("update")
        .option("checkpointLocation", s"$base/ckpt_nk")
        .start(s"$base/rep_nk")
      try q.processAllAvailable() finally q.stop()
    }
    assert(noKeys.getMessage.contains("mergeKeys") ||
      Option(noKeys.getCause).exists(_.getMessage.contains("mergeKeys")),
      s"expected the mergeKeys-required refusal, got: $noKeys")
    // ...and mergeKeys under Append (silent key-dedup would be an
    // accident waiting to be discovered)
    val apKeys = intercept[Exception] {
      val q = spark.readStream.format("graft").load(src)
        .writeStream.format("graft").outputMode("append")
        .option("mergeKeys", "id")
        .option("checkpointLocation", s"$base/ckpt_ak")
        .start(s"$base/rep_ak")
      try q.processAllAvailable() finally q.stop()
    }
    assert(apKeys.getMessage.contains("update") ||
      Option(apKeys.getCause).exists(_.getMessage.contains("update")),
      s"expected the Append+mergeKeys refusal, got: $apKeys")
    // a PLAIN (non-CDC) stream in Update mode upserts by key, batch
    // by batch: two parquet files arriving as two micro-batches, the
    // second overlapping the first's keys with NEW images
    val rep2 = s"$base/rep2"
    val in2 = java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$base/in2"))
    def dropFile(rows: Seq[(Long, Double)], name: String): Unit = {
      val tmp = s"$base/tmp_$name"
      rows.toDF("id", "bal").coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath, in2.resolve(name))
    }
    def runPlain(): Unit = {
      val q = spark.readStream
        .schema(org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("bal",
            org.apache.spark.sql.types.DoubleType))))
        .option("maxFilesPerTrigger", "1").parquet(in2.toString)
        .writeStream.format("graft").outputMode("update")
        .option("mergeKeys", "id")
        .option("checkpointLocation", s"$base/ckpt2")
        .start(rep2)
      try q.processAllAvailable() finally q.stop()
    }
    dropFile((0L until 10L).map(i => (i, 1.0)), "b0.parquet")
    runPlain()
    dropFile((5L until 15L).map(i => (i, 2.0)), "b1.parquet")
    runPlain()
    assert(snap(rep2) ===
      ((0L until 5L).map(i => (i, 1.0)) ++
        (5L until 15L).map(i => (i, 2.0))).toSet,
      "plain Update mode must upsert the newest image per key")
    // ...and a batch carrying two images of ONE key is refused loudly
    // (no ordering says which image wins — the CDC shape carries one)
    dropFile(Seq((3L, 7.0), (3L, 8.0)), "b2.parquet")
    val dupErr = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      runPlain()
    }
    assert(anyMsg(dupErr).contains("multiple"),
      s"expected the duplicate-key refusal, got: $dupErr")
  }

  test("changeFeed over a 1000-commit history: driver plan stays " +
      "O(chunk), manifests read once, per-version composition exact") {
    import spark.implicits._
    val path = freshPath("cdf1k")
    // v0: a real created table (2 rows, ids 0..1)
    SnapshotTable.create(Seq(0L, 1L).toDF("id").coalesce(1), path)
    // stage 1000 one-file-per-version parquet files in ONE job:
    // partitionBy(k) writes each key's rows to its own directory
    // (hash-repartitioned on k so each key lands in exactly one task
    // → exactly one file), then move them under the table root
    val tmp = java.nio.file.Files.createTempDirectory("cdf1kstage")
    (1 to 1000).flatMap(k => Seq((k, 2L * k), (k, 2L * k + 1)))
      .toDF("k", "id")
      .repartition(1000, col("k"))
      .write.partitionBy("k").parquet(s"$tmp/files")
    val filesDir = java.nio.file.Paths.get(path, "files")
    (1 to 1000).foreach { k =>
      val dir = new java.io.File(s"$tmp/files/k=$k")
      val parts = dir.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(parts.length === 1, s"staging: k=$k has ${parts.length} files")
      java.nio.file.Files.move(parts.head.toPath,
        filesDir.resolve(f"f$k%04d.parquet"))
    }
    // forge manifests v1..v1000: version K's body = v0's entries plus
    // files f0001..f000K (pure appends — a year-of-commits shape).
    // Hand-written with the manifest grammar: witness, monotone ts,
    // v0's schema meta, entry lines, end marker.
    val logDir = java.nio.file.Paths.get(path, "_graft_log")
    val v0Lines = java.nio.file.Files.readAllLines(
      logDir.resolve("v00000000.manifest"))
    val schemaLine = v0Lines.stream()
      .filter(_.startsWith("#schema=")).findFirst().get()
    val v0Entries = (0 until v0Lines.size).map(v0Lines.get)
      .filterNot(_.startsWith("#"))
    val baseTs = System.currentTimeMillis
    (1 to 1000).foreach { v =>
      val body = v0Entries ++
        (1 to v).map(k => f"files/f$k%04d.parquet")
      val lines = Seq("#wv=2", s"#ts=${baseTs + v}", schemaLine) ++
        body ++ Seq("#eot=1")
      java.nio.file.Files.write(logDir.resolve(f"v$v%08d.manifest"),
        String.join("\n", lines: _*).getBytes("UTF-8"))
    }
    assert(SnapshotTable.versions(spark, path).size === 1001)
    // the full-range feed: 1001 per-version diffs, chunked planning
    val cf = SnapshotTable.changeFeed(spark, path, 0, Some(1000))
    // the LIVE plan is O(chunk): every 64-version chunk was pinned to
    // its computed rows, so the returned tree holds ~16 RDD leaves —
    // NOT 1001 scan subtrees (the r15 driver-explosion shape)
    val leaves = cf.queryExecution.logical.collectLeaves().size
    assert(leaves <= 32,
      s"driver plan must be chunk-bounded, found $leaves leaves")
    // composition: v0 contributes its snapshot, every version K its
    // two appended rows, all inserts
    assert(cf.count() === 2002)
    assert(cf.filter(col("change_type") =!= "insert").count() === 0)
    val off = cf.groupBy("_commit_version").count()
      .filter(col("count") =!= 2).count()
    assert(off === 0, "every version must contribute exactly 2 inserts")
    val v500 = cf.filter(col("_commit_version") === 500)
      .select("id").as[Long].collect().sorted
    assert(v500 === Array(1000L, 1001L))
    // ...and matches the public single-span API on a sampled version
    val single = SnapshotTable.changes(spark, path, 499, Some(500))
      .select("id").as[Long].collect().sorted
    assert(single === v500)
    // a sub-chunk range keeps the fully-lazy plan (w43's shape):
    // parquet scan leaves, no checkpoint materialization
    val lazyCf = SnapshotTable.changeFeed(spark, path, 998, Some(1000))
    assert(lazyCf.count() === 6)
  }

  test("changes(updateImages=true): MERGE and UPDATE-MOR commits pair " +
      "delete+insert into pre/post images; other commits pass through") {
    import spark.implicits._
    val path = freshPath("updimg")
    val rows = (0L until 100L).map(i => (i, s"u$i", i * 10.0))
      .toDF("id", "name", "bal")
    SnapshotTable.create(rows.repartition(4, col("id")), path)
    // v1: MERGE — 10 updates (bal negated-minus-one: id 0's bal of 0.0
    // must still CHANGE, else its old and new rows cancel in the
    // multiset diff and no image exists — correct feed semantics),
    // 5 fresh inserts, 5 removals
    val upd = rows.filter(col("id") < 10)
      .withColumn("bal", -col("bal") - 1.0)
    val ins = rows.filter(col("id") >= 95)
      .withColumn("id", col("id") + 1000L)
    SnapshotTable.merge(upd.unionByName(ins), path, Seq("id"),
      removeKeys = Some(Seq(90L, 91L, 92L, 93L, 94L).toDF("id")))
    val cdc1 = SnapshotTable.changes(spark, path, 0, Some(1),
      updateImages = true).collect()
    def byType(t: String) = cdc1.filter(_.getAs[String]("change_type") == t)
    assert(byType("update_preimage").map(_.getLong(0)).sorted
      === (0L until 10L).toArray,
      "every merged-matched key must retag as update_preimage")
    assert(byType("update_postimage").map(_.getLong(0)).sorted
      === (0L until 10L).toArray)
    // pre carries the OLD bal, post the new (negated) one
    assert(byType("update_preimage").map(_.getDouble(2)).forall(_ >= 0))
    assert(byType("update_postimage").map(_.getDouble(2)).forall(_ < 0))
    assert(byType("insert").map(_.getLong(0)).sorted
      === (1095L until 1100L).toArray, "fresh keys stay plain inserts")
    assert(byType("delete").map(_.getLong(0)).sorted
      === (90L until 95L).toArray, "removed keys stay plain deletes")
    // v2: UPDATE-MOR — pre/post pair on the NON-set columns
    SnapshotTable.updateMoR(spark, path, col("id") === 42L,
      Map("bal" -> lit(-1.0)))
    val cdc2 = SnapshotTable.changes(spark, path, 1, Some(2),
      updateImages = true).collect()
    assert(cdc2.length === 2)
    val pre2 = cdc2.find(_.getAs[String]("change_type") == "update_preimage")
    val post2 = cdc2.find(_.getAs[String]("change_type") == "update_postimage")
    assert(pre2.exists(r => r.getLong(0) == 42L && r.getDouble(2) == 420.0))
    assert(post2.exists(r => r.getLong(0) == 42L && r.getDouble(2) == -1.0))
    // v3: a PLAIN delete keeps its tag even under updateImages
    SnapshotTable.delete(spark, path, col("id") === 7L)
    val cdc3 = SnapshotTable.changes(spark, path, 2, Some(3),
      updateImages = true).collect()
    assert(cdc3.map(_.getAs[String]("change_type")).toSeq === Seq("delete"))
    // multi-version spans have no per-commit pairing identity: refuse
    val err = intercept[IllegalArgumentException] {
      SnapshotTable.changes(spark, path, 0, Some(3), updateImages = true)
    }
    assert(err.getMessage.contains("SINGLE commit"))
    // default (updateImages absent) is byte-for-byte the old contract
    val plain = SnapshotTable.changes(spark, path, 0, Some(1)).collect()
    assert(plain.map(_.getAs[String]("change_type")).toSet
      === Set("insert", "delete"))
  }

  test("vacuum dry run + retention floor protect a lagging stream " +
      "checkpoint; a forced vacuum then fails the stream loudly") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    val base = java.nio.file.Files.createTempDirectory("vacguard")
    val src = s"$base/src"
    val out = s"$base/out"
    val ckpt = s"$base/ckpt"
    SnapshotTable.create((0L until 10L).toDF("id"), src)
    SnapshotTable.append((10L until 20L).toDF("id"), src)
    def run(): Unit = {
      val q = spark.readStream.format("graft").load(src)
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (b: DataFrame, id: Long) =>
          SnapshotTable.appendStreamBatch(b, out, id); () }
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    run() // checkpoint now at v1
    // two more commits while the stream is DOWN — the checkpoint lags
    SnapshotTable.append((20L until 30L).toDF("id"), src)
    SnapshotTable.append((30L until 40L).toDF("id"), src)
    // dry run: an aggressive vacuum WOULD drop v0..v2 — including v1,
    // which the lagging stream's next batch (v2 = changes(1,2)) needs.
    // Nothing is deleted by the plan itself.
    assert(SnapshotTable.vacuumPlan(spark, src, keep = 1) === Seq(0, 1, 2))
    assert(SnapshotTable.versions(spark, src) === Seq(0, 1, 2, 3))
    // the retention floor: ops pin minVersionsToRetain=3, so the same
    // aggressive vacuum keeps v1..v3 and the stream resumes exactly
    spark.conf.set("spark.graft.vacuum.minVersionsToRetain", "3")
    try {
      assert(SnapshotTable.vacuumPlan(spark, src, keep = 1) === Seq(0))
      SnapshotTable.vacuum(spark, src, keep = 1, graceMs = 0)
      assert(SnapshotTable.versions(spark, src) === Seq(1, 2, 3))
      run()
      assert(SnapshotTable.read(spark, out).as[Long].collect().sorted
        === (0L until 40L).toArray,
        "the floored vacuum must leave the lagging stream's range")
    } finally
      spark.conf.unset("spark.graft.vacuum.minVersionsToRetain")
    // regress the lag and force the unsafe vacuum: the restart must
    // fail LOUDLY, never silently skip the vacuumed range
    SnapshotTable.append((40L until 50L).toDF("id"), src)
    SnapshotTable.append((50L until 60L).toDF("id"), src)
    SnapshotTable.vacuum(spark, src, keep = 1, graceMs = 0)
    assert(SnapshotTable.versions(spark, src) === Seq(5))
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      run()
    }
    def msgs(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(e => Option(e.getMessage).getOrElse("")).mkString("|")
    assert(msgs(err).toLowerCase.contains("manifest") ||
      msgs(err).contains("FileNotFound") ||
      msgs(err).toLowerCase.contains("does not exist"),
      s"expected a loud missing-manifest failure, got: ${msgs(err).take(300)}")
    // and the landed table never saw a partial or duplicated range
    assert(SnapshotTable.read(spark, out).as[Long].collect().sorted
      === (0L until 40L).toArray)
  }

  test("SQL DML: CREATE TABLE USING graft reads columnar; INSERT " +
      "INTO/OVERWRITE commit through the manifest; pinned writes refuse") {
    val path = freshPath("sqlddl")
    SnapshotTable.create(spark.range(100).toDF("id"), path)
    spark.sql(
      s"CREATE TABLE graft_sql_t USING graft OPTIONS (path '$path')")
    try {
      assert(spark.table("graft_sql_t").count() === 100)
      // the catalog table rides the same columnar front door as
      // format("graft") reads
      val plan = spark.table("graft_sql_t")
        .queryExecution.executedPlan.toString
      assert(plan.contains("FileScan") || plan.contains("Scan parquet"),
        s"expected a columnar file scan, got: ${plan.take(400)}")
      // INSERT INTO commits through the MANIFEST (InsertableRelation
      // → SnapshotTable.append): before r16 this routed through
      // Spark's raw file-source write, dropping a parquet file into
      // the table directory that NO manifest referenced — the spec
      // originally demonstrated the row silently vanishing. The
      // formats' prepareWrite refusal remains the safety net should
      // analysis ever route an insert down the file-write path.
      spark.sql("INSERT INTO graft_sql_t VALUES (999)")
      assert(SnapshotTable.versions(spark, path).max === 1,
        "the insert must land as one ordinary manifest commit")
      assert(SnapshotTable.read(spark, path)
        .filter(col("id") === 999L).count() === 1)
      assert(spark.table("graft_sql_t").count() === 101,
        "the catalog table must see the committed insert (cache " +
          "refreshed)")
      // INSERT OVERWRITE replaces the table as one overwrite commit;
      // prior versions stay time-travelable
      spark.sql(
        "INSERT OVERWRITE TABLE graft_sql_t SELECT id FROM range(7)")
      assert(spark.table("graft_sql_t").count() === 7)
      assert(SnapshotTable.read(spark, path, Some(1)).count() === 101)
      // SQL DELETE FROM → the copy-on-write delete verb, one commit
      spark.sql("DELETE FROM graft_sql_t WHERE id >= 5")
      assert(spark.table("graft_sql_t").count() === 5)
      assert(SnapshotTable.read(spark, path).count() === 5)
      // SQL UPDATE → the merge-on-read update verb (DV mask + append)
      spark.sql("UPDATE graft_sql_t SET id = id + 100 WHERE id = 0")
      assert(spark.table("graft_sql_t")
        .select("id").as[Long](org.apache.spark.sql.Encoders.scalaLong)
        .collect().sorted.toSeq === Seq(1L, 2L, 3L, 4L, 100L))
      // both were ordinary commits: the whole history time-travels
      assert(SnapshotTable.read(spark, path, Some(2)).count() === 7)
      def ids(): Seq[Long] = spark.table("graft_sql_t")
        .select("id").as[Long](org.apache.spark.sql.Encoders.scalaLong)
        .collect().sorted.toSeq
      // SQL MERGE INTO, canonical upsert: matched keys replaced,
      // unmatched inserted — one keyed-merge commit
      spark.sql("MERGE INTO graft_sql_t t USING (SELECT * FROM " +
        "VALUES (1L), (777L) AS v(id)) s ON t.id = s.id " +
        "WHEN MATCHED THEN UPDATE SET * " +
        "WHEN NOT MATCHED THEN INSERT *")
      assert(ids() === Seq(1L, 2L, 3L, 4L, 100L, 777L))
      // WHEN MATCHED THEN DELETE: matched keys removed, absent keys
      // are no-ops
      spark.sql("MERGE INTO graft_sql_t t USING (SELECT * FROM " +
        "VALUES (2L), (3L), (55555L) AS v(id)) s ON t.id = s.id " +
        "WHEN MATCHED THEN DELETE")
      assert(ids() === Seq(1L, 4L, 100L, 777L))
      // UPDATE*-only: an unmatched source key must NOT insert
      spark.sql("MERGE INTO graft_sql_t t USING (SELECT * FROM " +
        "VALUES (777L), (999L) AS v(id)) s ON t.id = s.id " +
        "WHEN MATCHED THEN UPDATE SET *")
      assert(ids() === Seq(1L, 4L, 100L, 777L),
        "update-only merge must not insert unmatched keys")
      // INSERT*-only: a matched source key must NOT update/duplicate
      spark.sql("MERGE INTO graft_sql_t t USING (SELECT * FROM " +
        "VALUES (777L), (888L) AS v(id)) s ON t.id = s.id " +
        "WHEN NOT MATCHED THEN INSERT *")
      assert(ids() === Seq(1L, 4L, 100L, 777L, 888L))
      // dynamic partition overwrite on a PARTITIONED graft table is
      // partition-scoped replacement (r17: a real verb — before, a
      // loud refusal): exactly the partitions the data touches
      // replace, everything else passes through BY REFERENCE in one
      // commit; static mode (the default, whole-table semantics) is
      // what the overwrite above exercised
      val pPath = freshPath("sqldynpart")
      import spark.implicits._
      SnapshotTable.create(
        (0L until 20L).map(i => (i, s"g${i % 2}")).toDF("id", "grp"),
        pPath, partitionBy = Seq("grp"))
      spark.sql("CREATE TABLE graft_sql_part USING graft OPTIONS " +
        s"(path '$pPath')")
      try {
        val g1Before = SnapshotTable.manifestEntries(spark, pPath, 0)
          .filter(_.contains("grp=g1")).toSet
        assert(g1Before.nonEmpty)
        spark.conf.set("spark.sql.sources.partitionOverwriteMode",
          "dynamic")
        spark.sql("INSERT OVERWRITE TABLE graft_sql_part " +
          "SELECT id, 'g0' AS grp FROM range(3)")
        // g0 holds exactly the 3 new rows, g1 is untouched
        assert(spark.table("graft_sql_part")
          .filter(col("grp") === "g0")
          .select("id").as[Long](org.apache.spark.sql.Encoders.scalaLong)
          .collect().sorted.toSeq === Seq(0L, 1L, 2L))
        assert(spark.table("graft_sql_part")
          .filter(col("grp") === "g1").count() === 10)
        // ...one commit, and the untouched partition's manifest
        // entries are VERBATIM the old ones (by-reference pass-through)
        assert(SnapshotTable.versions(spark, pPath).max === 1,
          "dynamic overwrite must land as exactly one commit")
        assert(SnapshotTable.manifestEntries(spark, pPath, 1)
          .filter(_.contains("grp=g1")).toSet === g1Before,
          "untouched partitions must pass through by reference")
        // the time-travel history prices it: v0 is intact
        assert(SnapshotTable.read(spark, pPath, Some(0)).count() === 20)
        // an empty source replaces NOTHING and commits no version
        spark.sql("INSERT OVERWRITE TABLE graft_sql_part " +
          "SELECT id, 'g0' AS grp FROM range(3) WHERE id < 0")
        assert(SnapshotTable.versions(spark, pPath).max === 1,
          "an empty dynamic overwrite must be a no-op")
        // the direct verb refuses a non-partitioned table loudly
        val flatErr = intercept[IllegalArgumentException] {
          SnapshotTable.replacePartitions(
            Seq((1L, "x")).toDF("id", "grp"), path)
        }
        assert(flatErr.getMessage.contains("PARTITIONED"))
      } finally {
        spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
        spark.sql("DROP TABLE graft_sql_part")
      }
      // conditional clauses are the RICH path since r17
      // (GraftSqlDmlSpec grades them); what still refuses loudly,
      // naming the supported grammar, is a non-equi ON condition
      val mergeErr = intercept[Exception] {
        spark.sql("MERGE INTO graft_sql_t t USING (SELECT * FROM " +
          "VALUES (1L) AS v(id)) s ON t.id > s.id " +
          "WHEN MATCHED THEN DELETE")
      }
      assert(mergeErr.getMessage.contains("graft MERGE INTO") ||
        Option(mergeErr.getCause).exists(
          _.getMessage.contains("graft MERGE INTO")),
        s"expected the merge-shape refusal, got: $mergeErr")
      // a TIME-TRAVEL-pinned read stays read-only: the pinned
      // relation refuses inserts (writing into the past is RESTORE's
      // explicit job) — the file-format refusal is the backstop
      // whatever rule resolves the write
      val pinnedErr = intercept[Exception] {
        spark.read.format("graft").option("versionAsOf", "0")
          .load(path).write.format("parquet").mode("append")
          .save(path + "_elsewhere") // control: pinned READ is fine
        spark.sql("DROP TABLE IF EXISTS graft_sql_pinned")
        spark.sql("CREATE TABLE graft_sql_pinned USING graft " +
          s"OPTIONS (path '$path', versionAsOf '0')")
        try spark.sql("INSERT INTO graft_sql_pinned VALUES (1000)")
        finally spark.sql("DROP TABLE graft_sql_pinned")
      }
      def anyMsg(t: Throwable): String =
        (Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
          .map(x => Option(x.getMessage).getOrElse("")) ++ Iterator(""))
          .mkString("|")
      assert(anyMsg(pinnedErr).contains("graft"),
        s"expected the pinned-read write refusal, got: $pinnedErr")
      assert(SnapshotTable.read(spark, path).count() === 5,
        "the refused pinned insert must land nothing")
    } finally spark.sql("DROP TABLE graft_sql_t")
  }

  test("restore: metadata-only rollback — schema reverts, stream " +
      "markers don't rewind, batch CDF prices it") {
    import spark.implicits._
    val path = freshPath("restore")
    val rows = (0L until 50L).map(i => (i, i * 2.0)).toDF("id", "bal")
    SnapshotTable.create(rows.repartition(2, col("id")), path)
    // v1: exactly-once stream batch (marker 5 rides the commit)
    SnapshotTable.appendStreamBatch(
      (50L until 60L).map(i => (i, -1.0)).toDF("id", "bal"), path, 5L)
    // v2: drop a column (metadata-only DDL)
    SnapshotTable.dropColumn(spark, path, "bal")
    assert(SnapshotTable.read(spark, path).columns.toSeq === Seq("id"))
    // v3: RESTORE to v0 — bal comes back with its ORIGINAL values,
    // read from the same old physical bytes
    assert(SnapshotTable.restore(spark, path, 0) === 3)
    val got = SnapshotTable.read(spark, path)
      .as[(Long, Double)].collect().sorted
    assert(got === (0L until 50L).map(i => (i, i * 2.0)).toArray)
    // v0 itself is untouched (restore is a NEW commit)
    assert(SnapshotTable.versions(spark, path) === Seq(0, 1, 2, 3))
    // the stream marker did NOT rewind: a replay of batch 5 is still
    // recognized and skipped (restoring the marker would double it)
    assert(SnapshotTable.committedStreamBatch(spark, path) === Some(5L))
    assert(SnapshotTable.appendStreamBatch(
      (99L to 99L).map(i => (i, 0.0)).toDF("id", "bal"), path, 5L).isEmpty)
    // restoring the head is a no-op; unknown versions refuse
    assert(SnapshotTable.restore(spark, path, 3) === 3)
    assert(SnapshotTable.versions(spark, path).max === 3)
    intercept[IllegalArgumentException] {
      SnapshotTable.restore(spark, path, 17)
    }
    // the batch change feed prices the rollback as one CHURN diff:
    // v0's untouched entries appear verbatim in both v2 and v3 and
    // CANCEL (restore is by-reference), so the v3 diff is exactly the
    // v1 stream batch's retraction — 10 deletes, nothing else
    val cdf = SnapshotTable.changeFeed(spark, path, 3).collect()
    val byType = cdf.groupBy(_.getAs[String]("change_type"))
      .view.mapValues(_.length).toMap
    assert(byType === Map("delete" -> 10),
      s"restore diff must be exactly the rolled-back batch, got $byType")
    // ...aligned to v3's RESTORED schema: the retracted rows carry
    // their original bal bytes (not nulls) even though v2 had dropped
    // the column
    assert(cdf.forall(r => r.getDouble(r.fieldIndex("bal")) == -1.0),
      "retracted batch rows must read their original bal bytes")
  }

  /** Rewrite a committed manifest's lines through the Hadoop fs API —
    * java.nio writes would desync LocalFileSystem's .crc sidecar and
    * every later read would fail with ChecksumException. */
  private def rewriteManifest(path: String, v: Int)(
      f: Seq[String] => Seq[String]): Unit = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mp = new org.apache.hadoop.fs.Path(path,
      f"_graft_log/v$v%08d.manifest")
    val in = fs.open(mp)
    val lines = try scala.io.Source.fromInputStream(in, "UTF-8")
      .getLines().toList finally in.close()
    val out = fs.create(mp, true)
    try out.write((f(lines).mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
  }

  test("restore: INVERTED meta rewind — an unknown lifecycle key " +
      "introduced after the restored version resets by default") {
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    val path = freshPath("restoreinvert")
    SnapshotTable.create((0L until 20L).toDF("id"), path)         // v0
    SnapshotTable.appendStreamBatch(
      (20L until 30L).toDF("id"), path, 7L)                       // v1
    // inject an UNKNOWN future lifecycle key into the head manifest —
    // the shape of a feature this library has not grown yet (r15's
    // reset was a hand-maintained whitelist, so a key like this
    // silently SURVIVED restores; the r16 inversion rewinds it)
    rewriteManifest(path, 1) { lines1 =>
      lines1.head +: "#futurekey=somefuturestate" +: lines1.tail
    }
    // an ordinary commit inherits it (meta is inherited chain-wide —
    // exactly why leak-by-default was dangerous)
    SnapshotTable.append((30L until 40L).toDF("id"), path)        // v2
    def metaOf(v: Int): Map[String, String] =
      java.nio.file.Files.readAllLines(java.nio.file.Paths.get(path,
        "_graft_log", f"v$v%08d.manifest")).asScala
        .filter(_.startsWith("#"))
        .map(_.drop(1).split("=", 2)).collect {
          case Array(k, v2) => k -> v2
        }.toMap
    assert(metaOf(2).get("futurekey") === Some("somefuturestate"),
      "setup: the injected key must inherit onto v2")
    // RESTORE to v0, which PREDATES the key: it must reset to the
    // empty value every parser treats as absent — no whitelist entry
    // needed
    assert(SnapshotTable.restore(spark, path, 0) === 3)
    assert(metaOf(3).get("futurekey") === Some(""),
      "a lifecycle key unknown to restore() must rewind by default")
    // ...while the named carry-forwards survive: the exactly-once
    // stream marker did NOT rewind (replaying batch 7 still skips)
    assert(SnapshotTable.committedStreamBatch(spark, path) === Some(7L))
    assert(SnapshotTable.appendStreamBatch(
      (99L to 99L).toDF("id"), path, 7L).isEmpty)
    assert(SnapshotTable.read(spark, path).count() === 20)
  }

  test("restore: rewinding to a pre-schema-era (legacy) version " +
      "drops the head's schema meta — footer inference takes over") {
    import spark.implicits._
    val path = freshPath("restorelegacyschema")
    SnapshotTable.create(
      (0L until 12L).map(i => (i, i * 2.0)).toDF("id", "bal"), path)
    // forge v0 into a pre-schema-era manifest: strip its #schema line
    // (everything else — witness, ts, eot, entries — stays intact)
    rewriteManifest(path, 0) { lines0 =>
      assert(lines0.exists(_.startsWith("#schema=")),
        "setup: no schema")
      lines0.filterNot(_.startsWith("#schema="))
    }
    // modern commits re-establish schema tracking, then DROP bal
    SnapshotTable.append(
      (12L until 15L).map(i => (i, -1.0)).toDF("id", "bal"), path)  // v1
    SnapshotTable.dropColumn(spark, path, "bal")                    // v2
    assert(SnapshotTable.read(spark, path).columns.toSeq === Seq("id"))
    // restore to the legacy v0: the ADVICE r15 scenario — under the
    // whitelist reset, 'schema' was not in the list, so the HEAD's
    // post-drop schema stayed in force and bal remained invisible
    // over the restored entries. Inverted rewind resets it; the
    // restored head reads legacy-style (footer inference) and bal is
    // BACK with its original bytes.
    assert(SnapshotTable.restore(spark, path, 0) === 3)
    val got = SnapshotTable.read(spark, path)
    assert(got.columns.toSet === Set("id", "bal"),
      s"restored legacy version must surface bal again, got " +
        got.columns.mkString(","))
    assert(got.as[(Long, Double)].collect().sorted ===
      (0L until 12L).map(i => (i, i * 2.0)).toArray)
  }

  test("Trigger.AvailableNow drains the start-time snapshot in " +
      "budget-bounded batches and self-terminates (admission control)") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.streaming.Trigger
    val base = java.nio.file.Files.createTempDirectory("availnow")
    val src = s"$base/src"
    val out = s"$base/out"
    SnapshotTable.create((0L until 800L).toDF("id").repartition(8), src)
    val batches = new java.util.concurrent.atomic.AtomicInteger
    val q = spark.readStream.format("graft")
      .option("maxFilesPerTrigger", "3").load(src)
      .writeStream.option("checkpointLocation", s"$base/ckpt")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, id: Long) =>
        if (b.count() > 0) batches.incrementAndGet()
        SnapshotTable.appendStreamBatch(b, out, id); () }
      .start()
    // AvailableNow must terminate ON ITS OWN once the start-time
    // snapshot is drained — no stop() call here
    assert(q.awaitTermination(120000),
      "AvailableNow failed to self-terminate")
    // SupportsAdmissionControl + SupportsTriggerAvailableNow (the
    // Delta V1-source pattern): without them, Spark snapshots the
    // rate-limited getOffset ONCE and a "process everything" run
    // silently drained only maxFilesPerTrigger files (measured before
    // the traits landed: 1 batch, 300 of 800 rows). With them the
    // engine pins the head at start and drains to it in bounded
    // batches.
    assert(batches.get() >= 3,
      s"8 files at cap 3 must drain in >= 3 bounded batches, " +
        s"got ${batches.get()}")
    assert(SnapshotTable.read(spark, out).as[Long].collect().sorted
      === (0L until 800L).toArray,
      "the snapshot must land exactly once across the bounded batches")
    // a LATER commit is next run's work: a fresh AvailableNow run
    // picks up exactly the delta
    SnapshotTable.append(Seq(9000L).toDF("id"), src)
    val q2 = spark.readStream.format("graft")
      .option("maxFilesPerTrigger", "3").load(src)
      .writeStream.option("checkpointLocation", s"$base/ckpt")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, id: Long) =>
        SnapshotTable.appendStreamBatch(b, out, id); () }
      .start()
    assert(q2.awaitTermination(120000))
    assert(SnapshotTable.read(spark, out).as[Long].collect().sorted
      === ((0L until 800L) :+ 9000L).toArray)
  }

  test("change feeds refuse column renames across their range — " +
      "never silent nulls; atomic versions charge the byte budget") {
    import spark.implicits._
    import graft.sources.{GraftSourceOffset, GraftStreamSource}
    import org.apache.spark.sql.DataFrame
    val path = freshPath("renamecdf")
    SnapshotTable.create((0L until 40L).toDF("a"), path)
    // a live stream captures schema [a]; the rename lands MID-RUN —
    // the next batch aligns [b] against [a] and must fail LOUDLY
    // (by-name alignment would emit the renamed column as null)
    val q = spark.readStream.format("graft").load(path)
      .writeStream.option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("renameckpt").toString)
      .foreachBatch { (_: DataFrame, _: Long) => () }.start()
    q.processAllAvailable()
    SnapshotTable.renameColumn(spark, path, "a", "b")
    SnapshotTable.append((40L until 50L).toDF("b"), path)
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable()
    }
    def msgs(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(e => Option(e.getMessage).getOrElse("")).mkString("|")
    assert(msgs(err).contains("rename"),
      s"expected the rename refusal, got: ${msgs(err).take(300)}")
    // batch CDF: a range SPANNING the rename refuses with the same
    // contract; a range past it aligns fine
    val cdfErr = intercept[IllegalStateException] {
      SnapshotTable.changeFeed(spark, path, 0).collect()
    }
    assert(cdfErr.getMessage.contains("rename"))
    assert(SnapshotTable.changeFeed(spark, path, 2)
      .select(col("b")).collect().map(_.getLong(0)).sorted
      === (40L until 50L).toArray,
      "a post-rename range must read the renamed column's real values")

    // atomic byte charge: a RUN of MoR-delete commits under
    // maxBytesPerTrigger alone must split into bounded triggers —
    // each re-masked file charges its data bytes (what the row-level
    // diff actually re-reads)
    val p2 = freshPath("atomicbytes")
    SnapshotTable.create((0L until 1000L).toDF("id").coalesce(1), p2)
    val fileLen = SnapshotTable.manifestEntries(spark, p2, 0)
      .flatMap(e => SnapshotTable.entryFileMeta(e).map(_._1)).sum
    assert(fileLen > 0L)
    (1 to 3).foreach(k =>
      SnapshotTable.deleteMoR(spark, p2, col("id") === k.toLong))
    // budget of ~one file: the first trigger takes v0's file + one
    // atomic version (progress), later triggers two atomic versions
    // each (charge L, remaining 1, next consumed, then negative)
    val src = new GraftStreamSource(spark.sqlContext, p2,
      Map("maxBytesPerTrigger" -> (fileLen + 1).toString))
    assert(src.getOffset === Some(GraftSourceOffset(1L, 1L)))
    assert(src.getOffset === Some(GraftSourceOffset(3L, 1L)))
    assert(src.getOffset === None)
    // a generous budget still takes everything in one trigger
    val wide = new GraftStreamSource(spark.sqlContext, p2,
      Map("maxBytesPerTrigger" -> (fileLen * 100).toString))
    assert(wide.getOffset === Some(GraftSourceOffset(3L, 1L)))
  }

  test("data source pushdown: Not over a partially-translatable And " +
      "must not prune matching rows") {
    import spark.implicits._
    import org.apache.spark.sql.sources.{And => FAnd, EqualTo => FEq,
      Not => FNot, StringContains}
    val path = freshPath("notpolarity")
    // grp='g1' rows split between uid containing 'x' and not: the
    // buggy translation !(grp='g1') would prune ALL g1 files, losing
    // the g1-without-x rows the original predicate keeps
    val rows = (0L until 400L)
      .map(i => (i, s"g${i % 4}", if (i % 2 == 0) s"x$i" else s"u$i"))
      .toDF("id", "grp", "uid")
    SnapshotTable.create(
      rows.repartition(8, col("grp")), path, partitionBy = Seq("grp"))
    val rel = new GraftRelation(spark.sqlContext, path,
      SnapshotTable.versions(spark, path).max)
    // the exactness contract itself: partial And is pushable but
    // inexact; Not over it refuses to push
    assert(rel.toColumn(FAnd(FEq("grp", "g1"),
      StringContains("uid", "x"))).exists(_._2 == false))
    assert(rel.toColumn(FNot(FAnd(FEq("grp", "g1"),
      StringContains("uid", "x")))).isEmpty)
    // end-to-end: a pushed Not(And(translatable, untranslatable))
    // returns a SUPERSET of the matching rows — every row satisfying
    // !(grp='g1' AND uid LIKE '%x%') must come back from the scan
    val got = rel.buildScan(Array("id", "grp", "uid"),
      Array(FNot(FAnd(FEq("grp", "g1"), StringContains("uid", "x")))))
      .collect().map(r => r.getLong(0)).toSet
    val expected = rows.collect()
      .filter(r => !(r.getString(1) == "g1" && r.getString(2).contains("x")))
      .map(_.getLong(0)).toSet
    assert(expected.subsetOf(got),
      s"pushdown dropped ${(expected -- got).size} matching rows")
  }

  test("data source read of a nonexistent table names the path") {
    val err = intercept[IllegalArgumentException] {
      spark.read.format("graft").load(freshPath("nosuchtable") + "/nope")
    }
    assert(err.getMessage.contains("no snapshot table"))
  }

  test("negated predicates prune: =!= drops a matching partition, " +
      "flipped inequalities use ranges, De Morgan composes") {
    import spark.implicits._
    val path = freshPath("notprune")
    val rows = (0L until 900L).map(i => (i, s"g${i % 3}", i * 7))
      .toDF("id", "grp", "v")
    SnapshotTable.create(rows.repartitionByRange(9, col("id"))
      .sortWithinPartitions(col("id")), path, partitionBy = Seq("grp"))
    def pruned(pr: org.apache.spark.sql.Column): (Long, Int, Int) = {
      val (df, kept, total) = SnapshotTable.readWherePruned(spark, path, pr)
      (df.count(), kept, total)
    }
    val total = SnapshotTable.fileCount(spark, path)
    // anti-filter partition prune: every g1 file drops wholesale
    val (n1, k1, t1) = pruned(col("grp") =!= "g1")
    assert(n1 === 600 && t1 === total && k1 < total,
      s"=!= kept $k1/$t1 — no partition pruned")
    // flipped inequality: !(id > 99) prunes by range like id <= 99
    val (n2, k2, _) = pruned(!(col("id") > 99L))
    val (n2e, k2e, _) = pruned(col("id") <= 99L)
    assert(n2 === 100 && n2e === 100 && k2 === k2e && k2 < total,
      s"negated inequality kept $k2 files vs $k2e for the flip")
    // De Morgan: !(grp = 'g1' OR id > 99) = grp != 'g1' AND id <= 99
    val (n3, k3, _) = pruned(!(col("grp") === "g1" || col("id") > 99L))
    assert(n3 === rows.collect()
      .count(r => r.getString(1) != "g1" && r.getLong(0) <= 99L))
    assert(k3 <= k2, "conjoined negation should prune at least as much")
    // soundness under double negation
    assert(pruned(!(!(col("grp") === "g1")))._1 === 300)
    // NOT IN drops every named partition
    val (n4, k4, _) = pruned(!col("grp").isin("g1", "g2"))
    assert(n4 === 300 && k4 < total,
      s"NOT IN kept $k4/$total — named partitions not pruned")
    // NOT IN with a NULL element is never TRUE — keeps nothing
    val (n5, k5, _) = pruned(!col("grp").isin("g1", null))
    assert(n5 === 0 && k5 === 0)
  }

  test("null-count stats prune IS NULL / IS NOT NULL soundly") {
    import spark.implicits._
    import org.apache.spark.sql.functions.when
    val path = freshPath("nullstats")
    // id-clustered: nulls of `opt` live only in the low files; `dead`
    // is null EVERYWHERE (the all-null column ranges never see)
    val rows = (0L until 800L).toDF("id")
      .withColumn("opt", when(col("id") < 100L, null)
        .otherwise(col("id") * 3))
      .withColumn("dead", lit(null).cast("long"))
    SnapshotTable.create(rows.repartitionByRange(8, col("id"))
      .sortWithinPartitions(col("id")), path)
    def pruned(pr: org.apache.spark.sql.Column): (Long, Int, Int) = {
      val (df, kept, total) = SnapshotTable.readWherePruned(spark, path, pr)
      (df.count(), kept, total)
    }
    val total = SnapshotTable.fileCount(spark, path)
    // IS NULL keeps only the null-bearing low files
    val (n1, k1, t1) = pruned(col("opt").isNull)
    assert(n1 === 100 && t1 === total && k1 < total,
      s"IS NULL kept $k1/$t1 files")
    // IS NOT NULL on the all-null column keeps NOTHING
    val (n2, k2, _) = pruned(col("dead").isNotNull)
    assert(n2 === 0 && k2 === 0,
      s"IS NOT NULL on an all-null column kept $k2 files")
    // ...but on the mixed column keeps everything that has values
    assert(pruned(col("opt").isNotNull)._1 === 700)
    // negation forms route to the same leaves
    assert(pruned(!col("opt").isNull)._1 === 700)
    assert(pruned(!col("dead").isNotNull)._1 === 800)
    // composes with ranges: null rows in the key range only
    val (n3, k3, _) = pruned(col("opt").isNull && col("id") < 50L)
    assert(n3 === 50 && k3 <= k1)
    // segment-level refutation: segmented manifest drops whole
    // segments from the summed z!/rows aggregates
    spark.conf.set("spark.graft.manifest.segmentEntries", "4")
    try {
      val path2 = freshPath("nullstatsseg")
      SnapshotTable.create(rows.repartitionByRange(16, col("id"))
        .sortWithinPartitions(col("id")), path2)
      val (df4, k4, t4) = SnapshotTable.readWherePruned(spark, path2,
        col("opt").isNull)
      assert(df4.count() === 100 && k4 < t4,
        s"segmented IS NULL kept $k4/$t4")
    } finally spark.conf.unset("spark.graft.manifest.segmentEntries")
  }

  test("zero-row staged parts are dropped, never referenced stat-less") {
    import spark.implicits._
    val path = freshPath("zerorow")
    // 3 rows over 8 partitions: 5 empty part files. A referenced
    // empty part carries NO stats, which silently aborts concurrent
    // rebase refutation (the r12 footerHarvest regression) and
    // defeats pruning — the stage must drop them.
    SnapshotTable.create(
      Seq(1L, 2L, 3L).toDF("id").repartition(8), path)
    assert(SnapshotTable.fileCount(spark, path) <= 3)
    assert(SnapshotTable.read(spark, path)
      .collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L, 3L))
    // and pruning still refutes from the kept files' cached ranges
    val (_, kept, total) = SnapshotTable.readWherePruned(spark, path,
      col("id") > 100L)
    assert(kept === 0 && total > 0)
  }

  test("legacy manifests (no eot marker, no witness) stay readable; " +
      "torn modern manifests are refused") {
    import spark.implicits._
    val path = freshPath("legacyera")
    SnapshotTable.create((0L until 50L).toDF("id"), path)
    SnapshotTable.append((50L until 80L).toDF("id"), path)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val logDir = new org.apache.hadoop.fs.Path(path, "_graft_log")
    val manifests = fs.listStatus(logDir).map(_.getPath)
      .filter(_.getName.endsWith(".manifest")).sortBy(_.getName)
    def rewrite(p: org.apache.hadoop.fs.Path,
        f: Seq[String] => Seq[String]): Unit = {
      val in = fs.open(p)
      val content = try scala.io.Source.fromInputStream(in, "UTF-8")
        .getLines().toList finally in.close()
      fs.delete(p, false)
      val out = fs.create(p, false)
      out.write((f(content).mkString("\n") + "\n").getBytes("UTF-8"))
      out.close()
    }
    // a PRE-ERA manifest: strip both the witness and the end marker —
    // exactly what a table written by an older library version looks
    // like. FRESH witness-less content must be REFUSED (it is
    // indistinguishable from an intermediate-era writer's torn or
    // in-flight manifest — #eot predates the #wv witness, so such
    // writers exist); the error names the opt-in
    rewrite(manifests.last, _.filterNot(l =>
      l.startsWith("#wv=") || l.startsWith("#eot=")))
    spark.conf.set("spark.graft.legacyManifestMinAgeMs", "300000")
    // short, injected refusal budget: the refusal arms should not
    // burn the default 3 s spin each, and must not race suite load
    spark.conf.set("spark.graft.manifest.tornAwaitMs", "400")
    try {
      val fresh = intercept[RuntimeException] {
        SnapshotTable.read(spark, path).count()
      }
      assert(fresh.getMessage.contains("allowLegacyManifests"))
      // AT-REST evidence (mtime minutes old) unlocks the legacy read
      fs.setTimes(manifests.last,
        System.currentTimeMillis - 600000L, -1)
      assert(SnapshotTable.read(spark, path).count() === 80)
      // ... as does the explicit opt-in, age notwithstanding
      fs.setTimes(manifests.last, System.currentTimeMillis, -1)
      spark.conf.set("spark.graft.allowLegacyManifests", "true")
      assert(SnapshotTable.read(spark, path).count() === 80)
    } finally {
      spark.conf.unset("spark.graft.allowLegacyManifests")
      spark.conf.unset("spark.graft.legacyManifestMinAgeMs")
    }
    try {
      // leave the manifest old so the torn-modern arm below exercises
      // the witness path, not the age gate
      fs.setTimes(manifests.last, System.currentTimeMillis - 600000L, -1)
      // a TORN modern manifest: witness present, end marker missing —
      // the reader must refuse it (bounded spin, then error). The
      // witness is re-added: the rewrite above stripped it.
      rewrite(manifests.last, ls => "#wv=2" +: ls.filterNot(l =>
        l.startsWith("#wv=") || l.startsWith("#eot=")))
      val err = intercept[RuntimeException] {
        SnapshotTable.read(spark, path).count()
      }
      assert(err.getMessage.contains("torn"))
    } finally spark.conf.unset("spark.graft.manifest.tornAwaitMs")
  }

  test("a RESTORED legacy table (all manifests witness-less, mtimes " +
      "rewritten young) is accepted on whole-log evidence") {
    import spark.implicits._
    val path = freshPath("legacyrestore")
    SnapshotTable.create((0L until 50L).toDF("id"), path)
    SnapshotTable.append((50L until 80L).toDF("id"), path)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val logDir = new org.apache.hadoop.fs.Path(path, "_graft_log")
    val manifests = fs.listStatus(logDir).map(_.getPath)
      .filter(_.getName.endsWith(".manifest")).sortBy(_.getName)
    def rewrite(p: org.apache.hadoop.fs.Path,
        f: Seq[String] => Seq[String]): Unit = {
      val in = fs.open(p)
      val content = try scala.io.Source.fromInputStream(in, "UTF-8")
        .getLines().toList finally in.close()
      fs.delete(p, false)
      val out = fs.create(p, false)
      out.write((f(content).mkString("\n") + "\n").getBytes("UTF-8"))
      out.close()
    }
    // the backup/restore shape: EVERY manifest is legacy (no witness,
    // no end marker) and every mtime is freshly rewritten — the age
    // gate alone would refuse this table forever without the opt-in
    manifests.foreach(m => rewrite(m, _.filterNot(l =>
      l.startsWith("#wv=") || l.startsWith("#eot="))))
    spark.conf.set("spark.graft.legacyManifestMinAgeMs", "300000")
    spark.conf.set("spark.graft.manifest.tornAwaitMs", "400")
    try {
      assert(SnapshotTable.read(spark, path).count() === 80)
      // counter-arm: once ANY sibling manifest is modern, young
      // witness-less content is refused again (a mid-flight
      // intermediate-era write in a live modern table must not ride
      // the restore exemption)
      rewrite(manifests.head,
        ls => ("#wv=2" +: ls) :+ "#eot=1")
      val err = intercept[RuntimeException] {
        SnapshotTable.read(spark, path).count()
      }
      assert(err.getMessage.contains("allowLegacyManifests"))
    } finally {
      spark.conf.unset("spark.graft.legacyManifestMinAgeMs")
      spark.conf.unset("spark.graft.manifest.tornAwaitMs")
    }
  }

  test("a just-created, still-empty manifest is awaited, not " +
      "accepted as a truncated legacy read") {
    import spark.implicits._
    val path = freshPath("inflight")
    SnapshotTable.create((0L until 10L).toDF("id"), path)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val logDir = new org.apache.hadoop.fs.Path(path, "_graft_log")
    val v0 = new org.apache.hadoop.fs.Path(logDir, "v00000000.manifest")
    val in = fs.open(v0)
    val content = try scala.io.Source.fromInputStream(in, "UTF-8")
      .mkString finally in.close()
    // simulate an in-flight winner: v1's NAME exists (create-exclusive
    // won) but its bytes land 500 ms later — a reader arriving in the
    // window must WAIT for the content, not accept the empty file as
    // a pre-witness legacy manifest (the r12 era-gate briefly did,
    // handing concurrent committers a truncated file list)
    val v1 = new org.apache.hadoop.fs.Path(logDir, "v00000001.manifest")
    val out = fs.create(v1, false)
    val filler = new Thread(() => {
      Thread.sleep(500)
      out.write(content.getBytes("UTF-8"))
      out.close()
    })
    // a GENEROUS injected wait budget: under full-suite 32-thread
    // load the filler thread's 500 ms sleep can fire late, and the
    // default 3 s torn budget racing it is exactly the flake shape
    // the r13 notes flagged — the reader must out-wait scheduler
    // noise, not race it
    spark.conf.set("spark.graft.manifest.tornAwaitMs", "30000")
    filler.start()
    try assert(SnapshotTable.read(spark, path).count() === 10)
    finally {
      filler.join()
      spark.conf.unset("spark.graft.manifest.tornAwaitMs")
    }
  }

  test("versionAsOf and history use in-manifest commit timestamps, " +
      "immune to filesystem mtime churn") {
    import spark.implicits._
    val path = freshPath("tsmeta")
    SnapshotTable.create((0L until 10L).toDF("id"), path)
    Thread.sleep(30)
    val betweenCommits = System.currentTimeMillis
    Thread.sleep(30)
    SnapshotTable.append((10L until 20L).toDF("id"), path)
    val histBefore = SnapshotTable.history(spark, path)
      .collect().map(r => (r.getInt(0), r.getTimestamp(1).getTime)).toSeq
    assert(SnapshotTable.versionAsOf(spark, path, betweenCommits) === 0)
    // simulate a backup/restore round-trip: every manifest's mtime
    // shifts far into the future — pre-ts designs would now claim no
    // version existed at betweenCommits
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val logDir = new org.apache.hadoop.fs.Path(path, "_graft_log")
    fs.listStatus(logDir).foreach(s =>
      fs.setTimes(s.getPath, System.currentTimeMillis + 86400000L, -1))
    assert(SnapshotTable.versionAsOf(spark, path, betweenCommits) === 0)
    val histAfter = SnapshotTable.history(spark, path)
      .collect().map(r => (r.getInt(0), r.getTimestamp(1).getTime)).toSeq
    assert(histAfter === histBefore,
      "history timestamps must come from the commits, not mtimes")
  }

  test("commit timestamps are monotone across skewed writer clocks") {
    import spark.implicits._
    val path = freshPath("tsmono")
    SnapshotTable.create((0L until 10L).toDF("id"), path)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val logDir = new org.apache.hadoop.fs.Path(path, "_graft_log")
    val v0 = new org.apache.hadoop.fs.Path(logDir, "v00000000.manifest")
    // simulate a fast-clocked writer: push v0's stamped instant ten
    // minutes into the future
    val skewed = System.currentTimeMillis + 600000L
    val in = fs.open(v0)
    val content = try scala.io.Source.fromInputStream(in, "UTF-8")
      .getLines().toList finally in.close()
    fs.delete(v0, false)
    val out = fs.create(v0, false)
    out.write(content.map(l =>
        if (l.startsWith("#ts=")) s"#ts=$skewed" else l)
      .mkString("\n").getBytes("UTF-8"))
    out.close()
    // a correctly-clocked writer commits next: its stamped instant
    // must clamp to strictly-after the skewed predecessor, or
    // versionAsOf resolves inconsistently around the pair
    SnapshotTable.append((10L until 20L).toDF("id"), path)
    val hist = SnapshotTable.history(spark, path).collect()
      .map(r => (r.getInt(0), r.getTimestamp(1).getTime)).toMap
    assert(hist(1) === skewed + 1,
      "v1's instant must clamp to v0's skewed instant + 1")
    assert(SnapshotTable.versionAsOf(spark, path, skewed) === 0)
    assert(SnapshotTable.versionAsOf(spark, path, skewed + 1) === 1)
  }

  test("timestampAsOf strings parse in the session zone, not the " +
      "JVM default") {
    import spark.implicits._
    val path = freshPath("tszone")
    SnapshotTable.create((0L until 50L).toDF("id"), path)
    Thread.sleep(30)
    val between = System.currentTimeMillis
    Thread.sleep(30)
    SnapshotTable.append((50L until 80L).toDF("id"), path)
    val prevZone = spark.conf.get("spark.sql.session.timeZone")
    // +8:45, matches no plausible JVM default: a JVM-default parse of
    // this local string lands hours away from `between` and resolves
    // to the wrong version
    spark.conf.set("spark.sql.session.timeZone", "Australia/Eucla")
    try {
      val str = java.time.Instant.ofEpochMilli(between)
        .atZone(java.time.ZoneId.of("Australia/Eucla"))
        .toLocalDateTime
        .format(java.time.format.DateTimeFormatter
          .ofPattern("yyyy-MM-dd HH:mm:ss.SSS"))
      assert(spark.read.format("graft").option("timestampAsOf", str)
        .load(path).count() === 50)
    } finally spark.conf.set("spark.sql.session.timeZone", prevZone)
  }

  test("commit atomicity is pluggable: a conditional-PUT store guards " +
      "racing commits and refuses double-commit") {
    import spark.implicits._
    val path = freshPath("logstore")
    spark.conf.set("spark.graft.logStore.class",
      classOf[ConditionalPutLogStore].getName)
    try {
      ConditionalPutLogStore.calls.set(0)
      SnapshotTable.create((0L until 20L).toDF("id"), path)
      assert(ConditionalPutLogStore.calls.get() > 0,
        "configured store was not consulted")
      // two racing appends: the registry (not create-exclusive) is
      // the guard here — each commit lands on its OWN version
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      try {
        val fs = (20L to 21L).map { base =>
          pool.submit(new java.util.concurrent.Callable[Int] {
            def call(): Int = SnapshotTable.append(
              Seq(base).toDF("id"), path)
          })
        }
        val versions = fs.map(_.get(60,
          java.util.concurrent.TimeUnit.SECONDS)).toSet
        assert(versions.size === 2, s"racing appends collided: $versions")
      } finally pool.shutdown()
      assert(SnapshotTable.read(spark, path).count() === 22)
      // the guard itself: a second createAtomic on an already-claimed
      // name is told it lost — no silent overwrite
      val store = new ConditionalPutLogStore
      val hfs = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      val probe = new org.apache.hadoop.fs.Path(
        freshPath("logstoreprobe"), "v99.manifest")
      hfs.mkdirs(probe.getParent)
      assert(store.createAtomic(hfs, probe, "a\n#eot=1\n".getBytes))
      assert(!store.createAtomic(hfs, probe, "b\n#eot=1\n".getBytes),
        "double-commit was not refused")
    } finally spark.conf.unset("spark.graft.logStore.class")
  }

  test("ObjectStoreLogStore: staged-object conditional publish guards " +
      "racing commits; a mid-commit death leaves nothing visible") {
    import spark.implicits._
    import graft.sources.ObjectStoreLogStore
    val path = freshPath("objstore")
    spark.conf.set("spark.graft.logStore.class",
      classOf[ObjectStoreLogStore].getName)
    try {
      SnapshotTable.create((0L until 20L).toDF("id"), path)
      // racing appends THROUGH the store: every commit lands on its
      // own version, all rows land
      val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
      try {
        val fus = (0 until 4).map { i =>
          pool.submit(new java.util.concurrent.Callable[Int] {
            def call(): Int =
              SnapshotTable.append(Seq(100L + i).toDF("id"), path)
          })
        }
        val versions = fus.map(_.get(120,
          java.util.concurrent.TimeUnit.SECONDS)).toSet
        assert(versions.size === 4, s"racing appends collided: $versions")
      } finally pool.shutdown()
      assert(SnapshotTable.read(spark, path).count() === 24)
      val hfs = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      // no staging orphans after clean commits (every staged NAME is
      // unlinked; published content lives on under the target name)
      val logDir = new org.apache.hadoop.fs.Path(path, "_graft_log")
      assert(hfs.listStatus(logDir)
        .count(_.getPath.getName.startsWith("staged-")) === 0)
      // the primitive itself: 8 threads racing one name — exactly one
      // winner, and the name holds the WINNER's bytes
      val store = new ObjectStoreLogStore
      val probe = new org.apache.hadoop.fs.Path(
        freshPath("objprobe"), "v00000000.manifest")
      hfs.mkdirs(probe.getParent)
      val racePool = java.util.concurrent.Executors.newFixedThreadPool(8)
      try {
        val outcomes = (0 until 8).map { i =>
          racePool.submit(new java.util.concurrent.Callable[(Int, Boolean)] {
            def call(): (Int, Boolean) = (i,
              store.createAtomic(hfs, probe, s"w$i\n#eot=1\n".getBytes))
          })
        }.map(_.get(60, java.util.concurrent.TimeUnit.SECONDS))
        val winners = outcomes.filter(_._2)
        assert(winners.size === 1,
          s"conditional publish let ${winners.size} writers win")
        val in = hfs.open(probe)
        val body = try scala.io.Source.fromInputStream(in).mkString
          finally in.close()
        assert(body === s"w${winners.head._1}\n#eot=1\n",
          "published content is not the winner's bytes")
      } finally racePool.shutdown()
      // double-commit refused after the fact too
      assert(!store.createAtomic(hfs, probe, "late\n#eot=1\n".getBytes))
      // a writer dying BETWEEN upload and publish: the staged object
      // is invisible to readers (listings match v*.manifest), the
      // version slot stays winnable, and vacuum reclaims the orphan
      val exposed = new ObjectStoreLogStore {
        def stageOnly(fs: org.apache.hadoop.fs.FileSystem,
            t: org.apache.hadoop.fs.Path, c: Array[Byte])
            : org.apache.hadoop.fs.Path = stage(fs, t, c)
      }
      val nextV = SnapshotTable.versions(spark, path).max + 1
      val orphan = exposed.stageOnly(hfs, new org.apache.hadoop.fs.Path(
        logDir, f"v$nextV%08d.manifest"), "dead\n#eot=1\n".getBytes)
      assert(SnapshotTable.versions(spark, path).max === nextV - 1,
        "a staged-but-unpublished manifest became visible")
      val nKeep = SnapshotTable.versions(spark, path).size
      SnapshotTable.vacuum(spark, path, keep = nKeep, graceMs = 0L)
      assert(!hfs.exists(orphan), "vacuum left the staging orphan")
      // the slot the dead writer was aiming at is still winnable
      assert(SnapshotTable.append(Seq(999L).toDF("id"), path) === nextV)
      assert(SnapshotTable.read(spark, path).count() === 25)
    } finally spark.conf.unset("spark.graft.logStore.class")
  }

  test("distributed manifest planning matches the driver path exactly") {
    val path = freshPath("distplan")
    spark.conf.set("spark.graft.manifest.segmentEntries", "4")
    try {
      val rows = (0L until 4000L).map(i => (i, s"g${i % 5}", i * 3))
        .toDF("id", "grp", "score")
      SnapshotTable.create(rows.repartitionByRange(16, col("id"))
        .sortWithinPartitions(col("id")), path)
      val preds = Seq(
        col("id") >= 100L && col("id") < 500L, // range: prunes segments
        col("grp") === "g3", // string equality: unprunable here
        col("id") < 0L) // empty result
      def parity(p: String, pr: org.apache.spark.sql.Column): (Int, Int) = {
        val (d1, k1, t1) = SnapshotTable.readWherePruned(spark, p, pr)
        val r1 = d1.collect().map(_.toString).sorted.toSeq
        spark.conf.set(
          "spark.graft.manifest.distributedPlanning.minFiles", "1")
        val (d2, k2, t2) =
          try SnapshotTable.readWherePruned(spark, p, pr)
          finally spark.conf.unset(
            "spark.graft.manifest.distributedPlanning.minFiles")
        assert((k2, t2) === ((k1, t1)),
          s"distributed planning diverged on $pr at $p: " +
            s"kept $k2/$t2 vs $k1/$t1")
        assert(d2.collect().map(_.toString).sorted.toSeq === r1)
        (k1, t1)
      }
      preds.foreach(parity(path, _))
      // bloom SIDECARS join the distributed job: a hash-layout point
      // lookup prunes identically to the driver path's sidecar probe
      val path2 = freshPath("distplanbloom")
      SnapshotTable.create(rows.repartition(16, col("id")), path2)
      SnapshotTable.indexBloom(spark, path2, Seq("id"))
      val (keptB, totalB) = parity(path2, col("id") === 1234L)
      assert(keptB * 4 < totalB,
        s"distributed bloom pruning ineffective: kept $keptB of $totalB")
      // a two-version manifest: the append's fresh segments sit beside
      // the create's, which it references verbatim
      val path3 = freshPath("distplanappend")
      def clustered(lo: Long, hi: Long) =
        rows.filter(col("id") >= lo && col("id") < hi)
          .repartitionByRange(8, col("id")).sortWithinPartitions(col("id"))
      SnapshotTable.create(clustered(0L, 1000L), path3)
      SnapshotTable.append(clustered(1000L, 2000L), path3)
      val fs = new org.apache.hadoop.fs.Path(path3)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      def segRels(v: Int): Seq[String] = {
        val in = fs.open(new org.apache.hadoop.fs.Path(
          path3 + f"/_graft_log/v$v%08d.manifest"))
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
          .filter(_.startsWith("@seg=")).map(_.drop(5).split("\t")(0))
          .toList
        finally in.close()
      }
      assert(segRels(0).nonEmpty &&
        segRels(0).toSet.subsetOf(segRels(1).toSet),
        "append rewrote the create's segments")
      val straddle = col("id") >= 300L && col("id") < 1400L
      Seq(straddle, col("grp") === "g2", col("id") < 0L)
        .foreach(parity(path3, _))
      // range pruning refutes whole segments from the list line
      val (_, keptR, totalR) = SnapshotTable.readWherePruned(spark,
        path3, col("id") >= 1900L)
      assert(keptR < totalR / 4,
        s"segments lost list-level pruning: $keptR/$totalR")
      // a DELETE across segments: straddling segments rewrite, the
      // rest reuse; results stay exact and both planners still agree
      SnapshotTable.delete(spark, path3, col("id") % 2 === 1L)
      assert(SnapshotTable.read(spark, path3).count() === 1000)
      assert(SnapshotTable.readWhere(spark, path3, col("id") < 10L)
        .collect().map(_.getLong(0)).sorted.toSeq ===
        Seq(0L, 2L, 4L, 6L, 8L))
      parity(path3, straddle)
      // time travel to the pre-delete version is unaffected
      assert(SnapshotTable.read(spark, path3, Some(1)).count() === 2000)
    } finally spark.conf.unset("spark.graft.manifest.segmentEntries")
  }

  test("a manifest referencing a retired parquet segment " +
      "(seg-*.entriesp) is refused by name, never parsed as text") {
    import org.apache.hadoop.fs.Path
    val path = freshPath("pqseg")
    spark.conf.set("spark.graft.manifest.segmentEntries", "4")
    try SnapshotTable.create(spark.range(0, 64, 1, 8).toDF("id"), path)
    finally spark.conf.unset("spark.graft.manifest.segmentEntries")
    val fs = new Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mpath = new Path(path, "_graft_log/v00000000.manifest")
    val body = {
      val in = fs.open(mpath)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    }
    val rel = body.linesIterator.collectFirst {
      case l if l.startsWith("@seg=") => l.drop(5).split("\t")(0)
    }.getOrElse(fail(s"no segment ref in a segmented manifest:\n$body"))
    assert(rel.endsWith(".entries"))
    // the segment keeps its (valid) text entry lines under the parquet
    // name, so a reader that fell through to text would succeed
    val pqRel = rel + "p"
    assert(fs.rename(new Path(path, rel), new Path(path, pqRel)))
    val out = fs.create(mpath, true)
    try out.write(body.replace(rel + "\t", pqRel + "\t").getBytes("UTF-8"))
    finally out.close()
    val pqName = new Path(pqRel).getName
    def refusal(e: Throwable): Option[Throwable] =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .find(_.isInstanceOf[IllegalStateException])
    val driver = intercept[Exception](SnapshotTable.read(spark, path).count())
    assert(refusal(driver).exists(_.getMessage.contains(pqName)),
      s"driver planning did not refuse $pqName: $driver")
    spark.conf.set("spark.graft.manifest.distributedPlanning.minFiles", "1")
    val tasks =
      try intercept[Exception](SnapshotTable.readWherePruned(spark, path,
        col("id") >= 0L)._1.count())
      finally spark.conf.unset(
        "spark.graft.manifest.distributedPlanning.minFiles")
    assert(tasks.getMessage.contains(pqName) &&
      tasks.getMessage.contains("no longer readable"),
      s"distributed planning did not refuse $pqName: $tasks")
  }

  test("bloom SIDECARS: segmented tables keep bitsets off the manifest parse") {
    val path = freshPath("bloomside")
    spark.conf.set("spark.graft.manifest.segmentEntries", "4")
    try {
      val rows = (0L until 4000L).map(i => (i, (i * 2).toInt, (i % 7).toLong))
        .toDF("id", "aux", "grp")
      // 16 files, hash layout on id → 4 segments; ranges prune nothing
      SnapshotTable.create(rows.repartition(16, col("id")), path)
      SnapshotTable.indexBloom(spark, path, Seq("id", "aux"))
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      def rawLines(v: Int): Seq[String] = {
        val in = fs.open(new org.apache.hadoop.fs.Path(
          path + f"/_graft_log/v$v%08d.manifest"))
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
          .toList.filter(_.nonEmpty)
        finally in.close()
      }
      val refs = rawLines(1).filter(_.startsWith("@seg="))
      assert(refs.nonEmpty && refs.forall(_.contains("bl=f!")),
        "segment refs should reference a bloom sidecar")
      // entry LINES are slim: no inline bitset survives segmentation
      // (read through segEntries — format-agnostic across text and
      // columnar segments)
      refs.foreach { r =>
        val rel = r.stripPrefix("@seg=").split("\t")(0)
        val ls = SnapshotTable.segEntries(fs, path, rel)
        assert(ls.forall(!_.contains("=b!")),
          s"segment $rel still carries inline bloom bitsets")
      }
      // point lookups prune through the sidecar — both indexed columns
      val (df1, kept1, total1) = SnapshotTable.readWherePruned(spark,
        path, col("id") === 1234L)
      assert(total1 === 16 && kept1 <= 2 && df1.count() === 1,
        s"sidecar bloom pruning regressed: kept $kept1 of $total1")
      val (df2, kept2, _) = SnapshotTable.readWherePruned(spark, path,
        col("aux") === 2468)
      assert(kept2 <= 2 && df2.count() === 1)
      // the Catalyst read prunes through the same sidecars
      val q = SnapshotTable.readCatalyst(spark, path)
        .filter(col("id") === 1234L)
      assert(q.count() === 1)
      // widening strips ONLY the widened column's sidecar blooms:
      // aux loses its false-negative hazard, id keeps pruning
      SnapshotTable.widenColumn(spark, path,
        "aux", org.apache.spark.sql.types.LongType)
      val (df3, kept3, total3) = SnapshotTable.readWherePruned(spark,
        path, col("aux") === 2468L)
      assert(kept3 === total3 && df3.count() === 1,
        "widened column should keep all files (no stale bloom)")
      val (df4, kept4, _) = SnapshotTable.readWherePruned(spark, path,
        col("id") === 1234L)
      assert(kept4 <= 2 && df4.count() === 1,
        "unwidened column lost its sidecar bloom")
      // vacuum keeps referenced sidecars, reclaims orphaned ones
      SnapshotTable.vacuum(spark, path, keep = 1, graceMs = 0L)
      val (df5, kept5, _) = SnapshotTable.readWherePruned(spark, path,
        col("id") === 1234L)
      assert(kept5 <= 2 && df5.count() === 1,
        "vacuum reclaimed a live bloom sidecar")
    } finally spark.conf.unset("spark.graft.manifest.segmentEntries")
  }

  test("merge evolveSchema: survivors null-backfill added columns and widen in place") {
    val path = freshPath("mergeevo")
    val base = (1L to 100L).map(i => (i, (i % 10).toInt, i * 3))
      .toDF("id", "q", "v")
    SnapshotTable.create(base.repartitionByRange(4, col("id"))
      .sortWithinPartitions(col("id")), path)
    SnapshotTable.indexBloom(spark, path, Seq("q"))
    // overlapping keys (40-60) + a NEW string column + q widened
    // int→bigint: survivors of the straddling files rewrite with NULL
    // tag and widened q; untouched files serve q via scan-time
    // widening and lose their stale q blooms
    val upd = (40L to 60L).map(i => (i, i % 10, i * 7, s"t$i"))
      .toDF("id", "q", "v", "tag")
    SnapshotTable.merge(upd, path, Seq("id"), evolveSchema = true)
    val got = SnapshotTable.read(spark, path)
    assert(got.schema("q").dataType ===
      org.apache.spark.sql.types.LongType)
    assert(got.count() === 100)
    assert(got.filter(col("id") === 50L).select("v", "tag").head ===
      org.apache.spark.sql.Row(350L, "t50"))
    assert(got.filter(col("id") === 10L).select("v", "tag").head ===
      org.apache.spark.sql.Row(30L, null))
    assert(got.filter(col("tag").isNotNull).count() === 21)
    assert(got.agg(sum(col("q"))).head.getLong(0) ===
      (1L to 100L).map(_ % 10).sum)
    // the widened column's narrow-type blooms are gone: an equality
    // probe keeps every file (no false-negative prune) and still hits
    val (df1, kept1, total1) = SnapshotTable.readWherePruned(spark,
      path, col("q") === 7L)
    assert(kept1 === total1,
      s"stale narrow-type bloom survived the widening merge: " +
        s"$kept1 of $total1")
    assert(df1.count() === 10)
    // a table column missing from the updates still refuses
    intercept[IllegalArgumentException] {
      SnapshotTable.merge((1L to 3L).map(i => (i, i)).toDF("id", "q"),
        path, Seq("id"), evolveSchema = true)
    }
  }

  test("schema evolution: rename/drop are metadata-only; dropped bytes never resurrect") {
    val path = freshPath("renames")
    SnapshotTable.create(
      (1L to 100L).map(i => (i, i * 10, s"p$i")).toDF("id", "v", "tag")
        .repartitionByRange(4, col("id")), path)
    val filesV0 = SnapshotTable.read(spark, path).inputFiles.toSet
    // rename: metadata-only — same files, same bytes, new logical name
    SnapshotTable.renameColumn(spark, path, "v", "value")
    val renamed = SnapshotTable.read(spark, path)
    assert(renamed.columns.toSeq === Seq("id", "value", "tag"))
    assert(renamed.inputFiles.toSet === filesV0)
    assert(renamed.agg(sum(col("value"))).head.getLong(0) === 50500L)
    assert(SnapshotTable.read(spark, path, Some(0)).columns.toSeq ===
      Seq("id", "v", "tag")) // old version keeps its own schema
    // writes after the rename land under the stable physical name
    SnapshotTable.append((101L to 110L).map(i => (i, i * 10, s"p$i"))
      .toDF("id", "value", "tag"), path)
    SnapshotTable.merge(Seq((5L, 999L, "P5")).toDF("id", "value", "tag"),
      path, Seq("id"))
    val merged = SnapshotTable.read(spark, path)
    assert(merged.count() === 110)
    assert(merged.filter(col("id") === 5L).select("value")
      .head.getLong(0) === 999L)
    assert(merged.filter(col("id") === 105L).select("value")
      .head.getLong(0) === 1050L)
    // stat pruning still works through the rename (stats are physical)
    val (dfW, keptW, totalW) = SnapshotTable.readWherePruned(spark, path,
      col("id") <= 10L)
    assert(dfW.count() === 10 && keptW < totalW)
    // drop is metadata-only; re-adding the same logical name gets a
    // FRESH physical slot, so the dropped bytes in old files stay dead
    val preDropV = SnapshotTable.versions(spark, path).max
    SnapshotTable.dropColumn(spark, path, "tag")
    assert(SnapshotTable.read(spark, path).columns.toSeq ===
      Seq("id", "value"))
    SnapshotTable.append(Seq((200L, 1L, "fresh")).toDF("id", "value", "tag"),
      path, evolveSchema = true)
    val readded = SnapshotTable.read(spark, path)
    assert(readded.columns.toSeq === Seq("id", "value", "tag"))
    assert(readded.filter(col("id") === 5L).select("tag").head.isNullAt(0))
    assert(readded.filter(col("id") === 200L).select("tag")
      .head.getString(0) === "fresh")
    // time travel across the whole evolution
    assert(SnapshotTable.read(spark, path, Some(preDropV))
      .filter(col("id") === 7L).select("tag").head.getString(0) === "p7")
    // partition columns are rename/drop-protected
    val ppath = freshPath("renpart")
    SnapshotTable.create(Seq((1L, "en"), (2L, "fr")).toDF("id", "lang"),
      ppath, partitionBy = Seq("lang"))
    intercept[IllegalArgumentException] {
      SnapshotTable.renameColumn(spark, ppath, "lang", "language")
    }
    intercept[IllegalArgumentException] {
      SnapshotTable.dropColumn(spark, ppath, "lang")
    }
  }

  test("compaction materializes deletion vectors: dv-free manifest, no resurrection") {
    val path = freshPath("dvmat")
    val df = (0 until 1000).map(i => (i.toLong, i % 10)).toDF("id", "m")
    SnapshotTable.create(df.repartition(3), path)
    SnapshotTable.deleteMoR(spark, path, col("m") === 3)
    SnapshotTable.deleteMoR(spark, path, col("m") === 7)
    assert(SnapshotTable.pendingDvEntries(spark, path) > 0)
    val preV = SnapshotTable.versions(spark, path).max
    assert(SnapshotTable.optimizeIncremental(spark, path,
      targetFileBytes = 512L * 1024 * 1024).nonEmpty)
    // mask materialized: no dv refs, deleted rows do NOT resurrect
    assert(SnapshotTable.pendingDvEntries(spark, path) === 0)
    val got = SnapshotTable.read(spark, path)
    assert(got.count() === 800)
    assert(got.filter(col("m") === 3 || col("m") === 7).count() === 0)
    // the pre-optimize version still time-travels WITH its mask
    assert(SnapshotTable.read(spark, path, Some(preV)).count() === 800)
    assert(SnapshotTable.pendingDvEntries(spark, path, Some(preV)) > 0)
    // a single DV'd file rewrites even when no file is "small":
    // target 1 byte makes nothing small, only the dv backlog qualifies
    SnapshotTable.deleteMoR(spark, path, col("m") === 5)
    assert(SnapshotTable.optimizeIncremental(spark, path,
      targetFileBytes = 1L).nonEmpty)
    assert(SnapshotTable.pendingDvEntries(spark, path) === 0)
    assert(SnapshotTable.read(spark, path).count() === 700)
  }

  test("runToSnapshot ingests a file stream into a snapshot table, batch per file") {
    import spark.implicits._
    val src = java.nio.file.Files.createTempDirectory("snapsrc").toString +
      "/events"
    (1L to 300L).toDF("id").repartition(3).write.parquet(src)
    val path = freshPath("ingest")
    val schema = spark.read.parquet(src).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
    graft.streaming.Streaming.runToSnapshot(spark, stream, path,
      java.nio.file.Files.createTempDirectory("snapckpt").toString)
    assert(SnapshotTable.read(spark, path).count() === 300)
    assert(SnapshotTable.read(spark, path).agg(sum(col("id")))
      .collect()(0).getLong(0) === (1L to 300L).sum)
    // one commit per micro-batch, each carrying its marker
    assert(SnapshotTable.committedStreamBatch(spark, path).exists(_ >= 1L))
  }

  test("property: merge equals the relational model on random tables and updates") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260813)
    for (caseIdx <- 0 until 8) {
      val path = freshPath(s"prop$caseIdx")
      // random base (unique keys, random layout) + random updates with
      // a mix of matched keys, new keys, and duplicate update keys
      val n = 50 + rnd.nextInt(150)
      val base = (1 to n).map(_ => rnd.nextInt(500).toLong).distinct
        .map(k => (k, s"base_$k"))
      val nUpd = 1 + rnd.nextInt(40)
      val updates = (1 to nUpd).map { i =>
        val k = rnd.nextInt(600).toLong
        (k, s"upd${i}_$k")
      }
      SnapshotTable.create(
        base.toDF("id", "s").repartition(1 + rnd.nextInt(6)), path)
      SnapshotTable.merge(updates.toDF("id", "s"), path, Seq("id"))
      val got = SnapshotTable.read(spark, path).collect()
        .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
      val updKeys = updates.map(_._1).toSet
      val want = (base.filterNot(r => updKeys(r._1)) ++ updates)
        .sorted.toSeq
      assert(got === want, s"case $caseIdx diverged")
    }
  }

  test("upsertToSnapshot converges to one row per key across batches") {
    import spark.implicits._
    // a CDC-ish source: three files, later files re-key earlier rows
    val src = java.nio.file.Files.createTempDirectory("upsrc").toString +
      "/cdc"
    (1L to 40L).map(i => (i, s"v0_$i")).toDF("id", "s")
      .coalesce(1).write.parquet(src)
    (21L to 60L).map(i => (i, s"v1_$i")).toDF("id", "s")
      .coalesce(1).write.mode("append").parquet(src)
    (41L to 80L).map(i => (i, s"v2_$i")).toDF("id", "s")
      .coalesce(1).write.mode("append").parquet(src)
    val path = freshPath("upsert")
    val schema = spark.read.parquet(src).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
    graft.streaming.Streaming.upsertToSnapshot(spark, stream, path,
      Seq("id"), java.nio.file.Files.createTempDirectory("upckpt").toString)
    val got = SnapshotTable.read(spark, path).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // exactly one row per key; later batches won on overlapping keys.
    // NOTE: the file-stream batch ORDER over pre-existing files is not
    // contractual, so assert set convergence (one winner per key, each
    // value one of the versions written for that key), not which batch
    // won a contested key
    assert(got.size === 80)
    assert((1L to 20L).forall(i => got(i) == s"v0_$i"))
    assert((61L to 80L).forall(i => got(i) == s"v2_$i"))
    assert((21L to 40L).forall(i => Set(s"v0_$i", s"v1_$i")(got(i))))
    assert((41L to 60L).forall(i => Set(s"v1_$i", s"v2_$i")(got(i))))
    // replaying the whole stream with the SAME table (fresh checkpoint
    // restarts batch ids at 0) is fully skipped by the markers
    val vBefore = SnapshotTable.versions(spark, path).max
    graft.streaming.Streaming.upsertToSnapshot(spark,
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(src), path, Seq("id"),
      java.nio.file.Files.createTempDirectory("upckpt2").toString)
    assert(SnapshotTable.versions(spark, path).max === vBefore)
    assert(SnapshotTable.read(spark, path).count() === 80)
  }

  test("cdcApplyToSnapshot folds batches to latest-per-key; replay is skipped") {
    import spark.implicits._
    // a versioned change stream: each row carries its version stamp,
    // later files strictly newer (the CDC batch-order contract)
    val src = java.nio.file.Files.createTempDirectory("cdcsrc").toString +
      "/feed"
    (1L to 40L).map(i => (i, 0L, s"v0_$i")).toDF("id", "ver", "s")
      .coalesce(1).write.parquet(src)
    (21L to 60L).map(i => (i, 1L, s"v1_$i")).toDF("id", "ver", "s")
      .coalesce(1).write.mode("append").parquet(src)
    // two rows for one key INSIDE a batch: the per-batch reduction must
    // keep only the newest (ver 3 beats ver 2)
    (Seq((55L, 2L, "dup_old"), (55L, 3L, "dup_new")) ++
      (61L to 70L).map(i => (i, 2L, s"v2_$i")))
      .toDF("id", "ver", "s")
      .coalesce(1).write.mode("append").parquet(src)
    val path = freshPath("cdcapply")
    val schema = spark.read.parquet(src).schema
    def feed() = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
    graft.streaming.Streaming.cdcApplyToSnapshot(spark, feed(), path,
      keyCols = Seq("id"), orderCols = Seq("ver"),
      checkpoint = java.nio.file.Files.createTempDirectory("cdcck").toString)
    val got = SnapshotTable.read(spark, path).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(got.size === 70) // one row per key, ever
    // within-batch dedup kept the newest version of the contested key
    assert(got(55L) === ((3L, "dup_new")))
    // uncontested keys carry their only version
    assert((1L to 20L).forall(i => got(i) === ((0L, s"v0_$i"))))
    assert((61L to 70L).forall(i => got(i) === ((2L, s"v2_$i"))))
    // full replay with a fresh checkpoint (batch ids restart at 0) is
    // recognized by the in-commit markers and applies nothing
    val vBefore = SnapshotTable.versions(spark, path).max
    graft.streaming.Streaming.cdcApplyToSnapshot(spark, feed(), path,
      keyCols = Seq("id"), orderCols = Seq("ver"),
      checkpoint = java.nio.file.Files.createTempDirectory("cdcck2").toString)
    assert(SnapshotTable.versions(spark, path).max === vBefore)
    assert(SnapshotTable.read(spark, path).count() === 70)
  }

  test("partitioned create/append round-trip partition values exactly") {
    val path = freshPath("part")
    val docs = Seq(
      (1L, "en", 10L), (2L, "en", 20L), (3L, "fr", 30L),
      (4L, "de", 40L), (5L, "fr", 50L)
    ).toDF("id", "lang", "n")
    SnapshotTable.create(docs, path, partitionBy = Seq("lang"))
    assert(SnapshotTable.partitioning(spark, path) === Seq("lang"))
    // data files nest under one directory per partition value
    val files = SnapshotTable.read(spark, path).inputFiles
    assert(files.nonEmpty && files.forall(_.contains("/lang=")))
    // partition column reconstitutes with the stored schema's type and
    // the table's column order
    val back = SnapshotTable.read(spark, path)
    assert(back.columns.toSeq === Seq("id", "lang", "n"))
    assert(back.schema("lang").dataType ===
      org.apache.spark.sql.types.StringType)
    assert(back.orderBy("id").collect().map(r =>
      (r.getLong(0), r.getString(1), r.getLong(2))).toSeq ===
      Seq((1L, "en", 10L), (2L, "en", 20L), (3L, "fr", 30L),
        (4L, "de", 40L), (5L, "fr", 50L)))
    // append inherits the layout without restating it
    SnapshotTable.append(Seq((6L, "en", 60L)).toDF("id", "lang", "n"), path)
    val after = SnapshotTable.read(spark, path)
    assert(after.count() === 6)
    assert(after.inputFiles.forall(_.contains("/lang=")))
    // time travel still sees the version-0 rows only
    assert(SnapshotTable.read(spark, path, Some(0)).count() === 5)
  }

  test("readWhere prunes whole partitions from the manifest alone") {
    val path = freshPath("prune1")
    val docs = (1L to 400L).map(i =>
      (i, if (i % 4 == 0) "en" else if (i % 4 == 1) "fr"
          else if (i % 4 == 2) "de" else "es", i * 10))
      .toDF("id", "lang", "n")
    SnapshotTable.create(docs.repartition(4), path,
      partitionBy = Seq("lang"))
    val (df, kept, total) = SnapshotTable.readWherePruned(spark, path,
      col("lang") === "en")
    val enFiles = SnapshotTable.read(spark, path).inputFiles
      .count(_.contains("/lang=en/"))
    assert(total > kept, s"expected pruning, kept $kept of $total")
    assert(kept === enFiles)
    // pruned result identical to the unpruned filter
    val expected = SnapshotTable.read(spark, path)
      .filter(col("lang") === "en").orderBy("id").collect().toSeq
    assert(df.orderBy("id").collect().toSeq === expected)
    // IN over two partitions keeps exactly those directories
    val (df2, kept2, _) = SnapshotTable.readWherePruned(spark, path,
      col("lang").isin("en", "fr"))
    val efFiles = SnapshotTable.read(spark, path).inputFiles
      .count(f => f.contains("/lang=en/") || f.contains("/lang=fr/"))
    assert(kept2 === efFiles)
    assert(df2.count() === 200)
  }

  test("readWhere prunes flat files by cached key ranges (incl. timestamps)") {
    val path = freshPath("prune2")
    val rows = (0L until 1000L).map { i =>
      (i, java.sql.Timestamp.valueOf(f"2024-${1 + (i / 100)}%02d-01 00:00:00"),
        s"v$i")
    }.toDF("id", "ts", "s")
    // range-clustered layout: each staged file covers a narrow id/ts span
    SnapshotTable.create(
      rows.repartitionByRange(10, col("id")).sortWithinPartitions("id"),
      path)
    val (dfId, keptId, totalId) = SnapshotTable.readWherePruned(spark, path,
      col("id") >= 950L)
    assert(totalId === 10 && keptId === 1, s"kept $keptId of $totalId")
    assert(dfId.count() === 50)
    // timestamp ranges are cached as micros and prune the same way
    val (dfTs, keptTs, _) = SnapshotTable.readWherePruned(spark, path,
      col("ts") >= lit(java.sql.Timestamp.valueOf("2024-09-15 00:00:00")))
    assert(keptTs <= 3, s"timestamp skip kept $keptTs files")
    assert(dfTs.count() ===
      SnapshotTable.read(spark, path)
        .filter(col("ts") >= lit(
          java.sql.Timestamp.valueOf("2024-09-15 00:00:00"))).count())
    // a predicate the metadata can't reason about keeps everything and
    // still answers correctly
    val (dfS, keptS, totalS) = SnapshotTable.readWherePruned(spark, path,
      col("s").contains("99"))
    assert(keptS === totalS)
    assert(dfS.count() ===
      SnapshotTable.read(spark, path).filter(col("s").contains("99")).count())
    // a range excluding every file yields an empty, schema-correct frame
    val (dfNone, keptNone, _) = SnapshotTable.readWherePruned(spark, path,
      col("id") > 10000L)
    assert(keptNone === 0 && dfNone.count() === 0)
    assert(dfNone.columns.toSeq === Seq("id", "ts", "s"))
  }

  test("merge, delete, and compaction keep a partitioned layout intact") {
    val path = freshPath("partlife")
    val docs = (1L to 100L).map(i =>
      (i, if (i % 2 == 0) "en" else "fr", i)).toDF("id", "lang", "n")
    SnapshotTable.create(docs, path, partitionBy = Seq("lang"))
    // merge updates rows in one partition, inserts into another
    val ups = Seq((2L, "en", 999L), (101L, "fr", 101L))
      .toDF("id", "lang", "n")
    SnapshotTable.merge(ups, path, Seq("id"))
    val m = SnapshotTable.read(spark, path)
    assert(m.count() === 101)
    assert(m.filter(col("id") === 2L).select("n").as[Long].head() === 999L)
    assert(m.inputFiles.forall(_.contains("/lang=")),
      "merge rewrite must re-stage partitioned")
    // partition values survive the rewrite byte-exactly
    assert(m.filter(col("lang").isNull).count() === 0)
    assert(m.filter(col("lang") === "en").count() === 50)
    // delete from one partition
    SnapshotTable.delete(spark, path, col("id") <= 10L && col("lang") === "fr")
    val d = SnapshotTable.read(spark, path)
    assert(d.count() === 101 - 5)
    assert(d.inputFiles.forall(_.contains("/lang=")))
    // change feed across the delete is well-typed and exact
    val vs = SnapshotTable.versions(spark, path)
    val ch = SnapshotTable.changes(spark, path, vs(vs.length - 2))
    assert(ch.filter(col("change_type") === "delete").count() === 5)
    // vacuum reclaims superseded partitioned files (recursive listing)
    val beforeVac = SnapshotTable.read(spark, path).inputFiles.toSet
    val dropped = SnapshotTable.vacuum(spark, path, keep = 1, graceMs = 0L)
    assert(dropped > 0, "vacuum must reclaim the rewritten partition files")
    assert(SnapshotTable.read(spark, path).inputFiles.toSet === beforeVac)
    assert(SnapshotTable.read(spark, path).count() === 96)
  }

  test("overwrite can change the partition layout; old versions keep theirs") {
    val path = freshPath("relayout")
    val rows = (1L to 60L).map(i =>
      (i, if (i % 2 == 0) "en" else "fr", if (i % 3 == 0) "a" else "b"))
      .toDF("id", "lang", "src")
    SnapshotTable.create(rows, path, partitionBy = Seq("lang"))
    assert(SnapshotTable.partitioning(spark, path) === Seq("lang"))
    // re-lay by src
    SnapshotTable.overwrite(rows, path, repartitionBy = Some(Seq("src")))
    assert(SnapshotTable.partitioning(spark, path) === Seq("src"))
    val now = SnapshotTable.read(spark, path)
    assert(now.inputFiles.forall(_.contains("/src=")))
    assert(now.count() === 60)
    assert(now.filter(col("lang") === "en").count() === 30)
    // time travel: version 0 still reads its lang layout correctly
    val v0 = SnapshotTable.read(spark, path, Some(0))
    assert(v0.inputFiles.forall(_.contains("/lang=")))
    assert(v0.filter(col("lang") === "en").count() === 30)
    // de-partition
    SnapshotTable.overwrite(rows, path, repartitionBy = Some(Nil))
    assert(SnapshotTable.partitioning(spark, path) === Nil)
    assert(SnapshotTable.read(spark, path).count() === 60)
    // appends after the re-layout follow the new layout
    SnapshotTable.append(Seq((61L, "de", "c")).toDF("id", "lang", "src"), path)
    assert(SnapshotTable.read(spark, path).count() === 61)
  }

  test("readAsOf resolves commit-time timestamps to versions") {
    val path = freshPath("asof")
    import org.apache.hadoop.fs.Path
    val fs = new Path(path).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    def mtime(v: Int) = fs.getFileStatus(new Path(path,
      f"_graft_log/v$v%08d.manifest")).getModificationTime
    SnapshotTable.create(spark.range(10).toDF("id"), path)
    Thread.sleep(30)
    SnapshotTable.append(spark.range(10, 25).toDF("id"), path)
    Thread.sleep(30)
    SnapshotTable.overwrite(spark.range(100, 103).toDF("id"), path)
    val (t0, t1, t2) = (mtime(0), mtime(1), mtime(2))
    assert(t0 < t1 && t1 < t2, "commit mtimes must be distinct here")
    // exactly-at and between-commits instants resolve to the version a
    // reader at that instant saw
    assert(SnapshotTable.versionAsOf(spark, path, t0) === 0)
    assert(SnapshotTable.versionAsOf(spark, path, (t0 + t1) / 2) === 0)
    assert(SnapshotTable.versionAsOf(spark, path, t1) === 1)
    assert(SnapshotTable.versionAsOf(spark, path, t2 + 1000) === 2)
    assert(SnapshotTable.readAsOf(spark, path, t1).count() === 25)
    assert(SnapshotTable.readAsOf(spark, path, t2).count() === 3)
    // before the table existed: clean failure
    intercept[IllegalArgumentException] {
      SnapshotTable.versionAsOf(spark, path, t0 - 10000)
    }
  }

  test("composite-key merge on a partitioned table stays exact") {
    // partition column doubles as a merge key: level-1 pruning uses
    // BOTH the id range and the partition value set; the result must
    // be byte-identical to the relational upsert regardless
    val path = freshPath("partmerge")
    val rows = (1L to 200L).map(i =>
      (if (i % 2 == 0) "en" else "fr", i, i * 10)).toDF("lang", "id", "n")
    SnapshotTable.create(rows.repartition(4), path,
      partitionBy = Seq("lang"))
    val ups = Seq(("en", 2L, 999L), ("en", 201L, 201L), ("fr", 7L, 777L))
      .toDF("lang", "id", "n")
    SnapshotTable.merge(ups, path, Seq("lang", "id"))
    val got = SnapshotTable.read(spark, path)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    assert(got.size === 201)
    assert(got(("en", 2L)) === 999L && got(("fr", 7L)) === 777L)
    assert(got(("en", 201L)) === 201L)
    assert(got(("en", 4L)) === 40L && got(("fr", 1L)) === 10L)
    // all-null key values match nothing and insert as new rows
    val nullUp = Seq((null.asInstanceOf[String], null.asInstanceOf[
      java.lang.Long], java.lang.Long.valueOf(5L))).toDF("lang", "id", "n")
      .select(col("lang"), col("id").cast("long").as("id"),
        col("n").cast("long").as("n"))
    SnapshotTable.merge(nullUp, path, Seq("lang", "id"))
    assert(SnapshotTable.read(spark, path).count() === 202)
  }

  test("deleteMoR masks rows via deletion vectors; zero data files rewritten") {
    val path = freshPath("mor")
    val rows = (0L until 400L).map(i => (i, i % 7, s"p_$i"))
      .toDF("id", "grp", "s")
    SnapshotTable.create(
      rows.repartitionByRange(4, col("id")).sortWithinPartitions("id"), path)
    val filesV0 = SnapshotTable.read(spark, path).inputFiles.toSet
    val v1 = SnapshotTable.deleteMoR(spark, path, col("id") < 50L)
    assert(v1 === 1)
    // the data file set is IDENTICAL — the vector is a per-file blob
    // in a packed .dvs sidecar referenced from the affected entries,
    // never a scanned input
    val filesV1 = SnapshotTable.read(spark, path).inputFiles.toSet
    assert(filesV1 === filesV0)
    val refs1 = SnapshotTable.manifestEntries(spark, path, 1)
      .flatMap(SnapshotTable.entryDvs)
    assert(refs1.nonEmpty && refs1.forall(graft.sources.DvSidecar.isBlobRef))
    assert(refs1.map(r => graft.sources.DvSidecar.parse(r).rel).distinct
      .forall(_.endsWith(".dvs")))
    assert(SnapshotTable.read(spark, path).count() === 350)
    assert(SnapshotTable.read(spark, path)
      .filter(col("id") < 50L).count() === 0)
    // time travel: v0 still sees everything
    assert(SnapshotTable.read(spark, path, Some(0)).count() === 400)
    // second MoR delete on the SAME file accumulates coordinates
    val v2 = SnapshotTable.deleteMoR(spark, path, col("id") >= 50L &&
      col("id") < 80L)
    assert(v2 === 2)
    assert(SnapshotTable.read(spark, path).count() === 320)
    assert(SnapshotTable.read(spark, path)
      .filter(col("id") < 80L).count() === 0)
    val filesV2 = SnapshotTable.read(spark, path).inputFiles.toSet
    assert(filesV2 === filesV0)
    // the second commit re-staged the touched files' cumulative blobs:
    // every ref is fresh (uuid sidecars are immutable, never appended)
    val refs2 = SnapshotTable.manifestEntries(spark, path, 2)
      .flatMap(SnapshotTable.entryDvs)
    assert(refs2.nonEmpty && refs2.intersect(refs1).isEmpty)
    // no-match predicate commits nothing
    assert(SnapshotTable.deleteMoR(spark, path, lit(false)) === 2)
    // NULL predicate keeps rows (TRUE-only semantics)
    val vNull = SnapshotTable.deleteMoR(spark, path,
      when(col("id") < 90L, lit(null).cast("boolean")).otherwise(lit(false)))
    assert(vNull === 2)
  }

  test("masked rows never resurrect through merge, compaction, or the feed") {
    val path = freshPath("morlife")
    val rows = (0L until 300L).map(i => (i, i * 10)).toDF("id", "n")
    SnapshotTable.create(
      rows.repartitionByRange(3, col("id")).sortWithinPartitions("id"), path)
    SnapshotTable.deleteMoR(spark, path, col("id") < 40L) // v1
    // change feed across the MoR delete: exact delete row images
    val ch = SnapshotTable.changes(spark, path, 0, Some(1))
    assert(ch.filter(col("change_type") === "delete").count() === 40)
    assert(ch.filter(col("change_type") === "insert").count() === 0)
    assert(ch.filter(col("change_type") === "delete")
      .agg(max(col("id"))).head().getLong(0) === 39L)
    // merge touching a masked file: rewrite applies the vector and
    // must not resurrect masked rows
    val ups = Seq((10L, 111L), (50L, 555L)).toDF("id", "n")
    SnapshotTable.merge(ups, path, Seq("id")) // v2
    val m = SnapshotTable.read(spark, path)
    assert(m.count() === 261) // 260 survivors + re-inserted id 10; 50 updates in place
    assert(m.filter(col("id") === 10L).select("n").as[Long].head() === 111L)
    assert(m.filter(col("id") === 11L).count() === 0) // still deleted
    assert(m.filter(col("id") === 50L).select("n").as[Long].head() === 555L)
    // optimize materializes the mask: content identical, no dv refs
    SnapshotTable.optimize(spark, path, targetFileBytes = 512L * 1024 * 1024)
    val o = SnapshotTable.read(spark, path)
    assert(o.count() === 261)
    assert(o.filter(col("id") === 11L).count() === 0)
    // vacuum keeps the table readable and reclaims superseded files
    val dropped = SnapshotTable.vacuum(spark, path, keep = 1, graceMs = 0L)
    assert(dropped > 0)
    assert(SnapshotTable.read(spark, path).count() === 261)
  }

  test("streaming ingest into a PRE-CREATED partitioned table keeps the layout") {
    import spark.implicits._
    // first-batch table creation is unpartitioned by design; a caller
    // wanting partitioned streaming ingest pre-creates the table and
    // every batch append inherits the layout from the log meta
    val src = java.nio.file.Files.createTempDirectory("pstream").toString +
      "/feed"
    (1L to 30L).map(i => (i, if (i % 2 == 0) "en" else "fr"))
      .toDF("id", "lang").coalesce(1).write.parquet(src)
    (31L to 60L).map(i => (i, if (i % 3 == 0) "de" else "en"))
      .toDF("id", "lang").coalesce(1).write.mode("append").parquet(src)
    val path = freshPath("pingest")
    SnapshotTable.create(
      Seq.empty[(Long, String)].toDF("id", "lang").coalesce(1),
      path, partitionBy = Seq("lang"))
    val schema = spark.read.parquet(src).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
    graft.streaming.Streaming.runToSnapshot(spark, stream, path,
      java.nio.file.Files.createTempDirectory("pingck").toString)
    val got = SnapshotTable.read(spark, path)
    assert(got.count() === 60)
    // every ingested file landed under a partition directory
    assert(got.inputFiles.filter(_.contains("files/"))
      .forall(_.contains("/lang=")))
    // partition pruning works on the ingested data
    val (df, kept, total) = SnapshotTable.readWherePruned(spark, path,
      col("lang") === "de")
    assert(kept < total)
    assert(df.count() === 10)
  }

  test("updateMoR rewrites no data file; old images masked, new appended") {
    val path = freshPath("updmor")
    val rows = (0L until 200L).map(i => (i, i, s"v_$i")).toDF("id", "n", "s")
    SnapshotTable.create(
      rows.repartitionByRange(4, col("id")).sortWithinPartitions("id"), path)
    val filesV0 = SnapshotTable.read(spark, path).inputFiles.toSet
    val v1 = SnapshotTable.updateMoR(spark, path, col("id") < 30L,
      Map("n" -> (col("n") * 100), "s" -> lit("updated")))
    assert(v1 === 1)
    val now = SnapshotTable.read(spark, path)
    assert(now.count() === 200)
    assert(now.filter(col("id") === 5L).select("n").as[Long].head() === 500L)
    assert(now.filter(col("id") === 5L).select("s").as[String].head()
      === "updated")
    assert(now.filter(col("id") === 100L).select("n").as[Long].head()
      === 100L)
    // original files all still referenced; the only scanned addition
    // is the one new-images file (the vector is a .dvs sidecar
    // referenced from the masked entries, not a scanned input)
    val filesV1 = now.inputFiles.toSet
    assert(filesV0.subsetOf(filesV1) && filesV1.size === filesV0.size + 1)
    assert(SnapshotTable.manifestEntries(spark, path, 1)
      .flatMap(SnapshotTable.entryDvs)
      .forall(graft.sources.DvSidecar.isBlobRef))
    // v0 frozen
    assert(SnapshotTable.read(spark, path, Some(0))
      .filter(col("id") === 5L).select("n").as[Long].head() === 5L)
    // the feed shows the update as delete+insert pairs
    val ch = SnapshotTable.changes(spark, path, 0, Some(1))
    assert(ch.filter(col("change_type") === "delete").count() === 30)
    assert(ch.filter(col("change_type") === "insert").count() === 30)
    assert(ch.filter(col("change_type") === "insert" &&
      col("s") === "updated").count() === 30)
    // assignments referencing own columns compose with a second update
    SnapshotTable.updateMoR(spark, path, col("id") < 10L,
      Map("n" -> (col("n") + 1)))
    assert(SnapshotTable.read(spark, path)
      .filter(col("id") === 5L).select("n").as[Long].head() === 501L)
    assert(SnapshotTable.read(spark, path).count() === 200)
    // unknown assignment column refuses
    intercept[IllegalArgumentException] {
      SnapshotTable.updateMoR(spark, path, lit(true), Map("zz" -> lit(1)))
    }
  }

  test("deletion vectors compose with partition pruning and readWhere") {
    val path = freshPath("morpart")
    val rows = (0L until 200L).map(i =>
      (i, if (i % 2 == 0) "en" else "fr")).toDF("id", "lang")
    SnapshotTable.create(rows, path, partitionBy = Seq("lang"))
    SnapshotTable.deleteMoR(spark, path,
      col("lang") === "en" && col("id") < 100L)
    assert(SnapshotTable.read(spark, path).count() === 150)
    val (df, kept, total) = SnapshotTable.readWherePruned(spark, path,
      col("lang") === "en")
    assert(kept < total)
    assert(df.count() === 50) // 100 en rows minus 50 masked
    assert(df.filter(col("id") < 100L).count() === 0)
    // vacuum with everything referenced: the vector must survive
    SnapshotTable.vacuum(spark, path, keep = 1, graceMs = 0L)
    assert(SnapshotTable.read(spark, path).count() === 150)
  }

  test("string stats prune string-clustered flat files soundly") {
    val path = freshPath("strstats")
    val langs = Seq("de", "en", "es", "fr", "zh")
    val rows = (0L until 500L).map(i => (i, langs((i / 100).toInt),
      s"payload_$i")).toDF("id", "lang", "s")
    SnapshotTable.create(
      rows.repartitionByRange(5, col("lang")).sortWithinPartitions("lang"),
      path)
    val (df, kept, total) = SnapshotTable.readWherePruned(spark, path,
      col("lang") === "en")
    assert(total === 5 && kept <= 2, s"kept $kept of $total")
    assert(df.count() === 100)
    // range predicate on strings
    val (dfR, keptR, _) = SnapshotTable.readWherePruned(spark, path,
      col("lang") >= "es")
    assert(keptR <= 3)
    assert(dfR.count() === 300)
    // prefix predicate
    val (dfP, keptP, _) = SnapshotTable.readWherePruned(spark, path,
      col("lang").startsWith("e"))
    assert(keptP <= 3)
    assert(dfP.count() === 200)
    // non-ASCII literal: kept conservatively, still correct
    val (dfU, _, _) = SnapshotTable.readWherePruned(spark, path,
      col("lang") === "éé")
    assert(dfU.count() === 0)
  }

  test("string-stat byte bounds truncate soundly; non-ASCII columns prune") {
    import java.nio.charset.StandardCharsets.UTF_8
    def b(s: String) = s.getBytes(UTF_8)
    // truncation: lo is a byte prefix (<= true min), hi increments the
    // last non-0xFF byte (>= true max)
    val long = "a" * 40 + "zzz"
    assert(SnapshotTable.boundLo(b(long)).sameElements(b("a" * 32)))
    assert(SnapshotTable.boundHi(b(long)).get.sameElements(b("a" * 31 + "b")))
    assert(SnapshotTable.boundHi(b("short")).get.sameElements(b("short")))
    // an all-0xFF prefix cannot be upper-bounded by truncation
    assert(SnapshotTable.boundHi(Array.fill(40)(0xFF.toByte)).isEmpty)
    assert(SnapshotTable.bytesLe(SnapshotTable.boundLo(b(long)), b(long)))
    assert(SnapshotTable.bytesLe(b(long), SnapshotTable.boundHi(b(long)).get))
    // multi-byte truncation may split a codepoint: still a valid bound
    val uni = "é" * 30 // 60 UTF-8 bytes; byte 32 splits a codepoint
    assert(SnapshotTable.bytesLe(SnapshotTable.boundLo(b(uni)), b(uni)))
    assert(SnapshotTable.bytesLe(b(uni), SnapshotTable.boundHi(b(uni)).get))
    // a non-ASCII string column (the reference's own période/dû
    // schema shape) now gets byte bounds and PRUNES, exactly
    val path = freshPath("nonascii")
    val rows = (0L until 100L).map(i =>
      (i, if (i < 50) "café" else "thé")).toDF("id", "s")
    SnapshotTable.create(rows.repartitionByRange(2, col("s")), path)
    val (df, kept, total) = SnapshotTable.readWherePruned(spark, path,
      col("s") === "café")
    assert(total === 2 && kept === 1, s"kept $kept of $total")
    assert(df.count() === 50)
    // range + prefix predicates on the non-ASCII axis stay exact
    val (dfR, keptR, _) = SnapshotTable.readWherePruned(spark, path,
      col("s") >= "thé")
    assert(keptR === 1 && dfR.count() === 50)
    val (dfP, keptP, _) = SnapshotTable.readWherePruned(spark, path,
      col("s").startsWith("caf"))
    assert(keptP === 1 && dfP.count() === 50)
    // merge on a non-ASCII string key prunes to the matching file
    SnapshotTable.merge(
      Seq((7L, "café")).toDF("id", "s"), path, Seq("id", "s"))
    assert(SnapshotTable.read(spark, path).count() === 100)
  }

  test("property: readWhere equals read+filter over randomized predicates") {
    // the pruning evaluator is only allowed to SKIP I/O, never change
    // results - pin that over a generated predicate space crossing
    // partition values, numeric/timestamp ranges, string bounds,
    // nulls, and shapes it cannot reason about
    val path = freshPath("propwhere")
    val rows = (0L until 600L).map { i =>
      (i,
        if (i % 3 == 0) "en" else if (i % 3 == 1) "fr" else "de",
        if (i % 17 == 0) null else s"w${i % 50}%03d",
        java.sql.Timestamp.valueOf(f"2024-01-${1 + (i % 28)}%02d 00:00:00"),
        (i * 13 % 1000).toDouble / 10.0)
    }.toDF("id", "lang", "word", "ts", "score")
    SnapshotTable.create(
      rows.repartitionByRange(6, col("id")).sortWithinPartitions("id"),
      path, partitionBy = Seq("lang"))
    val preds: Seq[org.apache.spark.sql.Column] = Seq(
      col("lang") === "en",
      col("lang") =!= "fr",
      col("lang").isin("fr", "de") && col("id") > 300L,
      col("id") >= 120L && col("id") < 480L,
      col("id") === 599L,
      col("id") > 10000L,
      col("ts") >= to_timestamp(lit("2024-01-15 00:00:00")),
      col("ts") < to_timestamp(lit("2024-01-02 00:00:00")) ||
        col("lang") === "de",
      col("word").startsWith("w01"),
      col("word") >= "w040" || col("word").isNull,
      col("word") === lit(null),
      col("score") > 50.0 && col("lang") === "en" && col("id") % 7 === 0,
      abs(col("score") - 50.0) < 10.0,
      lit(true),
      lit(false),
      col("word").isNull && col("ts") === to_timestamp(
        lit("2024-01-05 00:00:00")))
    val full = SnapshotTable.read(spark, path)
    for (p0 <- preds) {
      val expected = full.filter(p0).orderBy("id").collect().toSeq
      val (pruned, kept, total) =
        SnapshotTable.readWherePruned(spark, path, p0)
      val got = pruned.orderBy("id").collect().toSeq
      assert(got === expected, s"predicate $p0 diverged (kept $kept/$total)")
    }
  }

  test("property: parseEntryStats equals the three individual parsers") {
    val rnd = new scala.util.Random(37)
    def randName() = "c" + rnd.nextInt(5)
    def randItem(): String = rnd.nextInt(8) match {
      case 0 => s"${randName()}=${rnd.nextInt(1000) - 500}:${rnd.nextInt(1000)}"
      case 1 => s"${randName()}=s!p${rnd.nextInt(10)}!q${rnd.nextInt(10)}%3B%21"
      case 2 =>
        val bs = new Array[Byte](8); rnd.nextBytes(bs)
        s"${randName()}=b!64!3!" + java.util.Base64.getEncoder
          .withoutPadding.encodeToString(bs)
      case 3 => s"len=f!${rnd.nextInt(100000)}!${rnd.nextInt(1 << 30)}"
      case 4 => s"dv=files/x${rnd.nextInt(10)}.parquet"
      case 5 => s"${randName()}=junk${rnd.nextInt(10)}" // malformed
      case 6 => s"${randName()}=z!${rnd.nextInt(100)}"
      case 7 => s"rows=r!${rnd.nextInt(100000)}"
    }
    (0 until 500).foreach { _ =>
      val line = s"files/part=${rnd.nextInt(3)}/f.parquet\t" +
        Seq.fill(1 + rnd.nextInt(8))(randItem()).mkString(";")
      val (num, str, bl, nu) = SnapshotTable.parseEntryStats(line)
      assert(num === SnapshotTable.entryStats(line), line)
      assert(nu === SnapshotTable.entryNulls(line), line)
      assert(str.view.mapValues(v => (v._1.toSeq, v._2.toSeq)).toMap ===
        SnapshotTable.entryStringStats(line)
          .view.mapValues(v => (v._1.toSeq, v._2.toSeq)).toMap, line)
      assert(bl.view.mapValues(v => (v._1, v._2, v._3.toSeq)).toMap ===
        SnapshotTable.entryBloomStats(line)
          .view.mapValues(v => (v._1, v._2, v._3.toSeq)).toMap, line)
    }
    // and on REAL staged lines (footer-harvested stats + len item)
    val path = freshPath("parseprop")
    SnapshotTable.create(
      spark.range(100).selectExpr("id", "CAST(id AS STRING) AS s",
        "id * 2 AS v").repartition(4), path)
    SnapshotTable.indexBloom(spark, path, Seq("id"))
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(new org.apache.hadoop.fs.Path(
      path + "/_graft_log/v00000001.manifest"))
    val lines = try scala.io.Source.fromInputStream(in, "UTF-8")
      .getLines().toList.filterNot(_.startsWith("#")) finally in.close()
    assert(lines.nonEmpty)
    lines.foreach { l =>
      val (num, str, bl, nu) = SnapshotTable.parseEntryStats(l)
      assert(num === SnapshotTable.entryStats(l))
      assert(nu === SnapshotTable.entryNulls(l))
      assert(str.keySet === SnapshotTable.entryStringStats(l).keySet)
      assert(bl.keySet === SnapshotTable.entryBloomStats(l).keySet)
    }
  }

  test("mayMatch is conservative: unknown shapes keep, proofs drop") {
    import org.apache.spark.sql.types._
    val st = StructType(Seq(StructField("id", LongType),
      StructField("lang", StringType), StructField("other", LongType)))
    val stats = Map("id" -> (100L, 200L))
    val parts = Map("lang" -> "en")
    def may(c: org.apache.spark.sql.Column) =
      SnapshotTable.mayMatch(
        SnapshotTable.resolvedPredicate(spark, st, c), parts, stats)
    assert(may(col("id") === 150L))
    assert(!may(col("id") === 99L))
    assert(!may(col("id") > 200L))
    assert(may(col("id") >= 200L))
    assert(!may(col("lang") === "fr"))
    assert(may(col("lang") === "en"))
    // Or keeps when either side may match; And drops when one side cannot
    assert(may(col("lang") === "fr" || col("id") === 150L))
    assert(!may(col("lang") === "fr" && col("id") === 150L))
    // NULL comparisons are never TRUE -> provably no match
    assert(!may(col("lang") === lit(null)))
    // unknown shapes and unknown columns keep the file
    assert(may(col("other") === 5L))
    assert(may(abs(col("id")) === 5L))
    assert(may(col("lang").startsWith("e")))
    assert(!may(col("lang").startsWith("f")))
  }

  test("REGRESSION: date column vs timestamp literal prunes soundly, not everything") {
    val path = freshPath("datecast")
    val rows = (0 until 60).map { i =>
      (i.toLong, java.sql.Date.valueOf(
        java.time.LocalDate.of(2024, 1, 1).plusDays(i.toLong)))
    }.toDF("id", "d")
    SnapshotTable.create(
      rows.repartitionByRange(4, col("d")).sortWithinPartitions("d"), path)
    // the analyzer inserts Cast(d AS timestamp): cached stats are epoch
    // DAYS but the folded constant is MICROS — before the unconvert fix
    // every comparison was provably-false and ALL files were pruned,
    // so this completely ordinary predicate silently returned empty
    val p = col("d") >= to_timestamp(lit("2024-01-31 00:00:00"))
    val (df, kept, total) = SnapshotTable.readWherePruned(spark, path, p)
    assert(df.count() === 30)
    assert(kept < total, s"expected real pruning, kept $kept/$total")
    // mid-day instant: only strictly-later days qualify
    val p2 = col("d") > to_timestamp(lit("2024-01-31 12:00:00"))
    assert(SnapshotTable.readWhere(spark, path, p2).count() === 29)
    val full = SnapshotTable.read(spark, path)
    for (q <- Seq(p, p2,
        col("d") === to_timestamp(lit("2024-02-10 00:00:00")),
        col("d") === to_timestamp(lit("2024-02-10 09:00:00")),
        col("d") < to_timestamp(lit("2024-01-05 07:30:00")),
        col("d") <= to_timestamp(lit("2024-01-05 00:00:00"))))
      assert(SnapshotTable.readWhere(spark, path, q).count() ===
        full.filter(q).count(), s"predicate $q diverged")
    // the MoR delete path shares the evaluator: it must actually delete
    SnapshotTable.deleteMoR(spark, path,
      col("d") >= to_timestamp(lit("2024-02-25 00:00:00")))
    assert(SnapshotTable.read(spark, path).count() === 55)
  }

  test("REGRESSION: Long stats above 2^53 compare exactly, no double rounding") {
    import org.apache.spark.sql.types._
    val st = StructType(Seq(StructField("id", LongType)))
    val big = 1L << 53
    val stats = Map("id" -> (big - 10, big + 1))
    def may(c: org.apache.spark.sql.Column) =
      SnapshotTable.mayMatch(
        SnapshotTable.resolvedPredicate(spark, st, c), Map.empty, stats)
    // hi = 2^53+1 rounds to 2^53 as a double; the strict test must
    // still keep the file that holds the one matching row
    assert(may(col("id") > big))
    assert(may(col("id") === big + 1))
    assert(may(col("id") >= big + 1))
    assert(!may(col("id") > big + 1))
    assert(!may(col("id") === big + 2))
    assert(!may(col("id") < big - 10))
    assert(may(col("id") <= big - 10))
    // long->double is not an order-embedding: never traversed, file kept
    assert(may(col("id").cast("double") > lit(9.3e18)))
    // widening int->long casts ARE traversed (value-preserving)
    val st2 = StructType(Seq(StructField("k", IntegerType)))
    def may2(c: org.apache.spark.sql.Column) =
      SnapshotTable.mayMatch(
        SnapshotTable.resolvedPredicate(spark, st2, c),
        Map.empty, Map("k" -> (1L, 100L)))
    assert(!may2(col("k") > 5000000000L))
    assert(may2(col("k") > 50L))
    assert(!may2(col("k") === 5000000000L))
  }

  test("REGRESSION: merge on a timestamp-partitioned key updates, never duplicates") {
    val path = freshPath("tsmerge")
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val rows = Seq(
      (ts("2024-01-01 00:00:00"), 1L, "a"),
      (ts("2024-01-02 00:00:00"), 2L, "b"),
      (ts("2024-01-03 00:00:00"), 3L, "c")).toDF("day", "id", "v")
    SnapshotTable.create(rows, path, partitionBy = Seq("day"))
    // java.sql.Timestamp.toString renders '... 00:00:00.0' while the
    // partitioned writer's dir omits the fraction: partition-membership
    // pruning on a timestamp key pruned every matching entry, and the
    // merge INSERTED a duplicate key instead of updating
    val updates = Seq((ts("2024-01-02 00:00:00"), 2L, "B2"))
      .toDF("day", "id", "v")
    SnapshotTable.merge(updates, path, Seq("day", "id"))
    val got = SnapshotTable.read(spark, path)
    assert(got.count() === 3)
    assert(got.filter(col("id") === 2L).select("v")
      .as[String].collect().toSeq === Seq("B2"))
  }

  test("per-file deletion blobs: codec round-trip, masking across " +
      "file SPLITS, and vacuum of replaced sidecars") {
    import graft.sources.DvSidecar
    // codec: delta-varint round-trip across small, clustered, and
    // beyond-int positions
    val ps = Array(0L, 1L, 2L, 999999L, (1L << 40) + 3, (1L << 40) + 4)
    assert(DvSidecar.decode(DvSidecar.encode(ps)).toSeq === ps.toSeq)
    assert(DvSidecar.decode(DvSidecar.encode(Array.empty[Long])).isEmpty)
    val d = DvSidecar.Desc("files/x.dvs", 12345L, 678, 90)
    assert(DvSidecar.parse(d.render) === d)
    assert(DvSidecar.relOf(d.render) === "files/x.dvs")
    assert(DvSidecar.relOf("files/y.parquet") === "files/y.parquet")
    assert(DvSidecar.isBlobRef(d.render))
    assert(!DvSidecar.isBlobRef("files/y.parquet"))
    // SPLITS: positions are file-absolute, so every split of a big
    // file must mask only its own range — force one data file into
    // many PartitionedFile splits and pin the masked aggregate
    val path = freshPath("dvsplit")
    SnapshotTable.create(spark.range(100000)
      .select(col("id"), (col("id") * 3).as("v")).coalesce(1), path)
    SnapshotTable.deleteMoR(spark, path, col("id") % 10 === 7)
    val expect = spark.range(100000).filter(col("id") % 10 =!= 7)
      .agg(sum(col("id") * 3)).head.getLong(0)
    val prevSplit = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try {
      spark.conf.set("spark.sql.files.maxPartitionBytes",
        (64 * 1024).toString)
      val df = spark.read.format("graft").load(path)
      assert(df.rdd.getNumPartitions > 1,
        "split setup broken: one data file must become several splits")
      assert(df.count() === 90000)
      assert(df.agg(sum(col("v"))).head.getLong(0) === expect)
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes",
      prevSplit)
    // VACUUM: a second delete re-stages the file's cumulative blob;
    // dropping history reclaims the replaced sidecar, keeps the live
    // one, and the table still reads masked
    SnapshotTable.deleteMoR(spark, path, col("id") % 10 === 3)
    SnapshotTable.vacuum(spark, path, keep = 1, graceMs = 0)
    val live = SnapshotTable.manifestEntries(spark, path,
        SnapshotTable.versions(spark, path).max)
      .flatMap(SnapshotTable.entryDvs).map(r =>
        new org.apache.hadoop.fs.Path(DvSidecar.relOf(r)).getName).toSet
    val onDisk = new java.io.File(path, "files").listFiles()
      .map(_.getName).filter(_.endsWith(".dvs")).toSet
    assert(onDisk === live,
      s"vacuum must keep exactly the referenced .dvs sidecars " +
        s"(disk $onDisk vs referenced $live)")
    assert(spark.read.format("graft").load(path).count() === 80000)
  }

  test("legacy v1 whole-parquet deletion vectors still read, classic " +
      "and front door") {
    import graft.sources.DvSidecar
    // forge the legacy shape: a table whose dv= refs point at a
    // shared (file,pos) parquet — what pre-r14 MoR commits wrote.
    // Only legacy-era tables carry these, so the manifest is made
    // legacy too (witness stripped, aged) and read via the opt-in.
    val path = freshPath("v1dv")
    SnapshotTable.create(spark.range(2000)
      .select(col("id"), (col("id") * 7).as("v"))
      .repartitionByRange(4, col("id")).sortWithinPartitions("id"), path)
    SnapshotTable.deleteMoR(spark, path, col("id") % 10 === 7)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    // the same coordinates as the committed blobs, as a v1 parquet
    val dataFiles = SnapshotTable.manifestEntries(spark, path, 0)
      .map(e => s"$path/${SnapshotTable.entryPath(e)}")
    val tmp = freshPath("v1dv_stage")
    spark.read.parquet(dataFiles: _*)
      .select(col("_metadata.file_name").as("file"),
        col("_metadata.row_index").as("pos"), col("id"))
      .filter(col("id") % 10 === 7).drop("id")
      .coalesce(1).write.parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(_.getName.startsWith("part-")).get
    val v1Rel = "files/legacy_v1_dv.parquet"
    assert(fs.rename(new org.apache.hadoop.fs.Path(part.getAbsolutePath),
      new org.apache.hadoop.fs.Path(path, v1Rel)))
    // point every dv= item at the v1 parquet; legacy-ify the manifest
    val m1 = new org.apache.hadoop.fs.Path(path,
      "_graft_log/v00000001.manifest")
    val in = fs.open(m1)
    val lines = try scala.io.Source.fromInputStream(in, "UTF-8")
      .getLines().toList finally in.close()
    fs.delete(m1, false)
    val out = fs.create(m1, false)
    out.write((lines.filterNot(l =>
        l.startsWith("#wv=") || l.startsWith("#eot="))
      .map(_.replaceAll("dv=[^;\\t]*", s"dv=$v1Rel"))
      .mkString("\n") + "\n").getBytes("UTF-8"))
    out.close()
    fs.setTimes(m1, System.currentTimeMillis - 600000L, -1)
    spark.conf.set("spark.graft.allowLegacyManifests", "true")
    try {
      val refs = SnapshotTable.manifestEntries(spark, path, 1)
        .flatMap(SnapshotTable.entryDvs).distinct
      assert(refs === Seq(v1Rel) && !DvSidecar.isBlobRef(refs.head))
      // classic reader: broadcast-masked anti-join
      assert(SnapshotTable.read(spark, path).count() === 1800)
      assert(SnapshotTable.read(spark, path)
        .filter(col("id") % 10 === 7).count() === 0)
      // front door: the v1 broadcast keeps the columnar scan
      val fd = spark.read.format("graft").load(path)
      assert(fd.count() === 1800)
      assert(fd.queryExecution.executedPlan.toString
        .contains("FileScan parquet"))
      assert(fd.agg(sum(col("v"))).head.getLong(0) ===
        spark.range(2000).filter(col("id") % 10 =!= 7)
          .agg(sum(col("id") * 7)).head.getLong(0))
      // UPGRADE: one metadata-only commit folds the v1 vector into
      // per-file v2 blobs — rows bit-identical, the change feed emits
      // NOTHING across the commit, no v1 ref survives, and the v2
      // head no longer needs the broadcast-bounded mask path
      val expectSum = spark.range(2000).filter(col("id") % 10 =!= 7)
        .agg(sum(col("id") * 7)).head.getLong(0)
      val v2 = SnapshotTable.upgradeDeletionVectors(spark, path)
      assert(v2 === 2)
      val refs2 = SnapshotTable.manifestEntries(spark, path, 2)
        .flatMap(SnapshotTable.entryDvs).distinct
      assert(refs2.nonEmpty && refs2.forall(DvSidecar.isBlobRef),
        s"upgrade left non-blob refs: $refs2")
      assert(SnapshotTable.read(spark, path).count() === 1800)
      assert(SnapshotTable.read(spark, path)
        .filter(col("id") % 10 === 7).count() === 0)
      assert(SnapshotTable.changes(spark, path, 1, Some(2)).count() === 0,
        "a metadata-only DV upgrade fabricated CDC rows")
      val fd2 = spark.read.format("graft").load(path)
      assert(fd2.queryExecution.executedPlan.toString
        .contains("FileScan parquet"))
      assert(fd2.agg(sum(col("v"))).head.getLong(0) === expectSum)
      // idempotent: a second call commits nothing
      assert(SnapshotTable.upgradeDeletionVectors(spark, path) === 2)
      // time travel to the v1 era still reads through the old vector
      assert(SnapshotTable.read(spark, path, Some(1)).count() === 1800)
    } finally spark.conf.unset("spark.graft.allowLegacyManifests")
  }

  test("multi-file deletion vectors: dv= comma list round-trips") {
    val line = "files/a.parquet\tid=1:5"
    val tagged = SnapshotTable.withDv(line,
      Seq("files/d1.parquet", "files/d2.parquet"))
    assert(SnapshotTable.entryDvs(tagged) ===
      Seq("files/d1.parquet", "files/d2.parquet"))
    assert(SnapshotTable.entryDvs(line) === Seq.empty)
    // replacing overwrites the dv item; other stat items survive
    val re = SnapshotTable.withDv(tagged, Seq("files/d3.parquet"))
    assert(SnapshotTable.entryDvs(re) === Seq("files/d3.parquet"))
    assert(re.contains("id=1:5"))
  }

  test("front door covers fractional/decimal partition layouts and " +
      "empty versions") {
    import org.apache.spark.sql.execution.datasources.{
      HadoopFsRelation, LogicalRelation}
    def frontDoor(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.analyzed.collectFirst {
        case l: LogicalRelation => l.relation
      }.exists(_.isInstanceOf[HadoopFsRelation])
    // double-partitioned layout: previously outside supportedPartType,
    // so EVERY read of such a table fell to the V1 row relation
    val dPath = freshPath("fdoordbl")
    (0 until 400).map(i => (i.toLong, (i % 4) * 0.25, i * 2L))
      .toDF("id", "rate", "v")
      .write.format("graft").option("partitionBy", "rate").save(dPath)
    val dDf = spark.read.format("graft").load(dPath)
    assert(frontDoor(dDf))
    val dPlan = dDf.filter(col("rate") === 0.25)
      .queryExecution.executedPlan.toString
    assert(dPlan.contains("FileScan parquet"), dPlan)
    assert(!dPlan.contains("ExistingRDD"), dPlan)
    assert(dDf.filter(col("rate") === 0.25).count() === 100)
    assert(dDf.agg(sum(col("v"))).head.getLong(0) ===
      (0 until 400).map(_ * 2L).sum)
    // float + decimal layouts round-trip their directory rendering
    val fPath = freshPath("fdoorflt")
    (0 until 90).map(i => (i.toLong, (i % 3).toFloat / 2f))
      .toDF("id", "fr")
      .write.format("graft").option("partitionBy", "fr").save(fPath)
    val fDf = spark.read.format("graft").load(fPath)
    assert(frontDoor(fDf))
    assert(fDf.filter(col("fr") === 0.5f).count() === 30)
    val cPath = freshPath("fdoordec")
    spark.range(90).select(col("id"),
        (col("id") % 3).cast("decimal(5,2)").as("bucket"))
      .write.format("graft").option("partitionBy", "bucket").save(cPath)
    val cDf = spark.read.format("graft").load(cPath)
    assert(frontDoor(cDf))
    assert(cDf.filter(col("bucket") ===
      new java.math.BigDecimal("2.00")).count() === 30)
    assert(cDf.select(sum(col("bucket"))).head.getDecimal(0)
      .compareTo(new java.math.BigDecimal(30 * (0 + 1 + 2))) === 0)
    // delete-all leaves an EMPTY version: with the schema stored in
    // the log it stays a (0-file) FileScan, not a V1 fallback
    val ePath = freshPath("fdoorempty")
    spark.range(50).select(col("id"), (col("id") % 5).as("k"))
      .write.format("graft").save(ePath)
    SnapshotTable.delete(spark, ePath, col("id") >= 0L)
    val eDf = spark.read.format("graft").load(ePath)
    assert(frontDoor(eDf))
    assert(eDf.columns.toSeq === Seq("id", "k"))
    assert(eDf.count() === 0)
    // time travel to the pre-delete version is unaffected
    assert(spark.read.format("graft").option("versionAsOf", "0")
      .load(ePath).count() === 50)
    // readCatalyst (the explicit API) takes the same front door
    assert(SnapshotTable.readCatalyst(spark, ePath).count() === 0)
  }

  test("a persistent manifest-write failure rethrows, not 'gave up after conflicts'") {
    // route the table through a FileSystem whose manifest creates fail
    // like a dead disk: data staging works, the commit create throws,
    // and no winning manifest appears — commit must surface the I/O
    // failure immediately instead of burning 50 'conflict' retries
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.faulty.impl", classOf[FaultyManifestFs].getName)
    conf.set("fs.faulty.impl.disable.cache", "true")
    val path = "faulty://" + freshPath("fault")
    val e = intercept[java.io.IOException] {
      SnapshotTable.create(spark.range(5).toDF("id"), path)
    }
    assert(e.getMessage.contains("simulated disk failure") ||
      (e.getCause != null &&
        e.getCause.getMessage.contains("simulated disk failure")))
  }
}

/** Local filesystem that fails every exclusive manifest create the way
  * a full or dead disk would, while all other operations (parquet
  * staging, listing, renames) succeed — exercises commit()'s
  * race-vs-failure distinction. */
class FaultyManifestFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  import org.apache.hadoop.fs.{FSDataOutputStream, Path}
  import org.apache.hadoop.fs.permission.FsPermission
  import org.apache.hadoop.util.Progressable

  override def getUri: java.net.URI = java.net.URI.create("faulty:///")

  private def maybeFail(f: Path): Unit =
    if (f.getName.endsWith(".manifest"))
      throw new java.io.IOException(s"simulated disk failure writing $f")

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    maybeFail(f)
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }

  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    maybeFail(f)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
}
