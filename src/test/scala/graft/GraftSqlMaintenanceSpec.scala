package graft

import org.apache.spark.sql.functions._

import graft.sources.SnapshotTable

/** The SQL MAINTENANCE surface (round-17): OPTIMIZE / VACUUM /
  * DESCRIBE HISTORY / RESTORE TABLE through the injected delegating
  * parser (plans/GraftSqlMaintenance.scala). Contracts pinned here:
  *  - every verb resolves a catalog table OR the Delta-style
  *    graft.`/path` spelling, late (at run time);
  *  - plain OPTIMIZE is the incremental bin-pack (no-op on a
  *    compacted table — null version, NOTHING committed);
  *  - VACUUM DRY RUN deletes nothing; real VACUUM honors the
  *    RETAIN n VERSIONS count and vacuum's 10-minute grace window;
  *  - RESTORE refreshes the catalog cache so the next SELECT sees
  *    the restored head;
  *  - non-graft targets refuse loudly naming the provider; malformed
  *    graft statements throw a ParseException NAMING the grammar;
  *    ordinary SQL delegates untouched.
  */
class GraftSqlMaintenanceSpec extends SparkSpec {
  import spark.implicits._

  private def freshPath(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"sqlmaint$tag").toString + "/t"

  private def msgs(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(e => Option(e.getMessage).getOrElse("")).mkString("|")

  test("OPTIMIZE / DESCRIBE HISTORY / VACUUM / RESTORE drive a " +
      "catalog table end-to-end") {
    val path = freshPath("life")
    // three single-row appends → three small files: OPTIMIZE has work
    SnapshotTable.create(Seq((1L, "a", 10.0)).toDF("id", "grp", "v")
      .coalesce(1), path)
    SnapshotTable.append(Seq((2L, "b", 20.0)).toDF("id", "grp", "v")
      .coalesce(1), path)
    SnapshotTable.append(Seq((3L, "a", 30.0)).toDF("id", "grp", "v")
      .coalesce(1), path)
    val tbl = "graft_maint_life"
    spark.sql(s"CREATE TABLE $tbl USING graft OPTIONS (path '$path')")
    try {
      // history: newest first, one row per commit, ops recorded
      val hist = spark.sql(s"DESCRIBE HISTORY $tbl").collect()
      assert(hist.map(_.getInt(0)).toSeq === Seq(2, 1, 0))
      assert(hist.map(_.getString(2)).toSeq ===
        Seq("APPEND", "APPEND", "CREATE"))

      // plain OPTIMIZE: incremental bin-pack commits version 3 and
      // the data is unchanged
      val opt = spark.sql(s"OPTIMIZE $tbl").collect()
      assert(opt.length === 1)
      assert(opt.head.getString(1) === "OPTIMIZE")
      assert(opt.head.getInt(2) === 3)
      assert(SnapshotTable.fileCount(spark, path) === 1)
      assert(spark.table(tbl).agg(sum(col("v"))).head.getDouble(0)
        === 60.0)

      // a second OPTIMIZE is a NO-OP: null version, nothing committed
      val noop = spark.sql(s"OPTIMIZE $tbl").collect()
      assert(noop.head.isNullAt(2), "compacted table must no-op")
      assert(SnapshotTable.versions(spark, path).max === 3)

      // ZORDER form commits a full re-layout as version 4 (numeric
      // z-columns — the curve's domain)
      val zo = spark.sql(s"OPTIMIZE $tbl ZORDER BY (id, v)").collect()
      assert(zo.head.getString(1) === "OPTIMIZE-ZORDER")
      assert(SnapshotTable.versions(spark, path).max === 4)
      assert(spark.table(tbl).count() === 3)

      // DRY RUN reports what RETAIN 2 would drop — and deletes nothing
      val dry = spark.sql(s"VACUUM $tbl RETAIN 2 VERSIONS DRY RUN")
        .collect().map(_.getInt(0)).toSeq
      assert(dry === Seq(0, 1, 2))
      assert(SnapshotTable.versions(spark, path) === Seq(0, 1, 2, 3, 4))

      // real VACUUM keeps unreferenced files younger than its
      // 10-minute grace window: age every data file past it, and the
      // pre-compaction files reclaim
      val files = new org.apache.hadoop.fs.Path(path, "files")
      val fs = files.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val aged = System.currentTimeMillis - 11L * 60 * 1000
      val it = fs.listFiles(files, true)
      while (it.hasNext) fs.setTimes(it.next().getPath, aged, -1)
      val vac = spark.sql(s"VACUUM $tbl RETAIN 2 VERSIONS").collect()
      assert(SnapshotTable.versions(spark, path) === Seq(3, 4))
      assert(vac.head.getInt(1) >= 3,
        "the three small pre-OPTIMIZE files must reclaim")
      assert(spark.table(tbl).agg(sum(col("v"))).head.getDouble(0)
        === 60.0)

      // RESTORE to the kept pre-zorder version: new head, cache
      // refreshed — the very next SELECT sees it
      val res = spark.sql(
        s"RESTORE TABLE $tbl TO VERSION AS OF 3").collect()
      assert(res.head.getInt(1) === 3 && res.head.getInt(2) === 5)
      assert(spark.table(tbl).count() === 3)
      val hist2 = spark.sql(s"DESC HISTORY $tbl").collect()
      assert(hist2.head.getInt(0) === 5)
      assert(hist2.head.getString(2) === "RESTORE")
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("graft.`/path` spelling and TIMESTAMP AS OF restore work " +
      "without any catalog entry") {
    val path = freshPath("path")
    SnapshotTable.create(Seq((1L, 1.0)).toDF("id", "v"), path)
    SnapshotTable.append(Seq((2L, 2.0)).toDF("id", "v"), path)
    val hist = spark.sql(s"DESCRIBE HISTORY graft.`$path`").collect()
    assert(hist.map(_.getInt(0)).toSeq === Seq(1, 0))
    // timestamp restore: v0's commit instant resolves back to v0
    val t0 = hist.last.getTimestamp(1)
    val res = spark.sql(s"RESTORE TABLE graft.`$path` TO TIMESTAMP " +
      s"AS OF '${t0.getTime}'").collect()
    assert(res.head.getInt(1) === 0 && res.head.getInt(2) === 2)
    assert(SnapshotTable.read(spark, path).count() === 1)
  }

  test("CONVERT TO GRAFT adopts a partitioned parquet directory in " +
      "place: zero bytes rewritten, pruning + DML + history work") {
    val dir = java.nio.file.Files.createTempDirectory("sqlconv")
      .toString + "/lake"
    val src = Seq((1L, "EU", 10.0), (2L, "EU", 20.0), (3L, "US", 30.0),
      (4L, "US", 40.0), (5L, "AS", 50.0))
      .toDF("id", "region", "v")
    src.coalesce(1).write.partitionBy("region").parquet(dir)
    val res = spark.sql(s"CONVERT TO GRAFT parquet.`$dir`").collect()
    assert(res.head.getInt(1) === 0 && res.head.getInt(2) === 3)
    // content identical, partition layout recorded
    assert(SnapshotTable.read(spark, dir).count() === 5)
    assert(SnapshotTable.partitioning(spark, dir) === Seq("region"))
    // entries reference the ORIGINAL files in place (no files/ copy)
    val rels = SnapshotTable.manifestEntries(spark, dir, 0)
      .map(_.split("\t")(0))
    assert(rels.forall(r => r.startsWith("region=") &&
      r.contains("part-")), s"expected in-place refs, got $rels")
    // partition pruning: an equality filter reads one directory
    val eu = spark.read.format("graft").load(dir)
      .filter(col("region") === "EU")
    assert(eu.count() === 2)
    assert(eu.queryExecution.executedPlan.toString
      .contains("PartitionFilters: [isnotnull(region"),
      "the filter must reach the scan as a real PARTITION filter")
    // history + immediate DML on the adopted table
    assert(spark.sql(s"DESCRIBE HISTORY graft.`$dir`").collect()
      .map(_.getString(2)).toSeq === Seq("CONVERT"))
    SnapshotTable.delete(spark, dir, col("id") === 2L)
    assert(SnapshotTable.read(spark, dir).count() === 4)
    // a second CONVERT refuses: it is already a graft table
    val e = intercept[Exception] {
      spark.sql(s"CONVERT TO GRAFT parquet.`$dir`") }
    assert(msgs(e).contains("already a graft table"))
  }

  test("converted tables migrate under files/ as rewriting verbs " +
      "touch them; flat dirs and streams adopt too") {
    // flat (non-partitioned) adoption
    val dir = java.nio.file.Files.createTempDirectory("sqlconvf")
      .toString + "/flat"
    Seq((1L, 5.0), (2L, 6.0), (3L, 7.0)).toDF("id", "v")
      .repartition(3).write.parquet(dir)
    spark.sql(s"CONVERT TO GRAFT parquet.`$dir`")
    assert(SnapshotTable.read(spark, dir).count() === 3)
    assert(SnapshotTable.partitioning(spark, dir) === Nil)
    // OPTIMIZE migrates the in-place originals under files/ — the
    // adoption contract's reclaim path
    val opt = spark.sql(s"OPTIMIZE graft.`$dir`").collect()
    assert(!opt.head.isNullAt(2), "3 small in-place files must compact")
    val rels = SnapshotTable.manifestEntries(spark, dir,
      SnapshotTable.versions(spark, dir).max).map(_.split("\t")(0))
    assert(rels.forall(_.startsWith("files/")),
      s"post-OPTIMIZE entries must live under files/, got $rels")
    assert(SnapshotTable.read(spark, dir)
      .agg(sum(col("v"))).head.getDouble(0) === 18.0)
    // a streaming read replays the adoption commit like any commit
    val sdf = spark.readStream.format("graft").load(dir)
    val q = sdf.writeStream.format("memory")
      .queryName("conv_stream").outputMode("append").start()
    try { q.processAllAvailable() } finally q.stop()
    assert(spark.table("conv_stream").count() === 3)
  }

  test("CONVERT TO GRAFT db.tbl flips a catalog parquet table's " +
      "provider; DESCRIBE DETAIL summarizes") {
    val loc = freshPath("cat")
    val tbl = "maint_conv_cat"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("id", "tag", "v")
      .write.parquet(loc)
    spark.sql(s"CREATE TABLE $tbl (id BIGINT, tag STRING, v DOUBLE) " +
      s"USING parquet LOCATION '$loc'")
    try {
      spark.sql(s"CONVERT TO GRAFT $tbl")
      // provider flipped: the SAME name now resolves through the
      // manifest — SQL DML commits versions, history reads
      assert(spark.sessionState.catalog
        .getTableMetadata(org.apache.spark.sql.catalyst
          .TableIdentifier(tbl)).provider.map(_.toLowerCase)
        === Some("graft"))
      assert(spark.table(tbl).count() === 2)
      spark.sql(s"INSERT INTO $tbl VALUES (3L, 'c', 3.5)")
      assert(spark.table(tbl).count() === 3)
      assert(spark.sql(s"DESCRIBE HISTORY $tbl").collect()
        .map(_.getString(2)).toSeq === Seq("APPEND", "CONVERT"))
      // DESCRIBE DETAIL: one metadata row
      val det = spark.sql(s"DESCRIBE DETAIL $tbl").collect()
      assert(det.length === 1)
      assert(det.head.getInt(1) === 1)       // head version
      assert(det.head.getInt(2) === 2)       // retained versions
      assert(det.head.getLong(4) > 0L)       // referenced bytes
      assert(det.head.getString(7) === "APPEND")
      // non-parquet provider refuses by name
      spark.sql("CREATE TABLE maint_conv_csv (id INT) USING csv " +
        s"LOCATION '${freshPath("csv")}'")
      try {
        val e = intercept[Exception] {
          spark.sql("CONVERT TO GRAFT maint_conv_csv") }
        assert(msgs(e).contains("only parquet tables convert"))
      } finally spark.sql("DROP TABLE IF EXISTS maint_conv_csv")
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("refusals: non-graft tables, malformed grammar; ordinary SQL " +
      "delegates untouched") {
    val tbl = "graft_maint_parquet"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    val loc = freshPath("pq")
    spark.sql(s"CREATE TABLE $tbl (id INT) USING parquet " +
      s"LOCATION '$loc'")
    try {
      val e = intercept[Exception] { spark.sql(s"OPTIMIZE $tbl") }
      assert(msgs(e).contains("not a graft table"))
      val e2 = intercept[Exception] {
        spark.sql(s"DESCRIBE HISTORY $tbl") }
      assert(msgs(e2).contains("not a graft table"))
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
    // view target refuses by name
    spark.sql("CREATE OR REPLACE TEMP VIEW graft_maint_v AS SELECT 1 AS x")
    try {
      val ev = intercept[Exception] {
        spark.sql("OPTIMIZE graft_maint_v") }
      assert(msgs(ev).contains("view"))
    } finally spark.sql("DROP VIEW IF EXISTS graft_maint_v")
    // malformed remainder names the grammar, not a generic error
    val pe = intercept[org.apache.spark.sql.catalyst.parser.ParseException] {
      spark.sql("RESTORE TABLE t TO VERSION 3")
    }
    assert(pe.getMessage.contains("RESTORE TABLE <tbl> TO VERSION AS OF"))
    val pe2 = intercept[org.apache.spark.sql.catalyst.parser.ParseException] {
      spark.sql("OPTIMIZE t ZORDER BY ()")
    }
    assert(pe2.getMessage.contains("ZORDER"))
    // delegation: ordinary statements are untouched (a DESCRIBE that
    // is NOT history, and a plain query)
    assert(spark.sql("SELECT 40 + 2").head.getInt(0) === 42)
    val df = Seq((1, "x")).toDF("a", "b")
    df.createOrReplaceTempView("graft_maint_plain")
    try assert(spark.sql("DESCRIBE graft_maint_plain").count() >= 2)
    finally spark.catalog.dropTempView("graft_maint_plain")
  }
}
