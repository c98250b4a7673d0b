package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** Readers/writers mirroring the reference's io layer
  * (reference: src/sf_datalake/io.py:41-189), Spark-first.
  *
  * All readers return lazy DataFrames; schema-at-read is preferred over
  * inference (explicit StructType avoids an extra pass over CSV and gives
  * Catalyst exact types for pushdown).
  */
object IO {

  /** CSV scan with optional explicit schema (reference io.py:60-94).
    * @param sep field separator (reference uses "," or "|")
    */
  def readCsv(
      spark: SparkSession,
      path: String,
      sep: String = ",",
      schema: Option[StructType] = None,
      inferSchema: Boolean = true,
      header: Boolean = true): DataFrame = {
    val r = spark.read
      .option("header", header.toString)
      .option("sep", sep)
    schema match {
      case Some(st) => r.schema(st).csv(path)
      case None     => r.option("inferSchema", inferSchema.toString).csv(path)
    }
  }

  /** ORC directory scan (reference io.py:89-90). */
  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** Parquet scan (reference generate_frontend_document.py:135-159). */
  def readParquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Lowercase all column names by re-projection
    * (reference post_join_processing.py:52). */
  def lowercaseColumns(df: DataFrame): DataFrame =
    df.toDF(df.columns.map(_.toLowerCase): _*)

  /** CSV sink, sharded (reference io.py:116-155 uses repartition(5)). */
  def writeCsv(df: DataFrame, path: String, sep: String = ",",
      numPartitions: Int = 5, header: Boolean = true): Unit =
    df.repartition(numPartitions).write.mode(SaveMode.Overwrite)
      .option("header", header.toString).option("sep", sep).csv(path)

  /** ORC sink (reference io.py:57). */
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).orc(path)

  /** Single-file parquet sink (reference io.py:156-160 coalesce(1)).
    * coalesce(1) is only for small result sets — never for the bulk path. */
  def writeParquetSingle(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode(SaveMode.Overwrite).parquet(path)

  /** Hive-style partitioned parquet sink — the bulk layout at scale:
    * filters on `partitionCols` become directory pruning (zero I/O for
    * excluded partitions) instead of full scans. `sortCols` optionally
    * sorts WITHIN files so parquet row-group min/max statistics also
    * skip pages inside each partition. Partition columns should be
    * low-cardinality (date, source, language) — one directory each. */
  def writePartitioned(df: DataFrame, path: String,
      partitionCols: Seq[String], sortCols: Seq[String] = Nil): Unit = {
    val sorted =
      if (sortCols.nonEmpty)
        df.sortWithinPartitions(sortCols.map(org.apache.spark.sql.functions.col): _*)
      else df
    sorted.write.mode(SaveMode.Overwrite)
      .partitionBy(partitionCols: _*).parquet(path)
  }

  /** Text sink for JSON config dumps (reference configuration/__init__.py:336-340
    * uses RDD.saveAsTextFile; Dataset[String].write.text is the DF-native form). */
  def writeText(spark: SparkSession, lines: Seq[String], path: String): Unit = {
    import spark.implicits._
    spark.createDataset(lines).coalesce(1).write.mode(SaveMode.Overwrite).text(path)
  }

  /** Bucketed parquet table (saveAsTable): co-locates join/agg keys at
    * write time so repeated joins on `bucketCols` skip their exchanges
    * entirely — the scale path for repeatedly-joined fact tables. */
  def writeBucketed(df: DataFrame, table: String, bucketCols: Seq[String],
      numBuckets: Int, sortCols: Seq[String] = Seq.empty): Unit = {
    // sortCols beyond the bucket keys (e.g. the as-of `on` column) let
    // downstream merge operators skip their per-partition SORT as well
    // as the exchange — but Spark only reports the file sort order when
    // each bucket holds ONE file, so pre-repartition on the bucket keys
    // (same murmur3 hash as the bucketing) before calling this for that
    val sc = if (sortCols.isEmpty) bucketCols else sortCols
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(sc.head, sc.tail: _*)
      .format("parquet")
      .saveAsTable(table)
  }

  /** Compact a parquet directory to ~`targetFileBytes` files — the
    * small-file remedy for long-lived tables at scale (a 100 TB table
    * accreted from per-batch appends ends up with millions of KB-sized
    * files; listing + per-file open costs then dominate every scan).
    * File count is sized from the directory's actual on-disk bytes
    * (driver-side listing, O(#files) names — bounded), and the rewrite
    * is one round-robin repartition: no shuffle key, so it cannot skew,
    * and parquet re-encodes at full row groups. Pass `sortCols` to
    * restore clustering (repartitionByRange — keeps range pruning on
    * the sort key after compaction). */
  def compact(spark: SparkSession, path: String, targetFileBytes: Long,
      sortCols: Seq[String] = Nil): Int = {
    import org.apache.hadoop.fs.Path
    val hPath = new Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val totalBytes = fs.getContentSummary(hPath).getLength
    val nFiles = math.max(1, math.ceil(totalBytes.toDouble / targetFileBytes).toInt)
    val df = spark.read.parquet(path)
    val laid =
      if (sortCols.nonEmpty)
        df.repartitionByRange(nFiles,
            sortCols.map(org.apache.spark.sql.functions.col): _*)
          .sortWithinPartitions(
            sortCols.map(org.apache.spark.sql.functions.col): _*)
      else df.repartition(nFiles)
    // write beside, then swap — never leaves the table half-rewritten
    val tmp = path.stripSuffix("/") + "__compact_tmp"
    laid.write.mode(SaveMode.Overwrite).parquet(tmp)
    swapInPlace(fs, new Path(tmp), hPath)
    nFiles
  }

  /** Atomic-ish directory swap: `path` → `path__old`, `tmp` → `path`,
    * delete `path__old`. Hadoop FileSystem signals rename/delete
    * failure by RETURNING FALSE (not throwing), so every step is
    * checked and fails loudly; a crash or failure at any step leaves
    * either the original or the new data live-or-recoverable on disk —
    * never a window with no table at `path` (the old delete-then-rename
    * order had exactly that window). */
  private[graft] def swapInPlace(fs: org.apache.hadoop.fs.FileSystem,
      tmp: org.apache.hadoop.fs.Path, hPath: org.apache.hadoop.fs.Path): Unit = {
    import org.apache.hadoop.fs.Path
    val old = new Path(hPath.toString + "__old")
    if (fs.exists(old) && !fs.delete(old, true))
      sys.error(s"swap: could not clear stale $old")
    if (!fs.rename(hPath, old))
      sys.error(s"swap: rename $hPath -> $old failed (new data intact at $tmp)")
    if (!fs.rename(tmp, hPath))
      sys.error(s"swap: rename $tmp -> $hPath failed; ORIGINAL data at $old")
    if (!fs.delete(old, true))
      sys.error(s"swap: completed but could not delete backup $old")
  }

  /** CSV→ORC conversion utility (reference io.py:97-113). */
  def csvToOrc(spark: SparkSession, inPath: String, outPath: String,
      sep: String = ","): Unit =
    writeOrc(readCsv(spark, inPath, sep), outPath)
}
