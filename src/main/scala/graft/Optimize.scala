package graft

import org.apache.spark.sql.SparkSession

import graft.sources.{IO, ZOrder}

/** Layout-maintenance CLI — the operational twin of the library's
  * write-path operators, for tables that already exist on disk:
  *
  *   compact  <path> <targetFileBytes> [sortCols,..]
  *            rewrite to ~target-sized files (IO.compact; swap-safe)
  *   zorder   <path> <numFiles> <zCols,..>
  *            min-max Morton re-layout (ZOrder.writeZOrdered → temp,
  *            then swap like compact)
  *   zorderq  <path> <numFiles> <zCols,..> [buckets]
  *            skew-robust equi-depth variant (zOrderByQuantiles)
  *
  * Usage: sbt "runMain graft.Optimize compact /data/t 134217728 id"
  * Prints one status line; exits nonzero on bad arguments.
  */
object Optimize {
  def main(args: Array[String]): Unit = {
    val spark = etl.CliArgs.session()
    try run(spark, args)
    finally spark.stop()
  }

  /** The CLI body, separated from session lifecycle so specs can drive
    * it on the shared test session (same split as etl.Cli). */
  def run(spark: SparkSession, args: Array[String]): Unit = {
    require(args.length >= 2, usage)
    val path = args(1)
    args(0) match {
      case "compact" =>
        require(args.length >= 3, usage)
        val sortCols =
          if (args.length > 3) args(3).split(",").toSeq.filter(_.nonEmpty)
          else Nil
        val n = IO.compact(spark, path, args(2).toLong, sortCols)
        println(s"OPTIMIZE compact $path -> $n files")
      case op @ ("zorder" | "zorderq") =>
        require(args.length >= 4, usage)
        val numFiles = args(2).toInt
        val zCols = args(3).split(",").toSeq.filter(_.nonEmpty)
        val df = spark.read.parquet(path)
        val laid =
          if (op == "zorder") ZOrder.zOrderBy(df, zCols, numFiles)
          else ZOrder.zOrderByQuantiles(df, zCols, numFiles,
            if (args.length > 4) args(4).toInt else 256)
        // same write-beside-then-swap discipline as IO.compact: the
        // source is also the destination, so an in-place overwrite
        // would read and delete the same files
        import org.apache.hadoop.fs.Path
        val hPath = new Path(path)
        val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val tmp = path.stripSuffix("/") + "__zorder_tmp"
        laid.write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(tmp)
        IO.swapInPlace(fs, new Path(tmp), hPath)
        println(s"OPTIMIZE $op $path -> $numFiles files on ${zCols.mkString(",")}")
      case other => sys.error(s"unknown op '$other'\n$usage")
    }
  }

  private val usage =
    """usage: Optimize compact <path> <targetFileBytes> [sortCols,..]
      |       Optimize zorder  <path> <numFiles> <zCols,..>
      |       Optimize zorderq <path> <numFiles> <zCols,..> [buckets]""".stripMargin
}
