package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Test-table access for the harness queries (TESTDATA.md).
  *
  * Every harness read flows through here so tables can be normalized to
  * ONE logical schema regardless of the physical parquet encoding the
  * data generator happened to use. The generator owns the files and has
  * re-typed columns across regenerations (events.ts shipped as
  * int64-nanoseconds in one drop and as timestamp[us] in the next);
  * queries must not hard-code a physical type the harness controls.
  * The reference engine takes the same stance per-source — it infers /
  * parses defensively rather than assuming one encoding
  * (sf_datalake/io.py:80-84, transform.py:106-112).
  *
  * Normalization contract:
  *  - `events.ts` is ALWAYS an epoch-nanosecond long downstream,
  *    whatever the parquet stored (int64 ns, timestamp[us] NTZ, or an
  *    instant-typed timestamp). DuckDB oracles read the same files with
  *    `epoch_ns(ts)` / `epoch_us(ts)`, which are polymorphic over the
  *    same encodings, so both engines see identical values.
  *
  * The conversion is a single projected column over the scan — filter
  * pushdown and column pruning on every other column are unaffected.
  */
object Tables {

  /** Inferred StructType per parquet path — METADATA only, never data
    * or results. A bare-path `spark.read.parquet` re-runs footer schema
    * inference on every DataFrame construction (~100 ms measured at
    * sf0.1: 100 ms/read inferred vs 24 ms/read with an explicit schema,
    * OPTIMIZATION_r17.md); the harness surface constructs ~171 table
    * reads per pass, so the re-inference alone cost ~50 s per 4-pass
    * bench run. Production tables carry their schema in a catalog and
    * never pay this; caching the first inference per path is the
    * path-based equivalent (guide §6: metadata/listing caching). The
    * harness dirs are immutable per JVM, and every read still scans the
    * parquet data itself in full — only the footer round-trip is
    * deduplicated. */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, StructType]()

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    if (name == "events") {
      // tolerate the int64-ns physical encoding (vectorized reader
      // rejects TIMESTAMP(NANOS) without this); a no-op for µs data
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    }
    val path = s"$dir/$name.parquet"
    val schema = schemaCache.computeIfAbsent(path,
      p => spark.read.parquet(p).schema)
    normalize(name, spark.read.schema(schema).parquet(path))
  }

  /** Per-table logical-schema normalization (see object scaladoc). */
  def normalize(name: String, df: DataFrame): DataFrame = name match {
    case "events" => withEpochNs(df, "ts")
    case _        => df
  }

  /** Rewrite `colName` to an epoch-nanosecond long whatever its physical
    * type. Timestamp-typed data is µs-resolution, so the ns value is
    * exact (`* 1000`); NTZ values are taken as UTC wall-clock — all
    * graft sessions pin spark.sql.session.timeZone=UTC, which makes the
    * NTZ→instant cast the identity on the stored micros. */
  def withEpochNs(df: DataFrame, colName: String): DataFrame =
    df.schema.fields.find(_.name == colName).map(_.dataType) match {
      case Some(LongType)         => df
      case Some(TimestampNTZType) =>
        df.withColumn(colName,
          unix_micros(col(colName).cast(TimestampType)) * 1000)
      case Some(TimestampType)    =>
        df.withColumn(colName, unix_micros(col(colName)) * 1000)
      case _                      => df
    }

  /** Streaming twin of [[withEpochNs]]: rewrite `colName` to a
    * µs-resolution instant (TimestampType) for watermarks / native
    * window() generators, whatever the physical source type. */
  def withEventTimestamp(df: DataFrame, colName: String): DataFrame =
    df.schema.fields.find(_.name == colName).map(_.dataType) match {
      case Some(LongType)         =>
        df.withColumn(colName, timestamp_micros(expr(s"$colName div 1000")))
      case Some(TimestampNTZType) =>
        df.withColumn(colName, col(colName).cast(TimestampType))
      case _                      => df
    }
}
