package graft.sources

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, Row, SQLContext, SaveMode}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType

/** `spark.read.format("graft")` / `df.write.format("graft")` — the
  * snapshot table as a registered Spark data source, so the library's
  * lakehouse surface composes with plain DataFrameReader/Writer code
  * (and `CREATE TABLE ... USING graft` style tooling) instead of
  * requiring the [[SnapshotTable]] API.
  *
  * Read options: `versionAsOf` (int), `timestampAsOf` (epoch millis
  * or `yyyy-MM-dd HH:mm:ss`, session zone). Catalyst-eligible
  * versions resolve to the [[GraftFileIndex]]-backed HadoopFsRelation
  * directly ([[SnapshotTable.frontDoorRelation]]): Spark plans a
  * native columnar parquet scan — vectorized reader, whole-stage
  * codegen, manifest-metadata file skipping, partition pruning and
  * DPP at planning time — with deletion vectors masked and column
  * mapping translated INSIDE the scan ([[GraftParquetFileFormat]]).
  * Ineligible versions (legacy logs, unsupported partition types)
  * fall back to a [[PrunedFilteredScan]] relation
  * whose pushed filters translate to a Column predicate and ride
  * [[SnapshotTable.readWhere]]'s manifest machinery; untranslatable
  * filters are simply not pushed (Spark re-applies every filter above
  * a V1 source, so positive-polarity partial pushdown is sound — see
  * toColumn's exactness rule for Not).
  *
  * Write modes: ErrorIfExists/Ignore → create (`partitionBy` option:
  * comma-separated columns), Append → append (`mergeSchema=true` for
  * additive evolution), Overwrite → overwrite. With
  * [[graft.GraftExtensions]] installed, SQL
  * `INSERT INTO` / `INSERT OVERWRITE TABLE` a `USING graft` catalog
  * table commit through the manifest too
  * ([[graft.plans.RewriteGraftInserts]]); without the extensions —
  * or through a time-travel pin — such writes are REFUSED loudly
  * (never Spark's raw file-source write, which would land
  * manifest-invisible files).
  *
  * `spark.readStream.format("graft")` streams the commit log — see
  * [[GraftStreamSource]] (options `startingVersion`,
  * `maxVersionsPerTrigger`, `maxFilesPerTrigger`,
  * `maxBytesPerTrigger`, `readChangeFeed`, `updateImages`).
  * `df.writeStream.format("graft")` is the exactly-once streaming
  * sink — see [[GraftStreamSink]] (Append mode, or Update mode with
  * `mergeKeys` for per-trigger keyed merges; `partitionBy` honored on
  * first-batch table creation).
  */
class GraftDataSource extends RelationProvider
    with CreatableRelationProvider with StreamSourceProvider
    with StreamSinkProvider with DataSourceRegister {

  override def shortName(): String = "graft"

  private def opt(parameters: Map[String, String],
      key: String): Option[String] =
    parameters.collectFirst {
      case (k, v) if k.equalsIgnoreCase(key) => v
    }

  private def pathOf(parameters: Map[String, String]): String =
    opt(parameters, "path").getOrElse(
      sys.error("graft: 'path' required — use .load(path)/.save(path)"))

  override def sourceSchema(sqlContext: SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    // The stream schema is table-defined; a user-supplied readStream
    // schema would silently diverge from the batches the source emits
    // (Delta takes the same stance). Fail upfront, not at runtime.
    if (schema.isDefined)
      throw new IllegalArgumentException(
        "graft: a read schema cannot be specified for the graft " +
          "streaming source — the schema is derived from the table")
    (shortName(), GraftStreamSource.sourceSchema(
      sqlContext.sparkSession, pathOf(parameters), parameters))
  }

  override def createSource(sqlContext: SQLContext,
      metadataPath: String, schema: Option[StructType],
      providerName: String, parameters: Map[String, String])
      : org.apache.spark.sql.execution.streaming.Source =
    new GraftStreamSource(sqlContext, pathOf(parameters), parameters)

  /** `df.writeStream.format("graft")` — see [[GraftStreamSink]].
    * Append mode (plain batch appends), or Update mode with a
    * `mergeKeys` option (exactly-once keyed merge per micro-batch —
    * CDC-shaped batches reduce to final dispositions, deletes apply);
    * Complete refused. `partitionBy` comes from the stream writer's
    * partitionBy(...) columns or a comma-separated option. */
  override def createSink(sqlContext: SQLContext,
      parameters: Map[String, String], partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    import org.apache.spark.sql.streaming.OutputMode
    val mergeKeys = opt(parameters, "mergeKeys")
      .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
      .getOrElse(Seq.empty)
    outputMode match {
      case m if m == OutputMode.Append() =>
        require(mergeKeys.isEmpty,
          "graft sink: mergeKeys requires outputMode(\"update\") — an " +
            "Append sink silently deduplicating by key would hide " +
            "dropped rows; pick the mode that states the semantics")
      case m if m == OutputMode.Update() =>
        require(mergeKeys.nonEmpty,
          "graft sink: Update output mode needs a key identity — set " +
            ".option(\"mergeKeys\", \"k1,k2\") to upsert by those " +
            "columns (CDC-shaped batches also apply their deletes)")
      case other =>
        throw new IllegalArgumentException(
          s"graft sink supports Append and Update(mergeKeys) output " +
            s"modes, got $other — Complete would rewrite the table " +
            "per trigger; use SnapshotTable.overwrite under your own " +
            "control")
    }
    val partCols =
      if (partitionColumns.nonEmpty) partitionColumns
      else opt(parameters, "partitionBy")
        .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
        .getOrElse(Seq.empty)
    require(mergeKeys.isEmpty ||
        !opt(parameters, "mergeSchema").exists(_.toBoolean),
      "graft sink: mergeSchema composes with Append mode only — a " +
        "keyed merge evolves no schema (merge refuses drifted columns)")
    new GraftStreamSink(sqlContext, pathOf(parameters), partCols,
      mergeSchema =
        opt(parameters, "mergeSchema").exists(_.toBoolean),
      mergeKeys = mergeKeys,
      // `cdc` pins how Update-mode batches are interpreted, instead
      // of sniffing column names: true REQUIRES the CDC shape
      // (refused loudly otherwise), false forces plain upserts even
      // if columns named change_type/_commit_version happen to exist
      cdcOverride = opt(parameters, "cdc").map(_.toBoolean))
  }

  override def createRelation(sqlContext: SQLContext,
      parameters: Map[String, String]): BaseRelation = {
    val spark = sqlContext.sparkSession
    val path = pathOf(parameters)
    val vs = SnapshotTable.versions(spark, path)
    if (vs.isEmpty)
      throw new IllegalArgumentException(
        s"graft: no snapshot table at $path — no _graft_log manifest " +
          "found (create one with df.write.format(\"graft\").save(path))")
    // BATCH change-data-feed (Delta parity):
    // spark.read.format("graft").option("readChangeFeed","true")
    //   .option("startingVersion", s).option("endingVersion", e)
    // — per-commit change rows over the range (see
    // SnapshotTable.changeFeed; updateImages composes)
    if (opt(parameters, "readChangeFeed").exists(_.toBoolean)) {
      val from = opt(parameters, "startingVersion").map(_.toInt)
        .getOrElse(0)
      val to = opt(parameters, "endingVersion").map(_.toInt)
      val upd = opt(parameters, "updateImages").exists(_.toBoolean)
      return new GraftChangeFeedRelation(sqlContext, path, from, to, upd)
    }
    val version = opt(parameters, "versionAsOf").map(_.toInt)
      .orElse(opt(parameters, "timestampAsOf").map { ts =>
        SnapshotTable.versionAsOf(spark, path,
          SnapshotTable.parseTimestampOption(spark, ts))
      })
      .getOrElse(vs.max)
    // FAST PATH: hand Spark the GraftFileIndex-backed HadoopFsRelation
    // itself — FileSourceStrategy plans it as a native columnar
    // parquet scan (vectorized reader, whole-stage codegen, manifest
    // pruning + DPP at planning time), the same front-door shape as
    // Delta's DeltaLog.createRelation. Versions with deletion vectors
    // or column mapping keep the columnar scan too, through
    // GraftParquetFileFormat (in-scan DV masking + name translation);
    // the V1 row-translating relation remains the always-correct
    // fallback for Catalyst-ineligible versions.
    val rel = SnapshotTable.frontDoorRelation(spark, path, version)
      .getOrElse(new GraftRelation(sqlContext, path, version))
    // UNPINNED head relations carry the insert-target mark on their
    // file format: with GraftExtensions installed, SQL INSERT INTO /
    // INSERT OVERWRITE rewrite into manifest commits
    // ([[graft.plans.RewriteGraftInserts]]); without the extensions —
    // or through a versionAsOf/timestampAsOf pin, where writing "into
    // the past" is RESTORE's explicit job — the formats' prepareWrite
    // refusal keeps raw file-source writes out, loudly.
    val pinned = opt(parameters, "versionAsOf").isDefined ||
      opt(parameters, "timestampAsOf").isDefined
    rel match {
      case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation
          if !pinned =>
        fs.copy(fileFormat =
          GraftInsertTarget.mark(fs.fileFormat, path))(spark)
      case other => other
    }
  }

  override def createRelation(sqlContext: SQLContext, mode: SaveMode,
      parameters: Map[String, String],
      data: org.apache.spark.sql.DataFrame): BaseRelation = {
    val spark = sqlContext.sparkSession
    val path = pathOf(parameters)
    val exists = SnapshotTable.versions(spark, path).nonEmpty
    val partitionBy = opt(parameters, "partitionBy")
      .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
      .getOrElse(Seq.empty)
    mode match {
      case SaveMode.ErrorIfExists =>
        require(!exists, s"graft table already exists at $path")
        SnapshotTable.create(data, path, partitionBy)
      case SaveMode.Ignore =>
        if (!exists) SnapshotTable.create(data, path, partitionBy)
      case SaveMode.Append =>
        if (!exists) SnapshotTable.create(data, path, partitionBy)
        else SnapshotTable.append(data, path, evolveSchema =
          opt(parameters, "mergeSchema").exists(_.toBoolean))
      case SaveMode.Overwrite =>
        if (!exists) SnapshotTable.create(data, path, partitionBy)
        else SnapshotTable.overwrite(data, path)
    }
    // strip BOTH time-travel pins: the relation handed back to the
    // writer must reflect the version just committed, not a version
    // the caller happened to pin for an earlier read
    createRelation(sqlContext,
      parameters.filterNot(p => p._1.equalsIgnoreCase("versionAsOf") ||
        p._1.equalsIgnoreCase("timestampAsOf")))
  }
}

/** The batch change feed as a V1 relation. Change rows are
  * churn-sized (one manifest diff per version in the range), so a V1
  * TableScan is the right weight class — no columnar front door
  * needed, and Spark re-applies any filters above it. */
private[graft] class GraftChangeFeedRelation(ctx: SQLContext,
    path: String, from: Int, to: Option[Int], updateImages: Boolean)
  extends BaseRelation with TableScan {

  override def sqlContext: SQLContext = ctx

  // endingVersion pinned at relation CREATION: schema resolution and
  // buildScan must see the same head (a commit racing between the
  // two would scan versions the schema never aligned to), and the
  // feed builds ONCE (lazy val) — each construction is one manifest
  // diff per version in the range, not something to pay twice
  private val toV: Option[Int] = to.orElse(Some(
    SnapshotTable.versions(ctx.sparkSession, path).max))

  private lazy val feed: org.apache.spark.sql.DataFrame =
    SnapshotTable.changeFeed(ctx.sparkSession, path, from, toV,
      updateImages)

  override val schema: StructType = feed.schema

  override def buildScan(): RDD[Row] = feed.rdd
}

/** The snapshot table as a V1 relation: filters and projections push
  * into [[SnapshotTable.readWhere]]'s metadata pruning. */
private[graft] class GraftRelation(ctx: SQLContext, path: String,
    version: Int)
  extends BaseRelation with PrunedFilteredScan {

  override def sqlContext: SQLContext = ctx

  override val schema: StructType =
    SnapshotTable.read(ctx.sparkSession, path, Some(version)).schema

  /** Translate a V1 filter to (Column, exact). None = cannot push
    * (sound — Spark re-applies every filter above a V1 scan). An And
    * may push one translated side — a SUPERSET of the matching rows,
    * sound only in POSITIVE polarity — so that result is marked
    * inexact, and Not refuses any inexact child: negating a superset
    * yields a SUBSET, and a pushed subset prunes files whose rows the
    * re-filter above the scan can never resurrect (silent missing
    * rows). Same polarity rule as Spark's own translateFilter
    * (`canPartialPushDown`). Or propagates the weaker flag: a
    * superset arm keeps Or itself a sound superset positively, but
    * disqualifies it under Not. */
  private[graft] def toColumn(f: Filter): Option[(Column, Boolean)] =
    f match {
      case EqualTo(a, v) => Some((col(a) === lit(v), true))
      case EqualNullSafe(a, v) => Some((col(a) <=> lit(v), true))
      case GreaterThan(a, v) => Some((col(a) > lit(v), true))
      case GreaterThanOrEqual(a, v) => Some((col(a) >= lit(v), true))
      case LessThan(a, v) => Some((col(a) < lit(v), true))
      case LessThanOrEqual(a, v) => Some((col(a) <= lit(v), true))
      case In(a, vs) => Some((col(a).isin(vs.toSeq: _*), true))
      case IsNull(a) => Some((col(a).isNull, true))
      case IsNotNull(a) => Some((col(a).isNotNull, true))
      case StringStartsWith(a, p) => Some((col(a).startsWith(p), true))
      case And(l, r) => (toColumn(l), toColumn(r)) match {
        case (Some((a, ea)), Some((b, eb))) => Some((a && b, ea && eb))
        case (one, other) =>
          one.orElse(other).map { case (c, _) => (c, false) }
      }
      case Or(l, r) => for { (a, ea) <- toColumn(l)
                             (b, eb) <- toColumn(r) }
        yield (a || b, ea && eb)
      case Not(c) => toColumn(c).collect { case (cc, true) => (!cc, true) }
      case _ => None
    }

  override def buildScan(requiredColumns: Array[String],
      filters: Array[Filter]): RDD[Row] = {
    val spark = ctx.sparkSession
    val pred = filters.flatMap(f => toColumn(f).map(_._1))
      .reduceOption(_ && _)
    val base = pred match {
      case Some(p) =>
        SnapshotTable.readWhere(spark, path, p, Some(version))
      case None => SnapshotTable.read(spark, path, Some(version))
    }
    base.select(requiredColumns.toSeq.map(col): _*).rdd
  }
}

