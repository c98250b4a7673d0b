package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Parquet [[ParquetFileFormat]] that serves COLUMN-MAPPED and
  * MoR-DELETED snapshot versions through the `format("graft")` front
  * door while keeping the native columnar file scan.
  *
  * The V1 `RelationProvider` contract only lets the data source hand
  * Spark a `BaseRelation` — there is no hook to put a projection or
  * anti-join ABOVE the scan the way [[SnapshotTable.readCatalyst]]
  * does. Before this format existed, any version carrying deletion
  * vectors or renamed columns therefore fell off the fast path to the
  * V1 row-materializing relation — row boxing and no whole-stage
  * codegen on exactly the tables where it hurts most (a 100 TB table
  * under continuous MoR churn is the steady state that makes MoR
  * worth having). Delta solves this by applying DVs inside the scan;
  * this class is the same move expressed as a minimal
  * `ParquetFileFormat` subclass:
  *
  *  - '''Column mapping''' — the relation's `dataSchema` carries
  *    LOGICAL names (so analysis of user queries resolves), and this
  *    format translates `dataSchema`/`requiredSchema`/pushed filters
  *    to PHYSICAL names before delegating to the parent. Returned
  *    rows are positional, so no output translation is needed, and
  *    the scan stays fully vectorized (mapping alone never leaves the
  *    batch path).
  *
  *  - '''Deletion vectors''' — the format appends Spark's parquet
  *    row-index temporary column (`_tmp_metadata_row_index`, the
  *    machinery behind `_metadata.row_index` — filled with TRUE
  *    in-file row positions by both the vectorized and the row-based
  *    parquet readers, correct across file splits and row-group
  *    pushdown) to the schema it requests, masks each row's position
  *    against the file's deletion set, and hides the helper column
  *    again. The scan stays `Batched: true` end to end: surviving
  *    positions are REMAPPED inside each `ColumnarBatch` through thin
  *    [[GraftParquetFileFormat.RemapVector]] views (Iceberg's
  *    vectorized-delete shape), so whole-stage codegen consumes
  *    columnar batches exactly as on a clean table. Files with no
  *    deleted rows take a separate plain reader with zero masking
  *    work at all.
  *
  * A file's deletion set is its own per-file [[DvSidecar]] blob: the
  * descriptor rides its listing metadata ([[GraftFileIndex]] attaches
  * it; Spark copies the map onto every [[PartitionedFile]] split), and
  * the TASK loads exactly its file's positions with one ranged read,
  * cached per-executor. No driver collection, no broadcast, NO SIZE
  * BOUND — the shape that keeps a 100 TB table under sustained MoR
  * churn on the columnar fast path.
  *
  * Reference behavior source: sf_datalake reads its datasets through
  * pandas/pyspark readers with no lakehouse layer (`io.py`); this
  * front-door machinery is beyond-reference scale work.
  */
private[graft] class GraftParquetFileFormat(
    val log2phys: Map[String, String],
    val perFileDv: Boolean = false,
    val insertablePath: Option[String] = None)
  extends ParquetFileFormat {

  import GraftParquetFileFormat.RowIndexCol

  // SQL `INSERT INTO` a catalog table backed by this relation routes
  // through Spark's file-source write path, which would drop parquet
  // files into the table directory that NO manifest references —
  // readers silently never see them and the next vacuum reaps them
  // as orphans. Every legitimate write goes through the manifest
  // committer; refuse at write preparation, loudly.
  override def prepareWrite(sparkSession: org.apache.spark.sql.SparkSession,
      job: org.apache.hadoop.mapreduce.Job,
      options: Map[String, String],
      dataSchema: StructType)
      : org.apache.spark.sql.execution.datasources.OutputWriterFactory =
    throw GraftReadOnlyParquetFormat.directWriteRefusal

  private def phys(name: String): String = log2phys.getOrElse(name, name)

  private def toPhys(st: StructType): StructType =
    if (log2phys.isEmpty) st
    else StructType(st.fields.map(f => f.copy(name = phys(f.name))))

  /** A pushed filter with every column reference translated to its
    * physical name. None = a filter shape this translator does not
    * know — it must be DROPPED from pushdown when a mapping exists
    * (pushdown is best-effort, but a row-group pruned by a filter on
    * the WRONG physical column loses rows no downstream FilterExec
    * can resurrect). */
  private def toPhys(f: sources.Filter): Option[sources.Filter] = f match {
    case sources.EqualTo(a, v) => Some(sources.EqualTo(phys(a), v))
    case sources.EqualNullSafe(a, v) =>
      Some(sources.EqualNullSafe(phys(a), v))
    case sources.GreaterThan(a, v) =>
      Some(sources.GreaterThan(phys(a), v))
    case sources.GreaterThanOrEqual(a, v) =>
      Some(sources.GreaterThanOrEqual(phys(a), v))
    case sources.LessThan(a, v) => Some(sources.LessThan(phys(a), v))
    case sources.LessThanOrEqual(a, v) =>
      Some(sources.LessThanOrEqual(phys(a), v))
    case sources.In(a, vs) => Some(sources.In(phys(a), vs))
    case sources.IsNull(a) => Some(sources.IsNull(phys(a)))
    case sources.IsNotNull(a) => Some(sources.IsNotNull(phys(a)))
    case sources.And(l, r) => for {
      lt <- toPhys(l); rt <- toPhys(r)
    } yield sources.And(lt, rt)
    case sources.Or(l, r) => for {
      lt <- toPhys(l); rt <- toPhys(r)
    } yield sources.Or(lt, rt)
    case sources.Not(c) => toPhys(c).map(sources.Not)
    case sources.StringStartsWith(a, v) =>
      Some(sources.StringStartsWith(phys(a), v))
    case sources.StringEndsWith(a, v) =>
      Some(sources.StringEndsWith(phys(a), v))
    case sources.StringContains(a, v) =>
      Some(sources.StringContains(phys(a), v))
    case _: sources.AlwaysTrue => Some(f)
    case _: sources.AlwaysFalse => Some(f)
    case other => if (log2phys.isEmpty) Some(other) else None
  }

  // batch output is KEPT under DV masking: deleted positions are
  // remapped away inside each ColumnarBatch (RemapVector below), so
  // the scan stays `Batched: true` end to end

  /** Under DV masking a scan's batches mix the parent's concrete
    * on/off-heap vectors (clean files) with [[GraftParquetFileFormat
    * .RemapVector]] views (masked files), so whole-stage codegen must
    * access them through the generic [[org.apache.spark.sql
    * .vectorized.ColumnVector]] interface instead of casting to the
    * parquet reader's concrete class. */
  override def vectorTypes(requiredSchema: StructType,
      partitionSchema: StructType,
      sqlConf: org.apache.spark.sql.internal.SQLConf)
      : Option[Seq[String]] =
    if (!perFileDv)
      super.vectorTypes(requiredSchema, partitionSchema, sqlConf)
    else None

  override def buildReaderWithPartitionValues(
      sparkSession: SparkSession,
      dataSchema: StructType,
      partitionSchema: StructType,
      requiredSchema: StructType,
      filters: Seq[sources.Filter],
      options: Map[String, String],
      hadoopConf: org.apache.hadoop.conf.Configuration)
      : PartitionedFile => Iterator[InternalRow] = {
    val physData = toPhys(dataSchema)
    val physReq = toPhys(requiredSchema)
    val physFilters = filters.flatMap(toPhys(_).toSeq)
    if (!perFileDv) {
        // mapping only: physical-name scan, positional rows — nothing
        // to do above the parent
        super.buildReaderWithPartitionValues(sparkSession, physData,
          partitionSchema, physReq, physFilters, options, hadoopConf)
    } else {
        // per-file blob loads need a filesystem on the EXECUTOR; ship
        // the scan's hadoop conf the standard way
        val confBc = sparkSession.sparkContext.broadcast(
          new org.apache.spark.util.SerializableConfiguration(
            new org.apache.hadoop.conf.Configuration(hadoopConf)))
        // request real in-file row positions; reuse the column if the
        // caller (a user `_metadata.row_index` projection) already
        // asked for it
        // NULLABLE like Spark's own ROW_INDEX_FIELD: the readers
        // treat the column as "missing from the file" (required would
        // fail the missing-column check) and then fill it with
        // generated row indexes instead of nulls
        val existing = physReq.fieldNames.indexOf(RowIndexCol)
        val reqWithIdx =
          if (existing >= 0) physReq
          else physReq.add(StructField(RowIndexCol, LongType,
            nullable = true))
        val idxOrd = if (existing >= 0) existing else physReq.length
        val strip = existing < 0
        // TWO parent readers, chosen per file: a file with NO deleted
        // rows takes the plain one — no helper column, no per-row
        // filter, no strip projection; zero overhead beyond the
        // scan-global row (not batch) hand-off. Under scattered churn
        // most files are clean, so the mask tax scales with churn,
        // not table size. Each parent gets its OWN Configuration
        // copy: the parent writes its requested-schema keys into the
        // conf before broadcasting it, and in local mode a broadcast
        // hands back the same live object, so a shared conf would
        // leak the second call's schema into the first reader.
        val parentPlain = super.buildReaderWithPartitionValues(
          sparkSession, physData, partitionSchema, physReq,
          physFilters, options,
          new org.apache.hadoop.conf.Configuration(hadoopConf))
        val parentIdx = super.buildReaderWithPartitionValues(
          sparkSession, physData, partitionSchema, reqWithIdx,
          physFilters, options,
          new org.apache.hadoop.conf.Configuration(hadoopConf))
        // parent row layout: [required..., rowIdx, partition...] —
        // the strip projection drops the helper column; codegen'd
        // once per deserialized task, not once per file
        val stripProj =
          if (!strip) null
          else new GraftParquetFileFormat.LazyStripProjection(
            physReq.fields.map(f => (f.dataType, f.nullable)),
            partitionSchema.fields.map(f => (f.dataType, f.nullable)))
        (pf: PartitionedFile) => {
          val desc = pf.otherConstantMetadataColumnValues
            .get(DvSidecar.MetaKey)
          if (desc.isEmpty) parentPlain(pf)
          else {
            val deleted = DvSidecar.load(desc.get.asInstanceOf[String],
              confBc.value.value)
            // row indexes arrive in file order, so deletion testing
            // is a merge scan — O(1) amortized per row, not a binary
            // search; cursor state lives per file-open
            val cursor = new GraftParquetFileFormat.DvCursor(deleted)
            // the parent's iterator yields ColumnarBatch (erased to
            // InternalRow, the standard file-scan hack) when batch
            // output is on, plain rows otherwise — mask both shapes
            parentIdx(pf).asInstanceOf[Iterator[AnyRef]].flatMap {
              case b: org.apache.spark.sql.vectorized.ColumnarBatch =>
                Iterator.single(GraftParquetFileFormat
                  .remapBatch(b, cursor, idxOrd, strip))
              case r: InternalRow =>
                if (cursor.isDeleted(r.getLong(idxOrd))) Iterator.empty
                else Iterator.single(
                  if (strip) stripProj.projection(r) else r)
            }.asInstanceOf[Iterator[InternalRow]]
          }
        }
    }
  }

  // a plain ParquetFileFormat compares equal to ANY ParquetFileFormat
  // (its equals is an isInstanceOf check) — two graft relations over
  // different versions/DV sets must never be deduplicated into one
  // scan, so identity semantics here
  override def equals(other: Any): Boolean = other match {
    case g: GraftParquetFileFormat => g eq this
    case _ => false
  }
  override def hashCode(): Int = System.identityHashCode(this)
}

private[graft] object GraftParquetFileFormat {
  /** Spark's parquet row-index request column
    * (`ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME`, private to
    * Spark but a stable documented constant): a `LongType` field of
    * this name in the required schema is filled with the row's TRUE
    * position in its file by both parquet readers. */
  val RowIndexCol = "_tmp_metadata_row_index"

  import org.apache.spark.sql.vectorized.{ColumnarArray, ColumnarBatch, ColumnarMap, ColumnVector}

  /** Deleted-position membership as a merge scan over the file's
    * SORTED deletion set: the parquet readers emit row indexes in
    * file order (across batches and row-group skips alike), so the
    * cursor only ever advances — O(deleted + rows) per file total. A
    * position regression (impossible today, cheap to insure against)
    * falls back to binary search for that row. One cursor per file
    * open; tasks are single-threaded over their files. */
  private[sources] final class DvCursor(sorted: Array[Long]) {
    private var i = 0
    def isDeleted(pos: Long): Boolean = {
      if (i > 0 && pos < sorted(i - 1))
        return java.util.Arrays.binarySearch(sorted, pos) >= 0
      while (i < sorted.length && sorted(i) < pos) i += 1
      i < sorted.length && sorted(i) == pos
    }
  }

  /** `batch` with deleted row positions masked out and (when `strip`)
    * the row-index helper column removed — WITHOUT leaving the batch
    * path (Iceberg's ColumnVectorWithFilter pattern): surviving rows
    * get a logical→physical row map, and every surviving column is
    * wrapped in a [[RemapVector]] that redirects accesses through it.
    * A batch with no deleted rows skips the wrapping entirely (the
    * common shape under scattered churn) and only drops the helper
    * column. */
  private[sources] def remapBatch(batch: ColumnarBatch,
      cursor: DvCursor, idxOrd: Int, strip: Boolean): ColumnarBatch = {
    val n = batch.numRows()
    val idxVec = batch.column(idxOrd)
    val rowMap = new Array[Int](n)
    var kept = 0
    var i = 0
    while (i < n) {
      if (!cursor.isDeleted(idxVec.getLong(i))) {
        rowMap(kept) = i
        kept += 1
      }
      i += 1
    }
    val cols = Array.tabulate[ColumnVector](batch.numCols())(batch.column)
    val out =
      if (!strip) cols
      else cols.patch(idxOrd, Nil, 1)
    if (kept == n) {
      if (!strip) batch
      else new ColumnarBatch(out, n)
    } else new ColumnarBatch(
      out.map(new RemapVector(_, rowMap)), kept)
  }

  /** Read-only [[ColumnVector]] view redirecting row ids through a
    * surviving-row map. Struct children are wrapped recursively
    * (their accessors take the PARENT row id); arrays/maps/decimals/
    * strings delegate with the mapped id, so their element offsets
    * keep pointing at the UNWRAPPED child data. */
  private[sources] final class RemapVector(base: ColumnVector,
      rowMap: Array[Int]) extends ColumnVector(base.dataType) {
    override def close(): Unit = base.close()
    // the downstream ColumnarToRow calls closeIfFreeable() after
    // consuming each batch; the parquet reader REUSES its vectors
    // across batches (its own writable vectors no-op this call), so
    // a view over them must never cascade a close
    override def closeIfFreeable(): Unit = ()
    override def hasNull: Boolean = base.hasNull
    override def numNulls: Int = base.numNulls
    override def isNullAt(i: Int): Boolean = base.isNullAt(rowMap(i))
    override def getBoolean(i: Int): Boolean = base.getBoolean(rowMap(i))
    override def getByte(i: Int): Byte = base.getByte(rowMap(i))
    override def getShort(i: Int): Short = base.getShort(rowMap(i))
    override def getInt(i: Int): Int = base.getInt(rowMap(i))
    override def getLong(i: Int): Long = base.getLong(rowMap(i))
    override def getFloat(i: Int): Float = base.getFloat(rowMap(i))
    override def getDouble(i: Int): Double = base.getDouble(rowMap(i))
    override def getArray(i: Int): ColumnarArray = base.getArray(rowMap(i))
    override def getMap(i: Int): ColumnarMap = base.getMap(rowMap(i))
    override def getDecimal(i: Int, precision: Int, scale: Int)
        : org.apache.spark.sql.types.Decimal =
      base.getDecimal(rowMap(i), precision, scale)
    override def getUTF8String(i: Int)
        : org.apache.spark.unsafe.types.UTF8String =
      base.getUTF8String(rowMap(i))
    override def getBinary(i: Int): Array[Byte] = base.getBinary(rowMap(i))
    override def getChild(i: Int): ColumnVector =
      new RemapVector(base.getChild(i), rowMap)
  }

  /** Serializable carrier of the strip projection: the generated
    * `UnsafeProjection` itself cannot ship in a task closure, so it
    * is rebuilt lazily ON the executor, once per deserialized task
    * (each task runs single-threaded over its files, so a plain lazy
    * val is safe and the codegen cost amortizes over every masked
    * file in the task). */
  private[sources] final class LazyStripProjection(
      reqTypes: Array[(org.apache.spark.sql.types.DataType, Boolean)],
      partTypes: Array[(org.apache.spark.sql.types.DataType, Boolean)])
    extends Serializable {
    @transient lazy val projection: UnsafeProjection = {
      val n = reqTypes.length
      UnsafeProjection.create(
        reqTypes.zipWithIndex.map { case ((dt, nu), i) =>
          BoundReference(i, dt, nu) }.toIndexedSeq ++
        partTypes.zipWithIndex.map { case ((dt, nu), i) =>
          BoundReference(n + 1 + i, dt, nu) })
    }
  }
}

/** Stock parquet READING with the file-source write path refused: the
  * front door for DV-free, unmapped versions. SELECT plans stay
  * byte-identical to stock ParquetFileFormat (no read method is
  * overridden), but a SQL `INSERT INTO` the catalog table — which
  * Spark plans as a direct file-source write into the table directory,
  * invisible to every manifest — fails loudly instead of silently
  * losing the data to the next vacuum. */
private[graft] class GraftReadOnlyParquetFormat(
    val insertablePath: Option[String] = None)
  extends org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat {
  override def prepareWrite(sparkSession: org.apache.spark.sql.SparkSession,
      job: org.apache.hadoop.mapreduce.Job,
      options: Map[String, String],
      dataSchema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.execution.datasources.OutputWriterFactory =
    throw GraftReadOnlyParquetFormat.directWriteRefusal
}

/** The insert-target marking the data source stamps on UNPINNED
  * head-version relations' file formats, read back by
  * [[graft.plans.RewriteGraftInserts]] to rewrite a SQL insert into a
  * manifest commit. Pinned (time-travel) relations carry None and
  * keep the loud refusal. */
private[graft] object GraftInsertTarget {
  def of(fmt: org.apache.spark.sql.execution.datasources.FileFormat)
      : Option[String] = fmt match {
    case g: GraftReadOnlyParquetFormat => g.insertablePath
    case g: GraftParquetFileFormat => g.insertablePath
    case _ => None
  }

  def mark(fmt: org.apache.spark.sql.execution.datasources.FileFormat,
      path: String)
      : org.apache.spark.sql.execution.datasources.FileFormat = fmt match {
    case g: GraftParquetFileFormat =>
      new GraftParquetFileFormat(g.log2phys, g.perFileDv, Some(path))
    case _: GraftReadOnlyParquetFormat =>
      new GraftReadOnlyParquetFormat(Some(path))
    case other => other
  }
}

private[graft] object GraftReadOnlyParquetFormat {
  def directWriteRefusal: UnsupportedOperationException =
    new UnsupportedOperationException(
      "graft: a direct file-source write (INSERT INTO the catalog " +
        "table, or a foreign-format writer aimed at the table path) " +
        "would add parquet files no manifest references — readers " +
        "would never see the rows and vacuum would reap them as " +
        "orphans. Write through df.write.format(\"graft\") " +
        "(mode append/overwrite), SnapshotTable.append/merge/" +
        "overwrite, or the streaming sink.")
}
