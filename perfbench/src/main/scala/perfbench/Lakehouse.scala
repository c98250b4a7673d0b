package perfbench

import java.io.File
import java.time.LocalDate

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.SparkEntry
import graft.sources.SnapshotTable

/** A seeded write-and-read mix on one long-lived snapshot table created
  * from the generated lineitem. Every read and the final state are
  * checked against a plain-DataFrame model built from the same batches,
  * and every commit verb must commit exactly one version. */
final class Lakehouse(run: Run) extends Workload {
  import LakeOp._
  import Main._

  private val spark = run.spark
  private val a = run.args
  private val keys = Seq("l_orderkey", "l_linenumber")
  /** Versions a vacuum keeps: time travel reaches 5 commits back. */
  private val keep = 6
  private val targetFileBytes = 256L << 10

  var inputs = ""
  private var table = ""
  private var schema: StructType = _
  private var script: LakeScript = _
  private var latest = 0
  private var oldest = 0
  /** The model: the table's rows as a plain DataFrame. */
  private var model: DataFrame = _
  private val modelAt = mutable.Map.empty[Int, DataFrame]
  /** Operations of the timed passes, replayed onto the model at the end. */
  private val timedLog = mutable.ArrayBuffer.empty[LakeOp]
  private val added = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private var timedCommits = 0

  def setup(rep: Int): Unit = {
    if (inputs.nonEmpty) { deleteTree(inputs); deleteTree(table) }
    inputs = run.dir(s"in$rep")
    table = run.dir(s"lake$rep")
    // the table, the streaming query's documents and the control's
    Gen.write(spark, inputs, a.seed, a.sf,
      Set("lineitem", "documents"))
    SnapshotTable.create(spark.read.parquet(s"$inputs/lineitem.parquet")
      .repartitionByRange(8, col("l_orderkey")), table)
  }

  private def batch(rows: Seq[LineRow]): DataFrame = {
    val epoch = LocalDate.ofEpochDay(0).atStartOfDay()
    spark.createDataFrame(rows.map(r => Row(r.orderKey, r.partKey,
      r.suppKey, r.lineNumber, r.quantity, r.extendedPrice, r.discount,
      r.tax, r.returnFlag, r.lineStatus, epoch.plusDays(r.shipDay.toLong)))
      .asJava, schema)
  }

  /** Count and two 31-bit hash sums over all rows: equal multisets of
    * rows give equal fingerprints. */
  private def fingerprint(df: DataFrame): Seq[Long] = {
    val cs = df.columns.sorted.map(col).toSeq
    val r = df.agg(count(lit(1)),
      sum(pmod(xxhash64(cs: _*), lit(2147483647L))),
      sum(pmod(hash(cs: _*).cast("long"), lit(2147483647L)))).head()
    (0 until 3).map(i => if (r.isNullAt(i)) 0L else r.getLong(i))
  }

  private def fullAgg(df: DataFrame): Seq[Row] =
    df.groupBy("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"), sum("l_quantity").as("q"),
        max("l_extendedprice").as("p"))
      .orderBy("l_returnflag", "l_linestatus").collect().toSeq

  /** The model after `op`; `written` collects the rows a write supplied. */
  private def applyModel(m: DataFrame, op: LakeOp,
      written: mutable.ArrayBuffer[DataFrame]): DataFrame = op match {
    case Append(rows) =>
      val b = batch(rows); written += b; m.unionByName(b)
    case Merge(rows) =>
      val b = batch(rows); written += b
      m.join(b.select(keys.map(col): _*), keys, "left_anti").unionByName(b)
    case Delete(p) => m.filter(!coalesce(expr(p), lit(false)))
    case DeleteMoR(p) => m.filter(!coalesce(expr(p), lit(false)))
    case UpdateMoR(p, set) =>
      val hit = coalesce(expr(p), lit(false))
      val out = m.select(m.columns.toSeq.map(c => set.toMap.get(c)
        .map(e => when(hit, expr(e)).otherwise(col(c)))
        .getOrElse(col(c)).cast(m.schema(c).dataType).as(c)): _*)
      written += out.filter(expr(p))
      out
    case _ => m
  }

  private def files(): Map[String, Long] = {
    val root = new File(table).toPath
    java.nio.file.Files.walk(root).iterator().asScala
      .filter(p => java.nio.file.Files.isRegularFile(p))
      .filterNot(p => p.getFileName.toString.endsWith(".crc"))
      .map(p => root.relativize(p).toString ->
        java.nio.file.Files.size(p)).toMap
  }

  private def sizeOf(path: String): Long =
    java.nio.file.Files.walk(new File(path).toPath).iterator().asScala
      .filter(p => java.nio.file.Files.isRegularFile(p))
      .filterNot { p =>
        val n = p.getFileName.toString
        n.endsWith(".crc") || n.startsWith("_")
      }.map(p => java.nio.file.Files.size(p)).sum

  /** Bytes of `df` written once as plain parquet. */
  private def plainBytes(df: DataFrame, name: String): Long = {
    val out = run.dir(name)
    df.coalesce(1).write.mode("overwrite").parquet(out)
    val n = sizeOf(out)
    deleteTree(out)
    n
  }

  def check(): Unit = {
    val base = spark.read.parquet(s"$inputs/lineitem.parquet")
    schema = base.schema
    model = base.localCheckpoint()
    modelAt(0) = model
    script = new LakeScript(a.seed, model.select(keys.map(col): _*)
      .collect().toSeq.map(r => (r.getLong(0), r.getInt(1))))
    // one round checks every verb and read once; timed passes run more
    script.pass(0, rounds = 1).foreach(execute(_, checking = true))
    // the timed passes do not read the model: park it on disk, so its
    // blocks leave the heap that the timed passes measure
    modelAt.clear()
    model.write.parquet(run.dir("model"))
    model = spark.read.parquet(run.dir("model"))
  }

  def pass(p: Int): Unit = script.pass(p).foreach(execute(_, checking = false))

  private def commit(op: LakeOp, checking: Boolean)(verb: => Int): Unit = {
    val before = files()
    val (res, sample) = run.timed(op.name, "commit", "snapshot")(verb)
    val after = files()
    res.foreach { v =>
      run.check(v == latest + 1,
        s"${op.name} (pass ${run.pass}) committed version $v after $latest",
        Some(sample))
      latest = math.max(latest, v)
    }
    if (!checking) {
      timedCommits += 1
      (after.keySet -- before.keySet).foreach { f =>
        val kind = if (f.startsWith("_graft_log")) "log" else "data"
        added(kind) += after(f)
      }
      timedLog += op
    } else {
      model = applyModel(model, op, mutable.ArrayBuffer.empty)
        .localCheckpoint()
      modelAt(latest) = model
    }
  }

  private def read(op: LakeOp, checking: Boolean)(table: => DataFrame,
      expected: => DataFrame): Unit = {
    val (res, sample) = run.timed(op.name, "read", "snapshot") {
      val df = table
      materialize(df)
      df
    }
    if (checking) res.foreach { df =>
      run.check(fingerprint(df) == fingerprint(expected),
        s"${op.name} (pass ${run.pass}) differs from the model", Some(sample))
    }
  }

  private def execute(op: LakeOp, checking: Boolean): Unit = op match {
    case Append(rows) =>
      val b = batch(rows)
      commit(op, checking)(SnapshotTable.append(b, table))
    case Merge(rows) =>
      val b = batch(rows)
      commit(op, checking)(SnapshotTable.merge(b, table, keys))
    case Delete(p) =>
      commit(op, checking)(SnapshotTable.delete(spark, table, expr(p)))
    case DeleteMoR(p) =>
      commit(op, checking)(SnapshotTable.deleteMoR(spark, table, expr(p)))
    case UpdateMoR(p, set) =>
      commit(op, checking)(SnapshotTable.updateMoR(spark, table, expr(p),
        set.map { case (c, e) => c -> expr(e) }.toMap))
    case Compact =>
      commit(op, checking)(SnapshotTable.optimizeIncremental(spark, table,
        targetFileBytes).getOrElse(latest))
    case Vacuum =>
      run.timed(op.name, "maintenance", "snapshot")(
        SnapshotTable.vacuum(spark, table, keep = keep, graceMs = 0L))
      oldest = math.max(oldest, latest - keep + 1)
      if (checking) run.check(
        fingerprint(SnapshotTable.read(spark, table)) == fingerprint(model),
        s"table after vacuum (pass ${run.pass}) differs from the model")
    case ReadPoint(p) =>
      read(op, checking)(SnapshotTable.readWhere(spark, table, expr(p)),
        model.filter(expr(p)))
    case ReadRange(p) =>
      read(op, checking)(SnapshotTable.readWhere(spark, table, expr(p)),
        model.filter(expr(p)))
    case TimeTravel(back) =>
      val v = math.max(oldest, latest - back)
      read(op, checking)(SnapshotTable.read(spark, table, Some(v)),
        modelAt.getOrElse(v, model))
    case ReadFull =>
      val (res, sample) = run.timed(op.name, "read", "snapshot")(
        fullAgg(SnapshotTable.read(spark, table)))
      if (checking) res.foreach { rows =>
        run.check(rows == fullAgg(model),
          s"read_full (pass ${run.pass}) differs from the model", Some(sample))
      }
    case Stream =>
      run.timed(op.name, "stream", "streaming") {
        val df = SparkEntry.queries(op.name)(spark, inputs)
        if (checking) df.write.mode("overwrite")
          .parquet(run.dir(s"out/${op.name}"))
        else materialize(df)
      }
      if (checking) java.nio.file.Files.writeString(
        java.nio.file.Paths.get(run.dir("out/oracle_sql.json")),
        Json(SparkEntry.oracleSql.filter(_._1 == op.name)))
  }

  override def finish(): Unit = {
    // replay the timed passes onto the model, then check the final state
    val written = mutable.ArrayBuffer.empty[DataFrame]
    timedLog.zipWithIndex.foreach { case (op, i) =>
      model = applyModel(model, op, written)
      if (i % 8 == 7) model = model.localCheckpoint()
    }
    model = model.localCheckpoint()
    val finalTable = SnapshotTable.read(spark, table)
    val finalPrint = fingerprint(model)
    run.check(fingerprint(finalTable) == finalPrint,
      "final table differs from the model")
    run.check(finalPrint.head == script.liveKeys,
      s"model holds ${finalPrint.head} rows, the script ${script.liveKeys}")
    val liveBytes = plainBytes(model, "plain-live")
    val writtenBytes =
      if (written.isEmpty) 0L else plainBytes(written.reduce(_ unionByName _),
        "plain-written")
    val tableBytes = sizeOf(table)
    run.raw("lake") = Map(
      "commits" -> timedCommits,
      "log_bytes_added" -> added("log"),
      "data_bytes_added" -> added("data"),
      "table_bytes" -> tableBytes,
      "plain_written_bytes" -> writtenBytes,
      "plain_live_bytes" -> liveBytes,
      "files_live" -> finalTable.inputFiles.length,
      "rows_live" -> script.liveKeys,
      "versions" -> latest)
  }
}
