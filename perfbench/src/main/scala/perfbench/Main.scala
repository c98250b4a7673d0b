package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Window}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.EnsureRequirements

/** Command line of the JVM half of the benchmark (run.py builds it):
  * `--workload panel|lakehouse --seed N --seconds S --trace 0|1
  *  --work DIR --cores N --sf X --setup-reps K`. */
final case class Args(workload: String, seed: Long, seconds: Double,
    trace: Boolean, work: String, cores: Int, sf: Double, setupReps: Int)

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m("trace") == "1", m("work"), m("cores").toInt, m("sf").toDouble,
      m("setup-reps").toInt)
  }
}

/** One timed (or checked) operation. */
final case class OpSample(pass: Int, traced: Boolean, name: String,
    kind: String, s: Double, var ok: Boolean)

/** State shared by a run: the session, the samples, the checks. */
final class Run(val spark: SparkSession, val args: Args) {
  val ops = mutable.ArrayBuffer.empty[OpSample]
  val failures = mutable.ArrayBuffer.empty[String]
  var checks = 0
  /** Failed checks not tied to one operation's sample. */
  var looseFailures = 0
  var heapPeakMb = 0.0
  var tracer: Option[Tracer] = None
  var pass = 0
  val raw = mutable.LinkedHashMap.empty[String, Any]

  /** Records a check; a failure marks `sample` wrong, if given. */
  def check(ok: Boolean, what: => String,
      sample: Option[OpSample] = None): Boolean = {
    checks += 1
    if (!ok) {
      failures += what
      sample match {
        case Some(s) => s.ok = false
        case None => looseFailures += 1
      }
    }
    ok
  }

  /** Untimed, between passes: the live heap once Spark's cleaner has
    * dropped the blocks of datasets the first collection found
    * unreachable (it does so asynchronously, so a single collection
    * counts them or not by chance). Keeps the largest reading, in MB. */
  def settledHeap(): Unit = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    heapPeakMb = math.max(heapPeakMb, used / 1048576.0)
  }

  /** Runs `body` as one operation of the current pass: timed, traced as
    * a span of `layer` when a tracer is attached, and recorded. A throw
    * is a failed operation. */
  def timed[A](name: String, kind: String, layer: String)(
      body: => A): (Option[A], OpSample) = {
    val span = tracer.map(_.beginOp(name, layer))
    val t0 = System.nanoTime()
    val res = try Some(body) catch { case e: Throwable =>
      failures += s"$name (pass $pass): ${e.getClass.getSimpleName}: " +
        Option(e.getMessage).getOrElse("").take(300)
      None
    }
    val sample = OpSample(pass, tracer.nonEmpty, name, kind,
      (System.nanoTime() - t0) / 1e9, res.nonEmpty)
    span.foreach(s => tracer.get.endOp(s))
    ops += sample
    (res, sample)
  }

  def dir(name: String): String = s"${args.work}/$name"
}

/** A workload: set up, checked once, then run pass after pass. */
trait Workload {
  /** One set-up repetition; the last one's state is used. */
  def setup(rep: Int): Unit
  /** The untimed checked pass: every output is checked. */
  def check(): Unit
  /** One timed pass. */
  def pass(p: Int): Unit
  /** Untimed checks and figures after the last pass. */
  def finish(): Unit = ()
  /** Input directory of the control scan. */
  def inputs: String
}

object Main {
  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Fully evaluates `df`, keeping every output column. */
  def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** The drift control: a plain scan of the documents (the
    * `t1_token_count` shape), timed after every pass. It is only for
    * reading drift between runs and rescales no other figure. */
  def control(spark: SparkSession, w: Workload): Unit =
    materialize(graft.SparkEntry.queries("t1_token_count")(spark, w.inputs))

  def windows(plan: LogicalPlan): Int =
    plan.collectWithSubqueries { case w: Window => w }.size

  /** Shuffle Exchanges that planning inserts into a physical plan, the
    * same way for any plan whether adaptive execution later reshapes it. */
  def plannedShuffles(sparkPlan: SparkPlan): Int =
    Tracer.shuffles(EnsureRequirements()(sparkPlan), finalPlan = false)

  def shuffled[A](xs: Seq[A], seed: Long): Seq[A] =
    new scala.util.Random(seed).shuffle(xs)

  def deleteTree(path: String): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(new File(path))

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val spark = session(a)
    val run = new Run(spark, a)
    val w: Workload = a.workload match {
      case "panel" => new Panel(run)
      case "lakehouse" => new Lakehouse(run)
      case other => sys.error(s"unknown workload $other")
    }
    run.raw("context") = Map(
      "workload" -> a.workload, "seed" -> a.seed, "sf" -> a.sf,
      "cores" -> a.cores,
      "default_parallelism" -> spark.sparkContext.defaultParallelism,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "spark" -> spark.version,
      "jdk" -> System.getProperty("java.runtime.version"))

    val setup = (1 to a.setupReps).map { rep =>
      val t0 = System.nanoTime()
      w.setup(rep)
      (System.nanoTime() - t0) / 1e9
    }
    run.raw("setup_s") = setup

    val c0 = System.nanoTime()
    w.check()
    control(spark, w)
    run.raw("check_s") = (System.nanoTime() - c0) / 1e9

    // timed passes until the deadline; with tracing, odd passes run
    // untraced and even passes traced, at least untraced-traced-untraced
    // so the traced pass is compared with a pass on each side
    val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val layers = mutable.ArrayBuffer.empty[Map[String, Any]]
    var p = 1
    while (p <= (if (a.trace) 3 else 1) || System.nanoTime() < deadline) {
      run.pass = p
      val traced = a.trace && p % 2 == 0
      val tracer = if (traced) Some(new Tracer(spark)) else None
      tracer.foreach(_.start())
      run.tracer = tracer
      val first = run.ops.size
      val w0 = System.nanoTime()
      w.pass(p)
      val wall = (System.nanoTime() - w0) / 1e9
      val passOps = run.ops.drop(first)
      val passS = passOps.map(_.s).sum
      tracer.foreach { t =>
        t.stop()
        layers += Layers.of(t, passS, a.cores)
        Files.writeString(Paths.get(run.dir(s"spans-pass$p.jsonl")),
          t.allSpans.map(Json(_)).mkString("", "\n", "\n"))
      }
      run.tracer = None
      val (_, ctl) = run.timed("control", "control", "queries")(
        control(spark, w))
      run.settledHeap()
      passes += Map("pass" -> p, "traced" -> traced, "s" -> passS,
        "wall_s" -> wall,
        "ops" -> passOps.size, "control_s" -> ctl.s)
      p += 1
    }
    w.finish()
    run.raw("passes") = passes
    run.raw("layers") = layers
    run.raw("ops") = run.ops
    run.raw("heap_live_peak_mb") = run.heapPeakMb
    run.raw("checks") = run.checks
    run.raw("loose_failures") = run.looseFailures
    run.raw("failures") = run.failures
    Files.writeString(Paths.get(run.dir("raw.json")), Json(run.raw.toMap))
    spark.stop()
  }
}
