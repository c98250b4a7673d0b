package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** A traced interval. Times are epoch milliseconds; `op` is the id of
  * the benchmark operation the span belongs to (shared by all its
  * spans), `parent` the span that caused it (0 for an operation). */
final case class Span(id: Long, parent: Long, op: Long, layer: String,
    name: String, start: Long, end: Long)

/** Spans and counts for one traced pass, recorded from Spark's public
  * listener APIs around the benchmark's calls into the program:
  *
  *  - operation spans, opened and closed by the benchmark;
  *  - Catalyst phase spans (analysis, optimization, planning) from each
  *    `QueryExecution.tracker`, and the Exchanges of its executed plan;
  *  - Spark job spans, whose layer is their call-site file
  *    (`Barrier.scala` → barrier, `SnapshotTable.scala` → snapshot,
  *    anything else → exec), and stage spans under them;
  *  - task counters (run and CPU time, GC, scheduler delay, shuffle
  *    bytes and records, spill, input bytes) per operation;
  *  - streaming micro-batch progress.
  *
  * Jobs find their operation through a local property set on the
  * driver thread; Catalyst phases through the operation whose interval
  * holds the phase start (the listener bus is asynchronous).
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val ids = new AtomicLong(0)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val opSpans = new ConcurrentHashMap[Long, Span]()
  private val jobSpan = new ConcurrentHashMap[Int, Span]()
  private val stageJob = new ConcurrentHashMap[Int, Span]()
  private val events = new AtomicLong(0)

  /** Per-operation task counters, keyed by operation id. */
  final class Counters {
    var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var schedMs = 0L; var shuffleWrite = 0L; var shuffleRead = 0L
    var shuffleRecords = 0L; var spill = 0L; var inputBytes = 0L
    var stages = 0L; var jobs = 0L; var barrierJobs = 0L
    var barrierMs = 0L; var plans = 0L; var exchanges = 0L
    val phaseMs = mutable.Map.empty[String, Long].withDefaultValue(0L)
  }
  private val counters = new ConcurrentHashMap[Long, Counters]()
  private def countersOf(op: Long): Counters =
    counters.computeIfAbsent(op, _ => new Counters)

  /** Micro-batch progress: trigger phase durations in ms and the state
    * rows held after the batch. */
  final case class Batch(op: Long, durations: Map[String, Long],
      stateRows: Long)
  val batches = new java.util.concurrent.ConcurrentLinkedQueue[Batch]()

  @volatile private var current = 0L

  def beginOp(name: String, layer: String): Long = {
    val id = ids.incrementAndGet()
    opSpans.put(id, Span(id, 0, id, layer, name, System.currentTimeMillis, 0))
    current = id
    sc.setLocalProperty(Tracer.OpProperty, id.toString)
    id
  }

  def endOp(id: Long): Unit = {
    val s = opSpans.remove(id)
    spans.add(s.copy(end = System.currentTimeMillis))
    sc.setLocalProperty(Tracer.OpProperty, null)
    current = 0L
  }

  private def opAt(ms: Long): Long = {
    val open = opSpans.values.asScala.find(_.start <= ms)
    open.map(_.id).orElse(spans.asScala.find(s =>
      s.parent == 0 && s.start <= ms && ms <= s.end).map(_.id)).getOrElse(0L)
  }

  private val jobs = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      events.incrementAndGet()
      val props = Option(e.properties)
      val op = props.flatMap(p => Option(p.getProperty(Tracer.OpProperty)))
        .map(_.toLong).getOrElse(current)
      // the call site Spark gives the job's final stage: the first frame
      // outside Spark, e.g. "localCheckpoint at Barrier.scala:80"
      val site = props.flatMap(p => Option(p.getProperty("callSite.short")))
        .orElse(e.stageInfos.sortBy(_.stageId).lastOption.map(_.name))
        .getOrElse("")
      val s = Span(ids.incrementAndGet(), op, op, Tracer.layerOfSite(site),
        site, e.time, 0)
      jobSpan.put(e.jobId, s)
      e.stageIds.foreach(st => stageJob.put(st, s))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      events.incrementAndGet()
      Option(jobSpan.remove(e.jobId)).foreach { s =>
        val done = s.copy(end = e.time)
        spans.add(done)
        val c = countersOf(s.op)
        c.synchronized {
          c.jobs += 1
          if (s.layer == "barrier") {
            c.barrierJobs += 1; c.barrierMs += done.end - done.start
          }
        }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      events.incrementAndGet()
      val info = e.stageInfo
      Option(stageJob.get(info.stageId)).foreach { job =>
        for (t0 <- info.submissionTime; t1 <- info.completionTime) spans.add(
          Span(ids.incrementAndGet(), job.id, job.op, "exec",
            s"stage ${info.stageId}", t0, t1))
        val c = countersOf(job.op)
        c.synchronized { c.stages += 1 }
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      events.incrementAndGet()
      val m = e.taskMetrics
      if (m == null) return
      val op = Option(stageJob.get(e.stageId)).map(_.op).getOrElse(current)
      val c = countersOf(op)
      val info = e.taskInfo
      c.synchronized {
        c.tasks += 1
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.schedMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime)
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
        c.spill += m.diskBytesSpilled
        c.inputBytes += m.inputMetrics.bytesRead
      }
    }
  }

  private val plans = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      events.incrementAndGet()
      val phases = qe.tracker.phases
      val first = if (phases.isEmpty) System.currentTimeMillis
        else phases.values.map(_.startTimeMs).min
      val op = opAt(first)
      val c = countersOf(op)
      c.synchronized {
        c.plans += 1
        c.exchanges += Tracer.shuffles(qe.executedPlan, finalPlan = true)
        phases.foreach { case (phase, p) =>
          c.phaseMs(phase) += p.durationMs
        }
      }
      phases.foreach { case (phase, p) =>
        spans.add(Span(ids.incrementAndGet(), op, op, "catalyst", phase,
          p.startTimeMs, p.endTimeMs))
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution,
        e: Exception): Unit = record(qe)
  }

  private val streams = new StreamingQueryListener {
    override def onQueryStarted(
        e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = {
      events.incrementAndGet()
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
        .toMap
      batches.add(Batch(opAt(System.currentTimeMillis), d,
        p.stateOperators.map(_.numRowsTotal).sum))
    }
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def start(): Unit = {
    sc.addSparkListener(jobs)
    spark.listenerManager.register(plans)
    spark.streams.addListener(streams)
  }

  /** Waits for the asynchronous listener bus to deliver what the traced
    * operations posted, then detaches the listeners. */
  def stop(): Unit = {
    var stable = 0
    var last = -1L
    while (stable < 3) {
      Thread.sleep(100)
      val n = events.get
      if (n == last) stable += 1 else { stable = 0; last = n }
    }
    sc.removeSparkListener(jobs)
    spark.listenerManager.unregister(plans)
    spark.streams.removeListener(streams)
  }

  def allSpans: Seq[Span] = spans.asScala.toSeq.sortBy(s => (s.start, s.id))

  def countersFor(ops: Iterable[Long]): Seq[Counters] =
    ops.toSeq.flatMap(o => Option(counters.get(o)))

  /** Self time per layer in seconds: each span's duration minus the
    * part of it that its child spans cover. */
  def selfSeconds: Map[String, Double] = {
    val all = allSpans
    val kids = all.groupBy(_.parent)
    all.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val covered = Tracer.covered(s.start, s.end,
          kids.getOrElse(s.id, Nil).filter(_.id != s.id)
            .map(k => (k.start, k.end)))
        (s.end - s.start - covered) / 1000.0
      }.sum
    }
  }
}

object Tracer {
  val OpProperty = "perfbench.op"

  def layerOfSite(site: String): String =
    if (site.contains("Barrier.scala")) "barrier"
    else if (site.contains("SnapshotTable.scala")) "snapshot"
    else "exec"

  /** Milliseconds of [start, end] covered by the union of `parts`. */
  def covered(start: Long, end: Long, parts: Seq[(Long, Long)]): Long = {
    val clipped = parts.map { case (a, b) => (math.max(a, start),
      math.min(b, end)) }.filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var (curA, curB) = (Long.MinValue, Long.MinValue)
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Shuffle Exchanges in a physical plan. `finalPlan` reads adaptive
    * plans as executed; otherwise as first planned. */
  def shuffles(plan: SparkPlan, finalPlan: Boolean): Int = plan match {
    case a: AdaptiveSparkPlanExec =>
      shuffles(if (finalPlan) a.executedPlan else a.inputPlan, finalPlan)
    case q: QueryStageExec => shuffles(q.plan, finalPlan)
    case p =>
      (if (p.isInstanceOf[ShuffleExchangeLike]) 1 else 0) +
        p.children.map(shuffles(_, finalPlan)).sum +
        p.subqueries.map(shuffles(_, finalPlan)).sum
  }
}
