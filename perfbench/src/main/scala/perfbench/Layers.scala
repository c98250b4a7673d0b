package perfbench

/** Per-layer figures of one traced pass, from its tracer. Sums are over
  * the pass; run.py averages them over the traced passes of a run. */
object Layers {
  def of(t: Tracer, passS: Double,
      cores: Int): Map[String, Any] = {
    val spans = t.allSpans
    val opSpans = spans.filter(_.parent == 0)
    val all = t.countersFor(opSpans.map(_.id))
    def sum(f: t.Counters => Long): Long = all.map(f).sum
    def opsNamed(names: Set[String]) = opSpans.filter(s => names(s.name))
    def perOp(names: Set[String], f: t.Counters => Long): Double = {
      val os = opsNamed(names)
      if (os.isEmpty) 0.0 else t.countersFor(os.map(_.id)).map(f).sum
        .toDouble / os.size
    }
    val self = t.selfSeconds
    val cpuS = sum(_.cpuNs) / 1e9
    val streamOps = opSpans.filter(_.layer == "streaming")
    val batches = t.batches.toArray(Array.empty[t.Batch]).toSeq
    def dur(b: t.Batch, keys: String*) =
      keys.map(k => b.durations.getOrElse(k, 0L)).sum / 1000.0
    val trigger = batches.map(dur(_, "triggerExecution"))
    Map(
      "catalyst.analysis_s" -> sum(_.phaseMs("analysis")) / 1000.0,
      "catalyst.optimization_s" -> sum(_.phaseMs("optimization")) / 1000.0,
      "catalyst.planning_s" -> sum(_.phaseMs("planning")) / 1000.0,
      "catalyst.plans" -> sum(_.plans),
      "exec.jobs" -> sum(_.jobs),
      "exec.stages" -> sum(_.stages),
      "exec.tasks" -> sum(_.tasks),
      "exec.run_s" -> sum(_.runMs) / 1000.0,
      "exec.cpu_s" -> cpuS,
      "exec.sched_delay_s" -> sum(_.schedMs) / 1000.0,
      "exec.gc_s" -> sum(_.gcMs) / 1000.0,
      "exec.cpu_util" -> (if (passS > 0) cpuS / (passS * cores) else 0.0),
      "shuffle.exchanges" -> sum(_.exchanges),
      "shuffle.write_bytes" -> sum(_.shuffleWrite),
      "shuffle.read_bytes" -> sum(_.shuffleRead),
      "shuffle.records" -> sum(_.shuffleRecords),
      "shuffle.spill_bytes" -> sum(_.spill),
      "barrier.jobs" -> sum(_.barrierJobs),
      "barrier.s" -> sum(_.barrierMs) / 1000.0,
      "lake.jobs_per_merge" -> perOp(Set("merge"), _.jobs),
      "lake.jobs_per_commit" -> perOp(LakeOp.Commits, _.jobs),
      "lake.point_read_scan_bytes" -> perOp(Set("read_point"), _.inputBytes),
      "stream.batches" -> batches.size,
      "stream.trigger_s" -> trigger.sum,
      "stream.add_batch_s" -> batches.map(dur(_, "addBatch")).sum,
      "stream.wal_commit_s" ->
        batches.map(dur(_, "walCommit", "commitOffsets")).sum,
      "stream.query_planning_s" -> batches.map(dur(_, "queryPlanning")).sum,
      "stream.get_batch_s" ->
        batches.map(dur(_, "getBatch", "latestOffset")).sum,
      "stream.outside_trigger_s" -> math.max(0.0,
        streamOps.map(s => (s.end - s.start) / 1000.0).sum - trigger.sum),
      "stream.batch_s" -> trigger,
      "stream.state_rows" ->
        (if (batches.isEmpty) 0L else batches.map(_.stateRows).max),
      "self.queries_s" -> self.getOrElse("queries", 0.0),
      "self.snapshot_s" -> self.getOrElse("snapshot", 0.0),
      "self.streaming_s" -> self.getOrElse("streaming", 0.0),
      "self.catalyst_s" -> self.getOrElse("catalyst", 0.0),
      "self.exec_s" -> self.getOrElse("exec", 0.0),
      "self.barrier_s" -> self.getOrElse("barrier", 0.0),
      "pass_s" -> passS,
      "spans" -> spans.size)
  }
}
