package graftbench

/** Per-layer metrics of a traced run, from the traced requests' spans
  * and counters. Layers are graft's modules the benchmark calls into
  * (`sources` = Connector, `dsl` = SearchBody hit bodies, `agg` =
  * SearchBody/AggsJson aggs bodies, `dedup` = Dedup) plus the engine
  * stages (`catalyst`, `codegen`, `exec`, `jvm`) and `client`, the
  * benchmark's own code between layer calls. Unless the unit says
  * otherwise a value is a mean per traced request, and a layer's
  * metrics are 0 on a workload that does not call it. */
object Layers {
  def metrics(tr: Tracer, done: Seq[Main.Done], cores: Int, w: Workload, commits: Long,
      freshReads: Long, artifactReads: Long, artifactBytes: Long,
      setupUserBytes: Long): Seq[(String, Double, String)] = {
    // the traced set-up write is an operation of its own: it feeds the
    // sources.write_* metrics and nothing that is per request
    val traced = tr.ops.toSeq.filter(_.kind != "setup")
    val requestIds = traced.map(_.op).toSet
    val nOps = math.max(1, traced.size).toDouble
    val allSpans = tr.spans.toSeq
    val spans = allSpans.filter(s => requestIds(s.op))
    val self = tr.selfMs

    /** Mean inclusive time and jobs of the named spans, per operation
      * (request or traced set-up) that makes such a call. */
    def call(layer: String, name: String): (Double, Double) = {
      val ss = allSpans.filter(s => s.layer == layer && s.name == name)
      val perOp = ss.map(_.op).distinct.size
      if (perOp == 0) (0.0, 0.0)
      else (ss.map(_.ms).sum / perOp, ss.map(s => tr.inclusiveWork(s.id).jobs).sum.toDouble / perOp)
    }
    val (readMs, readJobs) = call("sources", "read_build")
    val (writeMs, writeJobs) = call("sources", "write")
    val (dslMs, dslJobs) = call("dsl", "build")
    val (aggMs, aggJobs) = call("agg", "build")
    val (dedupMs, dedupJobs) = call("dedup", "screen")
    val writeOut = allSpans.filter(s => s.layer == "sources" && s.name == "write")
      .map(s => tr.inclusiveWork(s.id).outBytes).sum
    val setupWrites = if (tr.ops.exists(_.kind == "setup")) setupUserBytes else 0L
    val writeUser = setupWrites +
      done.filter(_.traced).map(_.op).collect { case o: WritesDocs => o.userBytesWritten }.sum

    val all = new Work
    traced.foreach(o => all.add(tr.opWork(o.op)))
    val tracedMs = traced.map(_.latencyNs / 1e6).sum
    val rows = done.filter(_.traced).map(_.op.resultRows).sum

    def p50(kind: String): Double =
      Main.median(done.filter(_.kind == kind).map(_.latencyNs / 1e6))
    def selfOf(layer: String): Double =
      spans.filter(_.layer == layer).map(s => self(s.id)).sum / nOps
    def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    // tracing overhead: traced minus untraced mean latency, per request
    // kind, weighted by the kind's share of the traced requests
    val overheadMs = {
      val byKind = done.groupBy(_.kind).toSeq.flatMap { case (_, ds) =>
        val (t, u) = ds.partition(_.traced)
        if (t.isEmpty || u.isEmpty) None
        else Some(t.size -> (mean(t.map(_.latencyNs / 1e6)) - mean(u.map(_.latencyNs / 1e6))))
      }
      val weight = byKind.map(_._1).sum
      if (weight == 0) 0.0 else byKind.map { case (c, d) => c * d }.sum / weight
    }
    val selfSum = Seq("client", "sources", "dsl", "agg", "dedup", "exec").map(selfOf).sum

    Seq(
      ("sources.read_build_ms", readMs, "ms/op"),
      ("sources.read_build_jobs", readJobs, "jobs/op"),
      ("sources.write_ms", writeMs, "ms/op"),
      ("sources.write_jobs", writeJobs, "jobs/op"),
      ("sources.written_bytes_per_user_byte", if (writeUser == 0) 0.0 else writeOut.toDouble / writeUser, "ratio"),
      ("dsl.build_ms", dslMs, "ms/op"),
      ("dsl.build_jobs", dslJobs, "jobs/op"),
      ("search.filter.p50_ms", p50("filter"), "ms"),
      ("search.match.p50_ms", p50("match"), "ms"),
      ("search.scored.p50_ms", p50("scored"), "ms"),
      ("search.page.p50_ms", p50("page"), "ms"),
      ("sim.knn.p50_ms", p50("knn"), "ms"),
      ("agg.build_ms", aggMs, "ms/op"),
      ("agg.build_jobs", aggJobs, "jobs/op"),
      ("index.artifact_bytes", artifactBytes.toDouble, "bytes"),
      ("index.commits", commits / nOps, "commits/op"),
      ("index.fresh_read_ratio", if (artifactReads == 0) 0.0 else freshReads.toDouble / artifactReads, "ratio"),
      ("dedup.screen_ms", dedupMs, "ms/op"),
      ("dedup.screen_jobs", dedupJobs, "jobs/op"),
      ("catalyst.analysis_ms", traced.map(_.analysisMs).sum / nOps, "ms/op"),
      ("catalyst.optimization_ms", traced.map(_.optimizationMs).sum / nOps, "ms/op"),
      ("catalyst.planning_ms", traced.map(_.planningMs).sum / nOps, "ms/op"),
      ("codegen.compiles", traced.map(_.compiles).sum / nOps, "classes/op"),
      ("codegen.compile_ms", traced.map(_.compileNs).sum / 1e6 / nOps, "ms/op"),
      ("exec.ms", selfOf("exec"), "ms/op"),
      ("exec.jobs", all.jobs / nOps, "jobs/op"),
      ("exec.stages", all.stages / nOps, "stages/op"),
      ("exec.tasks", all.tasks / nOps, "tasks/op"),
      ("exec.failed_tasks", all.failedTasks / nOps, "tasks/op"),
      ("exec.task_cpu_ms", all.cpuNs / 1e6 / nOps, "ms/op"),
      ("exec.task_wait_ms", all.waitMs / nOps, "ms/op"),
      ("exec.core_utilization", if (tracedMs == 0) 0.0 else all.runMs / (tracedMs * cores), "ratio"),
      ("exec.input_bytes", all.inBytes / nOps, "bytes/op"),
      ("exec.rows_examined_per_result", if (rows == 0) 0.0 else all.inRecords.toDouble / rows, "ratio"),
      ("exec.shuffle_read_bytes", all.shRead / nOps, "bytes/op"),
      ("exec.shuffle_write_bytes", all.shWrite / nOps, "bytes/op"),
      ("exec.spill_bytes", all.spill / nOps, "bytes/op"),
      ("exec.peak_exec_memory_mb", all.peakMem / 1048576.0, "MB"),
      ("jvm.gc_ms", traced.map(_.gcMs).sum / nOps, "ms/op"),
      ("jvm.jit_ms", traced.map(_.jitMs).sum / nOps, "ms/op"),
      ("jvm.heap_after_gc_mb", Heap.peakMb(), "MB"),
      ("self.client_ms", selfOf("client"), "ms/op"),
      ("self.sources_ms", selfOf("sources"), "ms/op"),
      ("self.dsl_ms", selfOf("dsl"), "ms/op"),
      ("self.agg_ms", selfOf("agg"), "ms/op"),
      ("self.dedup_ms", selfOf("dedup"), "ms/op"),
      ("trace.op_ms", tracedMs / nOps, "ms/op"),
      ("trace.self_sum_share", if (tracedMs == 0) 0.0 else selfSum * nOps / tracedMs, "ratio"),
      ("trace.overhead_ms", overheadMs, "ms/op"),
    ) ++ WorkloadLayers.map { case (name, unit) =>
      (name, w.layerMetrics.getOrElse(name, 0.0), unit)
    }
  }

  /** Per-layer metrics only one workload produces; 0 on the others. */
  val WorkloadLayers = Seq("search.repeat_share" -> "ratio", "dedup.dropped_over_planted" -> "ratio")
}
