package graftbench

import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter, NotificationListener}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the benchmark's own code around a call into a
  * graft layer. `parent` is 0 for an operation's root span. */
final case class Span(id: Long, op: Long, parent: Long, layer: String, name: String,
    startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Engine work attributed to one span. */
final class Work {
  var jobs, stages, tasks, failedTasks = 0L
  var cpuNs, runMs, waitMs, inBytes, inRecords, shRead, shWrite, spill, outBytes = 0L
  var peakMem = 0L
  def add(o: Work): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; failedTasks += o.failedTasks
    cpuNs += o.cpuNs; runMs += o.runMs; waitMs += o.waitMs; inBytes += o.inBytes
    inRecords += o.inRecords; shRead += o.shRead; shWrite += o.shWrite; spill += o.spill
    outBytes += o.outBytes; peakMem = math.max(peakMem, o.peakMem)
  }
}

/** Per-operation counters read outside Spark's listener: Catalyst
  * phases of every query the operation executed, codegen, GC and JIT. */
final case class OpRecord(op: Long, kind: String, latencyNs: Long, analysisMs: Long,
    optimizationMs: Long, planningMs: Long, compiles: Long, compileNs: Long,
    gcMs: Long, jitMs: Long)

/** Heap occupancy: after each garbage collection, from the JVM's GC
  * notifications (`peakMb`, the highest value since `reset`), and after
  * a forced full collection (`liveMb`). */
object Heap {
  @volatile private var peak = 0L
  private lazy val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet

  private val listener = new NotificationListener {
    def handleNotification(n: Notification, hb: Any): Unit =
      if (n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = com.sun.management.GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        Heap.synchronized { if (used > peak) peak = used }
      }
  }

  def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ => ()
  }

  def reset(): Unit = Heap.synchronized { peak = 0L }

  /** Peak heap after GC in MB; when no collection ran since `reset`,
    * the current occupancy stands in (it bounds the after-GC value). */
  def peakMb(): Double = Heap.synchronized {
    val p = if (peak > 0) peak else ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    p / 1048576.0
  }

  /** Heap occupancy in MB right after a forced full collection. */
  def liveMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum

  def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
}

/** Spans and per-span engine counters for the traced run.
  *
  * The benchmark wraps each call into a graft layer in `span`. While an
  * operation is traced, the span's id is set as a Spark local property,
  * so every job the call launches carries it; a listener maps jobs to
  * spans and stages and tasks to jobs. Spans and records stay in memory
  * and are written out by `writeJson` at exit. An operation that is
  * not traced runs its layer calls with no bookkeeping at all. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val Key = "graftbench.span"
  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer.empty[Span]
  val ops = mutable.ArrayBuffer.empty[OpRecord]
  private var nextId = 1L
  private var stack: List[Long] = Nil
  private var opId = -1L

  private val work = mutable.Map.empty[Long, Work]
  private val stageSpan = mutable.Map.empty[Int, Long]
  private val stageSubmitted = mutable.Map.empty[Int, Long]
  private val phases = mutable.Map.empty[String, Long]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      Option(e.properties).flatMap(p => Option(p.getProperty(Key))).map(_.toLong).foreach { id =>
        work.getOrElseUpdate(id, new Work).jobs += 1
        e.stageIds.foreach(stageSpan(_) = id)
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Tracer.this.synchronized {
      stageSubmitted(e.stageInfo.stageId) =
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      stageSpan.get(e.stageInfo.stageId).foreach(id => work.getOrElseUpdate(id, new Work).stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      stageSpan.get(e.stageId).foreach { id =>
        val w = work.getOrElseUpdate(id, new Work)
        w.tasks += 1
        if (!e.taskInfo.successful) w.failedTasks += 1
        stageSubmitted.get(e.stageId).foreach(s => w.waitMs += math.max(0L, e.taskInfo.launchTime - s))
        val m = e.taskMetrics
        if (m != null) {
          w.cpuNs += m.executorCpuTime
          w.runMs += m.executorRunTime
          w.inBytes += m.inputMetrics.bytesRead
          w.inRecords += m.inputMetrics.recordsRead
          w.shRead += m.shuffleReadMetrics.totalBytesRead
          w.shWrite += m.shuffleWriteMetrics.bytesWritten
          w.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          w.outBytes += m.outputMetrics.bytesWritten
          w.peakMem = math.max(w.peakMem, m.peakExecutionMemory)
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Tracer.this.synchronized {
        if (opId >= 0) qe.tracker.phases.foreach { case (phase, s) =>
          phases(phase) = phases.getOrElse(phase, 0L) + s.durationMs
        }
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  if (enabled) {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
  }

  private def drain(): Unit = org.apache.spark.BenchBus.drain(sc)

  /** Runs one operation and returns its latency in ns. A traced
    * operation gets a root span of layer `client` (the benchmark's own
    * code between layer calls); the listener bus is drained before and
    * after it, outside the timed interval. */
  def op(kind: String, traced: Boolean)(body: => Unit): Long = {
    if (!(enabled && traced)) {
      val t0 = System.nanoTime()
      body
      return System.nanoTime() - t0
    }
    drain()
    synchronized { phases.clear() }
    val id = ops.size + 1L
    val gc0 = Heap.gcMs(); val jit0 = Heap.jitMs()
    val cg0 = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime
    val cc0 = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    synchronized { opId = id }
    val t0 = System.nanoTime()
    try span("client", kind)(body)
    finally {
      val lat = System.nanoTime() - t0
      drain()
      val cg1 = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime
      val cc1 = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      synchronized {
        ops += OpRecord(id, kind, lat, phases.getOrElse("analysis", 0L),
          phases.getOrElse("optimization", 0L), phases.getOrElse("planning", 0L),
          cc1 - cc0, cg1 - cg0, Heap.gcMs() - gc0, Heap.jitMs() - jit0)
        opId = -1L
      }
    }
    ops.last.latencyNs
  }

  /** Wraps one call into a graft layer. */
  def span[T](layer: String, name: String)(body: => T): T = {
    if (opId < 0) return body
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(0L)
    stack = id :: stack
    sc.setLocalProperty(Key, id.toString)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack = stack.tail
      sc.setLocalProperty(Key, stack.headOption.map(_.toString).orNull)
      spans += Span(id, opId, parent, layer, name, t0, t1)
    }
  }

  /** Self time of a span: its duration minus what its children cover. */
  def selfMs: Map[Long, Double] = {
    val childMs = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.ms).sum }
    spans.map(s => s.id -> (s.ms - childMs.getOrElse(s.id, 0.0))).toMap
  }

  /** Engine work of a span and all its descendants. */
  def inclusiveWork(id: Long): Work = synchronized {
    val w = new Work
    val children = spans.groupBy(_.parent)
    def visit(s: Long): Unit = {
      work.get(s).foreach(w.add)
      children.getOrElse(s, Nil).foreach(c => visit(c.id))
    }
    visit(id)
    w
  }

  def opWork(op: Long): Work = synchronized {
    val w = new Work
    spans.iterator.filter(_.op == op).foreach(s => work.get(s.id).foreach(w.add))
    w
  }

  def writeJson(file: java.io.File, meta: Map[String, String]): Unit = {
    def q(s: String) = Workload.json(s)
    val sb = new StringBuilder("{")
    sb.append(meta.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("", ", ", ", "))
    sb.append("\"spans\": [\n")
    sb.append(spans.map(s =>
      s"""{"id": ${s.id}, "op": ${s.op}, "parent": ${s.parent}, "layer": ${q(s.layer)}, "name": ${q(s.name)}, "start_ns": ${s.startNs}, "end_ns": ${s.endNs}, "jobs": ${work.get(s.id).map(_.jobs).getOrElse(0L)}}""")
      .mkString(",\n"))
    sb.append("],\n\"ops\": [\n")
    sb.append(ops.map(o =>
      s"""{"op": ${o.op}, "kind": ${q(o.kind)}, "latency_ns": ${o.latencyNs}, "analysis_ms": ${o.analysisMs}, "optimization_ms": ${o.optimizationMs}, "planning_ms": ${o.planningMs}, "codegen_compiles": ${o.compiles}, "codegen_ns": ${o.compileNs}, "gc_ms": ${o.gcMs}, "jit_ms": ${o.jitMs}}""")
      .mkString(",\n"))
    sb.append("]}\n")
    file.getParentFile.mkdirs()
    java.nio.file.Files.write(file.toPath, sb.toString.getBytes("UTF-8"))
  }
}
