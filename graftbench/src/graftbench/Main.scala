package graftbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** graft's benchmark runner: one workload, one closed-loop client.
  *
  * {{{
  * Main --workload search|aggs|ingest --seed N --seconds S --trace 0|1
  *      --run-dir DIR --out-dir DIR [--size full|tiny] [--corrupt-check 1]
  * }}}
  *
  * Set-up is session start, data generation, index and artifact writes
  * and one checked warm-up request per template (`setup_s`); two more
  * untimed cycles of requests follow. The timed phase then issues a
  * fixed number of whole cycles of requests, one request after another
  * (about `--seconds` of work on a 4-core box), checking each result
  * against the benchmark's own reference between requests.
  *
  * With `--trace 0` the last stdout line carries the end-to-end
  * metrics; no listener is attached. With `--trace 1` every second
  * request is traced (spans, Spark listener, query-execution listener)
  * and the others are not, so the same run measures the tracing
  * overhead; the last line carries the per-layer metrics and the spans
  * are written to `--out-dir`. */
object Main {
  val WarmCycles = 2

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      runDir: String, outDir: String, size: Size, corrupt: Boolean)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments near ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("run-dir"), need("out-dir"),
      if (m.getOrElse("size", "full") == "tiny") Tiny else Full,
      m.getOrElse("corrupt-check", "0") == "1")
  }

  def session(runDir: String, cores: Int): SparkSession = {
    val s = graft.GraftSession.builder("graftbench", cores)
      .master(s"local[$cores]")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$runDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .config("graft.artifacts.root", s"$runDir/artifacts")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  final case class Done(kind: String, latencyNs: Long, traced: Boolean, op: Op)

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val cores = Runtime.getRuntime.availableProcessors
    Heap.install()
    val w = Workload(a.workload, a.seed, a.size)
    val failures = mutable.ArrayBuffer.empty[String]
    var attempted = 0L
    var corruptPending = a.corrupt

    def runChecked(tr: Tracer, op: Op, traced: Boolean): Done = {
      var err: Option[String] = None
      val lat = tr.op(op.kind, traced) {
        try op.run(tr)
        catch { case e: Exception => err = Some(s"${op.kind}: ${e.getClass.getSimpleName}: ${e.getMessage}") }
      }
      if (err.isEmpty) {
        err = try op.check(corruptPending)
        catch { case e: Exception => Some(s"${op.kind} check: $e") }
        corruptPending = false
      }
      attempted += 1
      err.foreach(failures += _)
      Done(op.kind, lat, traced, op)
    }

    // ---- set-up ----
    // Session start, generation and index writes plus the warm-up
    // requests' latencies; checking the warm-up results is the
    // benchmark's own work and is left out. In a traced run the index
    // writes are one traced operation (kind "setup"), which is where the
    // `sources.write_*` metrics of a read-only workload come from.
    val t0 = System.nanoTime()
    val spark = session(a.runDir, cores)
    val tr = new Tracer(spark, enabled = a.trace)
    tr.op("setup", traced = true)(w.setup(spark, s"${a.runDir}/data", tr))
    val setupUserBytes = w.userBytes
    var setupNs = System.nanoTime() - t0
    w.warmup().foreach(op => setupNs += runChecked(tr, op, traced = false).latencyNs)
    // then `WarmCycles` untimed cycles, so the timed phase starts on a
    // JVM whose JIT has seen every request template a few times
    for (_ <- 0 until WarmCycles * w.cycleLength) runChecked(tr, w.next(), traced = false)

    // ---- timed phase ----
    // round(--seconds / nominal cycle time) whole cycles of the request
    // templates: every run of a seed issues the same requests, however
    // fast they run, so a fast run cannot buy itself an extra, warmer
    // cycle. A traced run traces every second request, alternating
    // which templates of a cycle are traced.
    val probe = new ArtifactProbe(spark)
    val done = mutable.ArrayBuffer.empty[Done]
    var commits = 0L
    var freshReads = 0L
    var artifactReads = 0L
    val k = w.cycleLength
    val cycles = math.max(1L, math.round(a.seconds / w.nominalCycleSeconds)).toInt
    val wall0 = System.nanoTime()
    var peakLiveMb = 0.0
    Heap.reset()
    while (done.size < cycles * k) {
      val op = w.next()
      val traced = a.trace && (done.size % k + done.size / k) % 2 == 0
      val before = if (traced) {
        op.artifactsRead.foreach { d =>
          artifactReads += 1
          if (probe.fresh(d)) freshReads += 1
        }
        probe.commitStamps(w.indexDirs)
      } else Map.empty[String, Long]
      // a full collection before each request, outside its timing:
      // every request starts on a clean heap, and what is still live
      // after the previous request is measured
      peakLiveMb = math.max(peakLiveMb, Heap.liveMb())
      val d = runChecked(tr, op, traced)
      if (traced) {
        val after = probe.commitStamps(w.indexDirs)
        commits += after.count { case (f, t) => !before.get(f).contains(t) }
      }
      done += d
    }
    peakLiveMb = math.max(peakLiveMb, Heap.liveMb())
    val stored = w.indexDirs.map(Workload.diskBytes(spark, _)).sum
    val artifactBytes = w.indexDirs.map(Workload.diskBytes(spark, _, _.contains("/_graft_"))).sum

    // ---- metrics ----
    val lats = done.map(_.latencyNs / 1e9).sorted
    val n = lats.size
    val busyS = done.map(_.latencyNs).sum / 1e9
    // the tail is the highest percentile with at least 10 samples above
    // it, which exists only from 21 samples on
    val tailNote =
      if (n >= 21) f"latency tail: p${100.0 * (n - 10) / n}%.1f = ${lats(n - 11)}%.4f s, 10 of $n samples above it"
      else s"latency tail: none, $n samples (a tail with 10 samples above it needs 21)"
    val e2e = Seq(
      ("setup_s", setupNs / 1e9, "s"),
      ("latency_p50_s", median(lats.toSeq), "s"),
      ("ops_per_s", n / busyS, "1/s"),
      ("peak_heap_mb", peakLiveMb, "MB"),
      ("stored_bytes_per_user_byte", stored.toDouble / w.userBytes, "ratio"))

    val metrics =
      if (!a.trace) e2e
      else Layers.metrics(tr, done.toSeq, cores, w, commits, freshReads, artifactReads, artifactBytes,
        setupUserBytes)

    if (a.trace) {
      val f = new File(a.outDir, s"trace-${a.workload}-seed${a.seed}.json")
      tr.writeJson(f, Map("workload" -> a.workload, "seed" -> a.seed.toString))
      println(s"spans written to ${f.getPath}")
    }
    spark.stop()

    w.describe.foreach(println)
    println(f"timed phase: $n requests, ${busyS}%.3f s busy, ${(System.nanoTime() - wall0) / 1e9}%.3f s wall, local[$cores]")
    done.groupBy(_.kind).toSeq.sortBy(_._1).foreach { case (k, ds) =>
      println(f"  $k%-8s ${ds.size}%5d requests, p50 ${median(ds.map(_.latencyNs / 1e6).toSeq)}%.2f ms")
    }
    println(tailNote)
    println(f"docs_per_s ${done.map(_.op.docsTouched).sum / busyS}%.2f (documents returned, aggregated or written per busy second)")
    println(f"failed_ratio ${failures.size.toDouble / attempted}%.4f (${failures.size} of $attempted requests, warm-up included)")
    failures.take(10).foreach(f => println(s"FAILED $f"))
    metrics.foreach { case (k, v, u) => println(f"metric $k%-40s $v%.6g $u") }
    val body = metrics.map { case (k, v, u) =>
      s"${Workload.json(k)}: {${"\"value\""}: ${num(v)}, ${"\"unit\""}: ${Workload.json(u)}}"
    }.mkString(", ")
    println(s"""{"correct": ${failures.isEmpty}, "attempted": $attempted, "failed": ${failures.size}, "metrics": {$body}}""")
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** Bench-side view of graft's artifact commit points: the
  * `_graft_meta.json` each artifact directory writes last. */
final class ArtifactProbe(spark: SparkSession) {
  private def fs(p: String) =
    new org.apache.hadoop.fs.Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Modification time of every `_graft_meta.json` under the indices. */
  def commitStamps(dirs: Seq[String]): Map[String, Long] = dirs.flatMap { d =>
    val root = new org.apache.hadoop.fs.Path(d)
    val out = mutable.ArrayBuffer.empty[(String, Long)]
    if (fs(d).exists(root)) {
      val it = fs(d).listFiles(root, true)
      while (it.hasNext) {
        val st = it.next()
        if (st.getPath.getName == "_graft_meta.json") out += st.getPath.toString -> st.getModificationTime
      }
    }
    out
  }.toMap

  /** Whether the artifact's recorded fingerprint matches the index's
    * current data files. The index is the directory above the
    * `_graft_<kind>/<column>` artifact directory. */
  def fresh(artifactDir: String): Boolean = {
    val meta = new org.apache.hadoop.fs.Path(artifactDir, "_graft_meta.json")
    if (!fs(artifactDir).exists(meta)) return false
    val in = fs(artifactDir).open(meta)
    val text = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    val recorded = "\"fingerprint\"\\s*:\\s*\"([0-9a-f]+)\"".r.findFirstMatchIn(text).map(_.group(1))
    val index = new org.apache.hadoop.fs.Path(artifactDir).getParent.getParent.toString
    recorded.contains(graft.index.IndexArtifacts.dataFingerprint(spark, index))
  }
}
