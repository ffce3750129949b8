package graft

import org.apache.spark.sql.SparkSession

object Bench {

  // host 1-min loadavg: r4's headline (584 s vs a quiet 184 s on the
  // same code) was host CPU starvation outside the container's
  // visibility; r8's official numbers showed a 41x inflation on an
  // untouched pushed-down parquet scan for the same reason. Recording
  // load PER QUERY (not once per run) lets the reader adjudicate a
  // contention burst without a re-run.
  private def load1(): Double = try {
    scala.io.Source.fromFile("/proc/loadavg").mkString.trim
      .split("\\s+").head.toDouble
  } catch { case _: Throwable => -1.0 }

  private def d3(v: Double): String =
    // Locale.ROOT: the f-interpolator uses the default locale, and a
    // comma-decimal locale would emit invalid JSON
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  /** The r10 artifact ratchet: the summary line must parse as JSON,
    * carry value/queries, and every retried query must record BOTH
    * attempts as [time, loadavg] pairs — the adjudication record the
    * r8/r9 measurement disputes were settled with. */
  private def validateSummary(summary: String): Unit = {
    import org.json4s._
    val root = org.json4s.jackson.JsonMethods.parse(summary) match {
      case JObject(fs) => fs.toMap
      case other => sys.error(s"bench summary is not a JSON object: $other")
    }
    require(root.get("value").exists(_.isInstanceOf[JDouble]), "summary missing value")
    require(root.get("queries").exists(_.isInstanceOf[JObject]), "summary missing queries")
    // r14 ratchet: the adjudication fields must ship — every diag
    // entry is [gc_ms (int), storage_mb (double)]
    root.get("diag") match {
      case Some(JObject(ds)) => ds.foreach {
        case JField(_, JArray(List(JInt(_) | JLong(_), JDouble(_)))) => ()
        case JField(k, other) => sys.error(s"bad diag entry '$k': $other")
      }
      case other => sys.error(s"summary missing diag map: $other")
    }
    root.get("retried") match {
      case Some(JObject(rs)) => rs.foreach {
        case JField(k, JArray(attempts)) =>
          require(attempts.length == 2 && attempts.forall {
            case JArray(List(JDouble(_), JDouble(_))) => true
            case _ => false
          }, s"retried entry '$k' must carry two [time, loadavg] attempts")
        case JField(k, other) => sys.error(s"bad retried entry '$k': $other")
      }
      case other => sys.error(s"summary missing retried map: $other")
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warm the file-index + parquet footers so the first timed query
    // isn't charged for session bring-up
    Seq("lineitem", "orders", "customer", "supplier", "part", "nation",
      "region", "documents", "embeddings").foreach { t =>
      Tables.load(spark, sfDir, t).count()
    }
    Tables.events(spark, sfDir).count()
    val failed = scala.collection.mutable.ListBuffer.empty[String]

    // r14 adjudication fields (the r13 verdict's bench-hygiene ask):
    // per-query JVM GC time and the post-query storage-memory
    // watermark make a "slow twice at quiet load" outlier
    // self-diagnosing — r13's q_dedup_semantic_keep dispute needed a
    // manual fresh-JVM bisect that these two numbers would have
    // settled from the artifact alone.
    def gcMillis(): Long = {
      var s = 0L
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .forEach(b => if (b.getCollectionTime > 0) s += b.getCollectionTime)
      s
    }
    def storageUsedMb(): Double = {
      val st = spark.sparkContext.getExecutorMemoryStatus.values
        .map { case (max, remaining) => max - remaining }.sum
      st / 1048576.0
    }

    def run1(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : (Double, Double, Long, Double) = {
      val la = load1()
      val gc0 = gcMillis()
      val t0 = System.nanoTime()
      // noop sink: every projected column is fully computed and
      // serialized (a bare count() lets Spark prune per-row compute in
      // select-shaped queries and under-bill them)
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => failed += name }
      val dt = (System.nanoTime() - t0) / 1e9
      val gcMs = gcMillis() - gc0
      // watermark BEFORE the cache clear: what this query left pinned
      // is exactly the pressure the next query inherits
      val stMb = storageUsedMb()
      // operators cache intermediates (LSH shingles, CC labels) that
      // stay referenced after the action; dropping them between queries
      // keeps the suite from accumulating heap pressure that inflates
      // later queries (each query is billed standalone, same as the
      // oracle runs them)
      spark.catalog.clearCache()
      (dt, la, gcMs, stMb)
    }

    // optional args: run only the named queries (local iteration aid);
    // the driver passes none and gets the full suite
    val selected =
      if (args.isEmpty) SparkEntry.queries.toSeq.sortBy(_._1)
      else SparkEntry.queries.toSeq.sortBy(_._1).filter(q => args.contains(q._1))
    val firstPass = selected.map { case (name, fn) =>
      // stderr progress line per query: when a run stalls (codegen
      // storms, storage-pool contention) the log shows WHICH query,
      // not just frozen executor warnings
      System.err.println(s"[bench] $name")
      val (dt, la, gc, st) = run1(name, fn)
      (name, dt, la, gc, st)
    }

    // Outlier-retry pass (the r8 lesson): a time-localized host
    // contention burst can inflate a pushed-down scan 41x and be
    // indistinguishable from a code regression in the one-shot
    // numbers. Any query slower than max(2 s, 3x suite median) is
    // re-measured once at the (usually quieter) end of the run; the
    // REPORTED time is the minimum of the attempts and every attempt
    // is recorded next to its loadavg, so a true regression shows up
    // as "slow twice, quiet host" while noise shows up as a fast
    // retry. Bounded at the 12 slowest outliers so a globally-noisy
    // host can't double the run.
    val byName = selected.toMap
    val sorted = firstPass.map(_._2).sorted
    val median = if (sorted.isEmpty) 0.0 else sorted(sorted.length / 2)
    val threshold = math.max(2.0, 3.0 * median)
    val outliers = firstPass.filter(_._2 > threshold)
      .sortBy(-_._2).take(12).map(_._1).toSet
    val retried = scala.collection.mutable.LinkedHashMap.empty[String, ((Double, Double), (Double, Double))]
    val results = firstPass.map { case (name, t1, la1, gc1, st1) =>
      if (outliers.contains(name)) {
        System.err.println(s"[bench] retry $name (first pass ${d3(t1)}s)")
        val (t2, la2, gc2, st2) = run1(name, byName(name))
        retried += name -> (((t1, la1), (t2, la2)))
        // the reported time carries ITS OWN attempt's loadavg — the
        // whole point of the per-query load is adjudicating that
        // exact measurement, not the first attempt's burst
        if (t2 <= t1) (name, t2, la2, gc2, st2) else (name, t1, la1, gc1, st1)
      } else (name, t1, la1, gc1, st1)
    }

    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    val failedJson = failed.distinct.map("\"" + _ + "\"").mkString("[", ",", "]")
    val loadavg = try {
      scala.io.Source.fromFile("/proc/loadavg").mkString.trim
        .split("\\s+").take(3).mkString(",")
    } catch { case _: Throwable => "" }
    // Full per-query detail (time, loadavg-at-start, gc ms, storage
    // MB watermark) goes to STDERR: the driver records a bounded tail
    // of stdout and parses the JSON it finds there, and r8's parse
    // came back null because the ~8 KB full-map line crowded the
    // window. stdout carries EXACTLY ONE JSON line — the compact
    // summary — emitted LAST, after spark.stop(), so nothing can
    // print after it.
    val fullQs = results.map { case (k, v, la, gc, st) =>
      "\"" + k + "\":[" + d3(v) + "," + d3(la) + "," + gc + "," + d3(st) + "]"
    }.mkString("{", ",", "}")
    System.err.println(s"""{"detail":"full_time_load_gc_storage","queries":$fullQs}""")
    val top = results.sortBy(-_._2).take(15)
      .map { case (k, v, _, _, _) => "\"" + k + "\":" + d3(v) }
      .mkString("{", ",", "}")
    // the same slowest-15, with the r14 adjudication fields: per key
    // [gc ms during the reported attempt, storage-MB watermark after
    // it] — a slow key with high gc or a fat inherited watermark is
    // session-state, not a plan regression (the r13 dispute)
    val diag = results.sortBy(-_._2).take(15)
      .map { case (k, _, _, gc, st) => "\"" + k + "\":[" + gc + "," + d3(st) + "]" }
      .mkString("{", ",", "}")
    // retried map: per attempt [time, loadavg] — the adjudication
    // record for every outlier (bounded at 12 entries, stays compact)
    val retriedJson = retried.map { case (k, ((t1, l1), (t2, l2))) =>
      "\"" + k + "\":[[" + d3(t1) + "," + d3(l1) + "],[" + d3(t2) + "," + d3(l2) + "]]"
    }.mkString("{", ",", "}")
    spark.stop()
    // a broken query must be visible as "failed", not as a
    // suspiciously fast total
    val summary = s"""{"queries":$top,"queries_total_count":${results.size},"queries_shown":"slowest 15","diag":$diag,"diag_fields":"[gc_ms,storage_mb]","retried":$retriedJson,"failed":$failedJson,"host_loadavg":"$loadavg","sf":"$sfDir","metric":"total","unit":"sec","value":${d3(total)}}"""
    // self-ratchet (r10): the string-assembled summary must PARSE and
    // carry the adjudication invariants — a malformed artifact fails
    // the run loudly instead of shipping "parsed": null to the driver
    validateSummary(summary)
    // belt-and-braces vs the driver's bounded stdout tail: the same
    // summary lands in a file, so a prefixed/crowded stdout can never
    // lose the run's numbers again (r8/r9 both parsed null)
    try {
      val w = new java.io.PrintWriter("bench_summary.json")
      try w.println(summary) finally w.close()
    } catch { case _: Throwable => () }
    // r15 (r14 verdict #8): the FULL per-key map survives as a repo
    // sidecar — the driver's bounded BENCH tail keeps only the
    // slowest-15, so round-over-round per-key diffs previously
    // depended on SURVEY prose. Every key: first-attempt (reported)
    // [time_s, loadavg_at_start, gc_ms, storage_mb].
    try {
      val w = new java.io.PrintWriter("bench_full.json")
      try w.println(
        s"""{"detail":"per_key [time_s,loadavg,gc_ms,storage_mb]","sf":"$sfDir",""" +
          s""""failed":$failedJson,"retried":$retriedJson,"host_loadavg":"$loadavg",""" +
          s""""total_sec":${d3(total)},"queries":$fullQs}""")
      finally w.close()
    } catch { case _: Throwable => () }
    println(summary)
  }
}
