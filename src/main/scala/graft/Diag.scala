package graft

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Local diagnostics over the declared queries (SparkEntry.queries),
  * never run by Bench or Verify. One session shaped like Bench's (AQE
  * on, UTC, shuffle partitions = cores), sized by the same env knobs:
  * SPARK_GRAFT_SF_DIR (the testdata dir, required) and
  * SPARK_GRAFT_CPUS (default 4). Usage:
  * {{{
  * runMain graft.Diag plan      <query...>  executed plan, before execution
  * runMain graft.Diag plan-post <query...>  executed plan after collect() (AQE-final)
  * runMain graft.Diag count     <query...>  operator counts in the AQE-final plan
  * runMain graft.Diag formatted <outDir> <suffix> <query...>
  *                                          explain("formatted") -> <outDir>/<query>_<suffix>.txt
  * runMain graft.Diag prof      <query...>  build/plan/exec split + jobs/stages/tasks, cold then warm
  * }}}
  * `collect()` executes the frame's OWN QueryExecution (a noop write
  * spawns a separate one and leaves the frame's AdaptiveSparkPlan
  * un-finalized, so its string would show the pre-AQE duplicate
  * subtrees AQE later collapses). */
object Diag {

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Diag plan|plan-post|count|formatted|prof <args...>")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      throw new IllegalArgumentException("set SPARK_GRAFT_SF_DIR to a testdata dir"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def each(names: Seq[String])(f: (String, DataFrame) => Unit): Unit =
      names.foreach { name =>
        f(name, SparkEntry.queries(name)(spark, sfDir))
        spark.catalog.clearCache()
      }
    args.head match {
      case "plan" => each(args.tail) { (name, df) =>
        println(s"===== $name =====")
        println(df.queryExecution.executedPlan.toString)
      }
      case "plan-post" => each(args.tail) { (name, df) =>
        df.collect()
        println(s"===== $name =====")
        println(df.queryExecution.executedPlan.toString)
      }
      case "count" => each(args.tail) { (name, df) =>
        df.collect()
        val p = df.queryExecution.executedPlan.toString
        def n(re: String) = re.r.findAllIn(p).length
        println(s"$name: ${n("FileScan")} FileScan, " +
          s"${n("Exchange (hash|range|Single|RoundRobin)")} Exchange, " +
          s"${n("ReusedExchange|ReusedQueryStage")} Reused, " +
          s"${n("ShuffleQueryStage")} ShuffleQueryStage, " +
          s"${n("(?m)^\\s*[+:]?[- ]*InMemoryTableScan")} InMemoryTableScan")
      }
      case "formatted" =>
        val Seq(outDir, suffix, names @ _*) = args.tail.toSeq
        new java.io.File(outDir).mkdirs()
        each(names) { (name, df) =>
          val w = new java.io.PrintWriter(s"$outDir/${name}_$suffix.txt")
          try w.println(df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
          finally w.close()
          System.err.println(s"[plan] $name -> $outDir/${name}_$suffix.txt")
        }
      case "prof" => prof(spark, sfDir, args.tail.toSeq)
      case other => throw new IllegalArgumentException(
        s"unknown Diag mode: $other (plan | plan-post | count | formatted | prof)")
    }
    spark.stop()
  }

  /** Per query, split wall time into plan-build / planning / execution
    * (noop sink, like Bench), count jobs, stages and tasks, and run
    * each query twice so fixed JVM warm-up (codegen compile, first-
    * touch caches) separates from steady-state cost. PROF_JOBS=1 also
    * prints each job's wall time. */
  private def prof(spark: SparkSession, sfDir: String, names: Seq[String]): Unit = {
    Seq("lineitem", "orders", "customer", "supplier", "part", "nation",
      "region", "documents", "embeddings").foreach { t =>
      Tables.load(spark, sfDir, t).count()
    }
    Tables.events(spark, sfDir).count()

    val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val jobSecs = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Double)]()
    val stageCount = new java.util.concurrent.atomic.AtomicInteger(0)
    val taskCount = new java.util.concurrent.atomic.AtomicInteger(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        jobStart.put(js.jobId, System.nanoTime())
        stageCount.addAndGet(js.stageInfos.size)
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        val t0 = jobStart.getOrDefault(je.jobId, System.nanoTime())
        jobSecs.add((je.jobId, (System.nanoTime() - t0) / 1e9))
      }
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        taskCount.incrementAndGet(); ()
      }
    })

    def once(name: String): Unit = {
      val fn = SparkEntry.queries(name)
      jobSecs.clear(); stageCount.set(0); taskCount.set(0)
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val t1 = System.nanoTime()
      df.queryExecution.executedPlan
      val t2 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val t3 = System.nanoTime()
      // listener bus is async; give it a beat before reading counters
      Thread.sleep(300)
      val jobs = {
        val it = jobSecs.iterator(); val b = Seq.newBuilder[(Int, Double)]
        while (it.hasNext) b += it.next(); b.result().sortBy(_._1)
      }
      println(f"$name%-38s build=${(t1 - t0) / 1e9}%6.3f plan=${(t2 - t1) / 1e9}%6.3f " +
        f"exec=${(t3 - t2) / 1e9}%6.3f jobs=${jobs.size}%3d stages=${stageCount.get}%3d tasks=${taskCount.get}%5d")
      if (sys.env.contains("PROF_JOBS"))
        jobs.foreach { case (id, s) => println(f"    job $id%4d ${s}%7.3f s") }
      spark.catalog.clearCache()
    }

    for (name <- names) { once(name); once(name) }
  }
}
