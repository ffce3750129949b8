package graft.search

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** `"profile": true` — ES's per-component search profiler, Spark-shaped:
  * execute the frame once, then read the EXECUTED physical plan's
  * SQLMetrics (the numbers Spark's UI shows — output rows, spill
  * sizes, shuffle bytes, scan time) as a flat (operator, metric,
  * value) frame. This is honest post-execution telemetry from the
  * same run, not an estimate: AQE's final plan is unwrapped so
  * runtime re-plans report what actually executed.
  */
object Profile {

  /** Execute `df` (noop sink — no driver materialization of the
    * result) and return one row per (operator, metric). The physical
    * plan is executed DIRECTLY (not via Dataset.foreach, which builds
    * a separate QueryExecution whose metrics we'd never see). */
  def profile(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val top = df.queryExecution.executedPlan
    top.execute().foreach(_ => ())
    val rows = scala.collection.mutable.ListBuffer.empty[(Int, String, String, Long)]
    // AQE hides the real operators behind wrapper nodes whose payload
    // is not a `child`: unwrap the adaptive root and every query stage
    def unwrap(p: SparkPlan): SparkPlan = p match {
      case a: AdaptiveSparkPlanExec => unwrap(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => unwrap(q.plan)
      case other => other
    }
    def walk(p: SparkPlan, depth: Int): Unit = {
      val real = unwrap(p)
      for ((name, metric) <- real.metrics)
        rows += ((depth, real.nodeName, name, metric.value))
      real.children.foreach(walk(_, depth + 1))
    }
    walk(top, 0)
    rows.toSeq.toDF("depth", "operator", "metric", "value")
  }
}
