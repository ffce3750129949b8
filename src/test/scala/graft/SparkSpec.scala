package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (getOrCreate reuses one
  * SparkContext across the forked test JVM). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sfDir = "/root/testdata/sf0.001"

  /** Spark jobs `body` launches from this thread. */
  def jobsLaunchedBy(body: => Unit): Int = launchedBy(body).jobs.size

  /** What `body` launches from this thread: each Spark job's local
    * properties (job description, SQL execution id), and the physical
    * plan of every SQL execution those jobs ran under. Jobs carry a
    * thread-local tag; a tagged sentinel job afterwards orders the
    * count behind every earlier event on the (asynchronous) listener
    * bus, so no sleep is needed. */
  def launchedBy(body: => Unit): Launched = {
    val sc = spark.sparkContext
    val key = "graft.test.jobProbe"
    val tag = s"probe-${System.nanoTime()}"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[java.util.Properties]()
    val plans = new java.util.concurrent.ConcurrentHashMap[java.lang.Long, String]()
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).map(_.getProperty(key)).orNull match {
          case `tag` => jobs.add(js.properties); ()
          case t if t == s"$tag:end" => drained.countDown()
          case _ => ()
        }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          plans.put(s.executionId, s.physicalPlanDescription); ()
        case _ => ()
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(key, tag)
      try body finally sc.setLocalProperty(key, null)
      sc.setLocalProperty(key, s"$tag:end")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(key, null)
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS), "listener bus never drained")
      val js = jobs.asScala.toSeq
      val ids = js.flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).distinct
      Launched(js, ids.flatMap(id => Option(plans.get(java.lang.Long.valueOf(id)))))
    } finally sc.removeSparkListener(listener)
  }
}

/** Jobs and SQL plans a body launched; see [[SparkSpec.launchedBy]]. */
case class Launched(jobs: Seq[java.util.Properties], plans: Seq[String]) {
  def descriptions: Seq[String] = jobs.map(_.getProperty("spark.job.description"))
}
