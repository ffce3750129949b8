package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
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

  /** Spark jobs `body` launches from this thread. Jobs carry a
    * thread-local tag; a tagged sentinel job afterwards orders the
    * count behind every earlier event on the (asynchronous) listener
    * bus, so no sleep is needed. */
  def jobsLaunchedBy(body: => Unit): Int = {
    val sc = spark.sparkContext
    val key = "graft.test.jobProbe"
    val tag = s"probe-${System.nanoTime()}"
    val seen = new java.util.concurrent.atomic.AtomicInteger(0)
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).map(_.getProperty(key)).orNull match {
          case `tag` => seen.incrementAndGet(); ()
          case t if t == s"$tag:end" => drained.countDown()
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
      seen.get
    } finally sc.removeSparkListener(listener)
  }
}
