package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole test JVM (Test / fork := true). */
object TestSpark {
  lazy val spark: SparkSession = {
    // the factory never sets the warehouse, so a deployment's own
    // -Dspark.sql.warehouse.dir wins; the tests pass theirs the same way
    System.setProperty("spark.sql.warehouse.dir",
      graft.ArtifactStore.scratchDir("graft-wh").toString)
    val s = Engine.session("local[4]", 4, cbo = false)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sfDir = "/root/testdata/sf0.001"
}

abstract class SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  def sfDir: String = TestSpark.sfDir

  private val tagKey = "graft.test.jobs"

  /** Spark jobs started while `f` runs, attributed through a local
    * property. The listener bus delivers events in order, so a sentinel
    * job seen by the listener means every job of `f` was counted too. */
  def jobsOf[T](f: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val sentinel = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(js.properties).map(_.getProperty(tagKey)).foreach {
          case "run"      => jobs.incrementAndGet()
          case "sentinel" => sentinel.countDown()
          case _          => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(tagKey, "run")
      val out = try f finally sc.setLocalProperty(tagKey, null)
      sc.setLocalProperty(tagKey, "sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(tagKey, null)
      assert(sentinel.await(30, java.util.concurrent.TimeUnit.SECONDS))
      (out, jobs.get())
    } finally sc.removeSparkListener(listener)
  }
}
