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

  /** SQL executions started while `f` runs, each with the node names of
    * its initial physical plan, attributed through a job tag (the SQL
    * execution start event carries the tags). A sentinel execution seen
    * by the listener means every execution of `f` was seen too. */
  def sqlPlansOf[T](f: => T): (T, Seq[Seq[String]]) = {
    import org.apache.spark.sql.execution.SparkPlanInfo
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val sc = spark.sparkContext
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[Seq[String]]()
    val sentinel = new java.util.concurrent.CountDownLatch(1)
    def nodes(p: SparkPlanInfo): Seq[String] = p.nodeName +: p.children.flatMap(nodes)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        e match {
          case s: SparkListenerSQLExecutionStart =>
            if (s.jobTags.contains(s"$tagKey.run")) plans.add(nodes(s.sparkPlanInfo))
            else if (s.jobTags.contains(s"$tagKey.sentinel")) sentinel.countDown()
          case _ => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.addJobTag(s"$tagKey.run")
      val out = try f finally sc.removeJobTag(s"$tagKey.run")
      sc.addJobTag(s"$tagKey.sentinel")
      try spark.range(1).collect() finally sc.removeJobTag(s"$tagKey.sentinel")
      assert(sentinel.await(30, java.util.concurrent.TimeUnit.SECONDS))
      (out, plans.toArray(Array.empty[Seq[String]]).toSeq)
    } finally sc.removeSparkListener(listener)
  }

  /** The number of SQL executions started while `f` runs. */
  def sqlExecutionsOf[T](f: => T): (T, Int) = {
    val (out, plans) = sqlPlansOf(f)
    (out, plans.length)
  }
}
