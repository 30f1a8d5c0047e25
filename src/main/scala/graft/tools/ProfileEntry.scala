package graft.tools

import org.apache.spark.scheduler._

/** Runs catalog entries with a job listener and prints one line per Spark
  * job (duration, stage/task counts, call site) — localizes which action
  * inside a multi-job entry owns the wall clock (guide §1/§7). Usage:
  * ProfileEntry <name[,name...]> [reps]. Not part of the driver contract. */
object ProfileEntry {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty)
    val reps = if (args.length > 1) args(1).toInt else 2
    val spark = graft.Engine.session(cbo = false)
    case class J(id: Int, t0: Long, desc: String,
                 var tEnd: Long = 0L, var nTasks: Int = 0)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, J]()
    val order = new java.util.concurrent.CopyOnWriteArrayList[Int]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val site = Option(e.properties.getProperty("callSite.short")).getOrElse("")
        jobs.put(e.jobId, J(e.jobId, e.time, site,
          nTasks = e.stageInfos.map(_.numTasks).sum))
        order.add(e.jobId)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val j = jobs.get(e.jobId); if (j != null) j.tEnd = e.time
      }
    })
    names.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      (1 to reps).foreach { r =>
        jobs.clear(); order.clear()
        val wall = graft.Sweep.time("pe", name)(fn(spark, graft.Sweep.sfDir))
        Thread.sleep(200)
        import scala.jdk.CollectionConverters._
        val js = order.asScala.flatMap(id => Option(jobs.get(id)))
        val jsum = js.map(j => (j.tEnd - j.t0) / 1e3).sum
        println(f"[pe] === $name rep$r wall $wall%.2f s, ${js.size} jobs, job-sum $jsum%.2f s")
        js.foreach { j =>
          println(f"[pe]   job ${j.id}%3d ${(j.tEnd - j.t0) / 1e3}%7.3f s tasks ${j.nTasks}%4d  ${j.desc}")
        }
        graft.Sweep.cleanup(spark)
      }
    }
    spark.stop()
  }
}
