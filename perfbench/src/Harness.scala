package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Measuring side of the benchmark. `run.py` writes a plan (workload,
  * seeded op order, input paths), this main executes it in one JVM against
  * `graft.Engine.session` and writes raw samples as JSON; `run.py` checks
  * outputs and turns the samples into metrics.
  *
  * Every op is timed from outside the program, around calls into its
  * public functions. With tracing on, each op also records spans (build,
  * plan, exec; translate, execute, result for SQL) and the Spark jobs,
  * stages and tasks that ran while it was the current op. */
object Harness {
  private val json = new ObjectMapper().registerModule(DefaultScalaModule)
  type Plan = Map[String, Any]

  def main(args: Array[String]): Unit = {
    val plan = json.readValue(new File(args(0)), classOf[Map[String, Any]])
    val out = args(1)
    val h = new Harness(plan)
    val result = try h.run() finally h.stop()
    Files.writeString(Paths.get(out), json.writeValueAsString(result))
  }

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
}

/** One span: a timed call into one layer. `op` ties it to the op that
  * caused it; parent is the op's root span (-1 for the root). */
final case class Span(id: Int, parent: Int, op: Int, name: String, start: Long, end: Long)

/** Per-op execution counters, attributed through the `perfbench.op` and
  * `perfbench.phase` local properties the harness sets before each call;
  * with one client thread every job belongs to exactly one op. */
final class OpListener extends SparkListener {
  final class Counts {
    var jobs, stages, tasks, failedTasks, scanRows = 0L
    var runMs, cpuNs, gcMs, shuffleWrite, shuffleRead, spill = 0L
    def toMap: Map[String, Long] = Map("jobs" -> jobs, "stages" -> stages,
      "tasks" -> tasks, "failed_tasks" -> failedTasks, "scan_rows" -> scanRows,
      "task_run_ms" -> runMs, "task_cpu_ns" -> cpuNs, "task_gc_ms" -> gcMs,
      "shuffle_write_bytes" -> shuffleWrite, "shuffle_read_bytes" -> shuffleRead,
      "spill_bytes" -> spill)
  }
  private val stageKey = new ConcurrentHashMap[Int, String]()
  val counts = new ConcurrentHashMap[String, Counts]()
  @volatile var lastEvent: Long = System.nanoTime()

  private def at(key: String): Counts = counts.computeIfAbsent(key, _ => new Counts)

  override def onJobStart(ev: SparkListenerJobStart): Unit = {
    lastEvent = System.nanoTime()
    val p = ev.properties
    val key = if (p == null || p.getProperty("perfbench.op") == null) "none"
      else p.getProperty("perfbench.op") + "/" + p.getProperty("perfbench.phase")
    ev.stageIds.foreach(stageKey.put(_, key))
    at(key).synchronized { at(key).jobs += 1 }
  }

  override def onStageCompleted(ev: SparkListenerStageCompleted): Unit = {
    lastEvent = System.nanoTime()
    val c = at(stageKey.getOrDefault(ev.stageInfo.stageId, "none"))
    c.synchronized { c.stages += 1 }
  }

  override def onTaskEnd(ev: SparkListenerTaskEnd): Unit = {
    lastEvent = System.nanoTime()
    val c = at(stageKey.getOrDefault(ev.stageId, "none"))
    val m = ev.taskMetrics
    c.synchronized {
      c.tasks += 1
      if (ev.reason != Success) c.failedTasks += 1
      if (m != null) {
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.scanRows += m.inputMetrics.recordsRead
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** The listener bus is asynchronous: wait until it has been quiet. */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    while (System.nanoTime() - lastEvent < 300000000L && System.nanoTime() < deadline)
      Thread.sleep(50)
  }
}

final class Harness(plan: Harness.Plan) {
  import Harness.secs

  private def str(k: String): String = plan(k).toString
  private def num(k: String): Int = plan(k).asInstanceOf[Number].intValue
  private def list[T](k: String): Seq[T] = plan(k).asInstanceOf[Seq[T]]
  private val workload = str("workload")
  private val trace = plan("trace") == true
  private val nproc = num("nproc")
  private val work = str("work")

  private var spark: SparkSession = _
  /** Input directory of the current session's tables. */
  private var data: String = _
  private var listener: OpListener = _
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
  private var opId = 0
  private var pass = 0
  private var rootSpan = -1
  /** Whether the current op records spans; the traced run alternates it
    * between ops, so the untraced ones give its overhead. */
  private var tracing = false

  // ---------- tracing ----------

  /** Times `body` as a span of the current op when tracing, and tags the
    * Spark jobs it fires with the op and phase. Untraced, it only runs
    * `body`, so the timed run carries no tracing cost. */
  private def span[T](name: String)(body: => T): T =
    if (!tracing) body
    else {
      val sc = spark.sparkContext
      sc.setLocalProperty("perfbench.phase", name)
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(spans.length, rootSpan, opId, name, t0, System.nanoTime())
        sc.setLocalProperty("perfbench.phase", "op")
      }
    }

  /** Runs one op and records its wall time; a failed op is recorded as
    * failed with no timing. With the listener on, every job the op fires
    * is tagged with the op, whether or not it records spans. */
  private def op(name: String, phase: String, traced: Boolean)(
      body: => Map[String, Any]): Map[String, Any] = {
    opId += 1
    tracing = traced
    if (listener != null) {
      spark.sparkContext.setLocalProperty("perfbench.op", opId.toString)
      spark.sparkContext.setLocalProperty("perfbench.phase", "op")
    }
    val t0 = System.nanoTime()
    if (tracing) {
      rootSpan = spans.length
      spans += Span(rootSpan, -1, opId, "op", t0, 0L)
    }
    val rec = try {
      val res = body
      Map("ok" -> true, "s" -> secs(t0)) ++ res
    } catch {
      case e: Throwable =>
        Map("ok" -> false, "err" -> e.toString.take(300))
    }
    if (tracing) spans(rootSpan) = spans(rootSpan).copy(end = System.nanoTime())
    val full = Map("op" -> opId, "name" -> name, "phase" -> phase, "pass" -> pass,
      "traced" -> traced) ++ rec
    ops += full
    full
  }

  // ---------- sessions and set-up ----------

  private val setups = mutable.ArrayBuffer.empty[Map[String, Double]]

  /** One set-up: stops the current session, starts a fresh engine session,
    * registers the inputs in `dir` and runs one warm-up op. Every session
    * of the run starts this way, and each start is a set-up sample. */
  private def setup(dir: String): Unit = {
    if (spark != null) { spark.stop(); spark = null }
    data = dir
    val t0 = System.nanoTime()
    spark = graft.Engine.session(s"local[$nproc]", nproc)
    val session = secs(t0)
    val t1 = System.nanoTime()
    if (workload != "sql_dml") graft.Tables.registerAll(spark, dir)
    val dataS = secs(t1)
    val t2 = System.nanoTime()
    workload match {
      case "sql_dml" =>
        val r = new graft.StatementRouter(spark, s"$work/warmup${setups.length}")
        r.execute("CREATE TABLE w (id BIGINT PRIMARY KEY, v DOUBLE PRECISION)")
        r.execute("INSERT INTO w (id, v) VALUES (1, 1.0), (2, 2.0)")
        r.execute("SELECT count(*), sum(v) FROM w").collect()
      case _ => noop(graft.SparkEntry.queries("q01_scan_filter_project")(spark, dir))
    }
    setups += Map("session_s" -> session, "data_s" -> dataS, "warmup_s" -> secs(t2),
      "total_s" -> secs(t0))
    // one listener across sessions: a stopped session's bus has drained
    if (trace) {
      if (listener == null) listener = new OpListener
      spark.sparkContext.addSparkListener(listener)
    }
  }

  /** The statements of a sql_dml plan section, in order, as
    * (statement, kind, writes): DDL, COPYs, then the stream. */
  private def steps(sql: Map[String, Any]): Seq[(String, String, Boolean)] = {
    val table = sql("table").toString
    Seq((sql("ddl").toString, "create", true)) ++
      sql("copy_files").asInstanceOf[Seq[String]].map(f => (s"COPY $table FROM '$f'", "copy", true)) ++
      sql("ops").asInstanceOf[Seq[Map[String, Any]]]
        .map(o => (o("sql").toString, o("kind").toString, o("write") == true))
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  // ---------- storage hygiene (as graft.Bench does between entries) ----------

  private def cleanup(): Unit = {
    graft.operators.MatchText.IndexCache.clear()
    try spark.sharedState.cacheManager.clearCache() catch { case _: Throwable => () }
    try spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    catch { case _: Throwable => () }
    System.gc()
  }

  // ---------- catalog ----------

  /** One timed entry execution: construction, then (traced) Catalyst
    * planning of the final plan, then a noop write that executes every
    * operator. */
  private def runEntry(name: String): Map[String, Any] = {
    val df = span("build")(graft.SparkEntry.queries(name)(spark, data))
    val phases = planned(df)
    span("exec")(noop(df))
    Map("phases" -> phases)
  }

  /** Traced only: Catalyst planning of the op's final plan, and the
    * analysis/optimization/planning times its tracker recorded. */
  private def planned(df: DataFrame): Map[String, Any] =
    if (!tracing) Map.empty
    else span("plan") {
      df.queryExecution.executedPlan
      df.queryExecution.tracker.phases.map { case (k, v) => k -> v.durationMs }
    }

  /** Untimed: the entry's result as parquet for the output check,
    * and the rows of the input tables its final plan scans. */
  private def dumpEntry(name: String, path: String): Map[String, Any] = {
    val df = graft.SparkEntry.queries(name)(spark, data)
    df.write.mode("overwrite").parquet(path)
    val rows = plan("table_rows").asInstanceOf[Map[String, Number]]
    val files = df.inputFiles
    Map("input_rows" -> rows.collect {
      case (t, n) if files.exists(_.contains(s"/$t.parquet")) => n.longValue
    }.sum)
  }

  private def entries(): Map[String, Any] = {
    val names = list[String]("entries")
    // JIT warm-up and output check, untimed, in a session of its own on a
    // copy of the tables: every entry's result for the check in run.py.
    // The JIT state is the JVM's, so the measured passes meet warm code;
    // the engine keys its memos by session or input directory, so they
    // meet cold memos.
    setup(str("check_data"))
    val t0 = System.nanoTime()
    val check = str("check_dir")
    val info = names.map { n =>
      val path = s"$check/$n"
      val r = op(n, "check", traced = false)(dumpEntry(n, path))
      n -> Map("input_rows" -> r.getOrElse("input_rows", 0L), "path" -> path,
        "err" -> r.get("err").orNull, "oracle" -> graft.SparkEntry.oracleSql.get(n).orNull)
    }.toMap
    cleanup()
    val prewarmS = secs(t0)
    val gc0 = gcSeconds()
    val t1 = System.nanoTime()
    // measured passes, each in a fresh session on a fresh copy of the
    // tables: every entry once cold, in seeded order with storage hygiene
    // between entries; then warm rounds of every entry once in the same
    // order, with no hygiene between ops, so a burst of host load costs an
    // entry one sample of its median; then storage hygiene. Every pass
    // makes at least `min_rounds` warm rounds and spends at least
    // `seconds` ÷ passes on them, so both phases sample the whole run. The
    // traced run records spans on every other warm round.
    val dirs = list[String]("pass_data")
    val minRounds = num("min_rounds")
    val share = num("seconds").toDouble / dirs.length
    dirs.foreach { dir =>
      pass += 1
      setup(dir)
      names.foreach { n =>
        op(n, "cold", trace)(runEntry(n))
        cleanup()
      }
      val t2 = System.nanoTime()
      var round = 0
      while (round < minRounds || secs(t2) < share) {
        names.foreach(n => op(n, "warm", trace && round % 2 == 0)(runEntry(n)))
        round += 1
      }
      cleanup()
    }
    Map("entries" -> info, "prewarm_s" -> prewarmS, "measured_s" -> secs(t1),
      "jvm_gc_s" -> (gcSeconds() - gc0))
  }

  // ---------- sql_dml ----------

  /** One pass of the SQL traffic on its own table root: DDL, COPY FROM
    * ingest, the stream, then the final state through the same router and
    * through a fresh one, and the storage under the table root. */
  private def sqlPass(sql: Map[String, Any]): Map[String, Any] = {
    val root = sql("root").toString
    val table = sql("table").toString
    val router = new graft.StatementRouter(spark, root)
    val storage = mutable.ArrayBuffer.empty[Map[String, Any]]
    def listing(): (Long, Long) = {
      val files = walk(new File(s"$root/$table"))
      (files.map(_.length).sum, files.length.toLong)
    }
    def exec(stmt: String): Map[String, Any] = {
      if (tracing) span("translate")(graft.Dialect.translate(stmt))
      val df = span("execute")(router.execute(stmt))
      val phases = planned(df)
      val rows = span("result")(df.collect())
      Map("rows" -> rows.map(r => r.toSeq.map(cell)).toSeq, "phases" -> phases)
    }
    // the first statement of each kind in the pass is its cold sample
    val seen = mutable.Set.empty[String]
    steps(sql).foreach { case (stmt, kind, write) =>
      val phase = if (seen.add(kind) || kind == "copy") "cold" else "warm"
      val before = if (trace && write) listing() else (0L, 0L)
      val r = op(kind, phase, trace && opId % 2 == 0)(exec(stmt))
      if (trace && write) {
        val after = listing()
        storage += Map("op" -> r("op"), "bytes_written" -> math.max(0L, after._1 - before._1))
      }
    }
    val (onDisk, files) = listing()
    val finalQ = s"SELECT count(*), sum(value) FROM $table"
    def state(r: graft.StatementRouter): Seq[Any] = r.execute(finalQ).head().toSeq.map(cell)
    val live = router.execute(s"SELECT * FROM $table").inputFiles
      .map(f => new File(new java.net.URI(f)).length).sum
    Map("final" -> state(router), "reopen" -> state(new graft.StatementRouter(spark, root)),
      "bytes_on_disk" -> onDisk, "files" -> files, "live_bytes" -> live,
      "versions" -> graft.sources.VersionedTable.versions(spark, s"$root/$table").length,
      "storage" -> storage.toSeq)
  }

  private def sqlDml(): Map[String, Any] = {
    // JIT warm-up, untimed: a short stream on a small table root of its
    // own, in a session the first pass replaces (see entries())
    setup(work)
    val t0 = System.nanoTime()
    val p = plan("prewarm_sql").asInstanceOf[Map[String, Any]]
    val r = new graft.StatementRouter(spark, p("root").toString)
    steps(p).foreach(step => r.execute(step._1).collect())
    val prewarmS = secs(t0)
    val gc0 = gcSeconds()
    val t1 = System.nanoTime()
    val passes = list[Map[String, Any]]("passes").map { sql =>
      pass += 1
      setup(work)
      sqlPass(sql)
    }
    Map("passes" -> passes, "prewarm_s" -> prewarmS, "measured_s" -> secs(t1),
      "jvm_gc_s" -> (gcSeconds() - gc0))
  }

  private def cell(v: Any): Any = v match {
    case null => null
    case t: java.sql.Timestamp => t.toInstant.toString
    case t: java.time.Instant => t.toString
    case d: java.math.BigDecimal => d.doubleValue
    case x => x
  }

  private def walk(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk)
    else if (f.exists) Seq(f) else Nil

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  /** Heap in use after full collections, in MB. */
  private def heapRetainedMb(): Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def run(): Map[String, Any] = {
    val body = workload match {
      case "sql_dml" => sqlDml()
      case _ => entries()
    }
    val heap = heapRetainedMb()
    if (listener != null) listener.drain()
    body ++ Map(
      "setup" -> setups.toSeq, "ops" -> ops.toSeq, "heap_retained_mb" -> heap,
      "spans" -> spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
        "name" -> s.name, "start" -> s.start, "end" -> s.end)).toSeq,
      "counters" -> (if (listener == null) Map.empty
        else listener.counts.asScala.map { case (k, c) => k -> c.toMap }.toMap))
  }

  def stop(): Unit = if (spark != null) spark.stop()
}
