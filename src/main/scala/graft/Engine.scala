package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Engine facade: the one session factory + SQL entry point.
  *
  * The reference's whole query lifecycle (parse → analyze → plan → optimize →
  * distributed phases; SURVEY.md §3, `io/crate/planner/Planner.java:273`)
  * collapses onto Catalyst. What remains for us is session configuration and
  * a small dialect shim ([[Dialect]]).
  *
  * [[session]] is the only place a SparkSession is built; every main, tool
  * and test session comes from it. It sets:
  *  - master and `spark.sql.shuffle.partitions`: both default to
  *    `SPARK_GRAFT_CPUS` (32 when unset); on a real cluster set the
  *    partitions to ~2-3× total cores (AQE coalesces the excess);
  *  - `spark.sql.session.timeZone=UTC`;
  *  - `spark.sql.legacy.parquet.nanosAsLong=true`: the events fixture
  *    stores INT64 TIMESTAMP(NANOS), which [[Tables.load]] converts;
  *  - `spark.ui.enabled=false`;
  *  - `spark.cleaner.periodicGC.interval=15s`: ContextCleaner reaps
  *    broadcast and checkpoint blocks only after a driver GC, and Spark's
  *    30-minute default never fires inside a catalog sweep;
  *  - `spark.hadoop.fs.file.impl` = [[graft.sources.LocalFs]]: without
  *    libhadoop, Hadoop's local FS forks a `chmod` process for every file,
  *    checksum and directory a write creates (~35 per DML commit);
  *    `LocalFs` sets the same mode with one syscall. Hadoop caches one
  *    `file:` FileSystem per JVM and user, so this holds only while every
  *    FileSystem comes from the session's Hadoop conf (`MemoHygieneSpec`
  *    scans for the other ways to get one);
  *  - with `cbo` (the default), `spark.sql.cbo.enabled` and
  *    `cbo.joinReorder.enabled`: stats-driven join reordering mirrors the
  *    reference's join-graph reordering
  *    (`planner/optimizer/rule/EliminateCrossJoin.java:50`).
  *
  * CBO is the one parameter because the callers differ on it: the engine
  * session runs with it, while the [[Bench]] settings (a guardrail),
  * [[Verify]], the tools and the test session plan without it. Everything
  * else Spark needs is already its default (AQE with partition coalescing
  * and skew-join splitting, runtime bloom filters), or is forced by
  * [[graft.functions.GraftFunctions.registerAll]]
  * (`spark.sql.parser.escapedStringLiterals=true`), which runs here
  * together with the `sys.operations_log` stage listener. The warehouse
  * directory is never set here: a deployment (or the test session) passes
  * `spark.sql.warehouse.dir` as a system property. */
object Engine {
  private val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  def session(master: String = s"local[$cpus]", shufflePartitions: Int = cpus,
              cbo: Boolean = true): SparkSession = {
    val builder = SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.cleaner.periodicGC.interval", "15s")
      .config("spark.hadoop.fs.file.impl", classOf[graft.sources.LocalFs].getName)
    if (cbo) builder
      .config("spark.sql.cbo.enabled", "true")
      .config("spark.sql.cbo.joinReorder.enabled", "true")
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.registerAll(spark)
    // stage-completion ring for sys.operations_log starts with the session
    graft.sources.SysCatalog.installListener(spark)
    spark
  }

  /** SQL entry point with the CrateDB-isms translated (see [[Dialect]]).
    * Every statement lands in the `sys.jobs_log` ring buffer with its wall
    * time and outcome (reference `SysJobsLogTableInfo.java`).
    *
    * Fidelity note: `spark.sql` is lazy, so the recorded duration covers
    * parse/analyze/plan only and a failure that surfaces at action time
    * is not retro-logged — unlike the reference's ring buffer, which logs
    * completed execution. jobs_log here is a statement audit, not a
    * runtime profiler; Spark's own listener/UI is the runtime source of
    * truth. Documented rather than hooked (a QueryExecutionListener fires
    * per-action, not per-statement, and would double-count multi-action
    * DataFrames). */
  def sql(spark: SparkSession, stmt: String): DataFrame = {
    val t0 = System.currentTimeMillis
    try {
      val df = spark.sql(Dialect.translate(stmt))
      sources.SysCatalog.recordJob(stmt, t0, System.currentTimeMillis)
      df
    } catch {
      case e: Exception =>
        sources.SysCatalog.recordJob(stmt, t0, System.currentTimeMillis, e.getMessage)
        throw e
    }
  }
}
