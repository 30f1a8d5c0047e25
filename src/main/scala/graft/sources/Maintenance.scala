package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Table-maintenance statements (SURVEY.md §1 API surface): `OPTIMIZE`,
  * `REFRESH TABLE`, `ANALYZE`, `KILL` — the admin verbs a CrateDB user runs,
  * mapped to their Spark-substrate equivalents.
  */
object Maintenance {

  /** `OPTIMIZE TABLE` — compact a parquet table's small files (the
    * reference's segment merge). Rewrites to ~`targetFileMB`-sized files;
    * at scale this is the routine post-ingest compaction pass that keeps
    * scan parallelism sane (thousands of tiny files → few right-sized ones).
    */
  def optimizeTable(spark: SparkSession, path: String, targetFileMB: Int = 128): Unit = {
    val df = ParquetFooter.read(spark, path)
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val files = math.max(1, (bytes / (targetFileMB.toLong * 1024 * 1024)).toInt)
    val tmp = path + "__optimized"
    df.repartition(files).write.mode("overwrite").parquet(tmp)
    atomicSwap(spark, tmp, path)
  }

  /** Publish the committed staging dir `tmp` as the new content of `dst` —
    * swap via rename, never delete-first: a crash mid-swap leaves BOTH
    * copies on disk (the old one at `dst__prev`), so no window loses the
    * table. The staging write must have produced a `_SUCCESS` marker (the
    * Hadoop committer's commit record) or the swap refuses to run. */
  def atomicSwap(spark: SparkSession, tmp: String, dst: String): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val dstP = new org.apache.hadoop.fs.Path(dst)
    val tmpP = new org.apache.hadoop.fs.Path(tmp)
    val oldP = new org.apache.hadoop.fs.Path(dst + "__prev")
    require(fs.exists(new org.apache.hadoop.fs.Path(tmpP, "_SUCCESS")),
      s"swap aborted: staging write $tmp did not commit")
    fs.delete(oldP, true)
    if (!fs.rename(dstP, oldP))
      throw new java.io.IOException(s"swap: could not move $dst aside")
    if (!fs.rename(tmpP, dstP)) {
      fs.rename(oldP, dstP) // roll back
      throw new java.io.IOException(s"swap: could not publish $tmp; rolled back")
    }
    fs.delete(oldP, true)
  }

  /** `REFRESH TABLE` — invalidate cached metadata/data for a catalog table
    * (the reference's refresh makes new segments visible; Spark's refresh
    * drops the stale file listing + cache). */
  def refreshTable(spark: SparkSession, name: String): Unit =
    spark.catalog.refreshTable(name)

  /** `ANALYZE` — recompute CBO statistics (reference
    * `TableStatsService.java:101`). */
  def analyze(spark: SparkSession, table: String): Unit =
    spark.sql(s"ANALYZE TABLE $table COMPUTE STATISTICS FOR ALL COLUMNS")

  /** `EXPLAIN [ANALYZE]` — plan text; with `analyze=true` runs the
    * query so the returned plan string carries actual row metrics.
    * `mode` (plan-only path) is a Spark ExplainMode name: "formatted"
    * (plan tree — the reference's default EXPLAIN shape), "extended"
    * (VERBOSE: every plan phase), "cost" (COSTS: logical plan with
    * `Statistics(sizeInBytes, rowCount)` per node). */
  def explain(df: DataFrame, analyze: Boolean = false,
              mode: String = "extended"): String = {
    if (!analyze)
      return df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString(mode))
    // EXPLAIN ANALYZE (reference profile/ package: the executed plan tree
    // annotated with actual per-operator counters): run the plan, then
    // render each physical node with its populated SQL metrics —
    // numOutputRows, spill/shuffle bytes, scan and build times
    df.queryExecution.executedPlan.execute().count()
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def render(p: SparkPlan, depth: Int): Seq[String] = p match {
      case a: AdaptiveSparkPlanExec => render(a.executedPlan, depth)
      // AQE stage wrappers hold their subtree as `plan`, not `children`
      case q: QueryStageExec => render(q.plan, depth)
      case _ =>
        val ms = p.metrics.toSeq
          .filter { case (_, m) => m.value > 0 }
          .sortBy(_._1)
          .map { case (n, m) => s"$n=${m.value}" }
          .mkString(", ")
        (("  " * depth) + "* " + p.nodeName +
          (if (ms.nonEmpty) s" [$ms]" else "")) +:
          p.children.flatMap(render(_, depth + 1))
    }
    render(df.queryExecution.executedPlan, 0).mkString("\n") + "\n\n" +
      df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
  }

  /** `KILL <job-group>` — cancel a running statement group. Tag statements
    * with `spark.sparkContext.setJobGroup(id, …)` and kill by id. */
  def kill(spark: SparkSession, jobGroup: String): Unit =
    spark.sparkContext.cancelJobGroup(jobGroup)
}
