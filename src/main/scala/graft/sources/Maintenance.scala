package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Table-maintenance statements (SURVEY.md §1 API surface): `REFRESH
  * TABLE`, `EXPLAIN`, `KILL` — the admin verbs a CrateDB user runs, mapped
  * to their Spark-substrate equivalents. `OPTIMIZE` and `ANALYZE` run in
  * [[graft.StatementRouter]] on the versioned tables.
  */
object Maintenance {

  /** `REFRESH TABLE` — invalidate cached metadata/data for a catalog table
    * (the reference's refresh makes new segments visible; Spark's refresh
    * drops the stale file listing + cache). */
  def refreshTable(spark: SparkSession, name: String): Unit =
    spark.catalog.refreshTable(name)

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
