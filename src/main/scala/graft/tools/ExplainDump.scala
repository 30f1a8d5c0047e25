package graft.tools

/** Dumps `.explain("formatted")` for named catalog entries to files —
  * the plan evidence for optimization rounds (`plans/rNN/<q>_{before,after}.txt`).
  *
  * Usage: graft.tools.ExplainDump <outDir> <suffix> <name,name,...|all>
  * Writes <outDir>/<name>_<suffix>.txt per entry. Session settings match
  * [[graft.Bench]] so the captured plan is the benched plan.
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: ExplainDump <outDir> <suffix> <names|all>")
    val outDir = java.nio.file.Paths.get(args(0))
    java.nio.file.Files.createDirectories(outDir)
    val suffix = args(1)
    val spark = graft.Engine.session(cbo = false)
    val names =
      if (args(2) == "all") graft.SparkEntry.queries.keys.toSeq.sorted
      else args(2).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    names.foreach { name =>
      graft.SparkEntry.queries.get(name) match {
        case None => System.err.println(s"[explain] no such entry: $name")
        case Some(fn) =>
          try {
            val df = fn(spark, graft.Sweep.sfDir)
            val txt = df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
            java.nio.file.Files.writeString(
              outDir.resolve(s"${name}_$suffix.txt"), txt)
            println(s"[explain] wrote $name")
          } catch {
            case e: Throwable =>
              System.err.println(s"[explain] $name failed: $e")
          }
      }
    }
    spark.stop()
  }
}
