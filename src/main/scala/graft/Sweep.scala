package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** What the bench, verify and tool mains share when they walk the catalog:
  * the fixture directory, the timed execution of one entry, and the
  * storage hygiene between entries. */
object Sweep {
  /** `SPARK_GRAFT_SF_DIR`, the fixtures the mains read (sf0.1 when unset). */
  val sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** Wall seconds to build `df` and execute it into the noop sink, which
    * runs the complete plan (projection included) without write cost;
    * `count()` would let Catalyst prune most of the query. A failure is
    * logged to stderr as `[tag] name failed: e` and its time still counts. */
  def time(tag: String, name: String)(df: => DataFrame): Double = {
    val t0 = System.nanoTime()
    try df.write.format("noop").mode("overwrite").save()
    catch { case e: Throwable => System.err.println(s"[$tag] $name failed: $e") }
    (System.nanoTime() - t0) / 1e9
  }

  /** `n` back-to-back [[time]]s of one entry, then [[cleanup]]. Index-building
    * entries memoize construction in MatchText.IndexCache, so the first rep
    * times the build and the later ones the search. */
  def reps(spark: SparkSession, tag: String, name: String, n: Int)(df: => DataFrame): Seq[Double] = {
    val ts = Seq.fill(n)(time(tag, name)(df))
    cleanup(spark)
    ts
  }

  /** Storage hygiene between entries. A catalog sweep in one JVM otherwise
    * accumulates every earlier entry's `.persist()` (fulltext index bundles)
    * and `localCheckpoint` blocks (minhash/IVF rounds): storage fills,
    * old-gen GC degrades, and unrelated entries record 100×+ wall times.
    * The explicit GC surfaces dead broadcast references to ContextCleaner
    * now, instead of at a natural full GC that lands inside some later
    * entry's timing. */
  def cleanup(spark: SparkSession): Unit = {
    graft.operators.MatchText.IndexCache.clear()
    try spark.sharedState.cacheManager.clearCache()
    catch { case _: Throwable => () }
    try spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    catch { case _: Throwable => () }
    System.gc()
  }

  /** The one-line JSON that [[Bench]] and [[BenchSample]] print. */
  def json(metric: String, results: Map[String, Double], sfDir: String): String = {
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    s"""{"metric":"$metric","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir"}"""
  }
}
