package graft

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Source scans guarding the single-memo and single-session designs:
  * session-scoped memos live in graft.Memo, so no session is keyed by its
  * identity hash (which can collide after GC) and neither the query
  * catalog nor the statement router holds ad-hoc memo maps; every
  * SparkSession comes from Engine.session; the router lexes each statement
  * once and keeps one SELECT route chain; Parquet metadata comes from the
  * footers, not from Spark jobs; every FileSystem comes from the session's
  * Hadoop conf. */
class MemoHygieneSpec extends AnyFunSuite {

  private def offenders(dir: String, words: String*): Seq[String] =
    matching(dir)(line => words.exists(line.contains))

  private def matching(dir: String)(hit: String => Boolean): Seq[String] = {
    val walk = Files.walk(Paths.get(dir))
    val files: List[Path] =
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    assert(files.nonEmpty, s"no sources under $dir")
    for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if hit(line)
    } yield s"$f:${i + 1}: ${line.trim}"
  }

  test("no identityHashCode under src/main") {
    val hits = offenders("src/main", "identityHashCode")
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("no ConcurrentHashMap or TrieMap under src/main/scala/graft/queries") {
    val hits = offenders("src/main/scala/graft/queries", "ConcurrentHashMap", "TrieMap")
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("no ConcurrentHashMap or TrieMap in StatementRouter.scala") {
    val hits = offenders("src/main/scala/graft/StatementRouter.scala",
      "ConcurrentHashMap", "TrieMap")
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("StatementRouter.scala: at most 5 Dialect.lex sites and no dry parameter") {
    // the sites: the script, stored view texts, Stmt (the incoming and the
    // translated statement) and generated fragments
    val src = new String(
      Files.readAllBytes(Paths.get("src/main/scala/graft/StatementRouter.scala")), "UTF-8")
    val lexes = "Dialect\\.lex\\(".r.findAllIn(src).length
    assert(lexes <= 5, s"$lexes Dialect.lex( call sites")
    assert("\\bdry\\s*:".r.findFirstIn(src).isEmpty,
      "a dry parameter is back: plain EXPLAIN runs the route chain itself")
  }

  test("Parquet reads under src/main take their schema from ParquetFooter") {
    // a read that leaves the schema to Spark runs an inference job per
    // call; ParquetFooter.read reads the same footer on the driver
    val allowed = Map(
      "/sources/ParquetFooter.scala:" ->
        "the helper: its documentation and its fallback to Spark's inference",
      "/sources/DynamicObjects.scala:" ->
        "mergeSchema: dynamic-object files differ in columns, so every footer is merged")
    val read = "\\.read\\b.*\\.parquet\\(".r
    val hits = matching("src/main")(read.findFirstIn(_).isDefined)
      .filterNot(h => allowed.keys.exists(h.contains))
    assert(hits.isEmpty, hits.mkString("\n"))
    val analyze = offenders("src/main/scala/graft/Tables.scala", "ANALYZE TABLE")
    assert(analyze.isEmpty, "fixture statistics come from the footers:\n" +
      analyze.mkString("\n"))
  }

  test("no SparkSession builder or core-count read under src outside Engine.scala") {
    // this spec names the words it scans for, so it skips itself
    val hits = offenders("src", "SparkSession.builder", "SPARK_GRAFT_CPUS")
      .filterNot(h => h.contains("/Engine.scala:") || h.contains("/MemoHygieneSpec.scala:"))
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("every FileSystem under src/main comes from the session's Hadoop conf") {
    // Hadoop caches one file: FileSystem per JVM and user, whichever conf
    // asks first; a conf or FileSystem built on the side could cache the
    // stock one, which forks chmod per file, in place of graft's LocalFs
    val hits = offenders("src/main", "new Configuration(", "FileSystem.getLocal(",
      "FileSystem.newInstance(", "new RawLocalFileSystem")
      .filterNot(_.contains("/sources/LocalFs.scala:"))
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("the test session carries the settings Engine.session pins") {
    // a new session reads only what the factory set at creation, not what
    // earlier suites changed at run time (q110 turns CBO on for its session)
    val created = TestSpark.spark.newSession().conf
    assert(created.get("spark.sql.session.timeZone") == "UTC")
    assert(created.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(created.get("spark.sql.adaptive.enabled") == "true")
    assert(created.get("spark.sql.cbo.enabled") == "false")
    assert(TestSpark.spark.conf.get("spark.sql.parser.escapedStringLiterals") == "true")
  }
}
