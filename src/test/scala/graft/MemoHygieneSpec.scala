package graft

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Source scan guarding the single-memo design: session-scoped memos live
  * in graft.Memo, so no session is keyed by its identity hash (which can
  * collide after GC) and the query catalog holds no ad-hoc memo maps. */
class MemoHygieneSpec extends AnyFunSuite {

  private def offenders(dir: String, words: String*): Seq[String] = {
    val walk = Files.walk(Paths.get(dir))
    val files: List[Path] =
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    assert(files.nonEmpty, s"no sources under $dir")
    for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if words.exists(line.contains)
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
}
