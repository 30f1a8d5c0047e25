package graft

import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import graft.sources.VersionedTable
import org.apache.spark.sql.SparkSession

/** Pins the session memo's contract: entries are scoped to the session,
  * one key builds once under concurrency, a failed build caches nothing,
  * and directory-surgery invalidation reaches every session. */
class MemoSpec extends SparkTestBase {

  test("a newSession() sees no entry its parent built; functions register in it") {
    val other = spark.newSession()
    val builds = new AtomicInteger()
    def probe(s: SparkSession): Int = Memo(s, "memospec#scope")(builds.incrementAndGet())
    assert(probe(spark) == 1 && probe(spark) == 1)
    assert(probe(other) == 2 && probe(other) == 2)
    // the function pack's once-per-session guard is a memo entry too
    functions.GraftFunctions.registerAll(spark)
    assert(!other.catalog.functionExists("simhash"))
    functions.GraftFunctions.registerAll(other)
    assert(other.sql("SELECT simhash('a b c') IS NOT NULL").head().getBoolean(0))
  }

  test("concurrent callers of one key build once") {
    val builds = new AtomicInteger()
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    try {
      val results = (1 to 8).map(_ => pool.submit(new Callable[Int] {
        def call(): Int = {
          start.await()
          Memo(spark, "memospec#concurrent") {
            Thread.sleep(200)
            builds.incrementAndGet()
          }
        }
      }))
      start.countDown()
      assert(results.map(_.get(60, TimeUnit.SECONDS)).toSet == Set(1))
      assert(builds.get == 1)
    } finally pool.shutdown()
  }

  test("a failed build caches nothing") {
    intercept[IllegalStateException] {
      Memo[String](spark, "memospec#fail")(throw new IllegalStateException("boom"))
    }
    assert(Memo(spark, "memospec#fail")("ok") == "ok")
  }

  test("invalidate by path drops every session's matching entries, only those") {
    import spark.implicits._
    val other = spark.newSession()
    val root = ArtifactStore.scratchDir("memospec").toFile.getAbsolutePath
    val (a, b) = (s"$root/a", s"$root/b")
    for (p <- Seq(a, b)) VersionedTable.commit(spark, p, Seq((1L, "x")).toDF("id", "v"))
    val sessions = Seq(spark, other)
    def reads(p: String) = sessions.map(s => VersionedTable.read(s, p))
    val (a0, b0) = (reads(a), reads(b))
    // memo hits: the same resolved scan per session, distinct across them
    assert(reads(a).zip(a0).forall { case (x, y) => x eq y })
    assert(!(a0.head eq a0(1)))
    Memo.invalidate(_.contains(a))
    assert(reads(a).zip(a0).forall { case (x, y) => !(x eq y) },
      "every session's entries under the path must be dropped")
    assert(reads(b).zip(b0).forall { case (x, y) => x eq y },
      "entries under other paths must survive")
  }
}
