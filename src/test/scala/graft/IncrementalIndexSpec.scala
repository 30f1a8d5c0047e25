package graft

import java.nio.file.Files
import graft.operators.MatchText

/** Incremental fulltext-index maintenance: partition-granular DML patches
  * the stored index from the changed partitions only (MatchText
  * .updateIndex + StatementRouter.indexDelta), instead of re-tokenizing
  * the table — the postings-level twin of the reference updating its
  * per-shard Lucene segments in place. */
class IncrementalIndexSpec extends SparkTestBase {

  test("partition-granular DML patches the stored index, results match a full rebuild") {
    val root = graft.ArtifactStore.scratchDir("graftinc").toFile.getAbsolutePath
    val r = new StatementRouter(spark, root)
    r.execute("""CREATE TABLE inc_docs (
        id BIGINT PRIMARY KEY, day TEXT, txt TEXT,
        INDEX txt_ft USING FULLTEXT (txt) WITH (analyzer = 'standard'))
        PARTITIONED BY (day)""")
    r.execute("""INSERT INTO inc_docs (id, day, txt) VALUES
        (1, 'd1', 'spark filter join'), (2, 'd1', 'spark spark filter'),
        (3, 'd2', 'filter only here'), (4, 'd2', 'spark alone'),
        (5, 'd3', 'spark filter spark')""")
    val q = """SELECT id, _score FROM inc_docs
               WHERE MATCH(txt, 'spark filter') ORDER BY _score DESC, id"""

    // first scored query: full build, persisted
    val r1 = r.execute(q).collect()
    assert(StatementRouter.lastIndexBuild.get() == "full")
    assert(r1.map(_.getLong(0)).toSet == Set(1L, 2L, 5L))

    def assertMatchesFullRebuild(): Unit = {
      val rows = r.execute(q).collect().map(x => (x.getLong(0), x.getDouble(1)))
      val idx = MatchText.buildIndex(
        r.execute("SELECT id, txt FROM inc_docs"), "id", "txt")
      val want = MatchText.scoreBM25(idx, "spark filter")
        .collect().map(x => (x.getLong(0), x.getDouble(1))).toMap
      assert(rows.map(_._1).toSet == want.keySet)
      rows.foreach { case (id, s) => assert(math.abs(s - want(id)) < 1e-9,
        s"doc $id: delta=$s fullRebuild=${want(id)}") }
    }

    // UPDATE one partition → delta patch, BM25 identical to a rebuild
    r.execute("UPDATE inc_docs SET txt = 'nothing here' WHERE day = 'd1'")
    val r2 = r.execute(q).collect()
    assert(StatementRouter.lastIndexBuild.get() == "delta")
    assert(r2.map(_.getLong(0)).toSet == Set(5L))
    assertMatchesFullRebuild()

    // INSERT creating a new partition → delta with additions only
    r.execute("INSERT INTO inc_docs (id, day, txt) VALUES (6, 'd4', 'spark filter again')")
    val r3 = r.execute(q).collect()
    assert(StatementRouter.lastIndexBuild.get() == "delta")
    assert(r3.map(_.getLong(0)).toSet == Set(5L, 6L))
    assertMatchesFullRebuild()

    // DELETE a whole partition → delta with removals only (term df and
    // corpus stats patched downward)
    r.execute("DELETE FROM inc_docs WHERE day = 'd3'")
    val r4 = r.execute(q).collect()
    assert(StatementRouter.lastIndexBuild.get() == "delta")
    assert(r4.map(_.getLong(0)).toSet == Set(6L))
    assertMatchesFullRebuild()

    // a fresh session (cleared cache) LOADS the committed store
    MatchText.IndexCache.clear()
    r.execute(q).collect()
    assert(StatementRouter.lastIndexBuild.get() == "loaded")
  }

  test("row-diff delta maintains indexes on UNPARTITIONED tables") {
    val root = graft.ArtifactStore.scratchDir("graftinc2").toFile.getAbsolutePath
    val r = new StatementRouter(spark, root)
    r.execute("""CREATE TABLE flat_docs (
        id BIGINT PRIMARY KEY, txt TEXT,
        INDEX txt_ft USING FULLTEXT (txt) WITH (analyzer = 'standard'))""")
    r.execute("""INSERT INTO flat_docs (id, txt) VALUES
        (1, 'spark filter join'), (2, 'spark spark filter'),
        (3, 'filter only here'), (4, 'spark alone'),
        (5, 'spark filter spark')""")
    val q = """SELECT id, _score FROM flat_docs
               WHERE MATCH(txt, 'spark filter') ORDER BY _score DESC, id"""
    assert(r.execute(q).collect().map(_.getLong(0)).toSet == Set(1L, 2L, 5L))
    assert(StatementRouter.lastIndexBuild.get() == "full")

    def matchesRebuild(): Unit = {
      val rows = r.execute(q).collect().map(x => (x.getLong(0), x.getDouble(1)))
      val idx = MatchText.buildIndex(
        r.execute("SELECT id, txt FROM flat_docs"), "id", "txt")
      val want = MatchText.scoreBM25(idx, "spark filter")
        .collect().map(x => (x.getLong(0), x.getDouble(1))).toMap
      assert(rows.map(_._1).toSet == want.keySet)
      rows.foreach { case (id, s) => assert(math.abs(s - want(id)) < 1e-9) }
    }

    // UPDATE one row of five (<50% churn) → row-diff delta, not rebuild
    r.execute("UPDATE flat_docs SET txt = 'nothing here' WHERE id = 1")
    assert(r.execute(q).collect().map(_.getLong(0)).toSet == Set(2L, 5L))
    assert(StatementRouter.lastIndexBuild.get() == "delta")
    matchesRebuild()
    // single-row INSERT and DELETE also patch
    r.execute("INSERT INTO flat_docs (id, txt) VALUES (6, 'spark filter six')")
    assert(r.execute(q).collect().map(_.getLong(0)).toSet == Set(2L, 5L, 6L))
    assert(StatementRouter.lastIndexBuild.get() == "delta")
    r.execute("DELETE FROM flat_docs WHERE id = 5")
    assert(r.execute(q).collect().map(_.getLong(0)).toSet == Set(2L, 6L))
    assert(StatementRouter.lastIndexBuild.get() == "delta")
    matchesRebuild()
    // majority churn → full rebuild is the cheaper path
    r.execute("UPDATE flat_docs SET txt = concat(txt, ' changed')")
    r.execute(q).collect()
    assert(StatementRouter.lastIndexBuild.get() == "full")
  }

  test("a fulltext index build on another thread leaves this thread's provenance") {
    val root = graft.ArtifactStore.scratchDir("graftinc3").toFile.getAbsolutePath
    val r = new StatementRouter(spark, root)
    r.execute("""CREATE TABLE thr_docs (
        id BIGINT PRIMARY KEY, txt TEXT,
        INDEX txt_ft USING FULLTEXT (txt) WITH (analyzer = 'standard'))""")
    r.execute("INSERT INTO thr_docs (id, txt) VALUES (1, 'spark filter'), (2, 'join')")
    StatementRouter.lastIndexBuild.set("loaded")
    var seen = ""
    var failure: Option[Throwable] = None
    val other = new Thread(() =>
      try {
        r.execute("SELECT id, _score FROM thr_docs WHERE MATCH(txt, 'spark')").collect()
        seen = StatementRouter.lastIndexBuild.get()
      } catch { case e: Throwable => failure = Some(e) })
    other.start()
    other.join()
    failure.foreach(throw _)
    assert(seen == "full", "the other thread built the index")
    assert(StatementRouter.lastIndexBuild.get() == "loaded")
  }
}
