package graft

/** The management-statement tail (reference alter-cluster.rst,
  * alter-repository.rst, alter-server.rst, alter-table.rst OPEN/CLOSE +
  * DROP CONSTRAINT, set-transaction.rst, deallocate.rst, discard.rst).
  */
class StatementTailSpec extends SparkTestBase {

  private def newRouter() = {
    val root = graft.ArtifactStore.scratchDir("graft_stail").toFile.getAbsolutePath
    new StatementRouter(spark, root)
  }

  test("ALTER CLUSTER SWAP TABLE: swap and replace flavours") {
    val r = newRouter()
    r.execute("CREATE TABLE old_t (v TEXT)")
    r.execute("INSERT INTO old_t (v) VALUES ('old')")
    r.execute("CREATE TABLE new_t (v TEXT, extra BIGINT)")
    r.execute("INSERT INTO new_t (v, extra) VALUES ('new', 1)")
    r.execute("ALTER CLUSTER SWAP TABLE new_t TO old_t")
    assert(r.execute("SELECT v FROM old_t").head().getString(0) == "new")
    assert(r.execute("SELECT v FROM new_t").head().getString(0) == "old")
    // replace flavour drops the source after the rename
    r.execute("ALTER CLUSTER SWAP TABLE new_t TO old_t WITH (drop_source = true)")
    assert(r.execute("SELECT v FROM old_t").head().getString(0) == "old")
    assert(intercept[Exception](
      r.execute("ALTER CLUSTER SWAP TABLE new_t TO old_t"))
      .getMessage.contains("does not exist"))
    // reroute/gc are acks; decommission is a loud non-goal
    r.execute("ALTER CLUSTER REROUTE RETRY FAILED")
    r.execute("ALTER CLUSTER GC DANGLING ARTIFACTS")
    assert(intercept[Exception](r.execute("ALTER CLUSTER DECOMMISSION 'n1'"))
      .getMessage.contains("scope"))
  }

  test("ALTER TABLE OPEN/CLOSE gates reads and writes, not ALTER") {
    val r = newRouter()
    r.execute("CREATE TABLE gated (id BIGINT, v TEXT)")
    r.execute("INSERT INTO gated (id, v) VALUES (1, 'a')")
    r.execute("ALTER TABLE gated CLOSE")
    assert(intercept[Exception](r.execute("SELECT * FROM gated"))
      .getMessage ==
      """The relation "doc.gated" doesn't support or allow READ operations, as it is currently closed.""")
    assert(intercept[Exception](
      r.execute("INSERT INTO gated (id, v) VALUES (2, 'b')"))
      .getMessage.contains("INSERT operations"))
    assert(intercept[Exception](r.execute("UPDATE gated SET v = 'x'"))
      .getMessage.contains("UPDATE operations"))
    // ALTER TABLE stays allowed on a closed table (alter-table.rst)
    r.execute("ALTER TABLE gated ADD COLUMN w BIGINT")
    r.execute("ALTER TABLE gated OPEN")
    assert(r.execute("SELECT id FROM gated").count() == 1)
  }

  test("ALTER TABLE DROP CONSTRAINT removes a named CHECK") {
    val r = newRouter()
    r.execute("""CREATE TABLE chk (v BIGINT,
        CONSTRAINT v_is_positive CHECK (v > 0))""")
    assert(intercept[Exception](r.execute("INSERT INTO chk (v) VALUES (-1)"))
      .getMessage.toLowerCase.contains("check"))
    r.execute("ALTER TABLE chk DROP CONSTRAINT v_is_positive")
    r.execute("INSERT INTO chk (v) VALUES (-1)") // no longer enforced
    assert(r.execute("SELECT v FROM chk").head().getLong(0) == -1L)
    assert(intercept[Exception](
      r.execute("ALTER TABLE chk DROP CONSTRAINT nope"))
      .getMessage.contains("Cannot find"))
  }

  test("DEFAULT clause: INSERT/COPY fill, explicit NULL wins, ALTER COLUMN") {
    val r = newRouter()
    r.execute("""CREATE TABLE dflt (
        id BIGINT,
        status TEXT DEFAULT 'open' NOT NULL,
        score DOUBLE PRECISION DEFAULT 1.5 + 0.5,
        note TEXT)""")
    // omitted columns take the default; listed ones keep their value
    r.execute("INSERT INTO dflt (id) VALUES (1)")
    r.execute("INSERT INTO dflt (id, status, score) VALUES (2, 'closed', 9.0)")
    val rows = r.execute("SELECT id, status, score, note FROM dflt ORDER BY id")
      .collect()
    assert(rows(0).getString(1) == "open" && rows(0).getDouble(2) == 2.0 &&
      rows(0).isNullAt(3))
    assert(rows(1).getString(1) == "closed" && rows(1).getDouble(2) == 9.0)
    // a SUPPLIED explicit NULL stays NULL (PG semantics) — and then
    // trips NOT NULL where declared
    assert(intercept[Exception](
      r.execute("INSERT INTO dflt (id, status) VALUES (3, NULL)"))
      .getMessage.contains("must not be null"))
    // SHOW CREATE TABLE renders the clause back
    val ddl = r.execute("SHOW CREATE TABLE dflt").head().getString(0)
    assert(ddl.contains("DEFAULT 'open'"), ddl)
    // ALTER COLUMN SET/DROP DEFAULT
    r.execute("ALTER TABLE dflt ALTER COLUMN note SET DEFAULT 'n/a'")
    r.execute("INSERT INTO dflt (id) VALUES (4)")
    assert(r.execute("SELECT note FROM dflt WHERE id = 4").head().getString(0) == "n/a")
    r.execute("ALTER TABLE dflt ALTER COLUMN note DROP DEFAULT")
    r.execute("INSERT INTO dflt (id) VALUES (5)")
    assert(r.execute("SELECT note FROM dflt WHERE id = 5").head().isNullAt(0))
    // COPY FROM: file-row gaps take the default, file values win
    val tmp = graft.ArtifactStore.scratchDir("graft_dfltcopy")
    val f = tmp.resolve("rows.json")
    java.nio.file.Files.writeString(f,
      """{"id": 10, "status": "filed"}
        |{"id": 11, "score": 3.25}""".stripMargin)
    r.execute(s"COPY dflt FROM '$f'")
    val copied = r.execute(
      "SELECT id, status, score FROM dflt WHERE id >= 10 ORDER BY id").collect()
    assert(copied(0).getString(1) == "filed" && copied(0).getDouble(2) == 2.0)
    assert(copied(1).getString(1) == "open" && copied(1).getDouble(2) == 3.25)
    // CREATE TABLE (LIKE src INCLUDING DEFAULTS)
    r.execute("CREATE TABLE dflt2 (LIKE dflt INCLUDING DEFAULTS)")
    r.execute("INSERT INTO dflt2 (id) VALUES (1)")
    assert(r.execute("SELECT status FROM dflt2").head().getString(0) == "open")
  }

  test("hidden system columns _id / _raw / _version / _docid on router tables") {
    val r = newRouter()
    r.execute("CREATE TABLE sysc (a BIGINT, b TEXT, PRIMARY KEY (a, b))")
    r.execute("INSERT INTO sysc (a, b) VALUES (1, 'x'), (2, 'y')")
    val rows = r.execute(
      "SELECT _id, _raw, _version FROM sysc ORDER BY a").collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("1|x", "2|y"))
    assert(rows(0).getString(1).contains(""""a":1""") &&
      rows(0).getString(1).contains(""""b":"x""""))
    // CREATE commits v1 (empty), the INSERT v2
    assert(rows.forall(_.getLong(2) == 2L))
    // DML bumps the snapshot version _version reports
    r.execute("INSERT INTO sysc (a, b) VALUES (3, 'z')")
    assert(r.execute("SELECT _version FROM sysc LIMIT 1").head().getLong(0) == 3L)
    // _id usable as a predicate; _docid distinct within a scan
    assert(r.execute("SELECT a FROM sysc WHERE _id = '3|z'").head().getLong(0) == 3L)
    assert(r.execute("SELECT _docid FROM sysc").collect().map(_.getLong(0)).distinct.length == 3)
    // single-column PK: _id is the value's string form
    r.execute("CREATE TABLE sysc1 (id BIGINT PRIMARY KEY, v TEXT)")
    r.execute("INSERT INTO sysc1 (id, v) VALUES (42, 'q')")
    assert(r.execute("SELECT _id FROM sysc1").head().getString(0) == "42")

    // conservative OCC (occ.rst): read _seq_no/_primary_term, update
    // guarded on them — a stale value matches nothing (0 rows), the
    // fresh value lands
    val occ = r.execute("SELECT id, _seq_no, _primary_term FROM sysc1").head()
    val (seq, term) = (occ.getLong(1), occ.getLong(2))
    assert(r.execute(
      s"UPDATE sysc1 SET v = 'r' WHERE id = 42 AND _seq_no = $seq AND _primary_term = $term")
      .head().getLong(0) == 1L)
    // the write bumped the snapshot: the old sequence is now stale
    assert(r.execute(
      s"UPDATE sysc1 SET v = 'x' WHERE id = 42 AND _seq_no = $seq")
      .head().getLong(0) == 0L)
    assert(r.execute("SELECT v FROM sysc1").head().getString(0) == "r")
  }

  test("partition-granular OCC: writes to other partitions don't conflict") {
    val r = newRouter()
    r.execute("""CREATE TABLE occp (id BIGINT, region TEXT, v TEXT)
                 PARTITIONED BY (region)""")
    r.execute("INSERT INTO occp (id, region, v) VALUES " +
      "(1, 'east', 'e1'), (2, 'west', 'w1')")
    // read east's sequence, then write WEST — pre-round-5 this bumped the
    // table-wide stand-in and east's guarded update falsely conflicted
    val seqEast = r.execute(
      "SELECT _seq_no FROM occp WHERE region = 'east'").head().getLong(0)
    r.execute("UPDATE occp SET v = 'w2' WHERE region = 'west'")
    assert(r.execute(
      s"UPDATE occp SET v = 'e2' WHERE region = 'east' AND _seq_no = $seqEast")
      .head().getLong(0) == 1L,
      "a write to a DIFFERENT partition must not invalidate east's sequence")
    // …while a write to east itself still does
    assert(r.execute(
      s"UPDATE occp SET v = 'e3' WHERE region = 'east' AND _seq_no = $seqEast")
      .head().getLong(0) == 0L,
      "east's own write must advance east's sequence")
    assert(r.execute("SELECT v FROM occp WHERE region = 'east'")
      .head().getString(0) == "e2")
  }

  test("per-row OCC: concurrent updates to different ROWS both succeed") {
    val r = newRouter()
    r.execute("CREATE TABLE occr (id BIGINT PRIMARY KEY, v TEXT)")
    r.execute("INSERT INTO occr (id, v) VALUES (1, 'a'), (2, 'b')")
    // two readers snapshot their rows' sequences at the same version
    val s1 = r.execute("SELECT _seq_no FROM occr WHERE id = 1").head().getLong(0)
    val s2 = r.execute("SELECT _seq_no FROM occr WHERE id = 2").head().getLong(0)
    // writer B lands first on row 2 — bumps the TABLE version
    assert(r.execute(s"UPDATE occr SET v = 'b2' WHERE id = 2 AND _seq_no = $s2")
      .head().getLong(0) == 1L)
    // writer A's guarded update to row 1 must still succeed: row 1's
    // per-row sequence is untouched by B's write (the pre-round-7
    // table-version stand-in falsely conflicted here)
    assert(r.execute(s"UPDATE occr SET v = 'a2' WHERE id = 1 AND _seq_no = $s1")
      .head().getLong(0) == 1L,
      "a write to a DIFFERENT row must not invalidate row 1's sequence")
    // …while the guard still catches the real conflict on row 2
    assert(r.execute(s"UPDATE occr SET v = 'b3' WHERE id = 2 AND _seq_no = $s2")
      .head().getLong(0) == 0L,
      "row 2's own write must advance row 2's sequence")
    // re-read reflects the advanced sequence; row data is the winners'
    assert(r.execute("SELECT _seq_no FROM occr WHERE id = 2")
      .head().getLong(0) > s2)
    assert(r.execute("SELECT v FROM occr WHERE id = 1").head().getString(0) == "a2")
    assert(r.execute("SELECT v FROM occr WHERE id = 2").head().getString(0) == "b2")
    // the internal seq column never leaks through a star projection
    val cols = r.execute("SELECT * FROM occr WHERE _seq_no >= 1").columns
    assert(!cols.contains("__graft_seq_no"), cols.mkString(","))
    // DELETE honors the same per-row guard
    assert(r.execute(s"DELETE FROM occr WHERE id = 2 AND _seq_no = $s2")
      .head().getLong(0) == 0L)
  }

  test("per-row _seq_no persists as a versioned sidecar and patches forward") {
    val root = graft.ArtifactStore.scratchDir("graft_occ_sc")
      .toFile.getAbsolutePath
    val r = new StatementRouter(spark, root)
    r.execute("CREATE TABLE occs (id BIGINT PRIMARY KEY, v TEXT)")
    r.execute("INSERT INTO occs (id, v) VALUES (1, 'a'), (2, 'b')")
    r.execute("SELECT _seq_no FROM occs WHERE id = 1").collect()
    val scDir = new java.io.File(s"$root/occs/_seqno")
    assert(scDir.exists && scDir.list().exists(_.startsWith("v")),
      "first _seq_no read must persist the sidecar")
    val v1 = scDir.list().filter(_.startsWith("v")).toSeq
    // a write bumps the version; the next read patches the sidecar
    // forward (row-diff against the previous one) and prunes the old
    r.execute("UPDATE occs SET v = 'a2' WHERE id = 1")
    val s2 = r.execute("SELECT _seq_no FROM occs WHERE id = 2").head().getLong(0)
    val v2 = scDir.list().filter(_.startsWith("v")).toSeq
    assert(v2 != v1 && v2.length == 1, s"sidecar must advance+prune: $v1 -> $v2")
    // a FRESH router (new session's view of the table) reads the stored
    // sidecar: row 2's sequence is stable across instances
    val r2 = new StatementRouter(spark, root)
    assert(r2.execute("SELECT _seq_no FROM occs WHERE id = 2")
      .head().getLong(0) == s2)
    // and row 1's sequence reflects ITS later write
    val seq1 = r2.execute("SELECT _seq_no FROM occs WHERE id = 1").head().getLong(0)
    assert(seq1 > s2, "row 1 changed later than row 2's last write")
  }

  test("per-row `_seq_no` reads the new table after DROP and re-CREATE") {
    val r = newRouter()
    def seqs() = r.execute("SELECT id, _seq_no FROM occd ORDER BY id").collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSeq
    r.execute("CREATE TABLE occd (id BIGINT PRIMARY KEY, v TEXT)")
    r.execute("INSERT INTO occd (id, v) VALUES (1, 'a')")
    r.execute("INSERT INTO occd (id, v) VALUES (2, 'b')")
    val Seq((1L, s1), (2L, s2)) = seqs()
    assert(s1 < s2)
    // the new table reaches the same version with other rows and history
    r.execute("DROP TABLE occd")
    r.execute("CREATE TABLE occd (id BIGINT PRIMARY KEY, v TEXT)")
    r.execute("INSERT INTO occd (id, v) VALUES (5, 'e'), (6, 'f')")
    r.execute("UPDATE occd SET v = 'g' WHERE id = 6")
    assert(seqs() == Seq((5L, s1), (6L, s2)))
  }

  test("views capture the search_path active at creation (PG semantics)") {
    val r = newRouter()
    try {
      r.execute("CREATE SCHEMA vp")
      r.execute("CREATE TABLE vp.t (v TEXT)")
      r.execute("INSERT INTO vp.t (v) VALUES ('in-vp')")
      r.execute("CREATE TABLE t (v TEXT)") // doc.t
      r.execute("INSERT INTO t (v) VALUES ('in-doc')")
      r.execute("SET search_path TO vp, doc")
      // the stored view text is the search_path-RESOLVED statement
      // (resolveStatement runs before routing since round 5), so the
      // reference to bare `t` freezes to vp's table at creation — PG's
      // rule that view objects resolve when the view is defined
      r.execute("CREATE VIEW vview AS SELECT v FROM t")
      r.execute("RESET search_path")
      assert(r.execute("SELECT v FROM vview").head().getString(0) == "in-vp",
        "view must keep reading the table its definition resolved to")
      // a bare read AFTER reset goes back to doc.t — only the view froze
      assert(r.execute("SELECT v FROM t").head().getString(0) == "in-doc")
    } finally {
      try spark.conf.unset("search_path") catch { case _: Exception => () }
    }
  }

  test("search_path resolves unqualified relations in schema order") {
    val r = newRouter()
    try {
      r.execute("CREATE SCHEMA app")
      r.execute("CREATE TABLE app.items (id BIGINT, v TEXT)")
      r.execute("INSERT INTO app.items (id, v) VALUES (1, 'from-app')")
      r.execute("CREATE TABLE items (id BIGINT, v TEXT)") // doc.items
      r.execute("INSERT INTO items (id, v) VALUES (2, 'from-doc')")
      // default path (doc first): bare name reads doc.items
      assert(r.execute("SELECT v FROM items").head().getString(0) == "from-doc")
      // app-first path: the same bare name now reads app.items
      r.execute("SET search_path TO app, doc")
      assert(r.execute("SELECT v FROM items").head().getString(0) == "from-app")
      // DML follows the path too
      r.execute("UPDATE items SET v = 'app-updated'")
      r.execute("RESET search_path")
      assert(r.execute("SELECT v FROM app.items").head().getString(0) == "app-updated")
      assert(r.execute("SELECT v FROM items").head().getString(0) == "from-doc")
      // bare CREATE TABLE lands in the first user schema of the path
      r.execute("SET search_path TO app")
      r.execute("CREATE TABLE created_here (x BIGINT)")
      r.execute("RESET search_path")
      assert(r.execute("SELECT count(*) FROM app.created_here").head().getLong(0) == 0L)
    } finally spark.conf.unset("search_path")
  }

  test("EXPLAIN ANALYZE renders the executed plan with real metrics") {
    val r = newRouter()
    r.execute("CREATE TABLE ea (i BIGINT)")
    r.execute("INSERT INTO ea (i) VALUES (1), (2), (3)")
    val plan = r.execute("EXPLAIN ANALYZE SELECT i, count(*) FROM ea GROUP BY i")
      .head().getString(0)
    // actual counters, not just the plan shape
    assert(plan.contains("numOutputRows="), plan.take(400))
    assert(plan.contains("HashAggregate"), plan.take(400))
    // plain EXPLAIN stays static (plan tree, no runtime metrics)
    val stat = r.execute("EXPLAIN SELECT i FROM ea").head().getString(0)
    assert(stat.contains("== Physical Plan ==") && !stat.contains("numOutputRows="))
    // a plain query resolves through no index route
    assert(stat.startsWith("route: exact\n"), stat.take(120))
  }

  test("EXPLAIN VERBOSE and the (option list) forms (explain.rst)") {
    val r = newRouter()
    r.execute("CREATE TABLE eo (i BIGINT)")
    r.execute("INSERT INTO eo (i) VALUES (1), (2)")
    // VERBOSE → every plan phase (the optimizer-steps breakdown analog)
    val verbose = r.execute("EXPLAIN VERBOSE SELECT i FROM eo WHERE i > 1")
      .head().getString(0)
    assert(verbose.contains("== Optimized Logical Plan ==") &&
      verbose.contains("== Physical Plan =="), verbose.take(200))
    // (COSTS TRUE) → cost-annotated logical plan
    val costed = r.execute("EXPLAIN (COSTS TRUE) SELECT i FROM eo")
      .head().getString(0)
    assert(costed.contains("Statistics(sizeInBytes"), costed.take(200))
    // (VERBOSE TRUE) ≡ EXPLAIN VERBOSE; (ANALYZE) executes with metrics
    assert(r.execute("EXPLAIN (VERBOSE TRUE) SELECT i FROM eo")
      .head().getString(0).contains("== Analyzed Logical Plan =="))
    assert(r.execute("EXPLAIN (ANALYZE) SELECT count(*) FROM eo")
      .head().getString(0).contains("numOutputRows="))
    // (ANALYZE FALSE) stays plan-only; unknown options are loud
    assert(!r.execute("EXPLAIN (ANALYZE FALSE) SELECT i FROM eo")
      .head().getString(0).contains("numOutputRows="))
    assert(intercept[Exception](
      r.execute("EXPLAIN (WAT TRUE) SELECT i FROM eo"))
      .getMessage.contains("unknown EXPLAIN option"))
  }

  test("EXPLAIN surfaces route provenance for knn and MATCH statements") {
    val root = graft.ArtifactStore.scratchDir("graft_expl")
      .toFile.getAbsolutePath
    val r = new StatementRouter(spark, root)
    r.execute(
      """CREATE TABLE epv (id BIGINT PRIMARY KEY, emb FLOAT_VECTOR(2),
        |  INDEX iv USING VECTOR (emb) WITH (centroids = 2, nprobe = 2))"""
        .stripMargin)
    r.execute("INSERT INTO epv (id, emb) VALUES " +
      "(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 1.0])")
    graft.operators.MatchText.IndexCache.clear()
    // plain EXPLAIN is PLAN-ONLY (reference ExplainPlan.java): the route
    // classifies by inspection, the index is NOT built, nothing lands on
    // disk — the `index …` / `probe …` suffixes are execution facts and
    // only EXPLAIN ANALYZE carries them
    val knnPlan = r.execute(
      "EXPLAIN SELECT id FROM epv WHERE knn_match(emb, [1.0, 0.0], 2)")
      .head().getString(0)
    assert(knnPlan.startsWith("route: stored-index\n"), knnPlan.take(120))
    assert(!new java.io.File(s"$root/epv/_vecindex").exists,
      "plain EXPLAIN must not build the vector index")
    val filtered = r.execute(
      "EXPLAIN SELECT id FROM epv WHERE id > 1 AND knn_match(emb, [1.0, 0.0], 1)")
      .head().getString(0)
    assert(filtered.startsWith("route: stored-index-filtered\n"), filtered.take(120))
    assert(!new java.io.File(s"$root/epv/_vecindex").exists,
      "a filtered plain EXPLAIN must not build the vector index either")
    // a per-row `_seq_no` EXPLAIN must not persist the sidecar
    val seqPlan = r.execute("EXPLAIN SELECT id, _seq_no FROM epv")
      .head().getString(0)
    assert(seqPlan.startsWith("route: exact\n"), seqPlan.take(120))
    assert(!new java.io.File(s"$root/epv/_seqno").exists,
      "plain EXPLAIN must not write the _seqno sidecar")
    // EXPLAIN ANALYZE executes for real: the index materializes and the
    // provenance gains the execution suffixes
    val analyzed = r.execute(
      "EXPLAIN ANALYZE SELECT id FROM epv WHERE id > 1 AND knn_match(emb, [1.0, 0.0], 1)")
      .head().getString(0)
    assert(analyzed.startsWith("route: stored-index-filtered, index "),
      analyzed.take(120))
    assert(analyzed.contains(", probe "), analyzed.take(120))
    assert(new java.io.File(s"$root/epv/_vecindex").exists,
      "EXPLAIN ANALYZE executes, so the index must exist now")

    r.execute(
      """CREATE TABLE epm (id BIGINT PRIMARY KEY, body TEXT,
        |  INDEX body USING FULLTEXT (body) WITH (analyzer = 'english'))"""
        .stripMargin)
    r.execute("INSERT INTO epm (id, body) VALUES " +
      "(1, 'spark engines'), (2, 'duck ponds'), (3, 'engine rooms')")
    val matchPlan = r.execute(
      "EXPLAIN SELECT id, _score FROM epm WHERE MATCH(body, 'engines') " +
        "ORDER BY _score DESC").head().getString(0)
    assert(matchPlan.startsWith("route: indexed-score"), matchPlan.take(120))
    assert(!new java.io.File(s"$root/epm/_ftindex").exists,
      "plain EXPLAIN must not build the fulltext index")
  }

  /** A table with a single-column PRIMARY KEY, a composite FULLTEXT
    * index and a VECTOR index, so one statement can fire both the fielded
    * MATCH route and the stored knn route. */
  private def fieldedKnnTable(dir: String): StatementRouter = {
    val r = new StatementRouter(spark,
      graft.ArtifactStore.scratchDir(dir).toFile.getAbsolutePath)
    r.execute(
      """CREATE TABLE fk (id BIGINT PRIMARY KEY, a TEXT, b TEXT, emb FLOAT_VECTOR(2),
        |  INDEX ab USING FULLTEXT (a, b) WITH (analyzer = 'standard'),
        |  INDEX iv USING VECTOR (emb) WITH (centroids = 2, nprobe = 2))"""
        .stripMargin)
    r.execute("INSERT INTO fk (id, a, b, emb) VALUES " +
      "(1, 'spark one', 'x', [1.0, 0.0]), (2, 'y', 'spark two', [0.9, 0.1]), " +
      "(3, 'z', 'w', [0.0, 1.0])")
    r
  }
  private val fieldedKnn =
    "SELECT id, _score FROM fk WHERE MATCH((a, b), 'spark') AND knn_match(emb, [1.0, 0.0], 2)"

  test("plain EXPLAIN reports the route EXPLAIN ANALYZE serves (fielded MATCH + knn)") {
    val r = fieldedKnnTable("graft_expl_fk")
    def route(plan: String) = plan.linesIterator.next().stripPrefix("route: ")
    val plain = route(r.execute(s"EXPLAIN $fieldedKnn").head().getString(0))
    val served = route(r.execute(s"EXPLAIN ANALYZE $fieldedKnn").head().getString(0))
    // the execution facts (`, index …`, `, probe …`) are ANALYZE-only
    assert(plain == served.split(", (index|probe) ")(0), s"$plain vs $served")
    assert(plain == "stored-index-filtered", plain)
    assert(r.execute(fieldedKnn).collect().map(_.getLong(0)).toSet == Set(1L, 2L))
  }

  test("a knn index memo hit reports no build, even after a fresh fielded build") {
    val r = fieldedKnnTable("graft_prov_fk")
    // memoizes the knn index at this version; the fielded one stays unbuilt
    r.execute("SELECT id FROM fk WHERE knn_match(emb, [1.0, 0.0], 2)").collect()
    val head = r.execute(s"EXPLAIN ANALYZE $fieldedKnn").head().getString(0)
      .linesIterator.next()
    assert(head.startsWith("route: stored-index-filtered"), head)
    assert(!head.contains(", index "), head)
  }

  test("route provenance is thread-local: concurrent sessions don't cross-talk") {
    // the carrier itself: a fresh thread starts from the initial value,
    // and its writes never leak into this thread's slot
    StatementRouter.lastSelectRoute.set("main-route")
    @volatile var seen: String = null
    val t = new Thread(() => {
      val initial = StatementRouter.lastSelectRoute.get()
      StatementRouter.lastSelectRoute.set("other-route")
      seen = initial + "|" + StatementRouter.lastSelectRoute.get()
    })
    t.start(); t.join()
    assert(seen == "|other-route", seen)
    assert(StatementRouter.lastSelectRoute.get() == "main-route",
      "a concurrent statement's provenance must not overwrite this thread's")
    StatementRouter.lastSelectRoute.set("")

    // end-to-end: EXPLAIN ANALYZE resolves through resolveSelect (set →
    // read of the slot); a concurrent thread hammering exact-route
    // EXPLAINs must not corrupt the header between those two points
    val root = graft.ArtifactStore.scratchDir("graft_prov")
      .toFile.getAbsolutePath
    val r = new StatementRouter(spark, root)
    r.execute(
      """CREATE TABLE pvt (id BIGINT PRIMARY KEY, emb FLOAT_VECTOR(2),
        |  INDEX iv USING VECTOR (emb) WITH (centroids = 2, nprobe = 2))"""
        .stripMargin)
    r.execute("INSERT INTO pvt (id, emb) VALUES (1, [1.0, 0.0]), (2, [0.0, 1.0])")
    r.execute("CREATE TABLE pet (i BIGINT)")
    r.execute("INSERT INTO pet (i) VALUES (1)")
    @volatile var otherBad: String = null
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val other = new Thread(() => {
      try {
        while (!stop.get()) {
          val p = r.execute("EXPLAIN ANALYZE SELECT i FROM pet").head().getString(0)
          if (!p.startsWith("route: exact\n") && otherBad == null) otherBad = p.take(80)
        }
      } catch { case e: Throwable => otherBad = s"threw: ${e.getMessage}" }
    })
    other.start()
    try {
      for (_ <- 1 to 5) {
        val p = r.execute(
          "EXPLAIN ANALYZE SELECT id FROM pvt WHERE knn_match(emb, [1.0, 0.0], 1)")
          .head().getString(0)
        assert(p.startsWith("route: stored-index"), p.take(80))
      }
    } finally { stop.set(true); other.join() }
    assert(otherBad == null, s"exact-route thread saw foreign provenance: $otherBad")
  }

  test("UPDATE writing identical values still bumps the per-row _seq_no") {
    // reference semantics (metadata/doc/SysColumns.java:49-64): ANY write
    // assigns a fresh per-doc seqNo — including one that writes back the
    // same values, which a content-hash row-diff alone cannot see. The
    // `_touched` marker closes that gap.
    val root = graft.ArtifactStore.scratchDir("graft_occ_id")
      .toFile.getAbsolutePath
    val r = new StatementRouter(spark, root)
    r.execute("CREATE TABLE occi (id BIGINT PRIMARY KEY, v TEXT)")
    r.execute("INSERT INTO occi (id, v) VALUES (1, 'a'), (2, 'b')")
    val s1 = r.execute("SELECT _seq_no FROM occi WHERE id = 1").head().getLong(0)
    assert(r.execute("UPDATE occi SET v = 'a' WHERE id = 1")
      .head().getLong(0) == 1L)
    val s1b = r.execute("SELECT _seq_no FROM occi WHERE id = 1").head().getLong(0)
    assert(s1b > s1, s"identical-value UPDATE must advance _seq_no: $s1 -> $s1b")
    // the untouched row keeps its original sequence
    assert(r.execute("SELECT _seq_no FROM occi WHERE id = 2")
      .head().getLong(0) == s1)
    // a FRESH router reads the patched sidecar and agrees
    val r2 = new StatementRouter(spark, root)
    assert(r2.execute("SELECT _seq_no FROM occi WHERE id = 1")
      .head().getLong(0) == s1b)
  }

  test("ON CONFLICT DO UPDATE advances _seq_no on matched rows (any-write)") {
    // r10 verdict ask #6: the upsert path now writes the same `_touched`
    // markers as autocommit UPDATE, so a DO UPDATE that writes back
    // IDENTICAL values still advances the matched row's sequence
    // (reference occ.rst / SysColumns.java any-write semantics), while
    // unmatched and DO NOTHING rows keep theirs.
    val root = graft.ArtifactStore.scratchDir("graft_occ_up")
      .toFile.getAbsolutePath
    val r = new StatementRouter(spark, root)
    r.execute("CREATE TABLE occu (id BIGINT PRIMARY KEY, v TEXT)")
    r.execute("INSERT INTO occu (id, v) VALUES (1, 'a'), (2, 'b')")
    val s1 = r.execute("SELECT _seq_no FROM occu WHERE id = 1").head().getLong(0)
    val s2 = r.execute("SELECT _seq_no FROM occu WHERE id = 2").head().getLong(0)
    // identical-value upsert on id = 1: matched row must advance
    r.execute("INSERT INTO occu (id, v) VALUES (1, 'a') " +
      "ON CONFLICT (id) DO UPDATE SET v = excluded.v")
    val s1b = r.execute("SELECT _seq_no FROM occu WHERE id = 1").head().getLong(0)
    assert(s1b > s1, s"identical-value upsert must advance _seq_no: $s1 -> $s1b")
    assert(r.execute("SELECT _seq_no FROM occu WHERE id = 2")
      .head().getLong(0) == s2, "unmatched row keeps its sequence")
    // DO NOTHING leaves the matched row unwritten: no advance
    r.execute("INSERT INTO occu (id, v) VALUES (2, 'zzz') " +
      "ON CONFLICT (id) DO NOTHING")
    assert(r.execute("SELECT _seq_no FROM occu WHERE id = 2")
      .head().getLong(0) == s2, "DO NOTHING must not advance the sequence")
    // a fresh router reads the patched sidecar and agrees
    val r2 = new StatementRouter(spark, root)
    assert(r2.execute("SELECT _seq_no FROM occu WHERE id = 1")
      .head().getLong(0) == s1b)
  }

  test("identical-value UPDATE advances _seq_no on the cold walk too") {
    // no sidecar exists when the first `_seq_no` read happens — the
    // full snapshot walk must fold the `_touched` markers in
    val root = graft.ArtifactStore.scratchDir("graft_occ_cold")
      .toFile.getAbsolutePath
    val r = new StatementRouter(spark, root)
    r.execute("CREATE TABLE occj (id BIGINT PRIMARY KEY, v TEXT)")
    r.execute("INSERT INTO occj (id, v) VALUES (1, 'a'), (2, 'b')")
    r.execute("UPDATE occj SET v = 'a' WHERE id = 1") // identical values
    val r2 = new StatementRouter(spark, root)
    val sTouched = r2.execute("SELECT _seq_no FROM occj WHERE id = 1")
      .head().getLong(0)
    val sOther = r2.execute("SELECT _seq_no FROM occj WHERE id = 2")
      .head().getLong(0)
    assert(sTouched > sOther,
      s"cold walk must see the touched marker: $sTouched vs $sOther")
  }

  test("identical-value writes inside BEGIN…COMMIT advance _seq_no too") {
    // the last documented any-write divergence (PORTING.md): markers used
    // to be skipped in transactions because the commit version isn't
    // assigned until COMMIT. They now stage in the transaction buffer and
    // land under the committed version — so an identical-value UPDATE or
    // upsert inside a transaction advances the row's sequence like an
    // autocommit one. ROLLBACK discards the staged markers with the rest.
    val root = graft.ArtifactStore.scratchDir("graft_occ_txn")
      .toFile.getAbsolutePath
    val r = new StatementRouter(spark, root)
    r.execute("CREATE TABLE occt (id BIGINT PRIMARY KEY, v TEXT)")
    r.execute("INSERT INTO occt (id, v) VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    val s1 = r.execute("SELECT _seq_no FROM occt WHERE id = 1").head().getLong(0)
    val s3 = r.execute("SELECT _seq_no FROM occt WHERE id = 3").head().getLong(0)
    r.execute("BEGIN")
    r.execute("UPDATE occt SET v = 'a' WHERE id = 1") // identical values
    r.execute("INSERT INTO occt (id, v) VALUES (2, 'b') " +
      "ON CONFLICT (id) DO UPDATE SET v = excluded.v") // identical upsert
    r.execute("COMMIT")
    val s1b = r.execute("SELECT _seq_no FROM occt WHERE id = 1").head().getLong(0)
    val s2b = r.execute("SELECT _seq_no FROM occt WHERE id = 2").head().getLong(0)
    assert(s1b > s1, s"in-txn identical UPDATE must advance _seq_no: $s1 -> $s1b")
    assert(s2b > s1, s"in-txn identical upsert must advance _seq_no: $s2b")
    assert(r.execute("SELECT _seq_no FROM occt WHERE id = 3")
      .head().getLong(0) == s3, "untouched row keeps its sequence")
    // a fresh router reads the committed markers from storage and agrees
    val r2 = new StatementRouter(spark, root)
    assert(r2.execute("SELECT _seq_no FROM occt WHERE id = 1")
      .head().getLong(0) == s1b)
    // rolled-back markers leave no trace
    r.execute("BEGIN")
    r.execute("UPDATE occt SET v = 'c' WHERE id = 3")
    r.execute("ROLLBACK")
    assert(r.execute("SELECT _seq_no FROM occt WHERE id = 3")
      .head().getLong(0) == s3, "ROLLBACK must discard staged markers")
  }

  test("ALTER REPOSITORY / ALTER SERVER / SET TRANSACTION / DEALLOCATE / DISCARD") {
    val r = newRouter()
    val dir = graft.ArtifactStore.scratchDir("graft_repo2").toFile.getAbsolutePath
    r.execute(s"CREATE REPOSITORY backups TYPE fs WITH (location = '$dir')")
    r.execute(s"ALTER REPOSITORY backups SET (location = '$dir', compress = true)")
    // server options: ADD/SET/DROP + bare-add
    r.execute("CREATE SERVER pgsrv FOREIGN DATA WRAPPER jdbc OPTIONS (url 'jdbc:postgresql://h/db')")
    r.execute("ALTER SERVER pgsrv OPTIONS (ADD fetch_size '500', readonly 'true')")
    r.execute("ALTER SERVER pgsrv OPTIONS (SET fetch_size '1000', DROP readonly)")
    val opts = graft.sources.Fdw.listServers.find(_._1 == "pgsrv").get._2.options
    assert(opts.get("fetch_size").contains("1000") && !opts.contains("readonly"))
    // session-statement acks
    r.execute("SET TRANSACTION ISOLATION LEVEL READ COMMITTED")
    r.execute("SET SESSION CHARACTERISTICS AS TRANSACTION READ ONLY")
    r.execute("DEALLOCATE ALL")
    r.execute("DEALLOCATE some_prepared_stmt")
    // DISCARD ALL releases open cursors
    r.execute("CREATE TABLE dt (i BIGINT)")
    r.execute("INSERT INTO dt (i) VALUES (1)")
    r.execute("DECLARE dcur CURSOR FOR SELECT i FROM dt")
    assert(graft.sources.Cursor.openCursors.contains("dcur"))
    r.execute("DISCARD ALL")
    assert(!graft.sources.Cursor.openCursors.contains("dcur"))
    r.execute("DISCARD PLANS") // ack
  }
}
