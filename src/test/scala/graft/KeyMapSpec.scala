package graft

import graft.sources.{Dml, KeyMap, VersionedTable}

/** The primary-key map on a `PARTITIONED BY` PRIMARY KEY table: the DML
  * key questions are answered on the driver, so each keyed statement runs
  * one job, its write; the map rebuilt by a scan, and the scanning paths it
  * replaces, give the same rows and counts. */
class KeyMapSpec extends SparkTestBase {

  private val days = (1 to 8).map(d => f"2024-03-$d%02d")

  private def newRoot(): String =
    graft.ArtifactStore.scratchDir("graft_keymap").toFile.getAbsolutePath

  private val ddl = """CREATE TABLE m (id BIGINT PRIMARY KEY, day TEXT, v DOUBLE PRECISION)
      PARTITIONED BY (day)"""

  private def seed(r: StatementRouter): Unit = {
    r.execute(ddl)
    r.execute("INSERT INTO m (id, day, v) VALUES " +
      (0 until 200).map(i => s"($i, '${days(i % 8)}', ${i * 0.25})").mkString(", "))
  }

  private def affected(r: StatementRouter, sql: String): Long =
    r.execute(sql).head().getLong(0)

  private def rows(r: StatementRouter): Seq[String] =
    r.execute("SELECT id, day, v FROM m ORDER BY id").collect().map(_.mkString("|")).toSeq

  private def assertDuplicate(r: StatementRouter, sql: String): Unit = {
    val e = intercept[Exception](r.execute(sql))
    assert(e.getMessage.contains("DuplicateKeyException"), e.getMessage)
  }

  private def latest(path: String): Int = VersionedTable.latestVersion(spark, path).get

  private val upsert = s"INSERT INTO m (id, day, v) VALUES (3, '${days(3)}', 9.5), " +
    s"(4, '${days(0)}', 8.5), (900, '${days(5)}', 7.5) " +
    "ON CONFLICT (id) DO UPDATE SET v = excluded.v"

  test("a fresh-key INSERT, UPDATE by key, DELETE of a key range and upsert run 1 job each") {
    val root = newRoot()
    val r = new StatementRouter(spark, root)
    seed(r)
    val values = (1000 until 1050).map(i => s"($i, '${days(i % 8)}', 0.5)").mkString(", ")
    val (ins, insJobs) = jobsOf(affected(r, s"INSERT INTO m (id, day, v) VALUES $values"))
    assert(ins == 50L && insJobs == 1, s"INSERT: $ins rows, $insJobs jobs")
    val (upd, updJobs) = jobsOf(affected(r, "UPDATE m SET v = 1.5 WHERE id = 17"))
    assert(upd == 1L && updJobs == 1, s"UPDATE: $upd rows, $updJobs jobs")
    val (del, delJobs) = jobsOf(affected(r, "DELETE FROM m WHERE id >= 40 AND id < 60"))
    assert(del == 20L && delJobs == 1, s"DELETE: $del rows, $delJobs jobs")
    val ((ups, upsJobs), plans) = sqlPlansOf(jobsOf(affected(r, upsert)))
    assert(ups == 3L && upsJobs == 1, s"upsert: $ups rows, $upsJobs jobs")
    assert(plans.nonEmpty && plans.forall(!_.contains("Exchange")), plans.mkString("\n"))
    // the upsert wrote the partitions of its new row and of its matched
    // stored rows: id 4 stays in its stored day, whatever the VALUES say
    val path = s"$root/m"
    val written = new java.io.File(f"$path/data/v${latest(path)}%05d").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted.toSeq
    assert(written == Seq(days(3), days(4), days(5)).map(d => s"day=$d"))
    assert(r.execute("SELECT day, v FROM m WHERE id IN (3, 4, 900) ORDER BY id").collect()
      .map(_.mkString("|")).toSeq == Seq(s"${days(3)}|9.5", s"${days(4)}|8.5", s"${days(5)}|7.5"))
    assert(r.execute("SELECT count(*) FROM m").head().getLong(0) == 231L)
    // a fresh session has no map: its first keyed statement builds one by
    // a scan (one more job), the next reads the map its commit stored
    val reopened = new StatementRouter(spark.newSession(), root)
    val (a, aJobs) = jobsOf(affected(reopened, "UPDATE m SET v = 2.5 WHERE id = 18"))
    assert(a == 1L && aJobs == 2, s"first keyed UPDATE after reopening: $a rows, $aJobs jobs")
    val (b, bJobs) = jobsOf(affected(reopened, "DELETE FROM m WHERE id IN (18, 19, 40)"))
    assert(b == 2L && bJobs == 1, s"second keyed statement after reopening: $b rows, $bJobs jobs")
  }

  test("an upsert whose keys are all new inserts them, into a new table and a filled one") {
    val live = new StatementRouter(spark, newRoot())
    val txn = new StatementRouter(spark, newRoot())
    Seq(live, txn).foreach(_.execute(ddl))
    def fresh(ids: Range) = "INSERT INTO m (id, day, v) VALUES " +
      ids.map(i => s"($i, '${days(i % 8)}', ${i * 0.5})").mkString(", ") +
      " ON CONFLICT (id) DO UPDATE SET v = excluded.v"
    Seq(fresh(0 until 5), fresh(5 until 9), upsert).foreach { sql =>
      val (a, jobs) = jobsOf(affected(live, sql))
      txn.execute("BEGIN")
      val b = affected(txn, sql)
      txn.execute("COMMIT")
      assert(a == b && jobs == 1, s"$sql: live $a rows in $jobs jobs, txn $b")
      assert(rows(live) == rows(txn), sql)
    }
    assert(rows(live).length == 10)
  }

  test("COPY FROM seeds the map from its import tally") {
    val root = newRoot()
    val r = new StatementRouter(spark, root)
    r.execute(ddl)
    val file = java.nio.file.Paths.get(root, "rows.json")
    java.nio.file.Files.write(file, (0 until 2000)
      .map(i => s"""{"id": $i, "day": "${days(i % 8)}", "v": ${i * 0.5}}""")
      .mkString("", "\n", "\n").getBytes("UTF-8"))
    assert(affected(r, s"COPY m FROM '$file'") == 2000L)
    val path = s"$root/m"
    assert(KeyMap.stored(spark, path, latest(path)).map(_.size).contains(2000))
    val (upd, jobs) = jobsOf(affected(r, "UPDATE m SET v = 0 WHERE id = 1999"))
    assert(upd == 1L && jobs == 1, s"UPDATE after COPY: $upd rows, $jobs jobs")
  }

  test("a tally runs one job and opens no SQL execution, with the values df.rdd gives") {
    val root = newRoot()
    val r = new StatementRouter(spark, root)
    r.execute("CREATE TABLE t (id BIGINT, s TEXT, n INT, d DATE)")
    r.execute("INSERT INTO t (id, s, n, d) VALUES (1, 'a', 1, '2024-03-01'), " +
      "(2, 'a', 1, '2024-03-01'), (3, NULL, NULL, NULL), (4, 'b', 2, '2024-03-02')")
    val df = VersionedTable.read(spark, s"$root/t")
    val cols = Seq("s", "n", "d")
    val ((counts, jobs), execs) = sqlExecutionsOf(jobsOf(Dml.tally(df, cols)))
    assert(jobs == 1 && execs == 0, s"$jobs jobs, $execs SQL executions")
    val expected = df.select(cols.map(org.apache.spark.sql.functions.col): _*).rdd
      .map(_.toSeq).countByValue().toMap
    assert(counts == expected)
    assert(counts.keySet.contains(Seq(null, null, null)))
    assert(counts(Seq("a", 1, java.sql.Date.valueOf("2024-03-01"))) == 2L)
    // rows on the driver: no job and no SQL execution either
    val local = spark.sql("SELECT * FROM VALUES ('x', 1), ('x', 2) AS v(a, b)")
    val ((lc, lj), le) = sqlExecutionsOf(jobsOf(Dml.tally(local, Seq("a"))))
    assert(lc == Map(Seq("x") -> 2L) && lj == 0 && le == 0)
  }

  test("the live map, the map rebuilt by a scan and the scanning paths agree") {
    // live: maps derived by each commit; reopened: a fresh session per
    // statement, so every map comes from a scan; txn: every statement in
    // BEGIN…COMMIT, which takes the scanning paths
    val live = new StatementRouter(spark, newRoot())
    val reopenRoot = newRoot()
    val txnRoot = newRoot()
    def reopened(): StatementRouter = new StatementRouter(spark.newSession(), reopenRoot)
    val txn = new StatementRouter(spark, txnRoot)
    seed(live); seed(reopened()); seed(txn)
    val stmts = Seq(
      s"INSERT INTO m (id, day, v) VALUES (500, '${days(1)}', 1.0), (501, NULL, 2.0)",
      "UPDATE m SET v = v + 1 WHERE id = 501",
      "UPDATE m SET v = 0.25 WHERE id IN (1, 2, 3, 999)",
      "UPDATE m SET v = 3.0 WHERE id BETWEEN 10 AND 14",
      "DELETE FROM m WHERE id > 190",
      "DELETE FROM m WHERE id <= 2",
      s"DELETE FROM m WHERE day = '${days(6)}'",
      upsert,
      s"INSERT INTO m (id, day, v) VALUES (5, '${days(7)}', 1.0), (777, '${days(7)}', 2.0) " +
        "ON CONFLICT (id) DO NOTHING",
      "UPDATE m SET v = v * 2 WHERE v > 40",
      "OPTIMIZE TABLE m",
      "DELETE FROM m WHERE id = 900",
      s"INSERT INTO m (id, day, v) VALUES (900, '${days(2)}', 5.0)",
      "UPDATE m SET v = 1.0 WHERE id >= 100 AND id < 110 AND id <> 105",
      "UPDATE m SET v = 2.0 WHERE id = 100 OR id = 101",
      s"UPDATE m SET v = 7.0 WHERE id IN (${(30 until 46).mkString(", ")})",
      "DELETE FROM m WHERE 35 < id AND id <= 38",
      s"INSERT INTO m (id, day, v) VALUES (100, '${days(0)}', 1.0), (20, '${days(0)}', 2.0) " +
        "ON CONFLICT (id) DO UPDATE SET v = v + excluded.v")
    stmts.foreach { sql =>
      val a = affected(live, sql)
      val b = affected(reopened(), sql)
      txn.execute("BEGIN")
      val c = affected(txn, sql)
      txn.execute("COMMIT")
      assert(a == b && b == c, s"$sql: live $a, reopened $b, txn $c")
      val want = rows(txn)
      assert(rows(live) == want, sql)
      assert(rows(reopened()) == want, sql)
    }
    assertDuplicate(live, s"INSERT INTO m (id, day, v) VALUES (777, '${days(0)}', 1.0)")
    assertDuplicate(reopened(), s"INSERT INTO m (id, day, v) VALUES (900, '${days(0)}', 1.0)")
  }

  test("a TEXT key selects in code-point order, as Spark compares strings") {
    // U+FB00 sorts after the surrogate pair of U+1D11E in UTF-16, before
    // it by code point (and UTF-8 bytes)
    val keys = Seq("a", "b", "\u00e9", "\ufb00", "\ud834\udd1e")
    val stmts = Seq(
      "UPDATE s SET v = 1 WHERE id > '\ufb00'",
      "DELETE FROM s WHERE id BETWEEN 'b' AND '\ufb00'",
      "UPDATE s SET v = 2 WHERE id IN ('a', 'zz')")
    val live = new StatementRouter(spark, newRoot())
    val txn = new StatementRouter(spark, newRoot())
    Seq(live, txn).foreach { r =>
      r.execute("CREATE TABLE s (id TEXT PRIMARY KEY, v INT)")
      r.execute("INSERT INTO s (id, v) VALUES " + keys.map(k => s"('$k', 0)").mkString(", "))
    }
    def state(r: StatementRouter) =
      r.execute("SELECT id, v FROM s").collect().map(_.mkString("|")).toSet
    stmts.foreach { sql =>
      val a = affected(live, sql)
      txn.execute("BEGIN")
      val b = affected(txn, sql)
      txn.execute("COMMIT")
      assert(a == b, sql)
      assert(state(live) == state(txn), sql)
    }
    assert(state(live) == Set("a|2", "\ud834\udd1e|1"))
  }

  test("DROP + re-CREATE and RENAME serve no stale map") {
    val root = newRoot()
    val r = new StatementRouter(spark, root)
    seed(r)
    r.execute("DROP TABLE m")
    r.execute(ddl)
    assert(affected(r, s"INSERT INTO m (id, day, v) VALUES (7, '${days(0)}', 1.0)") == 1L)
    assert(affected(r, "DELETE FROM m WHERE id < 100") == 1L)
    r.execute("ALTER TABLE m RENAME TO m2")
    r.execute(ddl)
    // the renamed table keeps no key of the old path's map, and the new
    // table at the old path holds none of the renamed table's keys
    assert(affected(r, s"INSERT INTO m2 (id, day, v) VALUES (7, '${days(1)}', 2.0)") == 1L)
    assertDuplicate(r, s"INSERT INTO m2 (id, day, v) VALUES (7, '${days(1)}', 2.0)")
    assert(affected(r, s"INSERT INTO m (id, day, v) VALUES (7, '${days(2)}', 3.0)") == 1L)
    assert(affected(r, "UPDATE m SET v = 4.0 WHERE id = 7") == 1L)
    assert(r.execute("SELECT v FROM m WHERE id = 7").head().getDouble(0) == 4.0)
  }

  test("a commit that fails before its manifest rename leaves no map for that version") {
    val root = newRoot()
    val r = new StatementRouter(spark, root)
    seed(r)
    val path = s"$root/m"
    val next = latest(path) + 1
    // an orphan data dir makes the next write fail before the manifest
    val orphan = new java.io.File(f"$path/data/v$next%05d")
    assert(orphan.mkdirs())
    intercept[Exception](r.execute(s"INSERT INTO m (id, day, v) VALUES (300, '${days(0)}', 1.0)"))
    assert(latest(path) == next - 1)
    assert(KeyMap.stored(spark, path, next).isEmpty)
    assert(orphan.delete())
    assert(affected(r, s"INSERT INTO m (id, day, v) VALUES (300, '${days(0)}', 1.0)") == 1L)
    assert(KeyMap.stored(spark, path, next).exists(_.contains(300L)))
    assert(affected(r, "DELETE FROM m WHERE id = 300") == 1L)
  }

  test("BEGIN…COMMIT, an over-cap table and an UPDATE that sets the key keep their results") {
    val root = newRoot()
    val r = new StatementRouter(spark, root)
    seed(r)
    val path = s"$root/m"
    // an UPDATE that moves a key stores no map; the next statement scans
    assert(affected(r, "UPDATE m SET id = 5000 WHERE id = 3") == 1L)
    assert(KeyMap.stored(spark, path, latest(path)).isEmpty)
    assert(affected(r, s"INSERT INTO m (id, day, v) VALUES (3, '${days(0)}', 1.0)") == 1L)
    assertDuplicate(r, s"INSERT INTO m (id, day, v) VALUES (5000, '${days(0)}', 1.0)")
    // a DELETE on another condition, on a table with a stored map,
    // tallies and stores none; the next keyed statement builds one by a
    // scan
    assert(affected(r, s"DELETE FROM m WHERE day = '${days(7)}'") == 25L)
    assert(KeyMap.stored(spark, path, latest(path)).isEmpty)
    val (upd, jobs) = jobsOf(affected(r, "UPDATE m SET v = 0 WHERE id IN (8, 15, 16)"))
    assert(upd == 2L && jobs == 2, s"UPDATE after a non-key DELETE: $upd rows, $jobs jobs")
    assert(KeyMap.stored(spark, path, latest(path)).exists(m => !m.contains(15L) && m.contains(16L)))
    // inside a transaction the key checks see the staged rows
    r.execute("BEGIN")
    assert(affected(r, s"INSERT INTO m (id, day, v) VALUES (6000, '${days(0)}', 1.0)") == 1L)
    assertDuplicate(r, s"INSERT INTO m (id, day, v) VALUES (6000, '${days(1)}', 1.0)")
    assert(affected(r, "DELETE FROM m WHERE id = 6000") == 1L)
    r.execute("COMMIT")
    assert(r.execute("SELECT count(*) FROM m WHERE id = 6000").head().getLong(0) == 0L)
    // over the cap: no map, and the scanning paths answer
    r.execute("CREATE TABLE big (id BIGINT PRIMARY KEY, v BIGINT)")
    val bigPath = s"$root/big"
    val n = KeyMap.MaxKeys + 1
    VersionedTable.commit(spark, bigPath,
      spark.range(n).selectExpr("id", "id % 7 AS v").coalesce(1))
    assert(KeyMap.of(spark, bigPath, latest(bigPath), "id", Nil).isEmpty)
    assertDuplicate(r, "INSERT INTO big (id, v) VALUES (5, 0)")
    assert(affected(r, s"INSERT INTO big (id, v) VALUES ($n, 0)") == 1L)
    assert(affected(r, "UPDATE big SET v = -1 WHERE id = 5") == 1L)
    assert(affected(r, "DELETE FROM big WHERE id >= 10 AND id < 30") == 20L)
    assert(r.execute("SELECT count(*), sum(v) FROM big WHERE id < 40").head().toSeq ==
      Seq(20L, (0 until 40).filterNot(i => i >= 10 && i < 30)
        .map(i => if (i == 5) -1L else i % 7L).sum))
    // once over the cap, later versions read no footers for a map, even
    // when they shrink under it; DROP clears that
    VersionedTable.commit(spark, bigPath, spark.range(10).selectExpr("id", "id AS v"))
    assert(KeyMap.of(spark, bigPath, latest(bigPath), "id", Nil).isEmpty)
    r.execute("DROP TABLE big")
    r.execute("CREATE TABLE big (id BIGINT PRIMARY KEY, v BIGINT)")
    VersionedTable.commit(spark, bigPath, spark.range(10).selectExpr("id", "id AS v"))
    assert(KeyMap.of(spark, bigPath, latest(bigPath), "id", Nil).map(_.size).contains(10))
  }
}
