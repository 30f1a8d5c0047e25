package graft

import graft.sources.VersionedTable

/** The DML write path on a `PARTITIONED BY` PRIMARY KEY table: a keyed
  * statement reads its affected-row count, touched partitions and key
  * check from the table's key map, so its one job is the write of its
  * touched partitions, and the write is sized by its input rather than by
  * the number of input files. */
class DmlWritePathSpec extends SparkTestBase {

  private val days = (1 to 8).map(d => f"2024-03-$d%02d")

  private def newTable(): (StatementRouter, String) = {
    val root = graft.ArtifactStore.scratchDir("graft_dmlwp").toFile.getAbsolutePath
    val r = new StatementRouter(spark, root)
    r.execute("""CREATE TABLE m (id BIGINT PRIMARY KEY, day TEXT, v DOUBLE PRECISION)
        PARTITIONED BY (day)""")
    r.execute("INSERT INTO m (id, day, v) VALUES " +
      (0 until 200).map(i => s"($i, '${days(i % 8)}', ${i * 0.25})").mkString(", "))
    (r, s"$root/m")
  }

  private def affected(r: StatementRouter, sql: String): Long =
    r.execute(sql).head().getLong(0)

  private def latest(path: String): Int = VersionedTable.latestVersion(spark, path).get

  /** Partition directories the latest version wrote itself. */
  private def written(path: String): Seq[String] =
    Option(new java.io.File(f"$path/data/v${latest(path)}%05d").listFiles()).toSeq.flatten
      .filter(_.isDirectory).map(_.getName).sorted

  test("UPDATE by key, DELETE of a key range and a 50-row INSERT run at most 2 jobs each") {
    val (r, path) = newTable()
    val (upd, updJobs) = jobsOf(affected(r, "UPDATE m SET v = 1.5 WHERE id = 17"))
    assert(upd == 1L)
    assert(updJobs == 1, s"UPDATE ran $updJobs jobs")
    assert(written(path) == Seq(s"day=${days(17 % 8)}"))

    val (del, delJobs) = jobsOf(affected(r, "DELETE FROM m WHERE id >= 40 AND id < 60"))
    assert(del == 20L)
    assert(delJobs == 1, s"DELETE ran $delJobs jobs")

    val values = (1000 until 1050)
      .map(i => s"($i, '${days(i % 8)}', 0.5)").mkString(", ")
    val (ins, insJobs) = jobsOf(affected(r, s"INSERT INTO m (id, day, v) VALUES $values"))
    assert(ins == 50L)
    assert(insJobs == 1, s"INSERT ran $insJobs jobs")
    assert(r.execute("SELECT count(*), sum(v) FROM m").head().toSeq ==
      Seq(230L, (0 until 200).filterNot(i => i >= 40 && i < 60)
        .map(i => if (i == 17) 1.5 else i * 0.25).sum + 25.0))
  }

  test("an INSERT into 8 partitions leaves one file per partition") {
    val (r, path) = newTable()
    r.execute("INSERT INTO m (id, day, v) VALUES " +
      (500 until 540).map(i => s"($i, '${days(i % 8)}', 1.0)").mkString(", "))
    val dirs = new java.io.File(f"$path/data/v${latest(path)}%05d").listFiles()
      .filter(_.isDirectory)
    assert(dirs.map(_.getName).sorted.toSeq == days.map(d => s"day=$d"))
    dirs.foreach { d =>
      val files = d.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length == 1, s"${d.getName}: ${files.map(_.getName).mkString(", ")}")
    }
  }

  test("zero matches: UPDATE and DELETE answer 0 and commit nothing") {
    val (r, path) = newTable()
    val v = latest(path)
    assert(affected(r, "UPDATE m SET v = 0 WHERE id = 999") == 0L)
    assert(affected(r, "DELETE FROM m WHERE id < 0") == 0L)
    assert(r.execute("UPDATE m SET v = 0 WHERE id = 999 RETURNING id").collect().isEmpty)
    assert(latest(path) == v)
    // an unpartitioned table is not rewritten either
    r.execute("CREATE TABLE u (id BIGINT PRIMARY KEY, v TEXT)")
    r.execute("INSERT INTO u (id, v) VALUES (1, 'a')")
    val uPath = path.stripSuffix("/m") + "/u"
    val uv = latest(uPath)
    assert(affected(r, "UPDATE u SET v = 'b' WHERE id = 2") == 0L)
    assert(affected(r, "DELETE FROM u WHERE v = 'z'") == 0L)
    assert(latest(uPath) == uv)
  }

  test("a NULL partition value is tallied and rewritten as its default partition") {
    val (r, path) = newTable()
    r.execute("INSERT INTO m (id, day, v) VALUES (300, NULL, 2.0), (301, NULL, 3.0)")
    assert(written(path) == Seq("day=__HIVE_DEFAULT_PARTITION__"))
    assert(affected(r, "UPDATE m SET v = v * 2 WHERE id = 301") == 1L)
    assert(written(path) == Seq("day=__HIVE_DEFAULT_PARTITION__"))
    // the other partitions ride along by reference
    assert(VersionedTable.manifestEntries(spark, path, latest(path)).length == 9)
    assert(affected(r, "DELETE FROM m WHERE day IS NULL") == 2L)
    assert(r.execute("SELECT count(*) FROM m WHERE day IS NULL").head().getLong(0) == 0L)
    assert(r.execute("SELECT count(*) FROM m").head().getLong(0) == 200L)
  }

  test("a SET that moves the partition column commits the whole table") {
    val (r, path) = newTable()
    assert(affected(r, s"UPDATE m SET day = '${days(7)}' WHERE id < 3") == 3L)
    assert(VersionedTable.manifestEntries(spark, path, latest(path)).length == 1)
    assert(r.execute(s"SELECT count(*) FROM m WHERE day = '${days(7)}'").head()
      .getLong(0) == 25L + 3L)
  }

  test("an UPDATE that recomputes a generated partition column moves the row") {
    val root = graft.ArtifactStore.scratchDir("graft_dmlwp").toFile.getAbsolutePath
    val r = new StatementRouter(spark, root)
    r.execute("""CREATE TABLE gp (id BIGINT PRIMARY KEY, n BIGINT,
        p GENERATED ALWAYS AS (n % 2)) PARTITIONED BY (p)""")
    r.execute("INSERT INTO gp (id, n) VALUES (1, 1), (2, 2)")
    assert(affected(r, "UPDATE gp SET n = 4 WHERE id = 1") == 1L)
    assert(r.execute("SELECT id, n, p FROM gp ORDER BY id").collect().map(_.mkString("|")).toSeq ==
      Seq("1|4|0", "2|2|0"))
  }

  test("inside BEGIN…COMMIT the counts hold and COMMIT writes one whole version") {
    val (r, path) = newTable()
    val v = latest(path)
    r.execute("BEGIN")
    assert(affected(r, "UPDATE m SET v = -1 WHERE id = 5") == 1L)
    assert(affected(r, "DELETE FROM m WHERE id >= 100") == 100L)
    assert(affected(r, "UPDATE m SET v = 0 WHERE id = 999") == 0L)
    assert(affected(r, s"INSERT INTO m (id, day, v) VALUES (900, '${days(0)}', 4.0)") == 1L)
    assert(latest(path) == v)
    r.execute("COMMIT")
    assert(latest(path) == v + 1)
    assert(VersionedTable.manifestEntries(spark, path, latest(path)).length == 1)
    assert(r.execute("SELECT count(*) FROM m").head().getLong(0) == 101L)
    assert(r.execute("SELECT v FROM m WHERE id = 5").head().getDouble(0) == -1.0)
  }

  test("the partition spec is rewritten only when a commit changes the schema") {
    val (r, path) = newTable()
    val spec = java.nio.file.Paths.get(path, "_partitionspec")
    val old = java.nio.file.attribute.FileTime.fromMillis(1000000L)
    def ddl = VersionedTable.partitionSpec(spark, path).get.schemaDdl
    java.nio.file.Files.setLastModifiedTime(spec, old)
    assert(affected(r, "UPDATE m SET v = 2.5 WHERE id = 9") == 1L)
    assert(affected(r, "DELETE FROM m WHERE id = 10") == 1L)
    assert(java.nio.file.Files.getLastModifiedTime(spec) == old)
    assert(!ddl.contains("note"))
    r.execute("ALTER TABLE m ADD COLUMN note TEXT")
    r.execute(s"INSERT INTO m (id, day, v, note) VALUES (700, '${days(2)}', 1.0, 'n')")
    assert(ddl.contains("note"))
    assert(java.nio.file.Files.getLastModifiedTime(spec) != old)
    assert(r.execute("SELECT note FROM m WHERE id = 700").head().getString(0) == "n")
    assert(r.execute("SELECT count(*) FROM m WHERE note IS NULL").head().getLong(0) == 199L)
  }

  test("a multi-column PRIMARY KEY duplicate is found by the literal key probe") {
    val root = graft.ArtifactStore.scratchDir("graft_dmlwp").toFile.getAbsolutePath
    val r = new StatementRouter(spark, root)
    r.execute("""CREATE TABLE mk (a BIGINT, b TEXT, v BIGINT, PRIMARY KEY (a, b))
        PARTITIONED BY (b)""")
    r.execute("INSERT INTO mk (a, b, v) VALUES (1, 'x', 10), (2, 'y', 20)")
    val path = s"$root/mk"
    val v = latest(path)
    // (1, 'y') and (2, 'x') cross the stored keys' columns, but neither
    // is a stored key
    assert(affected(r, "INSERT INTO mk (a, b, v) VALUES (1, 'y', 30), (2, 'x', 40)") == 2L)
    val e = intercept[Exception](
      r.execute("INSERT INTO mk (a, b, v) VALUES (3, 'z', 50), (2, 'y', 60)"))
    assert(e.getMessage.contains("DuplicateKeyException"), e.getMessage)
    val rep = intercept[Exception](
      r.execute("INSERT INTO mk (a, b, v) VALUES (4, 'z', 1), (4, 'z', 2)"))
    assert(rep.getMessage.contains("DuplicateKeyException"), rep.getMessage)
    assert(latest(path) == v + 1)
    assert(r.execute("SELECT sum(v) FROM mk").head().getLong(0) == 100L)
  }
}
