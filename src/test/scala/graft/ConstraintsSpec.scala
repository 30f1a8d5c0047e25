package graft

/** Generated columns, CHECK constraints and NOT NULL through the router
  * (reference docs/general/ddl/generated-columns.rst + constraints.rst —
  * doc examples replayed, including the supplied-value validation error
  * shape and CHECK failure on UPDATE).
  */
class ConstraintsSpec extends SparkTestBase {

  private def newRouter() = {
    val root = graft.ArtifactStore.scratchDir("graft_cons").toFile.getAbsolutePath
    new StatementRouter(spark, root)
  }

  test("generated column: computed on INSERT, type inferred, docs' computed table") {
    val r = newRouter()
    r.execute("""CREATE TABLE computed (
      dividend double precision,
      divisor double precision,
      quotient GENERATED ALWAYS AS (dividend / divisor)
    )""")
    r.execute("INSERT INTO computed (dividend, divisor) VALUES (1.7, 1.5), (0.0, 10.0)")
    val rows = r.execute("SELECT dividend, divisor, quotient FROM computed ORDER BY dividend")
      .collect()
    assert(rows.map(_.getDouble(2)).toSeq == Seq(0.0, 1.7 / 1.5))
    // supplied value validated against the calculation (docs: error shape)
    val e = intercept[Exception](r.execute(
      "INSERT INTO computed (dividend, divisor, quotient) VALUES (100.0, 2.0, 12.0)"))
    assert(e.getMessage.contains("generated column quotient does not match calculation"))
    // matching supplied value passes
    r.execute("INSERT INTO computed (dividend, divisor, quotient) VALUES (100.0, 2.0, 50.0)")
    assert(r.execute("SELECT count(*) AS n FROM computed").head().getLong(0) == 3)
  }

  test("PRIMARY KEY: a plain INSERT of an existing or repeated key fails and writes nothing") {
    val r = newRouter()
    r.execute("CREATE TABLE pk (id BIGINT PRIMARY KEY, v TEXT)")
    r.execute("INSERT INTO pk (id, v) VALUES (1, 'a'), (2, 'b')")
    for (stmt <- Seq("INSERT INTO pk (id, v) VALUES (1, 'x')",
                     "INSERT INTO pk (id, v) VALUES (3, 'c'), (3, 'd')",
                     "INSERT INTO pk (id, v) SELECT id, 'y' FROM pk")) {
      val e = intercept[Exception](r.execute(stmt))
      assert(e.getMessage.contains("DuplicateKeyException"), stmt)
    }
    assert(r.execute("SELECT id, v FROM pk ORDER BY id").collect()
      .map(x => (x.getLong(0), x.getString(1))).toSeq == Seq((1L, "a"), (2L, "b")))
    // fresh keys and ON CONFLICT still go through
    r.execute("INSERT INTO pk (id, v) VALUES (3, 'c')")
    r.execute("INSERT INTO pk (id, v) VALUES (1, 'z') ON CONFLICT (id) DO NOTHING")
    assert(r.execute("SELECT count(*), max(v) FROM pk").head().toSeq == Seq(3L, "c"))
  }

  test("PRIMARY KEY: COPY FROM skips existing keys and repeats after the first") {
    val r = newRouter()
    r.execute("CREATE TABLE pkc (id BIGINT PRIMARY KEY, v TEXT)")
    r.execute("INSERT INTO pkc (id, v) VALUES (1, 'a'), (2, 'b')")
    val f = graft.ArtifactStore.scratchDir("graft_pkc").resolve("rows.json")
    java.nio.file.Files.write(f, ("{\"id\": 1, \"v\": \"x\"}\n" +
      "{\"id\": 3, \"v\": \"c\"}\n{\"id\": 3, \"v\": \"d\"}\n").getBytes)
    assert(r.execute(s"COPY pkc FROM '$f'").head().getLong(0) == 1L)
    assert(r.execute("SELECT id, v FROM pkc ORDER BY id").collect()
      .map(x => (x.getLong(0), x.getString(1))).toSeq ==
      Seq((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("PRIMARY KEY: COPY FROM RETURN SUMMARY counts skipped keys as errors") {
    val r = newRouter()
    r.execute("CREATE TABLE pks (id BIGINT PRIMARY KEY, v TEXT)")
    r.execute("INSERT INTO pks (id, v) VALUES (1, 'a'), (2, 'b')")
    val f = graft.ArtifactStore.scratchDir("graft_pks").resolve("rows.json")
    java.nio.file.Files.write(f, ("{\"id\": 1, \"v\": \"x\"}\n" +
      "{\"id\": 3, \"v\": \"c\"}\n{\"id\": 3, \"v\": \"d\"}\n").getBytes)
    val sum = r.execute(s"COPY pks FROM '$f' RETURN SUMMARY").collect()
    // an existing key (1) and a repeated one (the second 3) fail their rows
    assert(sum.map(_.getAs[Long]("success_count")).sum == 1L)
    assert(sum.map(_.getAs[Long]("error_count")).sum == 2L)
    assert(r.execute("SELECT id, v FROM pks ORDER BY id").collect()
      .map(x => (x.getLong(0), x.getString(1))).toSeq ==
      Seq((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("generated column: non-deterministic expressions skip validation") {
    val r = newRouter()
    r.execute("CREATE TABLE genrand (a int, b GENERATED ALWAYS AS (random() + 10))")
    r.execute("INSERT INTO genrand (a, b) VALUES (1, 0.5)") // not validated
    val b = r.execute("SELECT b FROM genrand").head().getDouble(0)
    assert(b == 0.5)
  }

  test("generated column recomputes on UPDATE") {
    val r = newRouter()
    r.execute("""CREATE TABLE upd (
      base bigint,
      twice GENERATED ALWAYS AS (base * 2)
    )""")
    r.execute("INSERT INTO upd (base) VALUES (4)")
    r.execute("UPDATE upd SET base = 10 WHERE base = 4")
    assert(r.execute("SELECT twice FROM upd").head().getLong(0) == 20L)
  }

  test("CHECK: column-level and named table-level, INSERT and UPDATE") {
    val r = newRouter()
    r.execute("""CREATE TABLE metrics (
      id bigint PRIMARY KEY,
      weight double CHECK (weight >= 0),
      qty int,
      CONSTRAINT qty_bound CHECK (qty < 1000)
    )""")
    r.execute("INSERT INTO metrics (id, weight, qty) VALUES (1, 3.5, 10)")
    // NULL passes a CHECK (SQL 3VL), like the reference
    r.execute("INSERT INTO metrics (id, weight, qty) VALUES (2, NULL, NULL)")
    val e1 = intercept[Exception](r.execute(
      "INSERT INTO metrics (id, weight, qty) VALUES (3, -1.0, 10)"))
    assert(e1.getMessage.contains("CHECK (weight >= 0)"), e1.getMessage)
    val e2 = intercept[Exception](r.execute(
      "INSERT INTO metrics (id, weight, qty) VALUES (3, 1.0, 2000)"))
    assert(e2.getMessage.contains("qty_bound"), e2.getMessage)
    val e3 = intercept[Exception](r.execute(
      "UPDATE metrics SET weight = -5.0 WHERE id = 1"))
    assert(e3.getMessage.contains("CHECK (weight >= 0)"), e3.getMessage)
    assert(r.execute("SELECT count(*) AS n FROM metrics").head().getLong(0) == 2)
  }

  test("NOT NULL rejected on INSERT") {
    val r = newRouter()
    r.execute("CREATE TABLE nn (id bigint NOT NULL, v text)")
    r.execute("INSERT INTO nn (id, v) VALUES (1, 'x')")
    val e = intercept[Exception](r.execute("INSERT INTO nn (v) VALUES ('y')"))
    assert(e.getMessage.contains("must not be null"))
  }

  test("SHOW CREATE TABLE round-trips generated/CHECK/NOT NULL clauses") {
    val r = newRouter()
    r.execute("""CREATE TABLE rt (
      base bigint NOT NULL,
      twice GENERATED ALWAYS AS (base * 2),
      weight double CHECK (weight >= 0),
      CONSTRAINT big_base CHECK (base > 0)
    )""")
    val ddl = r.execute("SHOW CREATE TABLE rt").head().getString(0)
    assert(ddl.contains("GENERATED ALWAYS AS (base * 2)"), ddl)
    assert(ddl.contains("CHECK (weight >= 0)"), ddl)
    assert(ddl.contains("CONSTRAINT big_base CHECK (base > 0)"), ddl)
    assert(ddl.contains("base BIGINT NOT NULL"), ddl)
  }

  test("COPY FROM computes generated columns and enforces CHECK") {
    val r = newRouter()
    r.execute("""CREATE TABLE cpy (
      a bigint CHECK (a > 0),
      doubled GENERATED ALWAYS AS (a * 2)
    )""")
    val dir = graft.ArtifactStore.scratchDir("graft_cpy")
    val f = dir.resolve("rows.json")
    java.nio.file.Files.write(f, "{\"a\": 5}\n{\"a\": 7}\n".getBytes)
    r.execute(s"COPY cpy FROM '${f}'")
    val got = r.execute("SELECT a, doubled FROM cpy ORDER BY a").collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSeq
    assert(got == Seq((5L, 10L), (7L, 14L)))
    val bad = dir.resolve("bad.json")
    java.nio.file.Files.write(bad, "{\"a\": -1}\n".getBytes)
    val e = intercept[Exception](r.execute(s"COPY cpy FROM '${bad}'"))
    assert(e.getMessage.contains("CHECK (a > 0)"))
  }

  test("generated column works as a partition-style derived value in SELECT") {
    val r = newRouter()
    r.execute("""CREATE TABLE parts (
      huge_cardinality bigint,
      partition_value GENERATED ALWAYS AS (huge_cardinality % 10)
    )""")
    r.execute("INSERT INTO parts (huge_cardinality) VALUES (17), (23), (30)")
    val vals = r.execute("SELECT partition_value FROM parts ORDER BY huge_cardinality")
      .collect().map(_.getLong(0)).toSeq
    assert(vals == Seq(7L, 3L, 0L))
  }
}
