package graft

import graft.sources._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.Files

class CopyOpsSpec extends SparkTestBase {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("name", StringType)))

  test("COPY TO parquet with PARTITION BY prunes downstream scans") {
    val dir = graft.ArtifactStore.scratchDir("copypq").toFile.getAbsolutePath + "/out"
    val df = Seq((1L, "a", "x"), (2L, "b", "y"), (3L, "c", "x")).toDF("id", "v", "part")
    CopyOps.copyToParquet(df, dir, partitionBy = Seq("part"))
    assert(new java.io.File(dir, "part=x").isDirectory)
    val pruned = spark.read.parquet(dir).filter(col("part") === "x")
    assert(pruned.count() == 2)
    assert(pruned.queryExecution.executedPlan.toString.contains("PartitionFilters"))
  }

  test("COPY FROM json: good rows + RETURN SUMMARY error channel") {
    val dir = graft.ArtifactStore.scratchDir("copyjson").toFile
    val f = new java.io.File(dir, "in.json")
    Files.writeString(f.toPath,
      """{"id": 1, "name": "a"}
        |{"id": 2, "name": "b"}
        |{not valid json
        |{"id": "xx", "name": "c"}
        |""".stripMargin)
    val (good, summary) = CopyOps.copyFromJson(spark, schema, f.getAbsolutePath)
    assert(good.count() == 2)  // malformed line + type-mismatched id are both errors
    val s = summary.collect()(0)
    assert(s.getAs[Long]("success_count") == 2 && s.getAs[Long]("error_count") == 2)
    assert(s.getSeq[String](s.fieldIndex("error_samples")).head.contains("not valid"))
  }

  test("COPY FROM csv with glob + gzip transparency; COPY TO round-trips") {
    val dir = graft.ArtifactStore.scratchDir("copycsv").toFile.getAbsolutePath
    val df = Seq((1L, "x"), (2L, "y"), (3L, "z")).toDF("id", "name")
    CopyOps.copyToCsv(df, s"$dir/out", gzip = true)
    val (back, summary) = CopyOps.copyFromCsv(spark, schema, header = true, s"$dir/out/*.csv.gz")
    assert(back.as[(Long, String)].collect().toSet == Set((1L, "x"), (2L, "y"), (3L, "z")))
    assert(summary.agg(sum("error_count")).head().getLong(0) == 0)

    CopyOps.copyToJson(df, s"$dir/outj")
    val (backJ, _) = CopyOps.copyFromJson(spark, schema, s"$dir/outj/*.json")
    assert(backJ.count() == 3)
  }
}

class DmlSpec extends SparkTestBase {
  import spark.implicits._

  private def target = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
    .toDF("id", "name", "val")

  test("insertInto appends aligned by name") {
    val rows = Seq((4L, "d", 40.0)).toDF("id", "name", "val").select("val", "name", "id")
    assert(Dml.insertInto(target, rows).count() == 4)
  }

  test("upsert DO NOTHING keeps existing, adds new") {
    val rows = Seq((2L, "B!", 99.0), (4L, "d", 40.0)).toDF("id", "name", "val")
    val out = Dml.upsertDoNothing(target, rows, Seq("id"))
      .orderBy("id").as[(Long, String, Double)].collect().toSeq
    assert(out == Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0), (4L, "d", 40.0)))
  }

  test("read-modify-write on the same path commits atomically") {
    val dir = graft.ArtifactStore.scratchDir("dml").toFile.getAbsolutePath + "/t"
    VersionedTable.commit(spark, dir, target)
    // the next version reads FROM the table it replaces — the old
    // version's data dir stays intact until the manifest names the new one
    val cur = VersionedTable.read(spark, dir)
    val next = Dml.upsertReplace(cur,
      Seq((2L, "B!", 99.0), (4L, "d", 40.0)).toDF("id", "name", "val"), Seq("id"))
    VersionedTable.commit(spark, dir, next)
    val out = VersionedTable.read(spark, dir).orderBy("id")
      .as[(Long, String, Double)].collect().toSeq
    assert(out == Seq((1L, "a", 10.0), (2L, "B!", 99.0), (3L, "c", 30.0), (4L, "d", 40.0)))
    // no staging leftovers: one table dir, two committed manifests
    val parent = new java.io.File(dir).getParentFile
    assert(parent.listFiles().map(_.getName).toSet == Set("t"))
    assert(new java.io.File(dir, "_manifests").list().filterNot(_.startsWith(".")).toSet ==
      Set("v00001.manifest", "v00002.manifest"))
  }

  test("upsert DO UPDATE replaces and inserts (MERGE semantics)") {
    val rows = Seq((2L, "B!", 99.0), (4L, "d", 40.0)).toDF("id", "name", "val")
    val out = Dml.upsertReplace(target, rows, Seq("id"))
      .orderBy("id").as[(Long, String, Double)].collect().toSeq
    assert(out == Seq((1L, "a", 10.0), (2L, "B!", 99.0), (3L, "c", 30.0), (4L, "d", 40.0)))
  }

  test("update with RETURNING") {
    val (state, returning) = Dml.update(target, col("val") >= 20.0,
      Map("val" -> (col("val") * 2), "name" -> upper(col("name"))))
    assert(returning.count() == 2)
    assert(state.filter(col("id") === 3).head().getDouble(2) == 60.0)
    assert(state.filter(col("id") === 1).head().getString(1) == "a")
  }

  test("delete with RETURNING") {
    val (state, deleted) = Dml.delete(target, col("id") === 2)
    assert(state.count() == 2 && deleted.count() == 1)
    assert(deleted.head().getLong(0) == 2L)
  }

  test("partitioned write gets partition pruning in the plan") {
    val dir = graft.ArtifactStore.scratchDir("part").toFile.getAbsolutePath + "/t"
    val orders = Tables.load(spark, sfDir, "orders")
      .withColumn("o_year", year(col("o_orderdate")))
    VersionedTable.setPartitionSpec(spark, dir,
      VersionedTable.PartitionSpec(Seq("o_year"), orders.schema.toDDL))
    VersionedTable.commit(spark, dir, orders)
    val pruned = VersionedTable.read(spark, dir).filter(col("o_year") === 1997)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("o_year"))
    val allYears = VersionedTable.read(spark, dir).select("o_year").distinct().count()
    assert(allYears > 1 && pruned.select("o_year").distinct().count() == 1)
  }
}

class VersionedTableSpec extends SparkTestBase {
  import spark.implicits._

  test("commit / read / time travel / transact / vacuum lifecycle") {
    val path = graft.ArtifactStore.scratchDir("vt").toFile.getAbsolutePath + "/t"
    val v1 = VersionedTable.commit(spark,
      path, Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    assert(v1 == 1)
    // snapshot isolation: pin v1's DataFrame, commit v2, v1 read is unchanged
    val snapshotV1 = VersionedTable.readVersion(spark, path, 1)
    val v2 = VersionedTable.transact(spark, path,
      cur => Dml.upsertReplace(cur, Seq((2L, "B!"), (3L, "c")).toDF("id", "v"), Seq("id")))
    assert(v2 == 2)
    assert(VersionedTable.read(spark, path).count() == 3)
    assert(snapshotV1.count() == 2)
    assert(VersionedTable.readVersion(spark, path, 1)
      .orderBy("id").as[(Long, String)].collect().toSeq == Seq((1L, "a"), (2L, "b")))
    assert(VersionedTable.read(spark, path)
      .orderBy("id").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "B!"), (3L, "c")))
    // a crashed commit (data dir without manifest) is invisible to readers
    Seq((9L, "junk")).toDF("id", "v").write
      .parquet(path + "/data/v00099")
    assert(VersionedTable.read(spark, path).count() == 3)
    assert(VersionedTable.versions(spark, path) == Seq(1, 2))
    // vacuum drops old versions and the orphan
    VersionedTable.commit(spark, path, Seq((4L, "d")).toDF("id", "v"))
    VersionedTable.vacuum(spark, path, keep = 1)
    assert(VersionedTable.versions(spark, path) == Seq(3))
    assert(!new java.io.File(path + "/data/v00099").exists)
    assert(!new java.io.File(path + "/data/v00001").exists)
    assert(VersionedTable.read(spark, path).count() == 1)
  }
}

class InformationSchemaSpec extends SparkTestBase {
  test("tables and columns views reflect the catalog") {
    Tables.registerAll(spark, sfDir)
    InformationSchema.register(spark)
    val t = spark.sql(
      "SELECT table_name FROM information_schema_tables WHERE table_name = 'lineitem'")
    assert(t.count() == 1)
    val c = spark.sql(
      """SELECT column_name FROM information_schema_columns
         WHERE table_name = 'orders' ORDER BY ordinal_position""")
    assert(c.collect().map(_.getString(0)).contains("o_orderkey"))
  }

  test("schemata, views, routines, constraints, charsets views register") {
    Tables.registerAll(spark, sfDir)
    InformationSchema.register(spark)
    assert(spark.sql("SELECT * FROM information_schema_schemata").count() >= 1)
    // the fixture temp views appear in the views listing
    assert(spark.sql(
      "SELECT * FROM information_schema_views WHERE table_name = 'orders'").count() == 1)
    // registered graft UDFs are visible as routines
    assert(spark.sql(
      "SELECT * FROM information_schema_routines WHERE routine_name = 'vector_cosine'")
      .count() == 1)
    assert(spark.sql(
      "SELECT character_set_name FROM information_schema_character_sets").head().getString(0) == "UTF8")
  }

  test("primary keys surface in table_constraints and key_column_usage") {
    Tables.registerAll(spark, sfDir)
    InformationSchema.register(spark)
    val tc = spark.sql(
      """SELECT constraint_name, constraint_type
         FROM information_schema_table_constraints WHERE table_name = 'orders'""").head()
    assert(tc.getString(0) == "orders_pkey" && tc.getString(1) == "PRIMARY KEY")
    // composite PK keeps column order
    val kcu = spark.sql(
      """SELECT column_name FROM information_schema_key_column_usage
         WHERE table_name = 'lineitem' ORDER BY ordinal_position""")
      .collect().map(_.getString(0)).toSeq
    assert(kcu == Seq("l_orderkey", "l_linenumber"))
  }

  test("referential_constraints, collations, sql_features views register") {
    InformationSchema.register(spark)
    assert(spark.sql("SELECT * FROM information_schema_referential_constraints").count() == 0)
    assert(spark.sql("SELECT collation_name FROM information_schema_collations")
      .head().getString(0) == "UCS_BASIC")
    val feats = spark.sql(
      "SELECT count(*) FROM information_schema_sql_features WHERE is_supported").head().getLong(0)
    assert(feats >= 20)
  }

  test("grants/roles, partitions, constraint_column_usage views register") {
    Tables.registerAll(spark, sfDir)
    InformationSchema.register(spark)
    val u = spark.sparkContext.sparkUser
    assert(spark.sql("SELECT role_name FROM information_schema_enabled_roles")
      .head().getString(0) == u)
    assert(spark.sql("SELECT * FROM information_schema_applicable_roles").count() == 1)
    assert(spark.sql(
      "SELECT * FROM information_schema_administrable_role_authorizations").count() == 0)
    // the implicit single-user grant graph: 4 privileges per table
    val g = spark.sql(
      """SELECT privilege_type FROM information_schema_role_table_grants
         WHERE table_name = 'orders'""").collect().map(_.getString(0)).toSet
    assert(g == Set("SELECT", "INSERT", "UPDATE", "DELETE"))
    assert(spark.sql("SELECT * FROM information_schema_view_column_usage").count() == 0)
    assert(spark.sql("SELECT * FROM information_schema_partitions").count() == 0)
    val ccu = spark.sql(
      """SELECT column_name FROM information_schema_constraint_column_usage
         WHERE table_name = 'lineitem' ORDER BY column_name""")
      .collect().map(_.getString(0)).toSeq
    assert(ccu == Seq("l_linenumber", "l_orderkey"))
  }

  test("FDW DDL populates foreign_servers/foreign_tables/user_mappings") {
    val router = new StatementRouter(spark,
      graft.ArtifactStore.scratchDir("graft-fdw").toString)
    router.execute(
      "CREATE SERVER pg_prod FOREIGN DATA WRAPPER jdbc " +
      "OPTIONS (url 'jdbc:postgresql://remote:5432/db', fetch_size '500')")
    router.execute(
      "CREATE FOREIGN TABLE remote_orders (id BIGINT, total DOUBLE) SERVER pg_prod " +
      "OPTIONS (schema_name 'public', table_name 'orders')")
    router.execute(
      "CREATE USER MAPPING FOR CURRENT_USER SERVER pg_prod " +
      "OPTIONS (\"user\" 'report', password 'secret')")
    InformationSchema.register(spark)
    val srv = spark.sql(
      """SELECT foreign_data_wrapper_name FROM information_schema_foreign_servers
         WHERE foreign_server_name = 'pg_prod'""").head()
    assert(srv.getString(0) == "jdbc")
    assert(spark.sql(
      """SELECT option_value FROM information_schema_foreign_server_options
         WHERE foreign_server_name = 'pg_prod' AND option_name = 'url'""")
      .head().getString(0).startsWith("jdbc:postgresql"))
    val ft = spark.sql(
      """SELECT foreign_server_name FROM information_schema_foreign_tables
         WHERE foreign_table_name = 'remote_orders'""").head()
    assert(ft.getString(0) == "pg_prod")
    assert(spark.sql(
      """SELECT option_value FROM information_schema_foreign_table_options
         WHERE option_name = 'table_name'""").head().getString(0) == "public.orders")
    // password is redacted in the options view, never surfaced
    val pw = spark.sql(
      """SELECT option_value FROM information_schema_user_mapping_options
         WHERE option_name = 'password'""").head().getString(0)
    assert(pw == "********")
    // DROP SERVER cascades to its tables and mappings
    router.execute("DROP SERVER pg_prod")
    InformationSchema.register(spark)
    assert(spark.sql("SELECT * FROM information_schema_foreign_servers " +
      "WHERE foreign_server_name = 'pg_prod'").count() == 0)
  }

  test("foreign tables register lazily and cache their JDBC schema resolution") {
    // resolving a JDBC relation's schema opens a live connection; a
    // registered foreign table must not tax statements that never
    // reference it, and repeated references must reuse the resolved
    // relation (embedded Derby stands in for the remote server)
    import spark.implicits._
    val root = graft.ArtifactStore.scratchDir("graft-fdwlazy").toString
    System.setProperty("derby.system.home", root)
    val url = s"jdbc:derby:$root/lazydb;create=true"
    Seq((1L, "x"), (2L, "y")).toDF("id", "v")
      .write.format("jdbc").option("url", url).option("dbtable", "LAZY_T").save()
    val r = new StatementRouter(spark, root)
    r.execute(s"CREATE SERVER lazy_srv FOREIGN DATA WRAPPER jdbc OPTIONS (url '$url')")
    r.execute("CREATE FOREIGN TABLE lazy_ft (id BIGINT, v TEXT) " +
      "SERVER lazy_srv OPTIONS (table_name 'LAZY_T')")
    try {
      r.execute("CREATE TABLE lazy_local (i BIGINT)")
      val before = graft.sources.Fdw.resolveCount.get()
      r.execute("INSERT INTO lazy_local (i) VALUES (1)")
      r.execute("SELECT i FROM lazy_local").collect()
      assert(graft.sources.Fdw.resolveCount.get() == before,
        "statements not referencing a foreign table must not resolve one")
      // first reference resolves once …
      assert(r.execute("SELECT count(*) FROM lazy_ft").head().getLong(0) == 2L)
      assert(graft.sources.Fdw.resolveCount.get() == before + 1)
      // … and later statements reuse the resolved relation — while the
      // scan itself stays live (a remote write is visible on next read)
      assert(r.execute("SELECT v FROM lazy_ft WHERE id = 2")
        .head().getString(0) == "y")
      assert(graft.sources.Fdw.resolveCount.get() == before + 1,
        "repeated statements must not re-open a schema-resolution connection")
    } finally r.execute("DROP SERVER lazy_srv")
    assert(spark.sql("SELECT * FROM information_schema_foreign_tables " +
      "WHERE foreign_table_name = 'remote_orders'").count() == 0)
    assert(spark.sql("SELECT * FROM information_schema_user_mappings").count() == 0)
  }
}

class BucketingSpec extends SparkTestBase {
  import org.apache.spark.sql.functions._
  import graft.sources.Bucketing

  test("bucketed tables join without a shuffle") {
    val orders = Tables.load(spark, sfDir, "orders")
    val customer = Tables.load(spark, sfDir, "customer")
    Bucketing.writeBucketed(orders, "orders_b", 8, Seq("o_custkey"))
    Bucketing.writeBucketed(customer.withColumnRenamed("c_custkey", "o_custkey"),
      "customer_b", 8, Seq("o_custkey"))
    // disable broadcast so the join would otherwise shuffle both sides
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = Bucketing.table(spark, "orders_b")
        .join(Bucketing.table(spark, "customer_b"), Seq("o_custkey"))
      assert(joined.count() > 0)
      assert(Bucketing.isShuffleFree(joined))
      // same join on unbucketed tables DOES shuffle — the negative control
      val plain = orders.join(
        customer.withColumnRenamed("c_custkey", "o_custkey"), Seq("o_custkey"))
      assert(!Bucketing.isShuffleFree(plain))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
  }
}

class DynamicObjectsSpec extends SparkTestBase {
  import org.apache.spark.sql.functions._
  import graft.sources.DynamicObjects
  import spark.implicits._

  test("dynamic object columns: schema widens across writes (mergeSchema)") {
    val dir = graft.ArtifactStore.scratchDir("dyn").toFile.getAbsolutePath + "/t"
    val v1 = Seq((1L, "a")).toDF("id", "name")
      .withColumn("obj", struct(lit(1).as("x")))
    DynamicObjects.appendDynamic(v1, dir)
    val v2 = Seq((2L, "b")).toDF("id", "name")
      .withColumn("obj", struct(lit(2).as("x"), lit("extra").as("y")))
    DynamicObjects.appendDynamic(v2, dir)
    val merged = DynamicObjects.readDynamic(spark, dir)
    assert(merged.select("obj.y").collect().map(_.getString(0)).toSet == Set(null, "extra"))
  }

  test("ignored-policy subscript over raw JSON (events.props)") {
    val events = Tables.load(spark, sfDir, "events")
    val k = events.select(DynamicObjects.objectSubscript(col("props"), "k").cast("long").as("k"))
    assert(k.filter(col("k").isNotNull).count() > 0)
    val typed = events.select(DynamicObjects.parseObject(col("props"),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.LongType)))).as("o"))
    assert(typed.select("o.k").filter(col("k").isNotNull).count() > 0)
  }
}

class CursorSpec extends SparkTestBase {
  test("DECLARE/FETCH/CLOSE drains pages lazily") {
    val df = Tables.load(spark, sfDir, "orders")
      .orderBy(col("o_orderkey")).select("o_orderkey")
    val c = Cursor.declare(df)
    val p1 = c.fetch(10)
    val p2 = c.fetch(10)
    assert(p1.size == 10 && p2.size == 10)
    assert(p1.map(_.getLong(0)).max < p2.map(_.getLong(0)).min)
    assert(c.hasMore)
    c.close()
    intercept[IllegalArgumentException](c.fetch(1))
  }
}

class StatsSpec extends SparkTestBase {
  test("ANALYZE TABLE feeds CBO row counts (reference TableStatsService analogue)") {
    spark.conf.set("spark.sql.cbo.enabled", "true")
    Tables.load(spark, sfDir, "nation").write.mode("overwrite").saveAsTable("nation_t")
    spark.sql("ANALYZE TABLE nation_t COMPUTE STATISTICS FOR ALL COLUMNS")
    val stats = spark.table("nation_t").queryExecution.optimizedPlan.stats
    assert(stats.rowCount.exists(_.toLong == 25L))
    assert(stats.attributeStats.nonEmpty)
  }

  test("dynamic partition pruning fires on a partitioned fact join") {
    val dir = graft.ArtifactStore.scratchDir("dpp").toFile.getAbsolutePath + "/t"
    val orders = Tables.load(spark, sfDir, "orders").withColumn("o_year", year(col("o_orderdate")))
    VersionedTable.setPartitionSpec(spark, dir,
      VersionedTable.PartitionSpec(Seq("o_year"), orders.schema.toDDL))
    VersionedTable.commit(spark, dir, orders)
    import spark.implicits._
    val dim = Seq((1996, "pick")).toDF("o_year", "tag")
    spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled", "true")
    val joined = VersionedTable.read(spark, dir)
      .join(dim, Seq("o_year")).filter(col("tag") === "pick")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning") || plan.contains("PartitionFilters: [isnotnull(o_year"))
  }
}

class MaintenanceSpec extends SparkTestBase {
  test("OPTIMIZE compacts many small files into few") {
    val root = graft.ArtifactStore.scratchDir("opt").toFile.getAbsolutePath
    val path = s"$root/t"
    val orders = Tables.load(spark, sfDir, "orders")
    // a writer capped at few records per file leaves many small files
    val cap = "spark.sql.files.maxRecordsPerFile"
    spark.conf.set(cap, math.max(1L, orders.count() / 24).toString)
    try VersionedTable.commit(spark, path, orders) finally spark.conf.unset(cap)
    def nFiles = {
      val v = VersionedTable.latestVersion(spark, path).get
      VersionedTable.manifestEntries(spark, path, v)
        .flatMap(d => new java.io.File(d).listFiles())
        .count(_.getName.endsWith(".parquet"))
    }
    assert(nFiles >= 24)
    val before = VersionedTable.read(spark, path).count()
    new StatementRouter(spark, root).execute("OPTIMIZE TABLE t")
    assert(nFiles <= 4)
    assert(VersionedTable.read(spark, path).count() == before)
  }

  test("EXPLAIN returns a plan; EXPLAIN ANALYZE embeds runtime shape") {
    val df = Tables.load(spark, sfDir, "nation").filter(col("n_nationkey") > 3)
    val plain = Maintenance.explain(df)
    assert(plain.contains("Physical Plan"))
    val analyzed = Maintenance.explain(df, analyze = true)
    assert(analyzed.contains("PushedFilters"))
  }
}

class SysCatalogSpec extends SparkTestBase {
  test("sys views register and report sane runtime facts") {
    graft.sources.SysCatalog.registerAll(spark, sfDir)
    val cl = spark.sql("SELECT * FROM sys_cluster").collect()
    assert(cl.length == 1 && cl(0).getString(2).startsWith("local["))
    assert(spark.sql("SELECT * FROM sys_nodes").count() >= 1)
    val sh = spark.sql(
      "SELECT table_name, count(*) AS n, sum(size) AS bytes FROM sys_shards GROUP BY table_name")
    assert(sh.count() == graft.Tables.names.length)
    assert(sh.filter(col("bytes") <= 0).count() == 0)
    val health = spark.sql("SELECT * FROM sys_health WHERE health <> 'GREEN'")
    assert(health.count() == 0)
    // all configured checks pass on the test session
    assert(spark.sql("SELECT * FROM sys_checks WHERE NOT passed").count() == 0)
    // sys.jobs is point-in-time; between queries it is empty but must parse
    assert(spark.sql("SELECT * FROM sys_jobs").columns.sameElements(
      Array("id", "status", "stages")))
  }

  test("dialect resolves sys.* and information_schema.* qualifiers") {
    graft.sources.SysCatalog.registerAll(spark, sfDir)
    val n = spark.sql(graft.Dialect.translate(
      "SELECT table_name FROM sys.shards GROUP BY table_name")).count()
    assert(n == graft.Tables.names.length)
  }

  test("sys.operations_log records completed stages with real metrics") {
    graft.sources.SysCatalog.installListener(spark)
    // a shuffle query → at least two stages complete under the listener
    Tables.registerAll(spark, sfDir)
    spark.sql("SELECT c_nationkey, count(*) FROM customer GROUP BY c_nationkey")
      .collect()
    // listener events are async; poll for the ring to fill
    var tries = 0
    while (graft.sources.SysCatalog.operationsLog(spark).count() < 2 && tries < 50) {
      Thread.sleep(100); tries += 1
    }
    graft.sources.SysCatalog.registerAll(spark, sfDir)
    val ops = spark.sql(
      "SELECT * FROM sys_operations_log WHERE ended >= started AND error IS NULL")
    assert(ops.count() >= 2)
    // point-in-time view parses; idle between queries
    assert(spark.sql("SELECT * FROM sys_operations").columns.length == 5)
  }

  test("sys.jobs_metrics aggregates the statement ring by classification") {
    Engine.sql(spark, "SELECT 1").collect()
    graft.sources.SysCatalog.registerAll(spark, sfDir)
    val m = spark.sql(
      """SELECT total_count, failed_count, min_duration_ms, max_duration_ms
         FROM sys_jobs_metrics WHERE classification = 'SELECT'""").collect()
    assert(m.length == 1 && m(0).getLong(0) >= 1
      && m(0).getLong(2) <= m(0).getLong(3))
    assert(spark.sql("SELECT * FROM sys_sessions").count() == 1)
  }

  test("sys.snapshots lists committed versions of versioned tables") {
    val root = graft.ArtifactStore.scratchDir("graftsnap").toFile.getAbsolutePath
    val r = new StatementRouter(spark, root)
    r.execute("CREATE TABLE snapt (id BIGINT PRIMARY KEY)")
    r.execute("INSERT INTO snapt (id) VALUES (1)")
    r.execute("INSERT INTO snapt (id) VALUES (2)")
    val snaps = graft.sources.SysCatalog.snapshots(spark, root)
      .filter("table_name = 'snapt' AND state = 'SUCCESS'")
    assert(snaps.count() >= 2)
  }
}

/** The porting story end-to-end: one router, every statement class a
  * CrateDB client sends, against versioned-parquet storage with atomic
  * commits. Each step asserts both the result AND the durable state. */
class PgCatalogSpec extends SparkTestBase {
  test("pg_catalog compat core: class/attribute/type join, dialect qualifier strip") {
    Tables.registerAll(spark, sfDir)
    graft.functions.GraftFunctions.registerAll(spark)
    PgCatalog.registerAll(spark)
    // the probe a Postgres client sends on connect: columns of a relation
    // with their type names, through the pg_catalog.* qualified spelling
    val cols = Engine.sql(spark,
      """SELECT a.attname, t.typname
         FROM pg_catalog.pg_attribute a
         JOIN pg_catalog.pg_class c ON a.attrelid = c.oid
         JOIN pg_catalog.pg_type t ON a.atttypid = t.oid
         WHERE c.relname = 'orders' ORDER BY a.attnum""").collect()
    assert(cols.map(_.getString(0)).contains("o_orderkey"))
    assert(cols.find(_.getString(0) == "o_orderkey").get.getString(1) == "int8")
    assert(cols.find(_.getString(0) == "o_totalprice").get.getString(1) == "float8")
    // settings + database + namespace views answer
    assert(Engine.sql(spark,
      "SELECT setting FROM pg_settings WHERE name = 'spark.sql.shuffle.partitions'")
      .head().getString(0) == "4")
    assert(Engine.sql(spark, "SELECT datname FROM pg_database").head().getString(0) == "graft")
    assert(Engine.sql(spark,
      "SELECT nspname FROM pg_catalog.pg_namespace WHERE oid = 11").head().getString(0) == "pg_catalog")
    // privilege shims fold TRUE at any arity; pg_backend_pid is the
    // reference's CONSTANT -1 (no per-connection backend process)
    val p = Engine.sql(spark,
      "SELECT has_table_privilege('orders', 'SELECT') AS a, " +
      "has_schema_privilege('u', 'doc', 'USAGE') AS b, pg_backend_pid() AS pid").head()
    assert(p.getBoolean(0) && p.getBoolean(1) && p.getInt(2) == -1)
  }

  test("full 31-relation breadth: PK index/constraint rows, roles, cursors, empties") {
    Tables.registerAll(spark, sfDir)
    PgCatalog.registerAll(spark)
    // every relation the reference ships answers SELECT
    val all = Seq("pg_type", "pg_namespace", "pg_class", "pg_attribute",
      "pg_proc", "pg_database", "pg_settings", "pg_tables", "pg_views",
      "pg_index", "pg_constraint", "pg_roles", "pg_user", "pg_auth_members",
      "pg_cursors", "pg_stats", "pg_attrdef", "pg_description",
      "pg_shdescription", "pg_enum", "pg_range", "pg_am", "pg_tablespace",
      "pg_indexes", "pg_locks", "pg_event_trigger", "pg_depend",
      "pg_matviews", "pg_publication", "pg_publication_tables",
      "pg_subscription", "pg_subscription_rel")
    assert(all.size == 31 + 1) // 31 reference relations + pg_user view
    all.foreach(v => spark.sql(s"SELECT * FROM $v").collect())
    // composite PK: conkey/indkey carry the member attnums in PK order
    val li = spark.sql(
      """SELECT c.conkey, i.indkey, i.indnkeyatts FROM pg_constraint c
         JOIN pg_index i ON i.indexrelid = c.oid
         WHERE c.conname = 'lineitem_pkey'""").head()
    assert(li.getSeq[Short](0) == Seq(1.toShort, 4.toShort))
    assert(li.getSeq[Int](1) == Seq(1, 4))
    assert(li.getShort(2) == 2)
    // one superuser, no grants
    assert(spark.sql("SELECT rolsuper FROM pg_roles").collect().map(_.getBoolean(0)).toSeq == Seq(true))
    assert(spark.table("pg_auth_members").isEmpty)
    // named cursors appear while open and vanish on CLOSE
    val cur = Cursor.declare("c_test", "SELECT * FROM orders", spark.table("orders"))
    PgCatalog.registerAll(spark) // snapshot views — re-register to refresh
    val listed = spark.sql("SELECT name, statement FROM pg_cursors").collect()
    assert(listed.exists(r => r.getString(0) == "c_test" &&
      r.getString(1) == "SELECT * FROM orders"))
    cur.close()
    PgCatalog.registerAll(spark)
    assert(spark.table("pg_cursors").isEmpty)
    // pg_stats: empty without ANALYZEd column stats, schema answers the
    // reference's full 14-column shape (PgStatsTable.java — incl. the
    // most_common_vals/freqs + histogram_bounds trio)
    assert(spark.table("pg_stats").columns.length == 14)
    assert(spark.table("pg_stats").columns.contains("most_common_vals"))
  }
}

class AnalyzerDdlSpec extends SparkTestBase {
  import graft.operators.MatchText.Analyzer

  test("CREATE ANALYZER: tokenizer + token filters + char filters (reference doctest)") {
    val root = graft.ArtifactStore.scratchDir("graftan").toFile.getAbsolutePath
    val r = new StatementRouter(spark, root)
    // docs/general/ddl/fulltext-indices.rst "Creating a custom analyzer"
    r.execute("""CREATE ANALYZER myanalyzer (
                |  TOKENIZER whitespace,
                |  TOKEN_FILTERS (lowercase, kstem),
                |  CHAR_FILTERS (html_strip)
                |)""".stripMargin)
    val a = Analyzer.byName("myanalyzer")
    assert(a.tokens("<b>Motoring</b> Cars") == Seq("motor", "car"))
    // the customized variant: mapping char filter with explicit options
    r.execute("""create ANALYZER myanalyzer_customized (
                |  TOKENIZER whitespace,
                |  TOKEN_FILTERS (lowercase, kstem),
                |  CHAR_FILTERS (
                |    mymapping WITH (
                |      type='mapping',
                |      mappings = ['ph=>f', 'qu=>q', 'foo=>bar']
                |    )
                |  )
                |)""".stripMargin)
    val c = Analyzer.byName("myanalyzer_customized")
    assert(c.tokens("phone quit foo") == Seq("fone", "qit", "bar"))
    // column-side chain agrees with the driver-side chain
    import spark.implicits._
    val got = Seq("<i>Phones</i> quoting").toDF("t")
      .select(c(col("t"))).head().getSeq[String](0)
    assert(got == c.tokens("<i>Phones</i> quoting"))
    // stop + length filters with options
    r.execute("""CREATE ANALYZER short_no_stop (
                |  TOKENIZER standard,
                |  TOKEN_FILTERS (lowercase, stop, length WITH (min = 3, max = 6))
                |)""".stripMargin)
    val s = Analyzer.byName("short_no_stop")
    assert(s.tokens("The quick brownest ox ran") == Seq("quick", "ran"))
    r.execute("DROP ANALYZER short_no_stop")
    assert(!Analyzer.exists("short_no_stop"))
  }

  test("CREATE ANALYZER EXTENDS snowball (reference german_snowball doctest shape)") {
    val root = graft.ArtifactStore.scratchDir("graftan2").toFile.getAbsolutePath
    val r = new StatementRouter(spark, root)
    r.execute("create ANALYZER english_snowball extends snowball WITH (language = 'english')")
    val a = Analyzer.byName("english_snowball")
    assert(a.tokens("the generalizations of oscillators") == Seq("gener", "oscil"))
    // German snowball resolves to the light German chain (stop + fold + stem)
    r.execute("create ANALYZER german_snowball extends snowball WITH (language = 'german')")
    assert(Analyzer.byName("german_snowball").tokens("die Häuser") == Seq("haus"))
    // wave-4 languages are valid snowball bases now (turkish light rules)
    r.execute("create ANALYZER turkish_snowball extends snowball WITH (language = 'turkish')")
    assert(Analyzer.byName("turkish_snowball").tokens("kitapları ve evler") ==
      Seq("kitap", "ev"))
    // an unshipped snowball language is an explicit error, not silence
    val e = intercept[Exception](
      r.execute("create ANALYZER g extends snowball WITH (language = 'klingon')"))
    assert(e.getMessage.contains("unsupported"))
    // keyword tokenizer: the whole value is one token (plain-index analog)
    r.execute("CREATE ANALYZER kw (TOKENIZER keyword)")
    assert(Analyzer.byName("kw").tokens("Exact Phrase Here") == Seq("Exact Phrase Here"))
  }

  test("token filters: asciifolding, edge_ngram, shingle (builtin-token-filters)") {
    val root = graft.ArtifactStore.scratchDir("graftan3").toFile.getAbsolutePath
    val r = new StatementRouter(spark, root)
    r.execute("""CREATE ANALYZER folded (
        TOKENIZER standard, TOKEN_FILTERS (lowercase, asciifolding))""")
    assert(Analyzer.byName("folded").tokens("Crème Brûlée straße")
      == Seq("creme", "brulee", "strasse"))
    // edge n-grams: the autocomplete prefixes, min..max per token
    r.execute("""CREATE ANALYZER prefixes (
        TOKENIZER standard,
        TOKEN_FILTERS (lowercase, edge_ngram WITH (min_gram = 2, max_gram = 4)))""")
    assert(Analyzer.byName("prefixes").tokens("spark sq")
      == Seq("sp", "spa", "spar", "sq"))
    // shingles: originals plus joined 2-windows
    r.execute("""CREATE ANALYZER bigrams (
        TOKENIZER standard, TOKEN_FILTERS (lowercase, shingle))""")
    assert(Analyzer.byName("bigrams").tokens("new york city")
      == Seq("new", "york", "city", "new york", "york city"))
    // the Column path agrees with the driver path for all three
    import spark.implicits._
    Seq(("Crème Brûlée straße", "folded"), ("spark sq", "prefixes"),
        ("new york city", "bigrams")).foreach { case (txt, an) =>
      val got = Seq(txt).toDF("t")
        .select(Analyzer.byName(an)(org.apache.spark.sql.functions.col("t")))
        .head().getSeq[String](0)
      assert(got == Analyzer.byName(an).tokens(txt), s"$an Column/driver drift")
    }
  }
}

class StatementRouterSpec extends SparkTestBase {

  test("SET/RESET, SHOW CREATE TABLE, and the sys.jobs_log trail") {
    val root = graft.ArtifactStore.scratchDir("graftset").toFile.getAbsolutePath
    val r = new StatementRouter(spark, root)

    // SET with scope modifiers collapses onto the session conf,
    // readable back through current_setting()
    r.execute("SET SESSION graft.answer = '42'")
    r.execute("SET GLOBAL TRANSIENT graft.mode TO fast")
    graft.functions.GraftFunctions.registerAll(spark)
    val vals = r.execute(
      "SELECT current_setting('graft.answer') AS a, current_setting('graft.mode') AS m").head()
    assert(vals.getString(0) == "42" && vals.getString(1) == "fast")
    r.execute("RESET graft.answer")
    assert(r.execute("SELECT current_setting('graft.answer', true) AS a").head().isNullAt(0))

    // INSERT … RETURNING in all three shapes (reference dml.rst)
    r.execute("CREATE TABLE insret (id BIGINT PRIMARY KEY, v TEXT)")
    val plain = r.execute(
      "INSERT INTO insret (id, v) VALUES (1, 'a'), (2, 'b') RETURNING id, v")
    assert(plain.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
    val nothing = r.execute(
      "INSERT INTO insret (id, v) VALUES (2, 'dup'), (3, 'c') " +
        "ON CONFLICT (id) DO NOTHING RETURNING id")
    assert(nothing.collect().map(_.getLong(0)).toSeq == Seq(3L))
    val merged = r.execute(
      "INSERT INTO insret (id, v) VALUES (3, 'c2'), (4, 'd') " +
        "ON CONFLICT (id) DO UPDATE SET v = excluded.v RETURNING id, v")
    assert(merged.collect().map(x => (x.getLong(0), x.getString(1))).sortBy(_._1).toSeq
      == Seq((3L, "c2"), (4L, "d")))

    // SHOW <setting> / SHOW ALL (docs/sql/statements/show.rst): one column
    // named after the parameter; ALL is the (name, setting) settings table
    val shown = r.execute("SHOW graft.mode")
    assert(shown.columns.toSeq == Seq("graft.mode"))
    assert(shown.head().getString(0) == "fast")
    val all = r.execute("SHOW ALL")
    assert(all.columns.toSeq == Seq("name", "setting"))
    assert(all.filter("name = 'graft.mode' AND setting = 'fast'").count() == 1)
    intercept[Exception](r.execute("SHOW graft.never_set_xyz"))

    // SHOW CREATE TABLE reconstructs columns + bucket spec from the snapshot
    r.execute("CREATE TABLE sct (id BIGINT PRIMARY KEY, name TEXT, score DOUBLE) " +
      "CLUSTERED BY (id) INTO 4 SHARDS")
    val ddl = r.execute("SHOW CREATE TABLE sct").head().getString(0)
    assert(ddl.contains("CREATE TABLE IF NOT EXISTS sct"), ddl)
    assert(ddl.contains("id BIGINT") && ddl.contains("name TEXT") &&
      ddl.contains("score DOUBLE PRECISION"), ddl)
    assert(ddl.contains("CLUSTERED BY (id) INTO 4 SHARDS"), ddl)

    // every routed statement (and its failure) lands in sys.jobs_log
    intercept[Exception](r.execute("INSERT INTO missing_table VALUES (1)"))
    SysCatalog.registerAll(spark, root)
    val log = spark.sql(
      """SELECT classification, error FROM sys_jobs_log
         WHERE stmt LIKE '%sct%' OR stmt LIKE '%missing_table%'
         ORDER BY id""").collect()
    assert(log.exists(x => x.getString(0) == "CREATE" && x.isNullAt(1)))
    assert(log.exists(x => x.getString(0) == "SHOW" && x.isNullAt(1)))
    assert(log.exists(x => x.getString(0) == "INSERT" && !x.isNullAt(1)),
      "failed statement must be recorded with its error")

    // exactly-once recording: routed fallthrough statements (SHOW, failing
    // INSERT) must not be double-logged by router AND engine layers
    val counts = spark.sql(
      """SELECT stmt, count(*) AS n FROM sys_jobs_log
         WHERE stmt LIKE '%sct%' OR stmt LIKE '%missing_table%'
         GROUP BY stmt HAVING count(*) > 1""").collect()
    assert(counts.isEmpty, s"statements logged more than once: ${counts.mkString(", ")}")
  }

  test("fulltext INDEX DDL: parsed, analyzer-validated, durable, rendered back") {
    val root = graft.ArtifactStore.scratchDir("graftftix").toFile.getAbsolutePath
    val r = new StatementRouter(spark, root)

    // table-level composite index + column-level index, reference
    // docs/general/ddl/fulltext-indices.rst shapes
    r.execute("""CREATE TABLE docs (
        id BIGINT PRIMARY KEY,
        title TEXT INDEX USING FULLTEXT WITH (analyzer = 'english'),
        body TEXT,
        summary TEXT,
        INDEX body_ft USING FULLTEXT (body, summary) WITH (analyzer = 'standard')
      )""")
    val specs = VersionedTable.indexSpecs(spark, s"$root/docs")
    assert(specs == Seq(
      VersionedTable.IndexSpec("title", Seq("title"), "english"),
      VersionedTable.IndexSpec("body_ft", Seq("body", "summary"), "standard")), specs)

    // SHOW CREATE TABLE reproduces the clauses (MetadataToASTVisitor parity)
    val ddl = r.execute("SHOW CREATE TABLE docs").head().getString(0)
    assert(ddl.contains("INDEX title USING FULLTEXT (title) WITH (analyzer = 'english')"), ddl)
    assert(ddl.contains("INDEX body_ft USING FULLTEXT (body, summary) WITH (analyzer = 'standard')"), ddl)

    // default analyzer is standard; INDEX OFF / USING PLAIN carry no spec
    r.execute("CREATE TABLE d2 (a TEXT INDEX USING FULLTEXT, b TEXT INDEX OFF, " +
      "INDEX ab USING FULLTEXT (a))")
    assert(VersionedTable.indexSpecs(spark, s"$root/d2") == Seq(
      VersionedTable.IndexSpec("a", Seq("a"), "standard"),
      VersionedTable.IndexSpec("ab", Seq("a"), "standard")))

    // CREATE-time validation, like the reference's analyzer resolution
    val e = intercept[Exception](
      r.execute("CREATE TABLE bad (t TEXT INDEX USING FULLTEXT WITH (analyzer = 'nope'))"))
    assert(e.getMessage.contains("unknown analyzer"), e.getMessage)
    assert(VersionedTable.latestVersion(spark, s"$root/bad").isEmpty,
      "failed CREATE must not leave a table version")

    // the declared analyzer drives a real index build (Analyzer.byName)
    r.execute("INSERT INTO docs (id, title, body, summary) VALUES " +
      "(1, 'The Running Dogs', 'dogs run fast', 'dogs'), " +
      "(2, 'Cats Sleeping', 'cats sleep all day', 'cats')")
    val spec = VersionedTable.indexSpecs(spark, s"$root/docs").head
    val ix = graft.operators.MatchText.buildIndex(
      VersionedTable.read(spark, s"$root/docs"), "id", spec.cols.head,
      graft.operators.MatchText.Analyzer.byName(spec.analyzer))
    // 'english' s-stems "dogs"→"dog": the singular query term hits doc 1
    val hits = graft.operators.MatchText.searchBM25(ix, "dog").collect()
    assert(hits.map(_.getLong(0)).contains(1L), hits.mkString(", "))

    // SQL MATCH resolves the column's declared analyzer: 'dog' only hits
    // once "dogs" is s-stemmed by the english analyzer (default match_text
    // would miss), and stopwords in the query are dropped
    val m1 = r.execute("SELECT id FROM docs WHERE MATCH(title, 'the dog')").collect()
    assert(m1.map(_.getLong(0)).toSeq == Seq(1L), m1.mkString(", "))

    // a named composite index is MATCHable by name: body_ft covers
    // (body, summary) — 'cats' occurs in doc 2's body only
    val m2 = r.execute("SELECT id FROM docs WHERE MATCH(body_ft, 'cats')").collect()
    assert(m2.map(_.getLong(0)).toSeq == Seq(2L), m2.mkString(", "))

    // undeclared targets keep the default-analyzer path
    val m3 = r.execute("SELECT id FROM docs WHERE MATCH(body, 'sleep')").collect()
    assert(m3.map(_.getLong(0)).toSeq == Seq(2L), m3.mkString(", "))
  }

  test("ALTER TABLE: add/drop/rename column, rename table, settings; SHOW statements") {
    val root = graft.ArtifactStore.scratchDir("graftalter").toFile.getAbsolutePath
    val r = new StatementRouter(spark, root)
    r.execute("CREATE TABLE at (id BIGINT PRIMARY KEY, name TEXT)")
    r.execute("INSERT INTO at (id, name) VALUES (1, 'a'), (2, 'b')")

    // ADD COLUMN with a CrateDB type through the full DDL type mapping
    r.execute("ALTER TABLE at ADD COLUMN score DOUBLE PRECISION")
    r.execute("ALTER TABLE at ADD COLUMN tags ARRAY(TEXT)")
    val schema = r.execute("SELECT * FROM at").schema
    assert(schema.fieldNames.toSeq == Seq("id", "name", "score", "tags"))
    assert(r.execute("SELECT count(*) AS n FROM at WHERE score IS NULL")
      .head().getLong(0) == 2, "existing rows backfill with nulls")

    // adding an existing column fails; data survives the schema versions
    intercept[Exception](r.execute("ALTER TABLE at ADD COLUMN name TEXT"))
    r.execute("UPDATE at SET score = id * 1.5")

    // RENAME COLUMN
    r.execute("ALTER TABLE at RENAME COLUMN score TO points")
    assert(r.execute("SELECT sum(points) AS s FROM at").head().getDouble(0) == 4.5)

    // DROP COLUMN (+ IF EXISTS)
    r.execute("ALTER TABLE at DROP COLUMN tags")
    r.execute("ALTER TABLE at DROP COLUMN IF EXISTS nope")
    intercept[Exception](r.execute("ALTER TABLE at DROP COLUMN nope"))
    assert(r.execute("SELECT * FROM at").schema.fieldNames.toSeq ==
      Seq("id", "name", "points"))

    // settings persist and render in SHOW CREATE TABLE
    r.execute("ALTER TABLE at SET (refresh_interval = 2000)")
    val ddl = r.execute("SHOW CREATE TABLE at").head().getString(0)
    assert(ddl.contains("\"refresh_interval\" = '2000'"), ddl)
    r.execute("ALTER TABLE at RESET (refresh_interval)")
    val ddl2 = r.execute("SHOW CREATE TABLE at").head().getString(0)
    assert(!ddl2.contains("refresh_interval"), ddl2)

    // RENAME TO moves the whole versioned table
    r.execute("ALTER TABLE at RENAME TO at2")
    assert(r.execute("SELECT count(*) AS n FROM at2").head().getLong(0) == 2)
    assert(VersionedTable.latestVersion(spark, s"$root/at").isEmpty)

    // SHOW statements answer in the reference's shapes
    r.execute("CREATE TABLE btab (x BIGINT)")
    val tabs = r.execute("SHOW TABLES").collect().map(_.getString(0)).toSeq
    assert(tabs == Seq("at2", "btab"), tabs)
    assert(r.execute("SHOW TABLES LIKE 'a%'").collect().map(_.getString(0)).toSeq == Seq("at2"))
    assert(r.execute("SHOW TABLES FROM sys").count() == 0)
    val schemas = r.execute("SHOW SCHEMAS").collect().map(_.getString(0)).toSeq
    assert(schemas == Seq("doc", "information_schema", "pg_catalog", "sys"))
    val cols = r.execute("SHOW COLUMNS FROM at2").collect()
      .map(x => (x.getString(0), x.getString(1))).toSeq
    assert(cols == Seq(("id", "bigint"), ("name", "text"),
      ("points", "double precision")), cols)
  }

  test("CREATE/DROP VIEW: durable text, re-analyzed per use, view-on-view") {
    val root = graft.ArtifactStore.scratchDir("graftview").toFile.getAbsolutePath
    val r = new StatementRouter(spark, root)
    r.execute("CREATE TABLE vt (id BIGINT, amt DOUBLE)")
    r.execute("INSERT INTO vt (id, amt) VALUES (1, 10.0), (2, 20.0), (3, 30.0)")

    // dialect constructs work inside the view text
    r.execute("CREATE VIEW big AS SELECT id, amt FROM vt WHERE amt >= 20.0")
    assert(r.execute("SELECT count(*) AS n FROM big").head().getLong(0) == 2)

    // a view tracks the CURRENT snapshot, not the one at CREATE time
    r.execute("INSERT INTO vt (id, amt) VALUES (4, 40.0)")
    assert(r.execute("SELECT count(*) AS n FROM big").head().getLong(0) == 3)

    // view-on-view resolves through the fixpoint registration
    r.execute("CREATE VIEW big2 AS SELECT sum(amt) AS total FROM big")
    assert(r.execute("SELECT total FROM big2").head().getDouble(0) == 90.0)

    // CREATE-time analysis: a broken query fails NOW and stores nothing
    intercept[Exception](r.execute("CREATE VIEW broken AS SELECT nope FROM vt"))
    intercept[Exception](r.execute("SELECT * FROM broken"))

    // name collisions both ways; OR REPLACE swaps the definition
    intercept[Exception](r.execute("CREATE VIEW vt AS SELECT 1 AS x"))
    intercept[Exception](r.execute("CREATE TABLE big (x BIGINT)"))
    r.execute("CREATE OR REPLACE VIEW big AS SELECT id FROM vt WHERE amt < 20.0")
    assert(r.execute("SELECT count(*) AS n FROM big").head().getLong(0) == 1)

    // a second router over the same root sees the stored views (durability)
    val r2 = new StatementRouter(spark, root)
    assert(r2.execute("SELECT count(*) AS n FROM big").head().getLong(0) == 1)

    // DROP VIEW [IF EXISTS]
    r.execute("DROP VIEW big2")
    r.execute("DROP VIEW IF EXISTS big2")
    intercept[Exception](r.execute("DROP VIEW big2"))
  }

  test("maintenance verbs: REFRESH, OPTIMIZE as new version, ANALYZE, KILL") {
    val root = graft.ArtifactStore.scratchDir("graftmaint").toFile.getAbsolutePath
    val r = new StatementRouter(spark, root)
    r.execute("CREATE TABLE mt (id BIGINT, v TEXT)")
    // many small inserts → many versions; OPTIMIZE compacts into the next one
    (1 to 5).foreach(i => r.execute(s"INSERT INTO mt (id, v) VALUES ($i, 'x$i')"))
    val before = VersionedTable.latestVersion(spark, s"$root/mt").get
    r.execute("OPTIMIZE TABLE mt")
    assert(VersionedTable.latestVersion(spark, s"$root/mt").contains(before + 1),
      "OPTIMIZE commits a new version, never rewrites in place")
    assert(r.execute("SELECT count(*) AS n FROM mt").head().getLong(0) == 5)
    // the pre-OPTIMIZE version is still readable (time travel unbroken)
    assert(VersionedTable.readVersion(spark, s"$root/mt", before).count() == 5)

    assert(r.execute("REFRESH TABLE mt").head().getLong(0) == 1)
    intercept[Exception](r.execute("REFRESH TABLE missing"))
    assert(r.execute("ANALYZE").head().getLong(0) == 1)

    // KILL interrupts a tagged statement running in another thread
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val started = new java.util.concurrent.CountDownLatch(1)
    val victim = Future {
      // the sleep runs inside a task; interruptOnCancel reaches it
      val df = r.execute("SELECT pg_sleep(30.0) AS z")
      started.countDown()
      df.collect()
    }
    started.await(10, java.util.concurrent.TimeUnit.SECONDS)
    Thread.sleep(500) // let the task actually start sleeping
    r.execute("KILL ALL")
    val failed = scala.util.Try(Await.result(victim, 20.seconds))
    assert(failed.isFailure, "KILL ALL must cancel the in-flight statement")
  }

  test("ANALYZE samples the MCV pass above the cap; frequencies stay scaled") {
    val root = graft.ArtifactStore.scratchDir("graftmcv").toFile.getAbsolutePath
    val r = new StatementRouter(spark, root)
    r.execute("CREATE TABLE mcvt (k BIGINT, v TEXT)")
    // 2000 rows, 90% 'common' / 10% 'rare-<k>' — the top value's true
    // frequency is 0.9, recoverable from any uniform sample
    r.execute("""INSERT INTO mcvt
      SELECT s.v, CASE WHEN s.v % 10 < 9 THEN 'common'
                       ELSE 'rare' || s.v END
      FROM (SELECT explode(sequence(1, 2000)) AS v) s""")
    spark.conf.set("graft.analyze.mcv_sample_cap", "500")
    try {
      r.execute("ANALYZE")
      val st = graft.sources.PgCatalog.analyzedStats.get(("mcvt", "v"))
      // the sketch ran on ~500 of 2000 rows but the top value and its
      // scaled frequency must still be right
      assert(st.mostCommonVals.headOption.contains("common"))
      assert(math.abs(st.mostCommonFreqs.head - 0.9f) < 0.08f,
        s"sampled top frequency ${st.mostCommonFreqs.head} should approximate 0.9")
      // exact stats (null_frac, n_distinct) come from the full pass
      val kst = graft.sources.PgCatalog.analyzedStats.get(("mcvt", "k"))
      assert(kst.nullFrac == 0f)
      assert(math.abs(kst.nDistinct - 2000f) / 2000f < 0.15f)
    } finally spark.conf.unset("graft.analyze.mcv_sample_cap")
  }

  test("full CrateDB client session: DDL, upserts, update/delete returning, select") {
    val root = graft.ArtifactStore.scratchDir("graftsql").toFile.getAbsolutePath
    val r = new StatementRouter(spark, root)

    // CrateDB DDL: text/timestamp types, translated
    r.execute("CREATE TABLE kv (k BIGINT PRIMARY KEY, v TEXT, ts TIMESTAMP)")
    assert(VersionedTable.latestVersion(spark, s"$root/kv").contains(1))
    r.execute("CREATE TABLE IF NOT EXISTS kv (k BIGINT, v TEXT, ts TIMESTAMP)") // no-op
    assert(VersionedTable.latestVersion(spark, s"$root/kv").contains(1))

    // INSERT VALUES with an explicit column list; ts backfills as null
    val ins = r.execute("INSERT INTO kv (k, v) VALUES (1, 'a'), (2, 'b')")
    assert(ins.head().getLong(0) == 2)
    assert(r.execute("SELECT count(*) AS n FROM kv").head().getLong(0) == 2)
    assert(r.execute("SELECT count(*) AS n FROM kv WHERE ts IS NULL").head().getLong(0) == 2)

    // ON CONFLICT DO NOTHING: existing key 2 keeps its value
    r.execute("INSERT INTO kv (k, v) VALUES (2, 'x'), (3, 'c') ON CONFLICT (k) DO NOTHING")
    val afterNothing = r.execute("SELECT v FROM kv WHERE k = 2")
    assert(afterNothing.head().getString(0) == "b")
    assert(r.execute("SELECT count(*) AS n FROM kv").head().getLong(0) == 3)

    // ON CONFLICT DO UPDATE SET with excluded.<col> reference
    r.execute("INSERT INTO kv (k, v) VALUES (2, 'x'), (4, 'd') " +
      "ON CONFLICT (k) DO UPDATE SET v = excluded.v || '!'")
    assert(r.execute("SELECT v FROM kv WHERE k = 2").head().getString(0) == "x!")
    assert(r.execute("SELECT v FROM kv WHERE k = 4").head().getString(0) == "d")
    assert(r.execute("SELECT count(*) AS n FROM kv").head().getLong(0) == 4)

    // UPDATE ... RETURNING with a dialect-translated expression
    val ret = r.execute("UPDATE kv SET v = upper(v) WHERE k <= 2 RETURNING k, v")
    assert(ret.collect().map(x => (x.getLong(0), x.getString(1))).sortBy(_._1).toSeq ==
      Seq((1L, "A"), (2L, "X!")))

    // DELETE with count result
    val del = r.execute("DELETE FROM kv WHERE k = 1")
    assert(del.head().getLong(0) == 1)
    assert(r.execute("SELECT count(*) AS n FROM kv").head().getLong(0) == 3)

    // INSERT INTO ... SELECT from another router table
    r.execute("CREATE TABLE kv2 (k BIGINT, v TEXT, ts TIMESTAMP)")
    r.execute("INSERT INTO kv2 SELECT k, v, ts FROM kv")
    assert(r.execute("SELECT count(*) AS n FROM kv2").head().getLong(0) == 3)

    // dialect constructs flow through every clause
    val casted = r.execute("SELECT (k::string || '-' || v) AS tag FROM kv ORDER BY k LIMIT 1")
    assert(casted.head().getString(0) == "2-X!")

    // every statement committed a full snapshot: time travel to v1 is empty
    assert(VersionedTable.readVersion(spark, s"$root/kv", 1).count() == 0)

    r.execute("DROP TABLE kv2")
    assert(VersionedTable.latestVersion(spark, s"$root/kv2").isEmpty)
  }
}

class StatementRouterCopySpec extends SparkTestBase {
  test("COPY FROM json appends a version; RETURN SUMMARY reports bad rows; COPY TO round-trips") {
    val root = graft.ArtifactStore.scratchDir("graftcopy").toFile.getAbsolutePath
    val r = new StatementRouter(spark, root)
    r.execute("CREATE TABLE imp (id BIGINT, name TEXT)")

    val src = graft.ArtifactStore.scratchDir("graftcopysrc").toFile.getAbsolutePath
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$src/a.json"),
      "{\"id\": 1, \"name\": \"x\"}\n{\"id\": 2, \"name\": \"y\"}\nnot json at all\n".getBytes)

    val n = r.execute(s"COPY imp FROM '$src/a.json'")
    assert(n.head().getLong(0) == 2)
    assert(r.execute("SELECT count(*) AS n FROM imp").head().getLong(0) == 2)

    val sum = r.execute(s"COPY imp FROM '$src/a.json' RETURN SUMMARY")
    assert(sum.columns.contains("error_count"))
    assert(sum.collect().map(_.getAs[Long]("error_count")).sum == 1)

    val out = graft.ArtifactStore.scratchDir("graftcopyout").toFile.getAbsolutePath + "/exp"
    val exported = r.execute(s"COPY imp TO DIRECTORY '$out' WITH (format = 'csv')")
    assert(exported.head().getLong(0) == 4) // two loads of the same file
    val back = spark.read.option("header", "true").csv(out)
    assert(back.count() == 4)

    val plan = r.execute("EXPLAIN SELECT count(*) FROM imp").head().getString(0)
    assert(plan.contains("Physical Plan"))
  }
}

class StatementScriptSpec extends SparkTestBase {
  test("multi-statement script: split is literal-safe, last result returned, each stmt durable") {
    val root = graft.ArtifactStore.scratchDir("graftscript").toFile.getAbsolutePath
    val r = new StatementRouter(spark, root)
    val out = r.executeScript(
      """CREATE TABLE s1 (k BIGINT, v TEXT);
        |INSERT INTO s1 (k, v) VALUES (1, 'a;b'), (2, 'c');
        |UPDATE s1 SET v = v || '!' WHERE k = 1;
        |SELECT k, v FROM s1 ORDER BY k""".stripMargin)
    assert(out.collect().map(x => (x.getLong(0), x.getString(1))).toSeq ==
      Seq((1L, "a;b!"), (2L, "c")))
    // three writes → three committed versions (create, insert, update)
    assert(VersionedTable.versions(spark, s"$root/s1") == Seq(1, 2, 3))
  }
}

class TransactionSpec extends SparkTestBase {
  test("BEGIN/COMMIT batches DML into one version per table; ROLLBACK discards; reads see own writes") {
    val root = graft.ArtifactStore.scratchDir("grafttxn").toFile.getAbsolutePath
    val r = new StatementRouter(spark, root)
    r.execute("CREATE TABLE tx (k BIGINT, v TEXT)")    // v1
    r.execute("INSERT INTO tx (k, v) VALUES (1, 'a')") // v2
    r.executeScript(
      """BEGIN;
        |INSERT INTO tx (k, v) VALUES (2, 'b');
        |UPDATE tx SET v = v || '!' WHERE k = 1;
        |INSERT INTO tx (k, v) VALUES (3, 'c');
        |COMMIT""".stripMargin)
    // three DML statements, ONE new committed version
    assert(VersionedTable.versions(spark, s"$root/tx") == Seq(1, 2, 3))
    assert(r.execute("SELECT count(*) AS n FROM tx").head().getLong(0) == 3)
    assert(r.execute("SELECT v FROM tx WHERE k = 1").head().getString(0) == "a!")

    // inside an open transaction: own writes visible through the router,
    // invisible to a direct committed-snapshot reader
    r.execute("BEGIN")
    r.execute("DELETE FROM tx WHERE k = 2")
    assert(r.execute("SELECT count(*) AS n FROM tx").head().getLong(0) == 2)
    assert(VersionedTable.read(spark, s"$root/tx").count() == 3)
    r.execute("ROLLBACK")
    assert(r.execute("SELECT count(*) AS n FROM tx").head().getLong(0) == 3)
    assert(VersionedTable.versions(spark, s"$root/tx") == Seq(1, 2, 3))

    // a transaction touching two tables commits one version on each
    r.execute("CREATE TABLE tx2 (k BIGINT, v TEXT)")
    r.executeScript(
      """START TRANSACTION;
        |INSERT INTO tx2 SELECT k, v FROM tx;
        |DELETE FROM tx WHERE k = 3;
        |COMMIT""".stripMargin)
    assert(VersionedTable.versions(spark, s"$root/tx") == Seq(1, 2, 3, 4))
    assert(VersionedTable.versions(spark, s"$root/tx2") == Seq(1, 2))
    assert(r.execute("SELECT count(*) AS n FROM tx2").head().getLong(0) == 3)
    assert(r.execute("SELECT count(*) AS n FROM tx").head().getLong(0) == 2)
  }
}

class VersionedBucketingSpec extends SparkTestBase {
  test("CLUSTERED BY INTO n SHARDS threads to bucketed versions; co-bucketed join shuffle-free across DML") {
    val root = graft.ArtifactStore.scratchDir("graftvbucket").toFile.getAbsolutePath
    val r = new StatementRouter(spark, root)
    r.execute("CREATE TABLE bta (k BIGINT, v TEXT) CLUSTERED BY (k) INTO 4 SHARDS")
    r.execute("CREATE TABLE btb (k BIGINT, w TEXT) CLUSTERED BY (k) INTO 4 SHARDS")
    r.execute("INSERT INTO bta (k, v) VALUES (1, 'a'), (2, 'b'), (3, 'c'), (4, 'd')")
    r.execute("INSERT INTO btb (k, w) VALUES (1, 'x'), (2, 'y')")

    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      r.registerViews()
      val joined = spark.table("bta").join(spark.table("btb"), "k")
      assert(joined.count() == 2)
      assert(Bucketing.isShuffleFree(joined),
        "co-bucketed versioned tables must join without a shuffle exchange")

      // bucketing survives DML: the new version is written bucketed too
      r.execute("UPDATE bta SET v = v || '!' WHERE k = 1")
      r.registerViews()
      val joined2 = spark.table("bta").join(spark.table("btb"), "k")
      assert(joined2.count() == 2)
      assert(Bucketing.isShuffleFree(joined2))
      assert(r.execute("SELECT v FROM bta WHERE k = 1").head().getString(0) == "a!")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

    // DROP cleans the catalog entries; re-creating the table works
    r.execute("DROP TABLE bta")
    r.execute("CREATE TABLE bta (k BIGINT, v TEXT) CLUSTERED BY (k) INTO 4 SHARDS")
    assert(r.execute("SELECT count(*) AS n FROM bta").head().getLong(0) == 0)
  }
}

/** PRIMARY KEY metadata + the indexed `_score` route
  * (StatementRouter.routeIndexedScore): MATCH relevance read from the
  * declared fulltext index as corpus-IDF BM25, spliced into the statement
  * as a score join. */
class IndexedScoreSpec extends SparkTestBase {

  test("PRIMARY KEY: parsed from both clause shapes, rendered back") {
    val root = graft.ArtifactStore.scratchDir("graftpk").toFile.getAbsolutePath
    val r = new StatementRouter(spark, root)
    r.execute("CREATE TABLE pkcol (id BIGINT PRIMARY KEY, v TEXT)")
    assert(VersionedTable.primaryKey(spark, s"$root/pkcol") == Seq("id"))
    r.execute("""CREATE TABLE pktab (a BIGINT, b TEXT, c DOUBLE,
                 PRIMARY KEY (a, b))""")
    assert(VersionedTable.primaryKey(spark, s"$root/pktab") == Seq("a", "b"))
    val show = r.execute("SHOW CREATE TABLE pktab").head().getString(0)
    assert(show.contains("PRIMARY KEY (a, b)"), show)
    // PK columns don't leak into the data schema
    assert(r.execute("SELECT * FROM pktab").schema.fieldNames.toSeq
      == Seq("a", "b", "c"))

    // declared PKs surface through information_schema + pg_catalog
    r.registerViews()
    val kcu = InformationSchema.keyColumnUsage(spark)
      .filter("table_name = 'pktab'").collect()
      .map(x => (x.getString(4), x.getInt(5))).sortBy(_._2)
    assert(kcu.toSeq == Seq(("a", 1), ("b", 2)))
    assert(InformationSchema.tableConstraints(spark)
      .filter("table_name = 'pkcol'").count() == 1)
    // dropped tables disappear from the constraint surface
    r.execute("DROP TABLE pkcol")
    assert(InformationSchema.tableConstraints(spark)
      .filter("table_name = 'pkcol'").count() == 0)
  }

  test("_score through a declared index: BM25 values, AND semantics, plan") {
    val root = graft.ArtifactStore.scratchDir("graftiscore").toFile.getAbsolutePath
    val r = new StatementRouter(spark, root)
    r.execute("""CREATE TABLE scored (
        id BIGINT PRIMARY KEY, txt TEXT,
        INDEX txt_ft USING FULLTEXT (txt) WITH (analyzer = 'standard'))""")
    r.execute("""INSERT INTO scored (id, txt) VALUES
        (1, 'spark filter join'), (2, 'spark spark filter'),
        (3, 'filter only here'), (4, 'spark alone')""")

    val routed = r.execute("""
        SELECT id, _score FROM scored
        WHERE MATCH(txt, 'spark filter')
        ORDER BY _score DESC, id""")
    // AND semantics: only docs containing BOTH terms
    val rows = routed.collect().map(x => (x.getLong(0), x.getDouble(1)))
    assert(rows.map(_._1).toSet == Set(1L, 2L))

    // values equal the index-computed BM25, not the TF-only fallback
    val idx = graft.operators.MatchText.buildIndex(
      r.execute("SELECT id, txt FROM scored"), "id", "txt")
    val want = graft.operators.MatchText.scoreBM25(idx, "spark filter")
      .collect().map(x => (x.getLong(0), x.getDouble(1))).toMap
    rows.foreach { case (id, s) => assert(math.abs(s - want(id)) < 1e-12) }

    // the routed plan is a score JOIN; the per-row UDF never runs
    val plan = routed.queryExecution.executedPlan.toString
    assert(!plan.contains("graft_match_score"), plan)
    assert(plan.toLowerCase.contains("join"), plan)

    // alias + SELECT * shapes route too
    val aliased = r.execute("""
        SELECT s.id, round(_score, 6) AS sc FROM scored s
        WHERE MATCH(s.txt, 'spark filter') ORDER BY sc DESC, s.id""")
    assert(aliased.collect().map(_.getLong(0)).toSeq == rows.sortBy(-_._2).map(_._1).toSeq)

    // no declared index (or composite PK) -> unchanged TF fallback
    r.execute("CREATE TABLE plain (id BIGINT PRIMARY KEY, txt TEXT)")
    r.execute("INSERT INTO plain (id, txt) VALUES (1, 'spark filter')")
    val fb = r.execute(
      "SELECT id, _score FROM plain WHERE MATCH(txt, 'spark filter')")
    assert(fb.queryExecution.executedPlan.toString.contains("graft_match_score") ||
      fb.collect().map(_.getDouble(1)).forall(_ > 0))

    // DML bumps the version -> a fresh index scores the new corpus
    r.execute("INSERT INTO scored (id, txt) VALUES (5, 'spark filter spark filter')")
    val after = r.execute("""
        SELECT id, _score FROM scored
        WHERE MATCH(txt, 'spark filter') ORDER BY _score DESC, id""")
    assert(after.collect().map(_.getLong(0)).toSet == Set(1L, 2L, 5L))

    // multi-column MATCH must NOT take the single-column index route: the
    // OR-chain admits rows the indexed column alone would drop
    r.execute("""CREATE TABLE scored2 (
        id BIGINT PRIMARY KEY, txt TEXT, extra TEXT,
        INDEX txt USING FULLTEXT (txt))""")
    r.execute("""INSERT INTO scored2 (id, txt, extra) VALUES
        (1, 'spark filter', 'nothing'), (2, 'unrelated', 'spark filter')""")
    val multi = r.execute("""
        SELECT id, _score FROM scored2
        WHERE MATCH((txt, extra), 'spark filter') ORDER BY id""")
    assert(multi.collect().map(_.getLong(0)).toSeq == Seq(1L, 2L))
  }
}

/** PARTITIONED BY on the versioned substrate: value-partitioned writes,
  * schema-stable reads, directory pruning (reference
  * `DocTableInfo.partitionedBy` — one index per partition value). */
class PartitionedTableSpec extends SparkTestBase {

  test("partitioned versioned table: writes, reads, pruning, DML, SHOW") {
    val root = graft.ArtifactStore.scratchDir("graftpart").toFile.getAbsolutePath
    val r = new StatementRouter(spark, root)
    r.execute("""CREATE TABLE pevents (
        id BIGINT PRIMARY KEY, day TEXT, kind TEXT, v DOUBLE PRECISION)
        PARTITIONED BY (day)""")

    // empty table keeps the declared schema and column order
    val empty = r.execute("SELECT * FROM pevents")
    assert(empty.schema.fieldNames.toSeq == Seq("id", "day", "kind", "v"))
    assert(empty.count() == 0)

    r.execute("""INSERT INTO pevents (id, day, kind, v) VALUES
        (1, '2024-01-01', 'click', 1.5), (2, '2024-01-01', 'view', 2.0),
        (3, '2024-01-02', 'click', 0.5), (4, '2024-01-03', 'view', 4.0)""")

    // column order/types unchanged by the partitioned layout
    val all = r.execute("SELECT * FROM pevents ORDER BY id")
    assert(all.schema.fieldNames.toSeq == Seq("id", "day", "kind", "v"))
    assert(all.collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 4L))

    // the data dirs are value-partitioned and a day filter PRUNES: only
    // the matching partition's files are read
    val one = r.execute("SELECT id, v FROM pevents WHERE day = '2024-01-02'")
    assert(one.collect().map(_.getLong(0)).toSeq == Seq(3L))
    val scan = one.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.getOrElse(fail("no file scan in plan"))
    assert(scan.metadata("PartitionFilters").contains("day"),
      scan.metadata("PartitionFilters"))
    // the scan's executed metrics confirm only one partition's files read
    val filesRead = scan.metrics("numFiles").value
    val totalFiles = r.execute("SELECT * FROM pevents").inputFiles.length
    assert(filesRead > 0 && filesRead < totalFiles,
      s"pruning expected: read $filesRead of $totalFiles files")

    // copy-on-write DML keeps the partitioned layout
    r.execute("UPDATE pevents SET v = v * 10 WHERE id = 3")
    r.execute("DELETE FROM pevents WHERE id = 4")
    val after = r.execute("SELECT id, day, v FROM pevents ORDER BY id")
    assert(after.collect().map(x => (x.getLong(0), x.getDouble(2))).toSeq
      == Seq((1L, 1.5), (2L, 2.0), (3L, 5.0)))

    // SHOW CREATE TABLE renders the clause back
    val show = r.execute("SHOW CREATE TABLE pevents").head().getString(0)
    assert(show.contains("PARTITIONED BY (day)"), show)

    // schema evolution: ALTER ADD COLUMN commits a new version through
    // the same partitioned write path; the stored read-schema follows
    r.execute("ALTER TABLE pevents ADD COLUMN note TEXT")
    val evolved = r.execute("SELECT * FROM pevents ORDER BY id")
    assert(evolved.schema.fieldNames.toSeq == Seq("id", "day", "kind", "v", "note"))
    assert(evolved.collect().forall(_.isNullAt(4)))
    r.execute("UPDATE pevents SET note = 'x' WHERE id = 1")
    val noted = r.execute(
      "SELECT note FROM pevents WHERE day = '2024-01-01' AND id = 1")
    assert(noted.head().getString(0) == "x")

    // sys.shards lists one shard row per partition directory
    val sh = SysCatalog.shards(spark, root)
      .filter("table_name = 'pevents'").collect()
    // the DELETE above removed the only 2024-01-03 row -> 2 partitions
    assert(sh.length == 2, sh.mkString(", "))
    assert(sh.forall(_.getString(2).contains("day=")))
  }
}

/** Multi-column MATCH + _score through a declared COMPOSITE fulltext index
  * (StatementRouter.routeFieldedScore): per-field BM25 with boosts replaces
  * the per-row TF fallback when the MATCH targets exactly one declared
  * index's columns. */
class FieldedScoreSpec extends SparkTestBase {

  private def mkTable(r: StatementRouter): Unit = {
    r.execute("""CREATE TABLE fsc (
        id BIGINT PRIMARY KEY, head TEXT, tail TEXT,
        INDEX ht_ft USING FULLTEXT (head, tail) WITH (analyzer = 'standard'))""")
    r.execute("""INSERT INTO fsc (id, head, tail) VALUES
        (1, 'spark filter join', 'nothing relevant'),
        (2, 'spark only here', 'spark filter now'),
        (3, 'unrelated words', 'filter alone'),
        (4, 'spark filter', 'spark filter')""")
  }

  test("fielded route: BM25 values, boosts, OR-of-AND predicate, plan") {
    val root = graft.ArtifactStore.scratchDir("graftfsc").toFile.getAbsolutePath
    val r = new StatementRouter(spark, root)
    mkTable(r)

    val routed = r.execute("""
        SELECT id, _score FROM fsc
        WHERE MATCH((head 2.0, tail), 'spark filter') USING most_fields
        ORDER BY _score DESC, id""")
    val rows = routed.collect().map(x => (x.getLong(0), x.getDouble(1)))
    // predicate: a row matches when ANY field contains ALL terms
    assert(rows.map(_._1).toSet == Set(1L, 2L, 4L), rows.mkString(", "))

    // values equal the index-computed per-field BM25 (partial-field
    // evidence included), not the TF-only fallback
    val idx = graft.operators.MatchText.buildFieldedIndex(
      r.execute("SELECT id, head, tail FROM fsc"), "id", Seq("head", "tail"))
    val want = graft.operators.MatchText.scoreFieldedBM25(
        idx, "spark filter", Map("head" -> 2.0, "tail" -> 1.0), "most_fields")
      .collect().map(x => (x.getLong(0), x.getDouble(1))).toMap
    assert(want.keySet == Set(1L, 2L, 4L))
    rows.foreach { case (id, s) => assert(math.abs(s - want(id)) < 1e-12, s"$id") }

    // the routed plan is a score JOIN; the per-row TF UDF never runs
    val plan = routed.queryExecution.executedPlan.toString
    assert(!plan.contains("graft_match_score"), plan)
    assert(plan.toLowerCase.contains("join"), plan)

    // best_fields default (no USING): max of the boosted field scores
    val best = r.execute("""
        SELECT id, _score FROM fsc
        WHERE MATCH((head 2.0, tail), 'spark filter')
        ORDER BY _score DESC, id""")
      .collect().map(x => (x.getLong(0), x.getDouble(1))).toMap
    val wantBest = graft.operators.MatchText.scoreFieldedBM25(
        idx, "spark filter", Map("head" -> 2.0, "tail" -> 1.0), "best_fields")
      .collect().map(x => (x.getLong(0), x.getDouble(1))).toMap
    assert(best.keySet == wantBest.keySet)
    best.foreach { case (id, s) => assert(math.abs(s - wantBest(id)) < 1e-12) }
  }

  test("fielded route falls back when the shape is not provably safe") {
    val root = graft.ArtifactStore.scratchDir("graftfsc2").toFile.getAbsolutePath
    val r = new StatementRouter(spark, root)
    mkTable(r)

    // no declared index covering exactly these columns -> TF fallback
    r.execute("CREATE TABLE fsc2 (id BIGINT PRIMARY KEY, a TEXT, b TEXT)")
    r.execute("INSERT INTO fsc2 (id, a, b) VALUES (1, 'spark filter', 'x')")
    val fb = r.execute(
      "SELECT id, _score FROM fsc2 WHERE MATCH((a, b), 'spark filter')")
    assert(fb.queryExecution.executedPlan.toString.contains("graft_match_score"))

    // MATCH OR'd with another predicate is not a replaceable conjunct
    val ord = r.execute("""
        SELECT id, _score FROM fsc
        WHERE MATCH((head, tail), 'spark filter') OR id = 3
        ORDER BY id""")
    assert(ord.collect().map(_.getLong(0)).toSet == Set(1L, 2L, 3L, 4L))
    assert(ord.queryExecution.executedPlan.toString.contains("graft_match_score"))

    // phrase method -> fallback path handles it (no fielded route)
    val ph = r.execute("""
        SELECT id FROM fsc
        WHERE MATCH((head, tail), 'spark filter') USING phrase ORDER BY id""")
    assert(ph.collect().map(_.getLong(0)).nonEmpty)

    // DML bumps the version -> the route rebuilds and sees the new row
    val r2 = new StatementRouter(spark, root)
    r2.execute("INSERT INTO fsc (id, head, tail) VALUES (5, 'spark filter spark', 'y')")
    val after = r2.execute("""
        SELECT id, _score FROM fsc
        WHERE MATCH((head 1.5, tail), 'spark filter') USING most_fields
        ORDER BY _score DESC, id""")
    assert(after.collect().map(_.getLong(0)).toSet == Set(1L, 2L, 4L, 5L))
  }
}

/** Partition-granular copy-on-write DML (VersionedTable.commitPartial):
  * UPDATE/DELETE/INSERT touching a subset of partitions writes only those
  * partitions; the manifest carries every other partition of the previous
  * snapshot by reference, Iceberg-style. */
class PartitionGranularDmlSpec extends SparkTestBase {

  test("partial manifests: write-only-touched, carried refs, vacuum safety") {
    val root = graft.ArtifactStore.scratchDir("graftpgd").toFile.getAbsolutePath
    val r = new StatementRouter(spark, root)
    r.execute("""CREATE TABLE pg (
        id BIGINT PRIMARY KEY, status TEXT, v DOUBLE PRECISION)
        PARTITIONED BY (status)""")
    r.execute("""INSERT INTO pg (id, status, v) VALUES
        (1, 'O', 1.0), (2, 'O', 2.0), (3, 'F', 3.0), (4, 'P', 4.0)""")
    val path = s"$root/pg"
    // CREATE commits v1 (empty), the INSERT v2 — both single-entry
    val vIns = VersionedTable.latestVersion(spark, path).get
    assert(VersionedTable.manifestEntries(spark, path, vIns).length == 1)

    // UPDATE one partition: the new version's data dir holds ONLY that
    // partition; the other two ride along as manifest references
    r.execute("UPDATE pg SET v = v + 10 WHERE status = 'O'")
    val vUpd = VersionedTable.latestVersion(spark, path).get
    assert(vUpd == vIns + 1)
    val eU = VersionedTable.manifestEntries(spark, path, vUpd)
    assert(eU.length == 3, eU.mkString("; "))
    assert(eU.count(_.contains(f"v$vIns%05d")) == 2, eU.mkString("; "))
    val updParts = new java.io.File(f"$path/data/v$vUpd%05d").listFiles()
      .filter(_.isDirectory).map(_.getName).toSeq
    assert(updParts == Seq("status=O"), updParts.mkString(", "))
    val rows2 = r.execute("SELECT id, v FROM pg ORDER BY id").collect()
      .map(x => (x.getLong(0), x.getDouble(1))).toSeq
    assert(rows2 == Seq((1L, 11.0), (2L, 12.0), (3L, 3.0), (4L, 4.0)), rows2)
    // time travel: the pre-update snapshot still reads
    val old = VersionedTable.readVersion(spark, path, vIns)
      .filter("id = 1").head().getDouble(2)
    assert(old == 1.0)

    // DELETE an entire partition: zero data movement for the others
    r.execute("DELETE FROM pg WHERE status = 'F'")
    assert(r.execute("SELECT count(*) AS n FROM pg").head().getLong(0) == 3)
    assert(!r.execute("SELECT status FROM pg").collect()
      .map(_.getString(0)).contains("F"))

    // INSERT creating a new partition: only the new partition is written
    r.execute("INSERT INTO pg (id, status, v) VALUES (5, 'X', 5.0)")
    val vX = VersionedTable.latestVersion(spark, path).get
    val xParts = new java.io.File(f"$path/data/v$vX%05d").listFiles()
      .filter(_.isDirectory).map(_.getName).toSeq
    assert(xParts == Seq("status=X"), xParts.mkString(", "))
    assert(r.execute("SELECT count(*) AS n FROM pg").head().getLong(0) == 4)

    // sys.shards resolves carried partitions through the manifest
    val sh = SysCatalog.shards(spark, root)
      .filter("table_name = 'pg'").collect()
    assert(sh.length == 3, sh.mkString(", "))

    // pruning still reaches the touched partition's scan
    val one = r.execute("SELECT id FROM pg WHERE status = 'O' ORDER BY id")
    assert(one.collect().map(_.getLong(0)).toSeq == Seq(1L, 2L))

    // vacuum keeps OLD data dirs the latest manifest still references
    // (carried O from the UPDATE version, carried P from the INSERT
    // version); the DELETE's empty data dir is reclaimed
    VersionedTable.vacuum(spark, path, keep = 1)
    assert(new java.io.File(f"$path/data/v$vIns%05d").exists())
    assert(new java.io.File(f"$path/data/v$vUpd%05d").exists())
    assert(!new java.io.File(f"$path/data/v${vUpd + 1}%05d").exists())
    val rowsAfter = r.execute("SELECT id, v FROM pg ORDER BY id").collect()
      .map(x => (x.getLong(0), x.getDouble(1))).toSeq
    assert(rowsAfter == Seq((1L, 11.0), (2L, 12.0), (4L, 4.0), (5L, 5.0)), rowsAfter)

    // OPTIMIZE PARTITION compacts one partition, carries the rest
    r.execute("OPTIMIZE TABLE pg PARTITION (status = 'O')")
    val vOpt = VersionedTable.latestVersion(spark, path).get
    val optParts = new java.io.File(f"$path/data/v$vOpt%05d").listFiles()
      .filter(_.isDirectory).map(_.getName).toSeq
    assert(optParts == Seq("status=O"), optParts.mkString(", "))
    assert(VersionedTable.manifestEntries(spark, path, vOpt).length >= 2)
    val rowsOpt = r.execute("SELECT id, v FROM pg ORDER BY id").collect()
      .map(x => (x.getLong(0), x.getDouble(1))).toSeq
    assert(rowsOpt == rowsAfter, rowsOpt)

    // assigning the partition column moves rows -> full rewrite fallback
    r.execute("UPDATE pg SET status = 'Z' WHERE id = 5")
    val latest = VersionedTable.latestVersion(spark, path).get
    assert(VersionedTable.manifestEntries(spark, path, latest).length == 1)
    assert(r.execute("SELECT status FROM pg WHERE id = 5").head().getString(0) == "Z")
  }
}

/** Durable fulltext indexes: saveIndex/loadIndex round-trip, term-bucket
  * pruning, and the indexed _score route loading instead of rebuilding. */
class StoredIndexSpec extends SparkTestBase {
  import graft.operators.MatchText

  test("save/load round-trip is score-identical and prunes by term bucket") {
    val docs = spark.createDataFrame(Seq(
      (1L, "spark filter join"), (2L, "spark spark filter"),
      (3L, "filter only here"), (4L, "spark alone"))).toDF("id", "txt")
    val built = MatchText.buildIndex(docs, "id", "txt")
    val dir = graft.ArtifactStore.scratchDir("graftsidx").toFile.getAbsolutePath
    MatchText.saveIndex(built, dir, buckets = 8)
    assert(MatchText.storedIndexExists(spark, dir))
    val loaded = MatchText.loadIndex(spark, dir)
    assert(loaded.tbBuckets == 8 && loaded.nDocs == built.nDocs)

    val a = MatchText.scoreBM25(built, "spark filter").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    val b = MatchText.scoreBM25(loaded, "spark filter").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(a.keySet == b.keySet && a.keySet == Set(1L, 2L))
    a.foreach { case (k, v) => assert(math.abs(v - b(k)) < 1e-12) }

    // the loaded search prunes the postings scan to the terms' buckets
    val scored = MatchText.scoreBM25(loaded, "spark filter")
    scored.collect() // finalize the adaptive plan
    val plan = scored.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [tb"), plan.take(2000))
  }

  test("indexed _score route persists once and loads on a fresh cache") {
    val root = graft.ArtifactStore.scratchDir("graftsidx2").toFile.getAbsolutePath
    val r = new StatementRouter(spark, root)
    r.execute("""CREATE TABLE sdocs (
        id BIGINT PRIMARY KEY, txt TEXT,
        INDEX txt_ft USING FULLTEXT (txt) WITH (analyzer = 'standard'))""")
    r.execute("""INSERT INTO sdocs (id, txt) VALUES
        (1, 'spark filter join'), (2, 'spark spark filter'), (3, 'filter x')""")
    val q = "SELECT id, _score FROM sdocs WHERE MATCH(txt, 'spark filter') ORDER BY id"
    val first = r.execute(q).collect().map(x => (x.getLong(0), x.getDouble(1)))
    val v = graft.sources.VersionedTable.latestVersion(spark, s"$root/sdocs").get
    assert(MatchText.storedIndexExists(spark, s"$root/sdocs/_ftindex/txt_ft/v$v"))

    // fresh JVM simulation: cache cleared -> the route LOADS the stored
    // index (results identical)
    MatchText.IndexCache.clear()
    val again = r.execute(q).collect().map(x => (x.getLong(0), x.getDouble(1)))
    assert(first.toSeq == again.toSeq)

    // DML bumps the version: the stale stored index is replaced
    r.execute("INSERT INTO sdocs (id, txt) VALUES (4, 'spark filter twice')")
    val r2 = r.execute(q).collect().map(_.getLong(0))
    assert(r2.toSeq == Seq(1L, 2L, 4L))
    val v2 = graft.sources.VersionedTable.latestVersion(spark, s"$root/sdocs").get
    assert(MatchText.storedIndexExists(spark, s"$root/sdocs/_ftindex/txt_ft/v$v2"))
    assert(!new java.io.File(s"$root/sdocs/_ftindex/txt_ft/v$v").exists())
  }
}

/** Durable FIELDED index: round-trip + the multi-column _score route
  * loading instead of rebuilding. */
class StoredFieldedIndexSpec extends SparkTestBase {
  import graft.operators.MatchText

  test("fielded save/load round-trip is score-identical; route persists") {
    val docs = spark.createDataFrame(Seq(
      (1L, "spark filter join", "nothing"), (2L, "spark only", "spark filter"),
      (3L, "x", "filter"))).toDF("id", "head", "tail")
    val built = MatchText.buildFieldedIndex(docs, "id", Seq("head", "tail"))
    val dir = graft.ArtifactStore.scratchDir("graftsfidx").toFile.getAbsolutePath
    MatchText.saveFieldedIndex(built, dir, buckets = 8)
    val loaded = MatchText.loadFieldedIndex(spark, dir)
    assert(loaded.tbBuckets == 8)
    val a = MatchText.scoreFieldedBM25(built, "spark filter",
        Map("head" -> 2.0), "most_fields")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    val b = MatchText.scoreFieldedBM25(loaded, "spark filter",
        Map("head" -> 2.0), "most_fields")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(a.keySet == b.keySet && a.nonEmpty)
    a.foreach { case (k, v) => assert(math.abs(v - b(k)) < 1e-12) }

    // router route persists under _ftindex/<name>__fielded and reloads
    val root = graft.ArtifactStore.scratchDir("graftsfidx2").toFile.getAbsolutePath
    val r = new StatementRouter(spark, root)
    r.execute("""CREATE TABLE fdocs (
        id BIGINT PRIMARY KEY, head TEXT, tail TEXT,
        INDEX ht_ft USING FULLTEXT (head, tail) WITH (analyzer = 'standard'))""")
    r.execute("""INSERT INTO fdocs (id, head, tail) VALUES
        (1, 'spark filter', 'x'), (2, 'spark', 'spark filter')""")
    val q = """SELECT id, _score FROM fdocs
               WHERE MATCH((head 2.0, tail), 'spark filter') USING most_fields
               ORDER BY id"""
    val first = r.execute(q).collect().map(x => (x.getLong(0), x.getDouble(1)))
    val v = graft.sources.VersionedTable.latestVersion(spark, s"$root/fdocs").get
    assert(MatchText.storedIndexExists(spark,
      s"$root/fdocs/_ftindex/ht_ft__fielded/v$v"))
    MatchText.IndexCache.clear()
    val again = r.execute(q).collect().map(x => (x.getLong(0), x.getDouble(1)))
    assert(first.toSeq == again.toSeq)
  }
}

/** CREATE TABLE AS (create-table-as.rst) and CREATE TABLE (LIKE src)
  * (create-table-like.rst). */
class CreateTableAsLikeSpec extends SparkTestBase {

  test("CTAS: schema and rows from the query; IF NOT EXISTS no-ops") {
    val root = graft.ArtifactStore.scratchDir("graftctas").toFile.getAbsolutePath
    val r = new StatementRouter(spark, root)
    r.execute("CREATE TABLE base (id BIGINT PRIMARY KEY, v DOUBLE PRECISION)")
    r.execute("INSERT INTO base (id, v) VALUES (1, 1.5), (2, 2.5), (3, 3.5)")
    val n = r.execute(
      "CREATE TABLE derived AS SELECT id, v * 2 AS dv FROM base WHERE id < 3")
    assert(n.head().getLong(0) == 2L)
    val got = r.execute("SELECT id, dv FROM derived ORDER BY id").collect()
      .map(x => (x.getLong(0), x.getDouble(1))).toSeq
    assert(got == Seq((1L, 3.0), (2L, 5.0)))
    // parenthesized query shape + IF NOT EXISTS
    assert(r.execute(
      "CREATE TABLE IF NOT EXISTS derived AS (SELECT 9 AS x)").head().getLong(0) == 0L)
    intercept[Exception](r.execute("CREATE TABLE derived AS SELECT 9 AS x"))
  }

  test("LIKE: empty clone; partitioning always copies; INCLUDING opts") {
    val root = graft.ArtifactStore.scratchDir("graftlike").toFile.getAbsolutePath
    val r = new StatementRouter(spark, root)
    r.execute("""CREATE TABLE src (
        id BIGINT PRIMARY KEY, status TEXT NOT NULL, v DOUBLE PRECISION,
        CONSTRAINT pos CHECK (v > 0),
        INDEX st_ft USING FULLTEXT (status))
        PARTITIONED BY (status)""")
    r.execute("INSERT INTO src (id, status, v) VALUES (1, 'a', 1.0)")

    // default: columns + NOT NULL + partitioning; no checks/indexes/pk
    r.execute("CREATE TABLE plainclone (LIKE src)")
    val pc = s"$root/plainclone"
    assert(r.execute("SELECT * FROM plainclone").count() == 0)
    assert(r.execute("SELECT * FROM plainclone").schema.fieldNames.toSeq
      == Seq("id", "status", "v"))
    assert(VersionedTable.partitionSpec(spark, pc).map(_.cols) == Some(Seq("status")))
    assert(VersionedTable.indexSpecs(spark, pc).isEmpty)
    assert(VersionedTable.primaryKey(spark, pc).isEmpty)
    val pcSpec = VersionedTable.constraintSpec(spark, pc).get
    assert(pcSpec.notNull == Seq("status") && pcSpec.checks.isEmpty)
    // NOT NULL enforced on the clone
    intercept[Exception](
      r.execute("INSERT INTO plainclone (id, v) VALUES (1, 2.0)"))

    // INCLUDING ALL: checks, pk, indexes ride along
    r.execute("CREATE TABLE fullclone (LIKE src INCLUDING ALL)")
    val fc = s"$root/fullclone"
    assert(VersionedTable.primaryKey(spark, fc) == Seq("id"))
    assert(VersionedTable.indexSpecs(spark, fc).map(_.name) == Seq("st_ft"))
    assert(VersionedTable.constraintSpec(spark, fc).get.checks.nonEmpty)
    intercept[Exception](
      r.execute("INSERT INTO fullclone (id, status, v) VALUES (1, 'x', -5.0)"))
  }
}

/** Schema namespaces: CREATE/DROP SCHEMA, doc-default folding, qualified
  * names, implicit creation (create-schema.rst). */
class SchemaSpec extends SparkTestBase {

  test("doc folds to bare names; created schemas namespace tables") {
    val root = graft.ArtifactStore.scratchDir("graftschema").toFile.getAbsolutePath
    val r = new StatementRouter(spark, root)
    r.execute("CREATE TABLE doc.plain (id BIGINT PRIMARY KEY, v TEXT)")
    r.execute("INSERT INTO doc.plain (id, v) VALUES (1, 'x')")
    assert(r.execute("SELECT v FROM doc.plain WHERE id = 1").head().getString(0) == "x")
    // unqualified access reaches the same table
    assert(r.execute("SELECT count(*) AS n FROM plain").head().getLong(0) == 1L)

    r.execute("CREATE SCHEMA archive")
    r.execute("CREATE TABLE archive.plain (id BIGINT, note TEXT)")
    r.execute("INSERT INTO archive.plain (id, note) VALUES (7, 'old')")
    // same bare name, different namespaces
    assert(r.execute("SELECT note FROM archive.plain").head().getString(0) == "old")
    assert(r.execute("SELECT v FROM doc.plain").head().getString(0) == "x")

    // SHOW SCHEMAS / SHOW TABLES FROM see the namespace
    val schemas = r.execute("SHOW SCHEMAS").collect().map(_.getString(0)).toSeq
    assert(schemas.contains("archive") && schemas.contains("doc"))
    val tf = r.execute("SHOW TABLES FROM archive").collect().map(_.getString(0)).toSeq
    assert(tf == Seq("plain"), tf.mkString(", "))
    val td = r.execute("SHOW TABLES").collect().map(_.getString(0)).toSeq
    assert(td == Seq("plain"), td.mkString(", "))

    // implicit creation: qualified CREATE TABLE registers the schema
    r.execute("CREATE TABLE staging.raw (id BIGINT)")
    assert(r.execute("SHOW SCHEMAS").collect().map(_.getString(0)).contains("staging"))

    // an alias named like a schema shadows it (no rewrite)
    val shadow = r.execute(
      "SELECT archive.v FROM plain archive WHERE archive.id = 1")
    assert(shadow.head().getString(0) == "x")

    // DROP SCHEMA: refuses non-empty without CASCADE, cascades with
    intercept[Exception](r.execute("DROP SCHEMA archive"))
    r.execute("DROP SCHEMA archive CASCADE")
    assert(!r.execute("SHOW SCHEMAS").collect().map(_.getString(0)).contains("archive"))
    intercept[Exception](r.execute("SELECT * FROM archive.plain"))
    // doc table untouched
    assert(r.execute("SELECT count(*) AS n FROM plain").head().getLong(0) == 1L)
  }
}

/** Repositories + snapshots (create-repository.rst, create-snapshot.rst,
  * restore-snapshot.rst). */
class SnapshotSpec extends SparkTestBase {

  test("create/restore/drop snapshot round-trips data and metadata") {
    val root = graft.ArtifactStore.scratchDir("graftsnap").toFile.getAbsolutePath
    val repoLoc = graft.ArtifactStore.scratchDir("graftrepo").toFile.getAbsolutePath
    val r = new StatementRouter(spark, root)
    r.execute(s"CREATE REPOSITORY backups TYPE fs WITH (location = '$repoLoc')")
    r.execute("""CREATE TABLE snapped (
        id BIGINT PRIMARY KEY, status TEXT, v DOUBLE PRECISION)
        PARTITIONED BY (status)""")
    r.execute("""INSERT INTO snapped (id, status, v) VALUES
        (1, 'a', 1.0), (2, 'b', 2.0)""")
    r.execute("CREATE TABLE other (x BIGINT)")
    r.execute("INSERT INTO other (x) VALUES (42)")

    assert(r.execute("CREATE SNAPSHOT backups.s1 ALL").head().getLong(0) == 2L)
    // snapshot is consistent at creation: later DML doesn't leak in
    r.execute("INSERT INTO snapped (id, status, v) VALUES (3, 'c', 3.0)")

    // restore refuses existing tables; works after a drop
    intercept[Exception](r.execute("RESTORE SNAPSHOT backups.s1 TABLE snapped"))
    r.execute("DROP TABLE snapped")
    r.execute("RESTORE SNAPSHOT backups.s1 TABLE snapped")
    val rows = r.execute("SELECT id, status, v FROM snapped ORDER BY id")
      .collect().map(x => (x.getLong(0), x.getString(1), x.getDouble(2))).toSeq
    assert(rows == Seq((1L, "a", 1.0), (2L, "b", 2.0)), rows)
    // spec metadata came back: PK + partitioning
    assert(VersionedTable.primaryKey(spark, s"$root/snapped") == Seq("id"))
    assert(VersionedTable.partitionSpec(spark, s"$root/snapped")
      .map(_.cols) == Some(Seq("status")))
    // partitioned DML still works on the restored table
    r.execute("UPDATE snapped SET v = 9.0 WHERE status = 'a'")
    assert(r.execute("SELECT v FROM snapped WHERE id = 1").head().getDouble(0) == 9.0)

    // observability: repository + snapshot rows
    r.registerViews()
    val repos = SysCatalog.repositories(spark, root).collect()
    assert(repos.length == 1 && repos(0).getString(0) == "backups")
    val snaps = SysCatalog.snapshots(spark, root)
      .filter("name = 'backups.s1'").collect()
    assert(snaps.length == 1 && snaps(0).getString(3) == "SUCCESS")

    // drop snapshot removes it; duplicate snapshot names refuse
    intercept[Exception](r.execute("CREATE SNAPSHOT backups.s1 ALL"))
    r.execute("DROP SNAPSHOT backups.s1")
    intercept[Exception](r.execute("RESTORE SNAPSHOT backups.s1 ALL"))
    r.execute("DROP REPOSITORY backups")
    intercept[Exception](r.execute("CREATE SNAPSHOT backups.s2 ALL"))
  }
}
