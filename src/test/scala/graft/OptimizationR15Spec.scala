package graft

import org.apache.spark.sql.functions._
import graft.operators.Dedup
import graft.sources.{CatalogSnapshot, PgCatalog, VersionedTable}

/** Pins the round-15 optimization internals: metadata memos must be
  * exactly that — metadata reuse with correct invalidation — and the
  * scale-derived bloom bucket count must honor its cap and explicit
  * overrides. (OPTIMIZATION_r15.md documents the measurements.) */
class OptimizationR15Spec extends SparkTestBase {

  test("bloomAutoBuckets: scale-derived, capped at the old constant") {
    assert(Dedup.bloomAutoBuckets(1L) == 1)
    assert(Dedup.bloomAutoBuckets(5000L) == 1)
    assert(Dedup.bloomAutoBuckets(65536L) == 1)
    assert(Dedup.bloomAutoBuckets(65537L) == 2)
    assert(Dedup.bloomAutoBuckets(16L * 1024 * 1024) == 256)
    assert(Dedup.bloomAutoBuckets(1000000000L) == 256) // saturates to 256
  }

  test("Tables.load memo: same resolved plan object per (session, dir, table)") {
    val a = Tables.load(spark, sfDir, "orders")
    val b = Tables.load(spark, sfDir, "orders")
    assert(a eq b, "repeat load must reuse the resolved scan")
    // a different table or dir is a different entry
    assert(!(Tables.load(spark, sfDir, "nation") eq a))
    // the memoized plan still computes from parquet (no result caching)
    assert(a.count() == b.count() && a.count() > 0)
  }

  test("registerAllWithStats: ANALYZE once, stats still present on repeat") {
    Tables.registerAllWithStats(spark, sfDir)
    Tables.registerAllWithStats(spark, sfDir) // memo path — must not throw
    val stats = spark.table("orders").queryExecution.optimizedPlan.stats
    assert(stats.rowCount.exists(_.toLong > 0),
      "CBO rowCount must survive the memoized re-register")
    // restore the shared session: drop the catalog tables this test
    // created (they'd otherwise double every fixture name in
    // listTables for later suites) and re-register plain temp views
    Tables.names.filterNot(_ == "events")
      .foreach(n => spark.sql(s"DROP TABLE IF EXISTS $n"))
    Tables.registerAll(spark, sfDir)
  }

  test("registerAllWithStats: a relative dir keeps its catalog tables") {
    val rel = java.nio.file.Paths.get("").toAbsolutePath
      .relativize(java.nio.file.Paths.get(sfDir)).toString
    assert(!rel.startsWith("/"))
    def createTimes: Seq[Long] = Tables.names.filterNot(_ == "events").map(n =>
      spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(n)).createTime)
    Tables.registerAllWithStats(spark, rel)
    val first = createTimes
    Tables.registerAllWithStats(spark, rel)
    assert(createTimes == first,
      "the location guard must match a relative dir, not drop and re-ANALYZE")
    Tables.names.filterNot(_ == "events")
      .foreach(n => spark.sql(s"DROP TABLE IF EXISTS $n"))
    Tables.registerAll(spark, sfDir)
  }

  test("CatalogSnapshot.functions: memo refreshes when the registry changes") {
    val before = CatalogSnapshot.functions(spark).map(_.name).toSet
    spark.udf.register("opt_r15_probe_fn", (x: Int) => x + 1)
    val after = CatalogSnapshot.functions(spark).map(_.name).toSet
    assert(!before.contains("opt_r15_probe_fn"))
    assert(after.contains("opt_r15_probe_fn"),
      "a new function must invalidate the function-list memo")
    // and pg_proc serves the refreshed list
    PgCatalog.registerAll(spark)
    assert(spark.sql(
      "SELECT count(*) FROM pg_proc WHERE proname = 'opt_r15_probe_fn'")
      .head().getLong(0) == 1L)
  }

  test("VersionedTable read memo: invalidation on directory surgery") {
    import spark.implicits._
    val root = ArtifactStore.scratchDir("optmemo").toFile.getAbsolutePath
    val path = s"$root/t"
    VersionedTable.commit(spark, path, Seq((1L, "a")).toDF("id", "v"))
    assert(VersionedTable.read(spark, path).count() == 1)
    // repeated read of the same committed version reuses the scan
    val r1 = VersionedTable.read(spark, path)
    val r2 = VersionedTable.read(spark, path)
    assert(r1 eq r2)
    // drop + recreate at the SAME path: invalidation must prevent the
    // stale v00001 scan from serving the old files
    VersionedTable.dropCatalogEntries(spark, path)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    VersionedTable.commit(spark, path,
      Seq((10L, "x"), (11L, "y")).toDF("id", "v"))
    val rows = VersionedTable.read(spark, path).orderBy(col("id")).collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(10L, 11L),
      "post-recreate read must see the new table, not the memoized scan")
  }
}
