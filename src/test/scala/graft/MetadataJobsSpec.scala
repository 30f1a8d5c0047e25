package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.catalog.CatalogStatistics
import org.apache.spark.sql.types.StructType

import graft.sources.VersionedTable

/** Table metadata costs no Spark job: fixture registration, CBO statistics
  * and unpartitioned version reads take their schemas and row counts from
  * the Parquet footers on the driver, and the statistics (and so the CBO
  * plan of q110) are the ones `ANALYZE … COMPUTE STATISTICS` computes by
  * scanning. */
class MetadataJobsSpec extends SparkTestBase {

  private val catalogTables = Tables.names.filterNot(_ == "events")

  private val q110Sql = """
    SELECT r_name, o_orderpriority, count(*) AS n_orders
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name, o_orderpriority
    ORDER BY r_name, o_orderpriority"""

  private def dropCatalogTables(): Unit =
    catalogTables.foreach(n => spark.sql(s"DROP TABLE IF EXISTS $n"))

  private def meta(s: SparkSession, n: String) =
    s.sessionState.catalog.getTableMetadata(TableIdentifier(n))

  /** Optimized plan text with expression ids stripped, and its root stats. */
  private def q110Plan(s: SparkSession): (String, String) = {
    val plan = s.sql(q110Sql).queryExecution.optimizedPlan
    (plan.treeString.replaceAll("#\\d+L?", "#"), plan.stats.simpleString)
  }

  test("Tables.registerAll runs no Spark job in a fresh session") {
    val s = spark.newSession()
    val (_, jobs) = jobsOf(Tables.registerAll(s, sfDir))
    assert(jobs == 0, s"registerAll ran $jobs jobs")
    assert(s.table("orders").count() > 0)
  }

  test("registerAllWithStats runs no job; stats and q110's plan equal ANALYZE's") {
    dropCatalogTables()
    try {
      val footer = spark.newSession()
      val (_, jobs) = jobsOf(Tables.registerAllWithStats(footer, sfDir))
      assert(jobs == 0, s"registerAllWithStats ran $jobs jobs")
      val got: Map[String, (StructType, Option[CatalogStatistics])] =
        catalogTables.map(n => n -> (meta(footer, n).schema, meta(footer, n).stats)).toMap
      val gotPlan = q110Plan(footer)
      val entryPlan = SparkEntry.queries("q110_cbo_join")(footer, sfDir)
        .queryExecution.optimizedPlan.treeString.replaceAll("#\\d+L?", "#")
      assert(entryPlan == gotPlan._1, "q110 must plan the query this spec compares")
      dropCatalogTables()

      val analyzed = spark.newSession()
      analyzed.conf.set("spark.sql.cbo.enabled", "true")
      analyzed.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
      catalogTables.foreach { n =>
        analyzed.sql(s"CREATE TABLE $n USING parquet LOCATION '$sfDir/$n.parquet'")
        analyzed.sql(s"ANALYZE TABLE $n COMPUTE STATISTICS")
      }
      catalogTables.foreach { n =>
        val want = (meta(analyzed, n).schema, meta(analyzed, n).stats)
        assert(want._2.exists(_.rowCount.isDefined), s"$n: ANALYZE stored no row count")
        assert(got(n) == want, s"$n: footer metadata ${got(n)} != ANALYZE's $want")
      }
      assert(gotPlan == q110Plan(analyzed), "q110 plans differently on footer stats")
    } finally {
      dropCatalogTables()
      Tables.registerAll(spark, sfDir)
    }
  }

  test("reading a new unpartitioned VersionedTable version runs no job") {
    import spark.implicits._
    val root = ArtifactStore.scratchDir("graft_metajobs").toFile.getAbsolutePath
    val path = s"$root/t"
    val v = VersionedTable.commit(spark, path,
      Seq((1L, "a", 0.5), (2L, "b", 1.5)).toDF("id", "v", "x"))
    val (df, jobs) = jobsOf(VersionedTable.readVersion(spark, path, v))
    assert(jobs == 0, s"readVersion ran $jobs jobs")
    assert(df.schema.fieldNames.toSeq == Seq("id", "v", "x"))
    assert(df.count() == 2)
  }
}
