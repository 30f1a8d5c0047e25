package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Foreign data wrapper (SURVEY.md §2.2): the reference's
  * `CREATE SERVER / CREATE FOREIGN TABLE` JDBC FDW
  * (`server/src/main/java/io/crate/fdw/JdbcForeignDataWrapper.java`,
  * `fdw/JdbcBatchIterator.java`) maps directly onto Spark's JDBC source,
  * which already does predicate pushdown and parallel partitioned reads —
  * strictly more than the reference's single-connection iterator.
  *
  * Untested in this environment (zero egress, no JDBC endpoint); the
  * surface is a thin, declarative passthrough.
  */
object Fdw {

  final case class Server(url: String, user: String = "", password: String = "",
                          options: Map[String, String] = Map.empty)

  /** One foreign table: local name → (server, remote table, options). */
  final case class ForeignTable(server: String, remoteTable: String,
                                options: Map[String, String] = Map.empty)

  /** `CREATE SERVER` / `CREATE FOREIGN TABLE` / `CREATE USER MAPPING`
    * registry (reference `fdw/ServersMetadata.java` persists the same three
    * maps in cluster state). Driver-held: FDW DDL is catalog metadata, not
    * data — `information_schema.foreign_*` and `user_mappings` read it. */
  private val servers = scala.collection.concurrent.TrieMap.empty[String, Server]
  private val foreignTables = scala.collection.concurrent.TrieMap.empty[String, ForeignTable]
  private val userMappings = scala.collection.concurrent.TrieMap.empty[(String, String), Map[String, String]]

  def createServer(name: String, server: Server): Unit = servers.put(name, server)
  def dropServer(name: String): Unit = {
    servers.remove(name)
    foreignTables.filterInPlace((_, ft) => ft.server != name)
    userMappings.filterInPlace((k, _) => k._2 != name)
  }
  def createForeignTable(name: String, ft: ForeignTable): Unit = {
    require(servers.contains(ft.server), s"no such server: ${ft.server}")
    foreignTables.put(name, ft)
  }
  def dropForeignTable(name: String): Unit = foreignTables.remove(name)
  def createUserMapping(user: String, server: String, options: Map[String, String]): Unit = {
    require(servers.contains(server), s"no such server: $server")
    userMappings.put((user, server), options)
  }

  def dropUserMapping(user: String, server: String): Unit =
    userMappings.remove((user, server))

  /** `ALTER SERVER … OPTIONS (…)`: Some(v) sets/adds, None drops. */
  def alterServerOptions(name: String,
                         changes: Seq[(String, Option[String])]): Unit = {
    val s = servers.getOrElse(name,
      throw new IllegalArgumentException(s"no such server: $name"))
    val opts = changes.foldLeft(s.options) {
      case (m, (k, Some(v))) => m + (k -> v)
      case (m, (k, None))    => m - k
    }
    servers.put(name, s.copy(options = opts))
  }

  def listServers: Seq[(String, Server)] = servers.toSeq.sortBy(_._1)
  def listForeignTables: Seq[(String, ForeignTable)] = foreignTables.toSeq.sortBy(_._1)
  def listUserMappings: Seq[((String, String), Map[String, String])] =
    userMappings.toSeq.sortBy(_._1)

  /** JDBC schema resolutions performed (memo misses) — spec observability. */
  private[graft] val resolveCount = new java.util.concurrent.atomic.AtomicLong(0)

  /** Scan a registered foreign table by local name (applies the server's
    * user mapping for the session user if one exists).
    *
    * Spark's JDBC source opens a live connection to resolve the remote
    * schema when `load()` builds the DataFrame, so the resolved relation
    * is memoized per session, keyed by the EFFECTIVE connection config
    * (post-user-mapping server + remote table): any FDW DDL change — ALTER
    * SERVER options, a remapped user, a re-pointed foreign table — keys
    * differently and resolves fresh. The DataFrame stays lazy: every
    * action re-reads the remote data. Failures are NOT cached — an
    * unreachable server retries on its next reference. */
  def scan(spark: SparkSession, name: String, user: String = ""): DataFrame = {
    val ft = foreignTables.getOrElse(name, sys.error(s"no such foreign table: $name"))
    val base = servers(ft.server)
    val mapped = userMappings.get((user, ft.server)).orElse(userMappings.get(("", ft.server)))
      .map(m => base.copy(user = m.getOrElse("user", base.user),
        password = m.getOrElse("password", base.password)))
      .getOrElse(base)
    graft.Memo(spark, s"fdw#$mapped#${ft.remoteTable}") {
      resolveCount.incrementAndGet()
      foreignTable(spark, mapped, ft.remoteTable)
    }
  }

  /** `SELECT ... FROM foreign_table` — whole-table or pushdown-filtered scan. */
  def foreignTable(spark: SparkSession, server: Server, table: String): DataFrame = {
    val r = spark.read.format("jdbc")
      .option("url", server.url)
      .option("dbtable", table)
    val withAuth =
      if (server.user.nonEmpty) r.option("user", server.user).option("password", server.password)
      else r
    server.options.foldLeft(withAuth) { case (acc, (k, v)) => acc.option(k, v) }.load()
  }
}
