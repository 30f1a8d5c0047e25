package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** `information_schema` emulation (SURVEY.md §2.2): the reference exposes
  * 27 information_schema tables (`metadata/information/`) plus `sys.*` and
  * `pg_catalog.*`. On Spark the catalog is the source of truth; these views
  * are small driver-built DataFrames — correct at any scale because catalog
  * metadata is never data-sized.
  */
object InformationSchema {

  /** Schema attribution for the flat temp-view namespace (reference:
    * every relation reports its real schema — `InformationTablesTableInfo
    * .java`): system views registered as `information_schema_x` / `sys_x`
    * / `pg_x` report their system schema, `s__t` names report schema `s`
    * with the bare table name, everything else is `doc`. */
  private def schemaOf(name: String): (String, String) =
    if (name.startsWith("information_schema_"))
      ("information_schema", name.stripPrefix("information_schema_"))
    else if (name.startsWith("sys_")) ("sys", name.stripPrefix("sys_"))
    else if (name.startsWith("pg_")) ("pg_catalog", name)
    else if (name.contains("__") && !name.startsWith("graft"))
      (name.split("__", 2)(0), name.split("__", 2)(1))
    else ("doc", name)

  def tables(spark: SparkSession): DataFrame =
    tablesFrom(spark, CatalogSnapshot.tables(spark))

  private def tablesFrom(spark: SparkSession,
      tabs: Seq[org.apache.spark.sql.catalog.Table]): DataFrame = {
    import spark.implicits._
    tabs.map { t =>
        val (sch, bare) = schemaOf(t.name)
        (Option(t.catalog).getOrElse("spark_catalog"), sch, bare, t.tableType)
      }
      .toDF("table_catalog", "table_schema", "table_name", "table_type")
  }

  def columns(spark: SparkSession): DataFrame =
    columnsFrom(spark, CatalogSnapshot.tables(spark), fieldsLookup(spark))

  /** Per-register-call schema cache (same contract as `listColumns`:
    * name / simpleString type / nullability from the analyzed relation,
    * one analysis per table per snapshot instead of a listColumns Dataset
    * per table — the old shape dominated the register cost). */
  private def fieldsLookup(spark: SparkSession):
      String => Seq[org.apache.spark.sql.types.StructField] = {
    val cache = scala.collection.mutable.HashMap.empty[
      String, Seq[org.apache.spark.sql.types.StructField]]
    n => cache.getOrElseUpdate(n,
      try spark.table(n).schema.fields.toSeq
      catch { case _: Exception => Nil })
  }

  private def columnsFrom(spark: SparkSession,
      tabs: Seq[org.apache.spark.sql.catalog.Table],
      fieldsOf: String => Seq[org.apache.spark.sql.types.StructField]): DataFrame = {
    import spark.implicits._
    val rows = tabs.flatMap { t =>
      val (sch, bare) = schemaOf(t.name)
      fieldsOf(t.name).zipWithIndex.map { case (f, i) =>
        ("spark_catalog", sch, bare, f.name, i + 1, f.dataType.simpleString,
          f.nullable)
      }
    }
    rows.toDF("table_catalog", "table_schema", "table_name", "column_name",
      "ordinal_position", "data_type", "is_nullable")
  }

  /** `information_schema.schemata` (reference
    * `metadata/information/InformationSchemataTableInfo.java`). */
  def schemata(spark: SparkSession): DataFrame = {
    import spark.implicits._
    (spark.catalog.listDatabases().collect().toSeq
      .map(d => (Option(d.catalog).getOrElse("spark_catalog"), d.name))
      ++ userSchemas.map(("spark_catalog", _)))
      .toDF("catalog_name", "schema_name")
  }

  /** `information_schema.views` — temp + global views with their names;
    * Spark's catalog does not retain view text for temp views, so
    * `view_definition` is null there (the reference stores it). */
  def views(spark: SparkSession): DataFrame =
    viewsFrom(spark, CatalogSnapshot.tables(spark))

  private def viewsFrom(spark: SparkSession,
      tabs: Seq[org.apache.spark.sql.catalog.Table]): DataFrame = {
    import spark.implicits._
    tabs.filter(t => t.tableType != null &&
        (t.tableType.toUpperCase.contains("VIEW") || t.tableType.toUpperCase == "TEMPORARY"))
      .map(t => ("spark_catalog", "default", t.name, null: String))
      .toDF("table_catalog", "table_schema", "table_name", "view_definition")
  }

  /** `information_schema.routines` — registered SQL functions (reference
    * `InformationRoutinesTableInfo.java`: built-ins + UDFs). */
  def routines(spark: SparkSession): DataFrame = {
    import spark.implicits._
    CatalogSnapshot.functions(spark)
      // per-signature overload slots are implementation detail — the
      // logical function is the plain-name dispatcher (UdfOverloads)
      .filterNot(_.name.contains("__ovl"))
      .map(f => (f.name, if (f.isTemporary) "FUNCTION" else "FUNCTION",
        Option(f.className).getOrElse(""), f.isTemporary))
      .toDF("routine_name", "routine_type", "specific_name", "is_temporary")
  }

  /** Declared primary keys — Spark enforces none (parquet has no PK), but
    * the reference surfaces them in `table_constraints` /
    * `key_column_usage` (`InformationTableConstraintsTableInfo.java`,
    * `InformationKeyColumnUsageTableInfo.java`), so the metadata surface
    * does too: the static fixture keys plus every PRIMARY KEY the
    * StatementRouter declared (re-registered from the durable `_pkspec`
    * on `registerViews`, so a fresh session sees them). */
  private val fixturePrimaryKeys: Map[String, Seq[String]] = Map(
    "region" -> Seq("r_regionkey"), "nation" -> Seq("n_nationkey"),
    "customer" -> Seq("c_custkey"), "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"), "orders" -> Seq("o_orderkey"),
    "lineitem" -> Seq("l_orderkey", "l_linenumber"),
    "events" -> Seq("event_id"), "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  private val declaredPrimaryKeys =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[String]]()

  def registerPrimaryKey(table: String, cols: Seq[String]): Unit =
    declaredPrimaryKeys.put(table.toLowerCase, cols)

  def dropPrimaryKey(table: String): Unit =
    declaredPrimaryKeys.remove(table.toLowerCase)

  def primaryKeys: Map[String, Seq[String]] = {
    import scala.jdk.CollectionConverters._
    fixturePrimaryKeys ++ declaredPrimaryKeys.asScala
  }

  /** User schemas declared via CREATE SCHEMA (or implicitly by a
    * qualified CREATE TABLE) — surfaced in `schemata` alongside the
    * built-ins; the StatementRouter re-registers them from its durable
    * `_schemas` file per session. */
  private val declaredSchemas =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  def registerSchema(name: String): Unit = declaredSchemas.add(name.toLowerCase)
  def dropSchema(name: String): Unit = declaredSchemas.remove(name.toLowerCase)
  def userSchemas: Seq[String] = {
    import scala.jdk.CollectionConverters._
    declaredSchemas.asScala.toSeq.sorted
  }

  /** `information_schema.table_constraints` — one PRIMARY KEY row per
    * registered fixture table (reference naming: `<table>_pkey`). */
  def tableConstraints(spark: SparkSession): DataFrame =
    tableConstraintsFrom(spark, CatalogSnapshot.tables(spark))

  private def tableConstraintsFrom(spark: SparkSession,
      tabs: Seq[org.apache.spark.sql.catalog.Table]): DataFrame = {
    import spark.implicits._
    val registered = tabs.map(_.name).toSet
    primaryKeys.keys.filter(registered).toSeq.sorted
      .map(t => ("spark_catalog", "default", s"${t}_pkey", t, "PRIMARY KEY"))
      .toDF("constraint_catalog", "constraint_schema", "constraint_name",
        "table_name", "constraint_type")
  }

  /** `information_schema.key_column_usage` — PK member columns with their
    * position (`InformationKeyColumnUsageTableInfo.java`). */
  def keyColumnUsage(spark: SparkSession): DataFrame =
    keyColumnUsageFrom(spark, CatalogSnapshot.tables(spark))

  private def keyColumnUsageFrom(spark: SparkSession,
      tabs: Seq[org.apache.spark.sql.catalog.Table]): DataFrame = {
    import spark.implicits._
    val registered = tabs.map(_.name).toSet
    primaryKeys.toSeq.filter(kv => registered(kv._1)).sortBy(_._1)
      .flatMap { case (t, cols) =>
        cols.zipWithIndex.map { case (c, i) =>
          ("spark_catalog", "default", s"${t}_pkey", t, c, i + 1)
        }
      }
      .toDF("constraint_catalog", "constraint_schema", "constraint_name",
        "table_name", "column_name", "ordinal_position")
  }

  /** `information_schema.referential_constraints` — schema-correct and
    * empty: neither the fixtures nor CrateDB's own docs tables declare
    * foreign keys (the reference emits the same empty relation). */
  def referentialConstraints(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(String, String, String, String, String, String)]
      .toDF("constraint_catalog", "constraint_schema", "constraint_name",
        "unique_constraint_name", "match_option", "update_rule")
  }

  /** `information_schema.collations` — the reference ships exactly the
    * UCS_BASIC-style binary collation surface; Spark string comparison is
    * UTF8 binary. */
  def collations(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(("spark_catalog", "information_schema", "UCS_BASIC", "NO PAD"))
      .toDF("collation_catalog", "collation_schema", "collation_name",
        "pad_attribute")
  }

  /** `information_schema.sql_features` — the SQL-standard feature taxonomy
    * rows relevant to this engine, with honest support flags
    * (`InformationSqlFeaturesTableInfo.java` loads the full ISO list; this
    * is the subset a query surface audit actually consults). */
  def sqlFeatures(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(
      ("E011", "Numeric data types", true),
      ("E021", "Character string types", true),
      ("E031", "Identifiers", true),
      ("E051", "Basic query specification", true),
      ("E061", "Basic predicates and search conditions", true),
      ("E071", "Basic query expressions (UNION/EXCEPT)", true),
      ("E091", "Set functions", true),
      ("E101", "Basic data manipulation", true),
      ("E121", "Basic cursor support", true),
      ("E152", "Basic SET TRANSACTION statement", false),
      ("F031", "Basic schema manipulation", true),
      ("F041", "Basic joined table", true),
      ("F051", "Basic date and time", true),
      ("F081", "UNION and EXCEPT in views", true),
      ("F131", "Grouped operations", true),
      ("F201", "CAST function", true),
      ("F221", "Explicit defaults", false),
      ("F261", "CASE expression", true),
      ("F311", "Schema definition statement", true),
      ("F401", "Extended joined table (FULL/CROSS)", true),
      ("F471", "Scalar subquery values", true),
      ("F481", "Expanded NULL predicate", true),
      ("T321", "Basic SQL-invoked routines", true),
      ("T431", "Extended grouping capabilities (GROUPING SETS)", true),
      ("T611", "Elementary OLAP operations (window functions)", true),
      ("T621", "Enhanced numeric functions", true)
    ).toDF("feature_id", "feature_name", "is_supported")
  }

  /** `information_schema.character_sets` — single UTF8 row (reference
    * `CharacterSetsTableInfo.java` hardcodes the same). */
  def characterSets(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(("UTF8", "UCS", "UTF8")).toDF("character_set_name", "character_repertoire",
      "form_of_use")
  }

  private def constraintColumnUsageFrom(spark: SparkSession,
      tabs: Seq[org.apache.spark.sql.catalog.Table]): DataFrame = {
    import spark.implicits._
    val registered = tabs.map(_.name).toSet
    primaryKeys.toSeq.filter(kv => registered(kv._1)).sortBy(_._1)
      .flatMap { case (t, cols) =>
        cols.map(c => ("spark_catalog", "default", t, c, s"${t}_pkey"))
      }
      .toDF("table_catalog", "table_schema", "table_name", "column_name",
        "constraint_name")
  }

  /** `information_schema.view_column_usage` — schema-correct and empty:
    * Spark's catalog does not retain the referenced-column graph for temp
    * views (the `views` view likewise carries a null definition there). */
  def viewColumnUsage(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(String, String, String, String)]
      .toDF("view_name", "table_name", "column_name", "table_schema")
  }

  /** `information_schema.partitions` — one row per partition of every
    * partitioned catalog table (reference `InformationPartitions.java`
    * surfaces partition idents + values the same way). Unpartitioned and
    * temp tables contribute nothing. */
  def partitions(spark: SparkSession): DataFrame =
    partitionsFrom(spark, CatalogSnapshot.tables(spark))

  private def partitionsFrom(spark: SparkSession,
      tabs: Seq[org.apache.spark.sql.catalog.Table]): DataFrame = {
    import spark.implicits._
    val rows = tabs
      .filter(t => t.tableType != null && t.tableType.toUpperCase == "MANAGED")
      .flatMap { t =>
        try {
          spark.sql(s"SHOW PARTITIONS ${t.name}").collect().toSeq
            .map(r => ("spark_catalog", "default", t.name, r.getString(0)))
        } catch { case _: Exception => Nil } // not partitioned
      }
    rows.toDF("table_catalog", "table_schema", "table_name", "partition_ident")
  }

  private def sessionUser(spark: SparkSession): String =
    Roles.sessionUser(spark)

  /** `information_schema.enabled_roles` / `applicable_roles` /
    * `administrable_role_authorizations` / `role_table_grants` — read from
    * the role graph (reference `InformationEnabledRolesTableInfo.java`,
    * `InformationSchemaIterables.roleTableGrants:419`): enabled = session
    * user plus its transitive parents; administrable = applicable when the
    * user holds AL; table grants walk the hierarchy's TABLE/VIEW/SCHEMA
    * privileges, skipping DENY-invalidated entries, privilege_type
    * rendered as the CrateDB permission name. */
  def enabledRoles(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val u = sessionUser(spark)
    (u +: Roles.parentClosure(u).toSeq.sorted).map(Tuple1(_)).toDF("role_name")
  }

  def applicableRoles(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val u = sessionUser(spark)
    val isAdmin = Roles.hasPrivilege(u, "AL", "CLUSTER", None)
    val edges = (u +: Roles.parentClosure(u).toSeq.sorted).flatMap { r =>
      Roles.find(r).toSeq.flatMap(_.granted.map(gr => (r, gr.role, isAdmin)))
    }
    // the implicit process superuser has no edges; it is its own one
    // enabled role (pre-role-graph behavior, spec-pinned)
    val rows = if (edges.isEmpty && Roles.find(u).isEmpty)
      Seq((u, u, false)) else edges
    rows.toDF("grantee", "role_name", "is_grantable")
  }

  def administrableRoleAuthorizations(spark: SparkSession): DataFrame = {
    val df = applicableRoles(spark)
    df.filter(df("is_grantable"))
  }

  def roleTableGrants(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val u = sessionUser(spark)
    val out =
      if (Roles.isSuperuser(u))
        // the implicit process superuser holds everything on every table
        spark.catalog.listTables().collect().toSeq.flatMap { t =>
          Seq("SELECT", "INSERT", "UPDATE", "DELETE").map(p =>
            (u, u, "crate", "doc", t.name, p, true, "NO"))
        }
      else {
        val isAdmin = Roles.hasPrivilege(u, "AL", "CLUSTER", None)
        val hierarchy = u +: Roles.parentClosure(u).toSeq.sorted
        val tablesBySchema: Map[String, Seq[String]] =
          spark.catalog.listTables().collect().toSeq.map(t => ("doc", t.name))
            .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
        hierarchy.flatMap { r =>
          Roles.allPrivileges.filter(p => p.grantee == r && p.state == "GRANT")
            .filter(p => Roles.hasPrivilege(u, p.permission, p.securable, p.ident))
            .flatMap { p =>
              p.securable match {
                case "TABLE" | "VIEW" =>
                  val fqn = p.ident.getOrElse("")
                  val (s, t) = fqn.span(_ != '.')
                  Seq((p.grantor, r, "crate", s, t.stripPrefix("."),
                    p.permission, isAdmin, "NO"))
                case "SCHEMA" =>
                  tablesBySchema.getOrElse(p.ident.getOrElse(""), Nil).map(t =>
                    (p.grantor, r, "crate", p.ident.get, t, p.permission,
                      isAdmin, "NO"))
                case _ => Nil
              }
            }
        }.distinct
      }
    out.toDF("grantor", "grantee", "table_catalog", "table_schema", "table_name",
      "privilege_type", "is_grantable", "with_hierarchy")
  }

  /** `information_schema.foreign_servers` + options, `foreign_tables` +
    * options, `user_mappings` + options — read from the FDW registry
    * (reference `fdw/` metadata tables; passwords are NOT surfaced in
    * options, matching the reference's redaction). */
  def foreignServers(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Fdw.listServers.map { case (n, _) => ("spark_catalog", n, "jdbc") }
      .toDF("foreign_server_catalog", "foreign_server_name", "foreign_data_wrapper_name")
  }

  def foreignServerOptions(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Fdw.listServers.flatMap { case (n, s) =>
      (("url" -> s.url) +: s.options.toSeq.sortBy(_._1)).map {
        case (k, v) => ("spark_catalog", n, k, v)
      }
    }.toDF("foreign_server_catalog", "foreign_server_name", "option_name", "option_value")
  }

  def foreignTables(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Fdw.listForeignTables.map { case (n, ft) =>
      ("spark_catalog", "default", n, "spark_catalog", ft.server)
    }.toDF("foreign_table_catalog", "foreign_table_schema", "foreign_table_name",
      "foreign_server_catalog", "foreign_server_name")
  }

  def foreignTableOptions(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Fdw.listForeignTables.flatMap { case (n, ft) =>
      (("table_name" -> ft.remoteTable) +: ft.options.toSeq.sortBy(_._1)).map {
        case (k, v) => ("spark_catalog", "default", n, k, v)
      }
    }.toDF("foreign_table_catalog", "foreign_table_schema", "foreign_table_name",
      "option_name", "option_value")
  }

  def userMappings(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Fdw.listUserMappings.map { case ((u, srv), _) =>
      (if (u.isEmpty) "PUBLIC" else u, "spark_catalog", srv)
    }.toDF("authorization_identifier", "foreign_server_catalog", "foreign_server_name")
  }

  def userMappingOptions(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Fdw.listUserMappings.flatMap { case ((u, srv), opts) =>
      opts.toSeq.sortBy(_._1).map { case (k, v) =>
        (if (u.isEmpty) "PUBLIC" else u, "spark_catalog", srv, k,
          if (k == "password") "********" else v)
      }
    }.toDF("authorization_identifier", "foreign_server_catalog",
      "foreign_server_name", "option_name", "option_value")
  }

  /** Register all views under information_schema-style names. */
  def register(spark: SparkSession): Unit = {
    // ONE catalog snapshot + schema cache shared across the builders (was
    // 7 listTables().collect() + a listColumns Dataset per table per call)
    val tabs = CatalogSnapshot.tables(spark)
    val fieldsOf = fieldsLookup(spark)
    // fixed-content relations are memoized per session (PgCatalog's
    // discipline: an encoder pass per build, rows constant in a session)
    def static(name: String)(build: => DataFrame): Unit =
      graft.Memo(spark, s"catalog#$name")(build).createOrReplaceTempView(name)
    tablesFrom(spark, tabs).createOrReplaceTempView("information_schema_tables")
    columnsFrom(spark, tabs, fieldsOf).createOrReplaceTempView("information_schema_columns")
    schemata(spark).createOrReplaceTempView("information_schema_schemata")
    viewsFrom(spark, tabs).createOrReplaceTempView("information_schema_views")
    routines(spark).createOrReplaceTempView("information_schema_routines")
    tableConstraintsFrom(spark, tabs).createOrReplaceTempView("information_schema_table_constraints")
    static("information_schema_character_sets")(characterSets(spark))
    keyColumnUsageFrom(spark, tabs).createOrReplaceTempView("information_schema_key_column_usage")
    static("information_schema_referential_constraints")(referentialConstraints(spark))
    static("information_schema_collations")(collations(spark))
    static("information_schema_sql_features")(sqlFeatures(spark))
    constraintColumnUsageFrom(spark, tabs).createOrReplaceTempView("information_schema_constraint_column_usage")
    static("information_schema_view_column_usage")(viewColumnUsage(spark))
    partitionsFrom(spark, tabs).createOrReplaceTempView("information_schema_partitions")
    enabledRoles(spark).createOrReplaceTempView("information_schema_enabled_roles")
    applicableRoles(spark).createOrReplaceTempView("information_schema_applicable_roles")
    administrableRoleAuthorizations(spark)
      .createOrReplaceTempView("information_schema_administrable_role_authorizations")
    roleTableGrants(spark).createOrReplaceTempView("information_schema_role_table_grants")
    foreignServers(spark).createOrReplaceTempView("information_schema_foreign_servers")
    foreignServerOptions(spark).createOrReplaceTempView("information_schema_foreign_server_options")
    foreignTables(spark).createOrReplaceTempView("information_schema_foreign_tables")
    foreignTableOptions(spark).createOrReplaceTempView("information_schema_foreign_table_options")
    userMappings(spark).createOrReplaceTempView("information_schema_user_mappings")
    userMappingOptions(spark).createOrReplaceTempView("information_schema_user_mapping_options")
  }
}
