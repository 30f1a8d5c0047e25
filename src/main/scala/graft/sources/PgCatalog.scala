package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Full `pg_catalog` emulation — all 31 relations the reference ships
  * (`metadata/pgcatalog/PgCatalogTableDefinitions.java`). Populated from
  * live session metadata where the reference populates them (tables,
  * columns, types, PK indexes/constraints, roles, cursors, settings,
  * column stats); schema-correct and empty where the reference itself
  * serves an empty relation (pg_locks, pg_am, pg_enum, pg_range,
  * pg_depend, pg_matviews, pg_event_trigger, pg_description,
  * pg_shdescription, pg_attrdef, pg_tablespace, pg_indexes) or where the
  * feature is unconfigured here (logical-replication publications/
  * subscriptions). OIDs are stable name hashes, the same trick the
  * reference uses (`OidHash.java`) since neither engine has real Postgres
  * OIDs. `Dialect.translate` strips the `pg_catalog.` qualifier, so
  * `SELECT * FROM pg_catalog.pg_type` works.
  */
object PgCatalog {

  /** Stable positive pseudo-OID (reference metadata/pgcatalog/OidHash.java). */
  def oid(name: String): Int = {
    val h = name.hashCode
    if (h == Int.MinValue) 42 else math.abs(h)
  }

  /** Postgres type OIDs for the Spark types we surface (the real wire-level
    * constants — clients hardcode these). */
  def pgTypeOid(dt: DataType): Int = dt match {
    case BooleanType      => 16
    case BinaryType       => 17
    case LongType         => 20
    case ShortType | ByteType => 21
    case IntegerType      => 23
    case _: StringType    => 25
    case FloatType        => 700
    case DoubleType       => 701
    case DateType         => 1082
    case TimestampNTZType => 1114
    case TimestampType    => 1184
    case _: DecimalType   => 1700
    case ArrayType(e, _)  => pgArrayOid(e)
    case _                => 2249 // record
  }

  private def pgArrayOid(e: DataType): Int = e match {
    case BooleanType   => 1000
    case LongType      => 1016
    case IntegerType   => 1007
    case _: StringType => 1009
    case FloatType     => 1021
    case DoubleType    => 1022
    case _             => 2287 // _record
  }

  def pgType(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(
      (16, "bool", 1), (17, "bytea", -1), (20, "int8", 8), (21, "int2", 2),
      (23, "int4", 4), (25, "text", -1), (700, "float4", 4), (701, "float8", 8),
      (1000, "_bool", -1), (1007, "_int4", -1), (1009, "_text", -1),
      (1016, "_int8", -1), (1021, "_float4", -1), (1022, "_float8", -1),
      (1043, "varchar", -1), (1082, "date", 4), (1114, "timestamp", 8),
      (1184, "timestamptz", 8), (1700, "numeric", -1), (2249, "record", -1),
      (2287, "_record", -1), (114, "json", -1)
    ).toDF("oid", "typname", "typlen")
  }

  def pgNamespace(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq((11, "pg_catalog"), (2200, "public"), (oid("information_schema"), "information_schema"),
      (oid("sys"), "sys"), (oid("doc"), "doc"))
      .toDF("oid", "nspname")
  }

  def pgClass(spark: SparkSession): DataFrame =
    pgClassFrom(spark, CatalogSnapshot.tables(spark))

  private def pgClassFrom(spark: SparkSession,
      tabs: Seq[org.apache.spark.sql.catalog.Table]): DataFrame = {
    import spark.implicits._
    tabs.map { t =>
      val kind = if (t.tableType != null && t.tableType.toUpperCase.contains("VIEW")) "v" else "r"
      (oid(t.name), t.name, 2200, kind)
    }.toDF("oid", "relname", "relnamespace", "relkind")
  }

  def pgAttribute(spark: SparkSession): DataFrame =
    pgAttributeFrom(spark, CatalogSnapshot.tables(spark),
      schemaLookup(spark))

  private def pgAttributeFrom(spark: SparkSession,
      tabs: Seq[org.apache.spark.sql.catalog.Table],
      schemaOf: String => Option[StructType]): DataFrame = {
    import spark.implicits._
    val rows = tabs.flatMap { t =>
      schemaOf(t.name).toSeq.flatMap(_.fields.toSeq.zipWithIndex.map {
        case (f, i) =>
          (oid(t.name), f.name, pgTypeOid(f.dataType), i + 1, !f.nullable)
      })
    }
    rows.toDF("attrelid", "attname", "atttypid", "attnum", "attnotnull")
  }

  /** Per-register-call schema cache: each table is analyzed at most once
    * per snapshot even though three relations need its fields. */
  private def schemaLookup(spark: SparkSession): String => Option[StructType] = {
    val cache = scala.collection.mutable.HashMap.empty[String, Option[StructType]]
    n => cache.getOrElseUpdate(n,
      try Some(spark.table(n).schema) catch { case _: Exception => None })
  }

  def pgProc(spark: SparkSession): DataFrame = {
    import spark.implicits._
    CatalogSnapshot.functions(spark)
      .map(f => (oid(f.name), f.name, 11))
      .toDF("oid", "proname", "pronamespace")
  }

  def pgDatabase(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq((oid("graft"), "graft", "UTF8")).toDF("oid", "datname", "encoding")
  }

  /** Credential-bearing conf values (fs.s3a secret keys, JDBC passwords,
    * tokens) are masked — same policy as `user_mapping_options`, which
    * already hides passwords; exposing the raw conf through SQL would leak
    * them to any client that can SELECT. */
  private val secretConfKey =
    java.util.regex.Pattern.compile("(?i)(password|secret|token|credential|\\bkey\\b|\\.key$|access[._-]?key|private[._-]?key)")

  def pgSettings(spark: SparkSession): DataFrame = {
    import spark.implicits._
    spark.conf.getAll.toSeq.sortBy(_._1)
      .map { case (k, v) =>
        (k, if (secretConfKey.matcher(k).find()) "********" else v)
      }
      .toDF("name", "setting")
  }

  // -- derived relations -----------------------------------------------

  /** `pg_tables` (reference PgTablesTable.java) — one row per base table. */
  def pgTables(spark: SparkSession): DataFrame =
    pgTablesFrom(spark, CatalogSnapshot.tables(spark))

  private def pgTablesFrom(spark: SparkSession,
      tabs: Seq[org.apache.spark.sql.catalog.Table]): DataFrame = {
    import spark.implicits._
    val user = spark.sparkContext.sparkUser
    tabs.filter(t => t.tableType == null || !t.tableType.toUpperCase.contains("VIEW"))
      .map(t => ("doc", t.name, user, null: String, false, false, false, false))
      .toDF("schemaname", "tablename", "tableowner", "tablespace",
        "hasindexes", "hasrules", "hastriggers", "rowsecurity")
  }

  /** `pg_views` (PgViewsTable.java) — temp/global views; definition NULL,
    * same as the reference (it does not reconstruct view SQL here). */
  def pgViews(spark: SparkSession): DataFrame =
    pgViewsFrom(spark, CatalogSnapshot.tables(spark))

  private def pgViewsFrom(spark: SparkSession,
      tabs: Seq[org.apache.spark.sql.catalog.Table]): DataFrame = {
    import spark.implicits._
    val user = spark.sparkContext.sparkUser
    tabs.filter(t => t.tableType != null && t.tableType.toUpperCase.contains("VIEW"))
      .map(t => ("doc", t.name, user, null: String))
      .toDF("schemaname", "viewname", "viewowner", "definition")
  }

  /** `pg_index` (PgIndexTable.java) — one row per primary key, exactly the
    * reference's `informationSchemaIterables.pgIndices()`: PK-only, indnatts
    * pinned to 0, indkey = 1-based attnums of the PK member columns. */
  def pgIndex(spark: SparkSession): DataFrame =
    pgIndexFrom(spark, CatalogSnapshot.tables(spark), schemaLookup(spark))

  private def pgIndexFrom(spark: SparkSession,
      tabs: Seq[org.apache.spark.sql.catalog.Table],
      schemaOf: String => Option[StructType]): DataFrame = {
    import spark.implicits._
    val registered = tabs.map(_.name).toSet
    InformationSchema.primaryKeys.toSeq.filter(kv => registered(kv._1)).sortBy(_._1)
      .map { case (t, cols) =>
        val attnums = schemaOf(t) match {
          case Some(sch) =>
            val fields = sch.fieldNames
            cols.map(c => fields.indexOf(c) + 1)
          case None => cols.indices.map(_ + 1)
        }
        (oid(s"${t}_pkey"), oid(t), 0.toShort, cols.size.toShort,
          false, true, false, true, false, true, false, true, true, false,
          attnums, null: Seq[Int], null: Seq[Int], null: Seq[Short],
          null: String, null: String)
      }
      .toDF("indexrelid", "indrelid", "indnatts", "indnkeyatts",
        "indisunique", "indisprimary", "indisexclusion", "indimmediate",
        "indisclustered", "indisvalid", "indcheckxmin", "indisready",
        "indislive", "indisreplident", "indkey", "indcollation", "indclass",
        "indoption", "indexprs", "indpred")
  }

  /** `pg_constraint` (PgConstraintTable.java) — PK constraints with conkey
    * attnums; FK action chars pinned to NO ACTION / MATCH SIMPLE like the
    * reference. */
  def pgConstraint(spark: SparkSession): DataFrame =
    pgConstraintFrom(spark, CatalogSnapshot.tables(spark), schemaLookup(spark))

  private def pgConstraintFrom(spark: SparkSession,
      tabs: Seq[org.apache.spark.sql.catalog.Table],
      schemaOf: String => Option[StructType]): DataFrame = {
    import org.apache.spark.sql.Row
    val registered = tabs.map(_.name).toSet
    val rows = InformationSchema.primaryKeys.toSeq
      .filter(kv => registered(kv._1)).sortBy(_._1)
      .map { case (t, cols) =>
        val conkey: Seq[Short] = schemaOf(t) match {
          case Some(sch) =>
            val fields = sch.fieldNames
            cols.map(c => (fields.indexOf(c) + 1).toShort)
          case None => cols.indices.map(i => (i + 1).toShort)
        }
        Row(oid(s"${t}_pkey"), s"${t}_pkey", 2200, "p", false, false, true,
          oid(t), 0, 0, 0, 0, "a", "a", "s", true, 0, true,
          conkey, null, null, null, null, null, null)
      }
    val schema = StructType(Seq(
      StructField("oid", IntegerType), StructField("conname", StringType),
      StructField("connamespace", IntegerType), StructField("contype", StringType),
      StructField("condeferrable", BooleanType), StructField("condeferred", BooleanType),
      StructField("convalidated", BooleanType), StructField("conrelid", IntegerType),
      StructField("contypid", IntegerType), StructField("conindid", IntegerType),
      StructField("conparentid", IntegerType), StructField("confrelid", IntegerType),
      StructField("confupdtype", StringType), StructField("confdeltype", StringType),
      StructField("confmatchtype", StringType), StructField("conislocal", BooleanType),
      StructField("coninhcount", IntegerType), StructField("connoinherit", BooleanType),
      StructField("conkey", ArrayType(ShortType)), StructField("confkey", ArrayType(ShortType)),
      StructField("conpfeqop", ArrayType(IntegerType)), StructField("conppeqop", ArrayType(IntegerType)),
      StructField("conffeqop", ArrayType(IntegerType)), StructField("conexclop", ArrayType(IntegerType)),
      StructField("conbin", StringType)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema)
  }

  /** `pg_roles` (PgRolesTable.java) — the process user plus every
    * registered user/role; rolpassword is always the '********' mask, as
    * in the reference. */
  def pgRoles(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val process = spark.sparkContext.sparkUser
    val registered = Roles.all
    val rows = (if (registered.exists(_.name == process)) Nil
                else Seq((process, true, true, true, true, true))) ++
      registered.map(r =>
        (r.name, r.superuser, true, r.superuser, r.superuser, r.isUser))
    rows.map { case (n, su, inh, cr, cdb, login) =>
      (n, su, inh, cr, cdb, login, false, -1, "********",
        null: String, false, null: Seq[String], oid(n))
    }.toDF("rolname", "rolsuper", "rolinherit", "rolcreaterole",
      "rolcreatedb", "rolcanlogin", "rolreplication", "rolconnlimit",
      "rolpassword", "rolvaliduntil", "rolbypassrls", "rolconfig", "oid")
  }

  /** `pg_user` (PgUserTable.java) — login-capable roles of [[pgRoles]]. */
  def pgUser(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val process = spark.sparkContext.sparkUser
    val registered = Roles.all.filter(_.isUser)
    val rows = (if (registered.exists(_.name == process)) Nil
                else Seq((process, true))) ++
      registered.map(r => (r.name, r.superuser))
    rows.map { case (n, su) =>
      (n, oid(n), su, su, false, false, "********",
        null: String, null: Seq[String])
    }.toDF("usename", "usesysid", "usecreatedb", "usesuper", "userepl",
      "usebypassrls", "passwd", "valuntil", "useconfig")
  }

  /** `pg_auth_members` (PgAuthMembersTable.java) — the role-inheritance
    * edges of the grant graph, OID-encoded like the reference's
    * `authMembers(roles)`. */
  def pgAuthMembers(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val edges = Roles.all.flatMap(r => r.granted.map(gr =>
      (oid(s"${gr.role}->${r.name}"), oid(gr.role), oid(r.name),
        oid(gr.grantor), false, true, false)))
    if (edges.isEmpty)
      empty(spark, StructType(Seq(
        StructField("oid", IntegerType), StructField("roleid", IntegerType),
        StructField("member", IntegerType), StructField("grantor", IntegerType),
        StructField("admin_option", BooleanType),
        StructField("inherit_option", BooleanType),
        StructField("set_option", BooleanType))))
    else edges.toDF("oid", "roleid", "member", "grantor", "admin_option",
      "inherit_option", "set_option")
  }

  /** `pg_cursors` (PgCursors.java) — currently-open named cursors. */
  def pgCursors(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Cursor.openCursors.map { case (name, (stmt, createdMs)) =>
      (name, stmt, false, false, false,
        new java.sql.Timestamp(createdMs))
    }.toSeq.sortBy(_._1)
      .toDF("name", "statement", "is_holdable", "is_binary",
        "is_scrollable", "creation_time")
  }

  /** `pg_stats` (PgStatsTable.java) — per-column statistics, populated the
    * way the reference populates it from `TableStats`: only for columns the
    * session has ANALYZEd (`ANALYZE TABLE … FOR COLUMNS`); tables without
    * column stats contribute no rows. */
  /** Per-column statistics recorded by the router's ANALYZE for versioned
    * tables (the reference's `ANALYZE` feeds `pg_stats` through
    * TableStatsService; Spark's catalog stats only exist for catalog
    * tables, so router tables record here). Mirrors the reference's
    * ColumnStats: null fraction, width, distinct count, most-common
    * values + frequencies (MostCommonValuesSketch), histogram bounds
    * (HistogramSketch). */
  final case class ColStats(nullFrac: Float, avgWidth: Int, nDistinct: Float,
                            mostCommonVals: Seq[String] = Nil,
                            mostCommonFreqs: Seq[Float] = Nil,
                            histogramBounds: Seq[String] = Nil)
  private[graft] val analyzedStats =
    new java.util.concurrent.ConcurrentHashMap[(String, String), ColStats]()

  def pgStats(spark: SparkSession): DataFrame =
    pgStatsFrom(spark, CatalogSnapshot.tables(spark))

  private def pgStatsFrom(spark: SparkSession,
      tabs: Seq[org.apache.spark.sql.catalog.Table]): DataFrame = {
    import spark.implicits._
    // attributeStats come from catalog-table metadata (ANALYZE); a TEMP
    // view can never carry them, so skip its optimizer pass outright —
    // running the optimizer per temp view was most of this builder's cost
    val catalogRows = tabs
      .filter(t => t.tableType == null || t.tableType.toUpperCase != "TEMPORARY")
      .flatMap { t =>
      try {
        val plan = spark.table(t.name).queryExecution.optimizedPlan
        val rowCount = plan.stats.rowCount.map(_.toDouble)
        plan.stats.attributeStats.toSeq.map { case (attr, cs) =>
          val nullFrac = (for (n <- cs.nullCount; rc <- rowCount; if rc > 0)
            yield (n.toDouble / rc).toFloat).getOrElse(0f)
          ("doc", t.name, attr.name, false, nullFrac,
            cs.avgLen.map(_.toInt).getOrElse(0),
            cs.distinctCount.map(_.toFloat).getOrElse(-1f),
            null: Seq[String], null: Seq[Float], null: Seq[String])
        }
      } catch { case _: Exception => Nil }
    }
    val covered = catalogRows.map(r => (r._2, r._3)).toSet
    val analyzed = {
      import scala.jdk.CollectionConverters._
      analyzedStats.asScala.toSeq
        .filterNot { case ((t, c), _) => covered((t, c)) }
        .map { case ((t, c), s) => ("doc", t, c, false, s.nullFrac, s.avgWidth,
          s.nDistinct,
          if (s.mostCommonVals.isEmpty) null else s.mostCommonVals,
          if (s.mostCommonFreqs.isEmpty) null else s.mostCommonFreqs,
          if (s.histogramBounds.isEmpty) null else s.histogramBounds) }
    }
    val rows = (catalogRows ++ analyzed).sortBy(r => (r._2, r._3))
    rows.toDF("schemaname", "tablename", "attname", "inherited",
        "null_frac", "avg_width", "n_distinct",
        "most_common_vals", "most_common_freqs", "histogram_bounds")
      .withColumn("correlation", org.apache.spark.sql.functions.lit(null).cast(FloatType))
      .withColumn("most_common_elems", org.apache.spark.sql.functions.lit(null).cast(ArrayType(StringType)))
      .withColumn("most_common_elem_freqs", org.apache.spark.sql.functions.lit(null).cast(ArrayType(FloatType)))
      .withColumn("elem_count_histogram", org.apache.spark.sql.functions.lit(null).cast(ArrayType(FloatType)))
  }

  // -- empty-by-design relations (the reference serves these empty too:
  // PgCatalogTableDefinitions.java `completedFuture(emptyList())`) --------

  private def empty(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  def pgAttrDef(spark: SparkSession): DataFrame =
    empty(spark, StructType(Seq(
      StructField("oid", IntegerType), StructField("adrelid", IntegerType),
      StructField("adnum", ShortType), StructField("adbin", StringType),
      StructField("adsrc", StringType))))

  def pgDescription(spark: SparkSession): DataFrame =
    empty(spark, StructType(Seq(
      StructField("objoid", IntegerType), StructField("classoid", IntegerType),
      StructField("objsubid", IntegerType), StructField("description", StringType))))

  def pgShdescription(spark: SparkSession): DataFrame =
    empty(spark, StructType(Seq(
      StructField("objoid", IntegerType), StructField("classoid", IntegerType),
      StructField("description", StringType))))

  def pgEnum(spark: SparkSession): DataFrame =
    empty(spark, StructType(Seq(
      StructField("oid", IntegerType), StructField("enumtypid", IntegerType),
      StructField("enumsortorder", FloatType), StructField("enumlabel", StringType))))

  def pgRange(spark: SparkSession): DataFrame =
    empty(spark, StructType(Seq(
      StructField("rngtypid", IntegerType), StructField("rngsubtype", IntegerType),
      StructField("rngmultitypid", IntegerType), StructField("rngcollation", IntegerType),
      StructField("rngsubopc", IntegerType), StructField("rngcanonical", StringType),
      StructField("rngsubdiff", StringType))))

  def pgAm(spark: SparkSession): DataFrame =
    empty(spark, StructType(Seq(
      StructField("oid", IntegerType), StructField("amname", StringType),
      StructField("amhandler", StringType), StructField("amtype", StringType))))

  def pgTablespace(spark: SparkSession): DataFrame =
    empty(spark, StructType(Seq(
      StructField("oid", IntegerType), StructField("spcname", StringType),
      StructField("spcowner", IntegerType), StructField("spcacl", ArrayType(StringType)),
      StructField("spcoptions", ArrayType(StringType)))))

  def pgIndexes(spark: SparkSession): DataFrame =
    empty(spark, StructType(Seq(
      StructField("schemaname", StringType), StructField("tablename", StringType),
      StructField("indexname", StringType), StructField("tablespace", StringType),
      StructField("indexdef", StringType))))

  def pgLocks(spark: SparkSession): DataFrame =
    empty(spark, StructType(Seq(
      StructField("locktype", StringType), StructField("database", IntegerType),
      StructField("relation", IntegerType), StructField("page", IntegerType),
      StructField("tuple", ShortType), StructField("virtualxid", StringType),
      StructField("transactionid", LongType), StructField("classid", IntegerType),
      StructField("objid", IntegerType), StructField("objsubid", ShortType),
      StructField("virtualtransaction", StringType), StructField("pid", IntegerType),
      StructField("mode", StringType), StructField("granted", BooleanType),
      StructField("fastpath", BooleanType), StructField("waitstart", TimestampType))))

  def pgEventTrigger(spark: SparkSession): DataFrame =
    empty(spark, StructType(Seq(
      StructField("oid", IntegerType), StructField("evtname", StringType),
      StructField("evtevent", StringType), StructField("evtowner", IntegerType),
      StructField("evtfoid", IntegerType), StructField("evtenabled", StringType),
      StructField("evttags", ArrayType(StringType)))))

  def pgDepend(spark: SparkSession): DataFrame =
    empty(spark, StructType(Seq(
      StructField("classid", IntegerType), StructField("objid", IntegerType),
      StructField("objsubid", IntegerType), StructField("refclassid", IntegerType),
      StructField("refobjid", IntegerType), StructField("refobjsubid", IntegerType),
      StructField("deptype", StringType))))

  def pgMatviews(spark: SparkSession): DataFrame =
    empty(spark, StructType(Seq(
      StructField("schemaname", StringType), StructField("matviewname", StringType),
      StructField("matviewowner", StringType), StructField("tablespace", StringType),
      StructField("hasindexes", BooleanType), StructField("ispopulated", BooleanType),
      StructField("definition", StringType))))

  // logical replication is not configured in this engine — the relations
  // exist with the reference's schemas and are empty, exactly what the
  // reference serves with no publications/subscriptions defined
  def pgPublication(spark: SparkSession): DataFrame =
    empty(spark, StructType(Seq(
      StructField("oid", IntegerType), StructField("pubname", StringType),
      StructField("pubowner", IntegerType), StructField("puballtables", BooleanType),
      StructField("pubinsert", BooleanType), StructField("pubupdate", BooleanType),
      StructField("pubdelete", BooleanType))))

  def pgPublicationTables(spark: SparkSession): DataFrame =
    empty(spark, StructType(Seq(
      StructField("pubname", StringType), StructField("schemaname", StringType),
      StructField("tablename", StringType))))

  def pgSubscription(spark: SparkSession): DataFrame =
    empty(spark, StructType(Seq(
      StructField("oid", IntegerType), StructField("subdbid", IntegerType),
      StructField("subname", StringType), StructField("subowner", IntegerType),
      StructField("subenabled", BooleanType), StructField("subbinary", BooleanType),
      StructField("substream", BooleanType), StructField("subconninfo", StringType),
      StructField("subslotname", StringType), StructField("subsynccommit", StringType),
      StructField("subpublications", ArrayType(StringType)))))

  def pgSubscriptionRel(spark: SparkSession): DataFrame =
    empty(spark, StructType(Seq(
      StructField("srsubid", IntegerType), StructField("srrelid", IntegerType),
      StructField("srsubstate", StringType),
      StructField("srsubstate_reason", StringType),
      StructField("srsublsn", LongType))))

  /** `pg_get_keywords()` (reference tablefunctions/
    * PgGetKeywordsFunction.java: one row per lexer keyword, catcode
    * 'R'/'U' with catdesc 'reserved'/'unreserved'). Served as a view —
    * the Dialect drops the zero-arg call parens — from the committed
    * [[PgKeywords]] data, which tools/gen_pg_keywords.py derives from
    * the reference's PUBLIC grammar exactly the way the reference
    * derives it from its lexer at runtime. */
  def pgGetKeywords(spark: SparkSession): DataFrame = {
    import spark.implicits._
    PgKeywords.all.map { case (w, r) =>
      (w, if (r) "R" else "U", if (r) "reserved" else "unreserved")
    }.toDF("word", "catcode", "catdesc")
  }

  def registerAll(spark: SparkSession): Unit = {
    // ONE catalog snapshot + schema cache shared by every dynamic builder
    // (was 7 listTables().collect() + 3 per-table analysis loops per call)
    val tabs = CatalogSnapshot.tables(spark)
    val schemaOf = schemaLookup(spark)
    // relations whose content never changes within a session (fixed rows
    // or empty-by-design) are memoized per session: each build costs an
    // encoder/LocalRelation pass. Dynamic relations (class/attribute/
    // tables/views/index/constraint/stats/proc/settings/roles/cursors)
    // stay rebuilt per call — the "snapshot views, re-register to refresh"
    // contract PgCatalogSpec pins.
    def static(name: String)(build: => DataFrame): Unit =
      graft.Memo(spark, s"catalog#$name")(build).createOrReplaceTempView(name)
    static("pg_type")(pgType(spark))
    static("pg_namespace")(pgNamespace(spark))
    pgClassFrom(spark, tabs).createOrReplaceTempView("pg_class")
    pgAttributeFrom(spark, tabs, schemaOf).createOrReplaceTempView("pg_attribute")
    pgProc(spark).createOrReplaceTempView("pg_proc")
    static("pg_database")(pgDatabase(spark))
    pgSettings(spark).createOrReplaceTempView("pg_settings")
    pgTablesFrom(spark, tabs).createOrReplaceTempView("pg_tables")
    pgViewsFrom(spark, tabs).createOrReplaceTempView("pg_views")
    pgIndexFrom(spark, tabs, schemaOf).createOrReplaceTempView("pg_index")
    pgConstraintFrom(spark, tabs, schemaOf).createOrReplaceTempView("pg_constraint")
    pgRoles(spark).createOrReplaceTempView("pg_roles")
    pgUser(spark).createOrReplaceTempView("pg_user")
    pgAuthMembers(spark).createOrReplaceTempView("pg_auth_members")
    pgCursors(spark).createOrReplaceTempView("pg_cursors")
    pgStatsFrom(spark, tabs).createOrReplaceTempView("pg_stats")
    static("pg_attrdef")(pgAttrDef(spark))
    static("pg_description")(pgDescription(spark))
    static("pg_shdescription")(pgShdescription(spark))
    static("pg_enum")(pgEnum(spark))
    static("pg_range")(pgRange(spark))
    static("pg_am")(pgAm(spark))
    static("pg_tablespace")(pgTablespace(spark))
    static("pg_indexes")(pgIndexes(spark))
    static("pg_locks")(pgLocks(spark))
    static("pg_event_trigger")(pgEventTrigger(spark))
    static("pg_depend")(pgDepend(spark))
    static("pg_matviews")(pgMatviews(spark))
    static("pg_publication")(pgPublication(spark))
    static("pg_publication_tables")(pgPublicationTables(spark))
    static("pg_subscription")(pgSubscription(spark))
    static("pg_subscription_rel")(pgSubscriptionRel(spark))
    static("pg_get_keywords")(pgGetKeywords(spark))
  }
}
