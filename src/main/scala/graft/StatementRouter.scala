package graft

import graft.operators.{MatchText, Similarity}
import graft.sources.{Dml, KeyMap, ParquetFooter, VersionedTable}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}
import org.apache.hadoop.fs.Path

/** Full-statement execution — the porting entry point for a CrateDB client.
  *
  * The reference's user surface is SQL statements over mutable tables
  * (`SqlBaseParser.g4`, `AstBuilder.java`); graft's storage substrate is
  * immutable Parquet. This router closes the gap: every statement class a
  * CrateDB application sends — CREATE TABLE, INSERT [ON CONFLICT DO
  * NOTHING | DO UPDATE SET], UPDATE [RETURNING], DELETE [RETURNING], DROP
  * TABLE, SELECT — executes against versioned-parquet table roots under
  * `root`, with copy-on-write semantics and atomic manifest commits
  * ([[sources.VersionedTable]]), so readers racing a write always see a
  * complete snapshot (the reference gets the same guarantee from the Lucene
  * translog, `TransportShardUpsertAction.java:91`).
  *
  * A statement is lexed once into a [[StatementRouter.Stmt]]; schema
  * resolution, privilege checks, dispatch and the handlers read its
  * tokens. Handlers then run it through [[Dialect.translate]] (or
  * [[Dialect.translateDdl]]), so CrateDB-isms — `::` casts, OBJECT
  * literals, `ANY(array)`, renamed functions — work in every clause,
  * including SET assignments and WHERE conditions; the translated text is
  * lexed once more. SELECTs run one route chain ([[routeSelect]]) that
  * plain EXPLAIN shares without the routes' side effects.
  *
  * Scale: every DML transform is a distributed join/window ([[sources.Dml]]
  * — no driver-side row loops); the commit itself moves manifests, not
  * data. DML result is the affected-row count (CrateDB's wire response) or
  * the RETURNING rows.
  */
class StatementRouter(spark: SparkSession, root: String) {
  import Dialect.{Tok, matchFwd}
  import StatementRouter.{Route, Served, Stmt, unq}

  graft.functions.GraftFunctions.registerAll(spark)

  private def tablePath(name: String) = s"$root/$name"

  // ---------- transactions ----------

  /** Open-transaction buffer: table name → staged snapshot. `None` =
    * autocommit (every DML statement commits its own version — the
    * reference's granularity). BEGIN…COMMIT batches any number of DML
    * statements into ONE versioned commit per touched table: statements
    * inside the transaction read their own writes (staged snapshots are
    * materialized eagerly), readers outside see nothing until COMMIT, and
    * ROLLBACK discards the staged state without a trace. Atomicity is
    * per-table (one manifest rename each) — a superset of the reference,
    * which has no multi-statement transactions at all. */
  private var txn: Option[scala.collection.mutable.LinkedHashMap[String, DataFrame]] = None

  /** In-transaction touched-pk buffer (table → distinct pk strings):
    * [[markTouched]] cannot write `<table>/_touched/v{N}` markers
    * mid-transaction because the commit version N is assigned only at
    * COMMIT — so the pks stage here and [[commitTxn]] writes them under
    * the committed version. Identical-value writes inside BEGIN…COMMIT
    * therefore advance `_seq_no` like autocommit ones (reference
    * any-write semantics, SysColumns.java:49-64); the remaining
    * granularity difference is inherent to the model — N statements in
    * one transaction fold into ONE version, so a row touched twice
    * advances once, to the commit version. */
  private var txnTouched =
    scala.collection.mutable.LinkedHashMap.empty[String, DataFrame]

  /** Current snapshot: the staged transactional state if present, else the
    * latest committed version. */
  private def readTable(name: String): DataFrame =
    txn.flatMap(_.get(name)).getOrElse(VersionedTable.read(spark, tablePath(name)))

  /** Stage (in a transaction) or commit (autocommit) the next snapshot.
    * Staged snapshots are localCheckpoint'ed: the transform is computed
    * once, later statements in the transaction read a stable materialized
    * state, and lineage cannot pile up across a long script. */
  private def writeTable(name: String, next: DataFrame,
                         touched: Option[Seq[Seq[Any]]] = None): Option[Int] =
    txn match {
      case Some(buf) => buf(name) = next.localCheckpoint(); None
      case None      => Some(touched match {
        case Some(t) => VersionedTable.commitPartial(spark, tablePath(name), next, t)
        case None    => VersionedTable.commit(spark, tablePath(name), next)
      })
    }

  /** The current snapshot and, outside a transaction, the committed
    * version it reads. */
  private def snapshot(name: String): (DataFrame, Option[Int]) =
    if (txn.isDefined) (readTable(name), None)
    else {
      val path = tablePath(name)
      val v = VersionedTable.latestVersion(spark, path).getOrElse(
        throw new IllegalArgumentException(s"no committed versions at $path"))
      (VersionedTable.readVersion(spark, path, v), Some(v))
    }

  // ---------- primary-key map ----------

  /** The key column and partition columns of a table whose versions carry
    * a [[KeyMap]]: autocommit and a single-column PRIMARY KEY of a key
    * type. Decided from metadata alone. */
  private def keyed(name: String, schema: StructType): Option[(String, Seq[String])] =
    if (txn.isDefined) None
    else for {
      k <- KeyMap.keyColumn(VersionedTable.primaryKey(spark, tablePath(name)), schema)
      parts = VersionedTable.partitionSpec(spark, tablePath(name)).map(_.cols).getOrElse(Nil)
      if parts.forall(schema.fieldNames.contains)
    } yield (k, parts)

  /** Whether assigning `cols` may change a row's key or partition. */
  private def movesKey(cols: Iterable[String], k: String, parts: Seq[String]): Boolean =
    cols.exists(c => (k +: parts).exists(_.equalsIgnoreCase(c)))

  /** The entries of `version`'s key map that `rows` (the table filtered by
    * a statement's condition) selects, with the map: None unless the
    * optimized filter is a key predicate and the version has a map. */
  private def keyHits(name: String, version: Option[Int], k: String, parts: Seq[String],
                      rows: DataFrame): Option[(KeyMap, Seq[(Any, Seq[Any])])] =
    for {
      v   <- version
      sel <- KeyMap.selection(rows.queryExecution.optimizedPlan, k)
      m   <- KeyMap.of(spark, tablePath(name), v, k, parts)
    } yield (m, m.select(sel))

  /** Store `m`, derived from the map of version `base`, as the map of the
    * version a write `committed`, when that is the next one: after a
    * concurrent commit the statement's delta no longer describes it. */
  private def storeKeyMap(name: String, base: Option[Int], committed: Option[Int],
                          m: Option[KeyMap]): Unit =
    for (b <- base; v <- committed if v == b + 1; km <- m)
      KeyMap.store(spark, tablePath(name), v, km)

  private def keyIn(k: String, keys: Seq[Any]): Column =
    if (keys.isEmpty) lit(false) else col(k).isin(keys: _*)

  private def duplicateKey(name: String) =
    s"DuplicateKeyException: a row with the same primary key exists already in $name"

  /** Partition-granular DML eligibility (reference: DML on a partitioned
    * table touches one Lucene index per affected partition, never the
    * table — `DocTableInfo.partitionedBy`). When the table is partitioned,
    * not bucketed, the statement runs in autocommit, no assignment moves a
    * row across partitions, and the partition-column types render to
    * directory names losslessly, returns the partition columns; the
    * statement's [[Dml.tally]] over them lists the partitions it touches,
    * and [[VersionedTable.commitPartial]] moves only those. None → full
    * copy-on-write commit. Decided from metadata alone: no job runs. */
  private def partitionCols(name: String, schema: StructType,
                            movedCols: Set[String] = Set.empty): Option[Seq[String]] = {
    if (txn.isDefined) return None
    val ps = VersionedTable.partitionSpec(spark, tablePath(name)).getOrElse(return None)
    if (VersionedTable.bucketSpec(spark, tablePath(name)).isDefined) return None
    if (ps.cols.exists(movedCols.contains)) return None
    val safe = ps.cols.forall { c =>
      schema(c).dataType match {
        case _: org.apache.spark.sql.types.StringType => true
        case org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType |
             org.apache.spark.sql.types.ShortType | org.apache.spark.sql.types.ByteType |
             org.apache.spark.sql.types.BooleanType | org.apache.spark.sql.types.DateType |
             org.apache.spark.sql.types.TimestampType |
             org.apache.spark.sql.types.TimestampNTZType => true
        case _ => false // decimals and floats: dir names unverified
      }
    }
    if (safe) Some(ps.cols) else None
  }

  /** The affected-row count and, under [[partitionCols]], the touched
    * partitions of a DML statement whose changed rows are `rows`: one
    * [[Dml.tally]], one job at most. */
  private def touchOf(rows: DataFrame, parts: Option[Seq[String]]): (Long, Option[Seq[Seq[Any]]]) = {
    val counts = Dml.tally(rows, parts.getOrElse(Nil))
    (counts.values.sum, parts.map(_ => counts.keys.toSeq))
  }

  private def beginTxn(): DataFrame = {
    require(txn.isEmpty, "nested transactions are not supported")
    txn = Some(scala.collection.mutable.LinkedHashMap.empty)
    txnTouched = scala.collection.mutable.LinkedHashMap.empty
    summary(0L)
  }

  private def commitTxn(): DataFrame = {
    val buf = txn.getOrElse(sys.error("COMMIT without BEGIN"))
    val touched = txnTouched
    txn = None
    txnTouched = scala.collection.mutable.LinkedHashMap.empty
    buf.foreach { case (name, df) =>
      VersionedTable.commit(spark, tablePath(name), df)
      // staged any-write markers land under the version just committed
      touched.get(name).foreach { pks =>
        try {
          val path = tablePath(name)
          VersionedTable.latestVersion(spark, path).foreach(v =>
            pks.write.mode("overwrite").parquet(s"$path/_touched/v$v"))
        } catch { case scala.util.control.NonFatal(_) => () }
      }
    }
    summary(buf.size.toLong)
  }

  private def rollbackTxn(): DataFrame = {
    require(txn.isDefined, "ROLLBACK without BEGIN")
    txn = None
    txnTouched = scala.collection.mutable.LinkedHashMap.empty
    summary(0L)
  }

  /** Render significant tokens back to SQL (whitespace was filtered out). */
  private def renderSig(v: Seq[Dialect.Tok]): String = v.map(_.text).mkString(" ")

  private def fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Latest snapshot of every table under the root, as temp views; inside
    * a transaction the staged snapshots overlay the committed ones (read
    * your own writes). `mentions` are the tokens of the statement being
    * served (none when the caller's statement cannot reference relations
    * by name): foreign tables register LAZILY — only when the statement or
    * a stored view names them — because resolving a JDBC relation's
    * schema opens a live connection, and registering every foreign table on every
    * statement would tax unrelated statements with a round-trip each (an
    * unreachable server would stall them for its connect timeout). */
  def registerViews(mentions: Seq[Tok] = Nil): Unit = {
    // durable schemas resurface per session (information_schema.schemata)
    registeredSchemas.foreach(sources.InformationSchema.registerSchema)
    tableNames.foreach { name =>
      readTable(name).createOrReplaceTempView(name)
      // declared PRIMARY KEYs surface through information_schema
      // (table_constraints / key_column_usage) and pg_catalog
      // (pg_index / pg_constraint), like the reference's DocTableInfo
      val pk = VersionedTable.primaryKey(spark, tablePath(name))
      if (pk.nonEmpty) sources.InformationSchema.registerPrimaryKey(name, pk)
    }
    // stored view texts, read once: they feed both the foreign-table
    // mention set and the fixpoint registration below
    val viewFiles: Seq[(String, String)] =
      if (!fs.exists(viewsDir)) Nil
      else fs.listStatus(viewsDir).toSeq
        .filter(_.getPath.getName.endsWith(".sql"))
        .map(st => (st.getPath.getName.stripSuffix(".sql"),
          readTextFile(st.getPath)))
    // foreign tables surface as temp views over live JDBC scans
    // (reference fdw/JdbcForeignDataWrapper.java materializes a
    // ForeignCollect phase per query; Spark's JDBC source gives the same
    // per-query scan plus predicate pushdown). LAZY: only foreign tables
    // the statement — or a stored view it might expand — mentions by name
    // are registered; [[sources.Fdw.scan]] memoizes the resolved relation
    // so repeated statements don't re-open a schema-resolution connection.
    // Best-effort: an unreachable foreign server must not poison the
    // statements that do reference it beyond their own resolution failure.
    val fts = sources.Fdw.listForeignTables
    if (fts.nonEmpty) {
      val mentioned: Set[String] =
        (mentions ++ viewFiles.flatMap(v => Dialect.lex(v._2)))
          .collect { case t if t.isWord => unq(t).toLowerCase }.toSet
      fts.foreach { case (name, _) =>
        if (mentioned.contains(name.toLowerCase))
          try sources.Fdw.scan(spark, name, sources.Roles.sessionUser(spark))
            .createOrReplaceTempView(name)
          catch { case scala.util.control.NonFatal(_) => () }
      }
    }
    // SQL views on top of the table snapshots (reference CreateViewPlan /
    // ViewsMetadata: a view is stored query text, re-analyzed per use so it
    // always reads the CURRENT table version). Views may reference other
    // views — register to a fixpoint, deferring ones whose dependencies
    // haven't been registered yet this pass.
    locally {
      var pending = viewFiles
      var progressed = true
      while (pending.nonEmpty && progressed) {
        val next = pending.filterNot { case (name, text) =>
          try {
            lower(text).createOrReplaceTempView(name)
            true
          } catch { case _: Exception => false }
        }
        progressed = next.length < pending.length
        pending = next
      }
    }
  }

  private def viewsDir = new Path(root, "_views")

  /** The router's tables: directories under the root holding manifests. */
  private def tableNames: Seq[String] = {
    val rp = new Path(root)
    if (!fs.exists(rp)) Nil
    else fs.listStatus(rp).toSeq
      .filter(st => st.isDirectory && fs.exists(new Path(st.getPath, "_manifests")))
      .map(_.getPath.getName)
  }

  private def readTextFile(p: Path): String = {
    val in = fs.open(p)
    val bytes = new Array[Byte](in.available())
    in.readFully(bytes); in.close()
    new String(bytes, "UTF-8")
  }

  private def writeTextFile(p: Path, text: String): Unit = {
    val out = fs.create(p, true)
    out.write(text.getBytes("UTF-8")); out.close()
  }

  /** Run a multi-statement script (what a CrateDB client sends over one
    * connection): statements split on top-level semicolons — literal-safe,
    * since the split walks [[Dialect.lex]] tokens, never raw text. Returns
    * the last statement's result. In autocommit each DML statement commits
    * its own table version, so a crash mid-script leaves every completed
    * statement durable and the in-flight one invisible (statement-level
    * atomicity, the reference's granularity as well). `BEGIN; …; COMMIT`
    * inside the script batches the enclosed DML into one versioned commit
    * per touched table instead. */
  def executeScript(script: String): DataFrame = {
    val stmts = Stmt.script(script)
    require(stmts.nonEmpty, "empty script")
    stmts.map(run).last
  }

  /** Executes one statement and records it in `sys.jobs_log` exactly once:
    * routed statements run through the NON-recording `spark.sql` fallthrough
    * (not [[Engine.sql]], which keeps its own single record for direct
    * callers), so neither success nor error can be double-logged — the r3
    * prefix-sniffing version logged SHOW/VALUES/EXPLAIN twice and a failing
    * SELECT twice. */
  /** Statement-level access control (reference `auth/AccessControlImpl
    * .java` + `role/Privileges.java`): with a non-superuser session user
    * active (SET SESSION AUTHORIZATION), every routed statement is
    * checked against the grant graph before execution — DQL for reads,
    * DML for writes, DDL for definition changes, AL for management
    * statements — with the reference's error shape
    * (`MissingPrivilegeException`: "Missing 'DQL' privilege for user
    * 'x'"). The default process user short-circuits as superuser, so the
    * check costs one conf lookup on the common path. Relation discovery
    * is lexical (words after FROM/JOIN/INTO), the same token stream the
    * router already dispatches on. */
  private def enforcePrivileges(s: Stmt): Unit = {
    val sig = s.sig
    val user = sources.Roles.sessionUser(spark)
    if (sources.Roles.isSuperuser(user)) return
    def deny(p: String): Nothing =
      throw new SecurityException(s"Missing '$p' privilege for user '$user'")
    def check(p: String, sec: String, id: Option[String]): Unit =
      if (!sources.Roles.hasPrivilege(user, p, sec, id)) deny(p)
    val viewNames: Set[String] =
      if (fs.exists(viewsDir))
        fs.listStatus(viewsDir).toSeq.map(_.getPath.getName)
          .filter(_.endsWith(".sql")).map(_.stripSuffix(".sql")).toSet
      else Set.empty
    def checkRead(name: String): Unit = {
      val (schema, bare) = name.split("\\.", 2) match {
        case Array(s, t) => (s, t)
        case _ =>
          if (name.contains("__")) { val p = name.split("__", 2); (p(0), p(1)) }
          else ("doc", name)
      }
      schema match {
        case "information_schema" | "pg_catalog" => () // public, as in PG
        case "sys" => check("DQL", "CLUSTER", None)
        case sch =>
          val sec = if (viewNames.contains(if (sch == "doc") bare else s"${sch}__$bare"))
            "VIEW" else "TABLE"
          check("DQL", sec, Some(s"$sch.$bare"))
      }
    }
    sig(0).text.toLowerCase match {
      // relation-less SELECTs (SELECT 1) are free — privileges attach to
      // relations, as in the reference
      case "select" | "with" | "values" | "show" | "explain" | "declare" |
           "fetch" | "move" | "close" =>
        scanReadRelations(s).foreach(checkRead)
      case "insert" =>
        s.relAt(sig.indexWhere(_.is("into")) + 1)
          .foreach(n => check("DML", "TABLE", Some(qualifyIdent(n))))
      case "update" =>
        s.relAt(1).foreach(n => check("DML", "TABLE", Some(qualifyIdent(n))))
      case "delete" | "refresh" | "optimize" =>
        s.relAt(sig.indexWhere(t => t.is("from") || t.is("table")) + 1)
          .foreach(n => check("DML", "TABLE", Some(qualifyIdent(n))))
      case "copy" =>
        // COPY t TO … reads (DQL); COPY t FROM … writes (DML)
        val isTo = sig.indexWhere(_.is("to")) >= 0 &&
          (sig.indexWhere(_.is("from")) < 0 ||
            sig.indexWhere(_.is("to")) < sig.indexWhere(_.is("from")))
        s.relAt(1).foreach(n =>
          check(if (isTo) "DQL" else "DML", "TABLE", Some(qualifyIdent(n))))
      case "create" | "drop" | "alter"
        if sig.length > 1 && (sig(1).is("user") || sig(1).is("role")) =>
        check("AL", "CLUSTER", None)
      case "create" | "drop" | "alter" =>
        // definition changes: DDL via the securable ladder on the target
        val skip = Set("table", "view", "schema", "function", "analyzer",
          "repository", "snapshot", "server", "foreign", "user", "role",
          "or", "replace", "if", "not", "exists", "materialized")
        val ti = sig.indexWhere(t => t.sig && t.isWord &&
          !skip.contains(t.text.toLowerCase), 1)
        // a schema-qualified target (`DROP TABLE s.t`) keeps its schema,
        // so the ladder falls back to SCHEMA 's', not SCHEMA 'doc'
        if (ti > 0) check("DDL", "TABLE", s.relAt(ti).map(qualifyIdent))
        else check("DDL", "CLUSTER", None)
      case "grant" | "revoke" | "deny" | "kill" | "analyze" | "restore" =>
        check("AL", "CLUSTER", None)
      case _ => () // SET/RESET/BEGIN/COMMIT/ROLLBACK are session-local
    }
  }

  private def qualifyIdent(name: String): String =
    if (name.contains(".")) name
    else if (name.contains("__")) name.replaceFirst("__", ".")
    else s"doc.$name"

  /** Relation references read by a statement — the word (or `a.b` pair)
    * after each FROM/JOIN, minus table-function names. Lexical, shared by
    * privilege enforcement and the closed-table guard. */
  private def scanReadRelations(s: Stmt): Seq[String] = {
    val sig = s.sig
    sig.indices.flatMap { i =>
      if ((sig(i).is("from") || sig(i).is("join")) &&
          !sig.lift(i - 1).exists(t => t.is("distinct") || t.is("extract")))
        s.relAt(i + 1)
      else None
    }.filterNot(n => Seq("lateral", "unnest", "values", "generate_series")
      .contains(n.split("\\.").head))
  }

  /** Closed-table guard (alter-table.rst OPEN/CLOSE: a closed table
    * refuses every operation except ALTER TABLE, with the reference's
    * error shape — `metadata/table/Operation.java:137`). */
  private def enforceOpen(s: Stmt): Unit = {
    val sig = s.sig
    def internal(n: String): String = n.split("\\.", 2) match {
      case Array(t)        => t // bare name: the internal (possibly s__t) form
      case Array("doc", t) => t
      case Array(s, t) if !Seq("sys", "information_schema", "pg_catalog").contains(s) =>
        s"${s}__$t"
      case _ => "" // system schemas are never closed
    }
    def isClosed(n: String): Boolean = {
      val b = internal(n)
      b.nonEmpty &&
        (try VersionedTable.tableSettings(spark, tablePath(b)).get("closed").contains("true")
         catch { case _: Exception => false })
    }
    def err(n: String, op: String): Nothing = throw new IllegalStateException(
      s"""The relation "${qualifyIdent(n)}" doesn't support or allow $op operations, as it is currently closed.""")
    sig(0).text.toLowerCase match {
      case "select" | "with" | "declare" =>
        scanReadRelations(s).foreach(n => if (isClosed(n)) err(n, "READ"))
      case "insert" =>
        s.relAt(sig.indexWhere(_.is("into")) + 1)
          .foreach(n => if (isClosed(n)) err(n, "INSERT"))
      case "update" =>
        s.relAt(1).foreach(n => if (isClosed(n)) err(n, "UPDATE"))
      case "delete" =>
        s.relAt(sig.indexWhere(_.is("from")) + 1)
          .foreach(n => if (isClosed(n)) err(n, "DELETE"))
      case "copy" =>
        s.relAt(1).foreach(n => if (isClosed(n)) err(n, "COPY"))
      case "refresh" | "optimize" =>
        s.relAt(sig.indexWhere(_.is("table")) + 1)
          .foreach(n => if (isClosed(n)) err(n, "REFRESH"))
      case _ => () // ALTER TABLE & management statements stay allowed
    }
  }

  def execute(stmt: String): DataFrame = run(Stmt(stmt))

  private def run(stmt: Stmt): DataFrame = {
    val t0 = System.currentTimeMillis
    // tag the statement's Spark jobs so a concurrent session can
    // `KILL '<group>'` it (reference sys.jobs UUID + KillPlan.java); the
    // group is thread-local, so each client thread kills independently
    spark.sparkContext.setJobGroup(
      s"graft-${StatementRouter.jobSeq.incrementAndGet()}",
      stmt.text.take(120), interruptOnCancel = true)
    try {
      // enforcement runs on the search_path-resolved, schema-folded
      // statement, so a bare name is checked as the relation it actually
      // resolves to (not doc.<name>) and the closed-table guard sees
      // tables reached via search_path. Resolution may implicitly
      // register a schema (CREATE TABLE s.t) BEFORE authorization — if
      // enforcement then rejects the statement, roll the registration
      // back so an unprivileged user leaves no catalog mutation behind.
      val schemasBefore = registeredSchemas
      val resolved = resolveStatement(stmt)
      try {
        if (resolved.sig.nonEmpty) { enforcePrivileges(resolved); enforceOpen(resolved) }
      } catch {
        case e: Exception =>
          (registeredSchemas -- schemasBefore).foreach(unregisterSchema)
          throw e
      }
      val df = executeRouted(resolved)
      sources.SysCatalog.recordJob(stmt.text, t0, System.currentTimeMillis)
      df
    } catch {
      case e: Exception =>
        sources.SysCatalog.recordJob(stmt.text, t0, System.currentTimeMillis, e.getMessage)
        throw e
    }
  }

  // ---------- schemas ----------

  /** Durable schema registry (reference: a schema is a namespace for
    * relations, `doc` the default — create-schema.rst; CrateDB also
    * creates schemas implicitly with CREATE TABLE). Qualified names fold
    * to flat internal names: `doc.t` → `t`, `s.t` → `s__t`. */
  private def schemasFile = new Path(root, "_schemas")

  private def registeredSchemas: Set[String] =
    if (!fs.exists(schemasFile)) Set.empty
    else readTextFile(schemasFile).split("\n").map(_.trim).filter(_.nonEmpty).toSet

  private def writeSchemas(schemas: Set[String]): Unit =
    writeTextFile(schemasFile, schemas.toSeq.sorted.mkString("\n"))

  private def registerSchema(s: String): Unit = {
    val cur = registeredSchemas
    if (!cur.contains(s)) writeSchemas(cur + s)
    sources.InformationSchema.registerSchema(s)
  }

  /** Reverses an implicit [[registerSchema]] when a statement fails its
    * privilege check after resolution (authorization must not leave
    * durable catalog mutations behind). */
  private def unregisterSchema(s: String): Unit = {
    val cur = registeredSchemas
    if (cur.contains(s)) writeSchemas(cur - s)
    sources.InformationSchema.dropSchema(s)
  }

  /** Fold schema-qualified relation names to flat internal names. The
    * rewrite is conservative: a qualifier is only folded when it is `doc`
    * or a registered schema AND that word is never used as a bare
    * identifier in the statement (a table alias named like a schema
    * shadows it, as in the reference's resolver). */
  private def rewriteSchemaQualifiers(stmt: Stmt): Stmt = {
    if (!stmt.text.contains(".")) return stmt
    val known = registeredSchemas + "doc"
    val ts = stmt.sig
    // words used WITHOUT a following dot anywhere → treated as aliases
    val shadowed: Set[String] = ts.indices.flatMap { i =>
      val t = ts(i)
      if (t.isWord && known.contains(unq(t).toLowerCase) &&
          !ts.lift(i + 1).exists(_.isSym("."))) Some(unq(t).toLowerCase)
      else None
    }.toSet
    val out = new Stmt.Builder
    var i = 0
    var changed = false
    while (i < ts.length) {
      val t = ts(i)
      val s = if (t.isWord) unq(t).toLowerCase else ""
      if (known.contains(s) && !shadowed.contains(s) &&
          ts.lift(i + 1).exists(_.isSym(".")) && ts.lift(i + 2).exists(_.isWord) &&
          !(i > 0 && ts(i - 1).isSym("."))) {
        out.gen(if (s == "doc") unq(ts(i + 2)) else s"${s}__${unq(ts(i + 2))}")
        i += 3; changed = true
      } else { out.keep(t); i += 1 }
    }
    if (changed) out.result else stmt
  }

  /** `search_path` resolution (reference `conf-session-search-path`,
    * default `pg_catalog, doc`): an unqualified relation reference
    * resolves against the configured schemas in order — the first schema
    * holding the relation wins, `doc` meaning the bare internal name and
    * `pg_catalog` never holding user tables. A bare CREATE TABLE lands in
    * the first user schema of the path, as in PG. Set with
    * `SET search_path TO s1[, s2 …]`; RESET restores the default. */
  private def resolveSearchPath(stmt: Stmt): Stmt = {
    val spRaw = spark.conf.getOption("search_path").getOrElse(return stmt)
    val schemas = spRaw.split(",").map(_.trim.toLowerCase)
      .filter(_.nonEmpty).toSeq
    if (schemas.forall(s => s == "pg_catalog" || s == "doc")) return stmt
    val ts = stmt.sig
    def tableExists(n: String): Boolean =
      try VersionedTable.latestVersion(spark, tablePath(n)).isDefined
      catch { case _: Exception => false }
    def resolve(bare: String): Option[String] =
      schemas.collectFirst {
        case "doc" if tableExists(bare) => bare
        case s if s != "pg_catalog" && s != "doc" &&
          tableExists(s"${s}__$bare") => s"${s}__$bare"
      }
    // positions whose NEXT word is a relation reference
    def isRelKeyword(t: Tok) = t.is("from") || t.is("join") || t.is("into") ||
      t.is("update") || t.is("table")
    val createIdx: Int = {
      // CREATE TABLE [IF NOT EXISTS] <bare> → first user schema of the path
      if (ts.length > 2 && ts(0).is("create") && ts(1).is("table")) {
        val ni = stmt.nameAt(2)
        if (ts.lift(ni).exists(_.isWord) && !ts.lift(ni + 1).exists(_.isSym(".")))
          ni
        else -1
      } else -1
    }
    val out = new Stmt.Builder
    var changed = false
    ts.indices.foreach { i =>
      val t = ts(i)
      val isRef = i > 0 && isRelKeyword(ts(i - 1)) && t.isWord &&
        !ts.lift(i + 1).exists(_.isSym("."))
      if (i == createIdx) {
        schemas.find(s => s != "pg_catalog" && s != "doc") match {
          case Some(s) =>
            registerSchema(s)
            out.gen(s"${s}__${unq(t)}"); changed = true
          case None => out.keep(t)
        }
      } else if (isRef) {
        resolve(unq(t).toLowerCase) match {
          case Some(r) if r != unq(t).toLowerCase =>
            out.gen(r); changed = true
          case _ => out.keep(t)
        }
      } else out.keep(t)
    }
    if (changed) out.result else stmt
  }

  /** Folds schema qualifiers and resolves search_path — the canonical
    * pre-routing rewrite, shared by [[execute]] (which enforces
    * privileges on its output) and the router. CREATE TABLE with a
    * qualified name creates the schema implicitly (create-schema.rst:
    * "CrateDB also implicitly creates missing schemas with other CREATE
    * statements") — registered BEFORE the qualifier rewrite so the name
    * folds. NOT idempotent (a search_path CREATE TABLE fold would fold
    * again), so [[executeRouted]] receives the already-resolved statement.
    * A step that changes nothing passes its input on unchanged. */
  private def resolveStatement(stmt: Stmt): Stmt = {
    val s0 = stmt.sig
    if (s0.length > 3 && s0(0).is("create") && s0(1).is("table")) {
      val ni = stmt.nameAt(2)
      if (s0.lift(ni + 1).exists(_.isSym(".")) && s0.lift(ni).exists(_.isWord)) {
        val s = unq(s0(ni)).toLowerCase
        if (s != "doc" && !Set("information_schema", "sys", "pg_catalog").contains(s))
          registerSchema(s)
      }
    }
    resolveSearchPath(rewriteSchemaQualifiers(stmt))
  }

  /** Routes an already-[[resolveStatement]]-resolved statement. */
  private def executeRouted(stmt: Stmt): DataFrame = {
    val sig = stmt.sig
    require(sig.nonEmpty, "empty statement")
    sig(0).text.toLowerCase match {
      case "create" if sig.length > 1 && sig(1).is("schema") =>
        registerSchema(unq(sig(stmt.nameAt(2))).toLowerCase)
        summary(0L)
      case "drop" if sig.length > 1 && sig(1).is("schema") => dropSchema(stmt)
      case "create" if sig.length > 1 && sig(1).is("repository") => createRepository(sig)
      case "drop" if sig.length > 1 && sig(1).is("repository") => dropRepository(sig)
      case "create" if sig.length > 1 && sig(1).is("snapshot") => createSnapshot(sig)
      case "restore" if sig.length > 1 && sig(1).is("snapshot") => restoreSnapshot(sig)
      case "drop" if sig.length > 1 && sig(1).is("snapshot") => dropSnapshot(sig)
      case "create" if sig.length > 1 && sig(1).is("table") => createTable(stmt)
      case "drop" if sig.length > 1 && sig(1).is("table")   => dropTable(stmt)
      case "create" if sig.length > 1 && sig(1).is("server") => createServer(stmt)
      case "drop" if sig.length > 1 && sig(1).is("server") =>
        graft.sources.Fdw.dropServer(sig(stmt.nameAt(2)).text)
        summary(0L)
      case "create" if sig.length > 2 && sig(1).is("foreign") && sig(2).is("table") =>
        createForeignTable(stmt)
      case "drop" if sig.length > 2 && sig(1).is("foreign") && sig(2).is("table") =>
        graft.sources.Fdw.dropForeignTable(sig(stmt.nameAt(3)).text)
        summary(0L)
      case "create" if sig.length > 2 && sig(1).is("user") && sig(2).is("mapping") =>
        createUserMapping(sig)
      case "drop" if sig.length > 2 && sig(1).is("user") && sig(2).is("mapping") =>
        dropUserMapping(sig)
      case "create" if sig.length > 1 && (sig(1).is("user") || sig(1).is("role")) =>
        createRole(sig)
      case "alter" if sig.length > 1 && (sig(1).is("user") || sig(1).is("role")) =>
        alterRole(sig)
      case "drop" if sig.length > 1 && (sig(1).is("user") || sig(1).is("role")) =>
        dropRole(sig)
      case "grant"  => grantOrDeny(sig, "GRANT")
      case "deny"   => grantOrDeny(sig, "DENY")
      case "revoke" => revokeStmt(sig)
      case "declare" => declareCursor(stmt)
      case "fetch"   => fetchStmt(sig)
      case "move"    => fetchStmt(sig)
      case "close"   => closeCursor(sig)
      case "create" if sig.length > 1 && sig(1).is("view") => createView(sig, orReplace = false)
      case "create" if sig.length > 3 && sig(1).is("or") && sig(2).is("replace") &&
        sig(3).is("view") => createView(sig, orReplace = true)
      case "drop" if sig.length > 1 && sig(1).is("view") => dropView(stmt)
      case "create" if sig.length > 1 && sig(1).is("function") =>
        createFunction(sig, orReplace = false)
      case "create" if sig.length > 3 && sig(1).is("or") && sig(2).is("replace") &&
        sig(3).is("function") => createFunction(sig, orReplace = true)
      case "drop" if sig.length > 1 && sig(1).is("function") => dropFunction(sig)
      case "create" if sig.length > 1 && sig(1).is("analyzer") => createAnalyzer(sig)
      case "drop" if sig.length > 1 && sig(1).is("analyzer") =>
        graft.operators.MatchText.Analyzer.drop(sig(stmt.nameAt(2)).text)
        summary(0L)
      case "alter" if sig.length > 1 && sig(1).is("table") => alterTable(sig)
      case "alter" if sig.length > 1 && sig(1).is("cluster") => alterCluster(sig)
      case "alter" if sig.length > 1 && sig(1).is("repository") => alterRepository(sig)
      case "alter" if sig.length > 1 && sig(1).is("server") => alterServer(sig)
      // no server-side prepared statements to free (reference
      // AnalyzedDeallocate acks with DEALLOCATE; deallocate.rst)
      case "deallocate" => summary(0L)
      case "discard"    => discardStmt(sig)
      case "insert"   => insert(stmt)
      // OCC predicates (`WHERE _seq_no = … AND _primary_term = …`)
      // resolve against the current snapshot before the DML plans
      case "update"   => update(rewriteSystemColumns(stmt)._1)
      case "delete"   => delete(rewriteSystemColumns(stmt)._1)
      case "copy"     => copyStmt(stmt)
      case "explain"  => explainStmt(stmt)
      case "refresh" if sig.length > 1 && sig(1).is("table") => refreshStmt(sig)
      case "optimize" if sig.length > 1 && sig(1).is("table") => optimizeStmt(sig)
      case "analyze"  => analyzeStmt()
      case "kill"     => killStmt(sig)
      case "begin"    => beginTxn()
      case "start" if sig.length > 1 && sig(1).is("transaction") => beginTxn()
      case "commit"   => commitTxn()
      case "end" if txn.isDefined => commitTxn()
      case "rollback" => rollbackTxn()
      case "set"      => setStmt(sig)
      case "reset" if sig.length > 2 && sig(1).is("session") && sig(2).is("authorization") =>
        spark.conf.unset("graft.session.user"); summary(0L)
      case "reset"    => spark.conf.unset(sig.drop(1).map(_.text).mkString); summary(0L)
      case "show" if sig.length > 2 && sig(1).is("create") && sig(2).is("table") =>
        showCreateTable(sig(3).text)
      // SHOW { parameter | ALL } — session settings (reference
      // docs/sql/statements/show.rst; unrelated to SHOW TABLES & co).
      // SHOW ALL follows PG's (name, setting) shape over the redacted
      // conf; SHOW <name> returns PG's one column named after the setting.
      case "show" if sig.length > 1 && sig(1).is("all") =>
        graft.sources.PgCatalog.pgSettings(spark)
      case "show" if sig.length > 1 && !sig(1).is("schemas") &&
        !sig(1).is("tables") && !sig(1).is("columns") && !sig(1).is("create") => {
        import spark.implicits._
        val name = sig.drop(1).map(unq(_)).mkString
        Seq(spark.conf.getOption(name).getOrElse(
          throw new IllegalArgumentException(s"unknown setting '$name'")))
          .toDF(name)
      }
      case "show" if sig.length > 1 && sig(1).is("schemas") => showSchemas(sig)
      case "show" if sig.length > 1 && sig(1).is("tables")  => showTables(sig)
      case "show" if sig.length > 1 && sig(1).is("columns") => showColumns(sig)
      // non-recording: execute() logs the statement once for every route
      case _          => resolveSelect(stmt)
    }
  }

  /** The default (query) route: [[routeSelect]] with every matched
    * route served. Records WHICH route served the statement in
    * [[StatementRouter.lastSelectRoute]] — the provenance `EXPLAIN`
    * prepends to its plan text. */
  private def resolveSelect(stmt: Stmt): DataFrame = {
    registerViews(stmt.sig)
    StatementRouter.lastIndexBuild.set("")
    StatementRouter.lastKnnProbe.set("")
    val (route, _, served) = routeSelect(stmt, _())
    StatementRouter.lastSelectRoute.set(route)
    spark.sql(served.text)
  }

  /** The one SELECT route chain, shared by execution and plain EXPLAIN:
    * system columns → fielded BM25F → stored knn → dialect → BM25 →
    * declared analyzers, each route reading what the one before it
    * rewrote. The fielded and knn routes run before the dialect, which
    * would lower MATCH (hiding per-field boosts) and knn_match to their
    * exact fallbacks. `serve` runs a matched route's side-effecting half
    * (execution) or skips it (plain EXPLAIN). Returns the route label, the
    * system-column rewrite and the statement to run. */
  private def routeSelect(stmt: Stmt,
                          serve: Served => Option[String]): (String, Stmt, Stmt) = {
    val (sys, overlay) = rewriteSystemColumns(stmt)
    overlay.foreach(serve)
    def take(r: Option[Route]): Option[(Stmt, String)] =
      r.flatMap(x => serve(x.serve).map(suffix => (x.stmt, x.label + suffix)))
    val fielded = take(routeFieldedScore(sys))
    val pre = fielded.fold(sys)(_._1)
    val knn = take(routeKnnStored(pre))
    val lowered = translated(knn.fold(pre)(_._1).text)
    val scored = take(routeIndexedScore(lowered))
    (knn.orElse(fielded).orElse(scored).fold("exact")(_._2), sys,
      scored.fold(applyDeclaredAnalyzers(lowered))(_._1))
  }

  /** The dialect lowering, lexed once for the BM25 route, the declared
    * analyzers and the DML handlers. */
  private def translated(text: String): Stmt = Stmt(Dialect.translate(text))

  /** The exact lowering of a query: dialect, then declared analyzers. */
  private def lower(query: String): DataFrame =
    spark.sql(applyDeclaredAnalyzers(translated(query)).text)

  /** Multi-column `MATCH((a [boost], b), 'q') [USING best|most_fields]` +
    * `_score` through a DECLARED composite fulltext index (reference:
    * MultiMatch reads per-field Lucene postings — `lucene/match/
    * MatchQueries.java`; the TF fallback [[Dialect.passScoreMulti]] can
    * only see the current row). When the MATCH targets exactly the
    * columns of one declared index on a single-column-PK router table and
    * stands as the leading WHERE conjunct, the statement re-plans as a
    * join against [[graft.operators.MatchText.scoreFieldedBM25]] — scores
    * gain corpus IDF and per-field length normalization. Conservative:
    * any other shape (foreign MATCH, OR'd predicate, USING WITH options,
    * phrase methods, subquery FROM) returns None and the TF fallback
    * runs. */
  private def routeFieldedScore(stmt: Stmt): Option[Route] = {
    val lower = stmt.text.toLowerCase
    if (!lower.contains("_score") || !lower.contains("match")) return None
    val sig = stmt.sig
    if (sig.count(t => t.kind == Dialect.K.Word && t.is("match")) != 1) return None

    // the MATCH call, inner column group, query literal, USING method
    val mi = sig.indexWhere(t => t.kind == Dialect.K.Word && t.is("match"))
    if (mi < 0 || !sig.lift(mi + 1).exists(_.isSym("("))) return None
    if (!sig.lift(mi - 1).exists(t => t.kind == Dialect.K.Word && t.is("where")))
      return None
    val mClose = matchFwd(sig, mi + 1)
    if (mClose < 0) return None
    val parts = splitTopCommas(sig.slice(mi + 2, mClose))
    if (parts.length != 2) return None
    val colsGroup = parts(0)
    if (!colsGroup.headOption.exists(_.isSym("(")) ||
        !colsGroup.lastOption.exists(_.isSym(")"))) return None
    val colParts = splitTopCommas(colsGroup.slice(1, colsGroup.length - 1))
    if (colParts.length < 2) return None
    if (parts(1).length != 1 || parts(1).head.kind != Dialect.K.Str) return None
    val query = unq(parts(1).head)
    val fieldsBoosts: Seq[(String, Double)] = colParts.map { c =>
      val (colToks, boost) = c.lastOption match {
        case Some(t) if t.kind == Dialect.K.Num && c.length > 1 =>
          (c.dropRight(1), t.text.toDouble)
        case _ => (c, 1.0)
      }
      if (colToks.isEmpty || !colToks.last.isWord) return None
      (unq(colToks.last).toLowerCase, boost)
    }
    var matchEnd = mClose
    var method = "best_fields"
    if (sig.lift(mClose + 1).exists(_.is("using"))) {
      val m = sig.lift(mClose + 2).getOrElse(return None)
      if (!m.isWord) return None
      method = m.text.toLowerCase
      matchEnd = mClose + 2
    }
    if (method != "best_fields" && method != "most_fields") return None
    // only a top-level conjunct is safely replaceable by the score join
    sig.lift(matchEnd + 1) match {
      case None => ()
      case Some(t) if t.is("and") || t.is("order") || t.is("group") ||
        t.is("limit") || t.is("offset") || t.is("having") => ()
      case _ => return None
    }

    // FROM <router table with a composite index covering exactly the
    // MATCH targets and a 1-column PK>
    val targetSet = fieldsBoosts.map(_._1).toSet
    val r = indexedRelation(sig)(s => !s.analyzer.startsWith("vector:") &&
      s.cols.map(_.toLowerCase).toSet == targetSet && s.cols.length == targetSet.size)
      .getOrElse(return None)

    // the shape checks above decided the route; the index build/load and
    // the score view are the served half
    val view = s"graft_fielded_scores_$nextViewN"
    def serve(): Option[String] = {
      val analyzer = MatchText.Analyzer.byName(r.spec.analyzer)
      val idx = durableIndex[MatchText.FieldedIndex](r, "#fielded",
          s"${tablePath(r.table)}/_ftindex/${r.spec.name}__fielded", r.spec.cols)(
        exists = MatchText.storedIndexExists(spark, _),
        load = MatchText.loadFieldedIndex(spark, _, analyzer),
        patch = (prev, removed, added) => Some(MatchText.updateFieldedIndex(
          MatchText.loadFieldedIndex(spark, prev, analyzer), removed, added,
          r.pk, r.spec.cols)),
        build = MatchText.buildFieldedIndex(
          readTable(r.table), r.pk, r.spec.cols, analyzer),
        save = MatchText.saveFieldedIndex(_, _))
      val boosts = r.spec.cols.map(c =>
        c -> fieldsBoosts.collectFirst {
          case (f, b) if f == c.toLowerCase => b
        }.getOrElse(1.0)).toMap
      MatchText.scoreFieldedBM25(idx, query, boosts, method)
        .select(col("doc_id").as("graft_score_id"), col("score").as("graft_bm25f"))
        .createOrReplaceTempView(view)
      Some("")
    }

    // _score → view score, the MATCH clause → TRUE
    Some(Route(spliceJoin(stmt, r, view, "graft_score_id") { i =>
      if (i == mi) Some(("TRUE", matchEnd))
      else if (sig(i).kind == Dialect.K.Word && sig(i).is("_score"))
        Some((s"$view.graft_bm25f", i))
      else None
    }, "indexed-score-fielded-bm25", () => serve()))
  }

  /** `FROM <router table> [AS] [alias]` as a declared-index route reads
    * it: the table, its committed version, its single-column PRIMARY KEY,
    * the first index spec `fits` accepts, the name the statement
    * qualifies the table by, and the token the index join follows. */
  private case class IndexedRelation(table: String, version: Int, pk: String,
                                     spec: VersionedTable.IndexSpec,
                                     rel: String, spliceAt: Int)

  private def indexedRelation(sig: Vector[Tok])(
      fits: VersionedTable.IndexSpec => Boolean): Option[IndexedRelation] = {
    val fi = sig.indexWhere(t => t.kind == Dialect.K.Word && t.is("from"))
    if (fi < 0 || !sig.lift(fi + 1).exists(_.isWord)) return None
    val table = unq(sig(fi + 1))
    val version = VersionedTable.latestVersion(spark, tablePath(table))
      .getOrElse(return None)
    val spec = VersionedTable.indexSpecs(spark, tablePath(table)).find(fits)
      .getOrElse(return None)
    val pk = VersionedTable.primaryKey(spark, tablePath(table)) match {
      case Seq(one) => one
      case _        => return None
    }
    // optional alias after the table name
    val stop = Set("where", "group", "order", "limit", "having", "join",
      "inner", "left", "right", "full", "cross", "on", "union", "intersect",
      "except", "offset", "window", "qualify", "lateral")
    val (rel, spliceAt) = sig.lift(fi + 2) match {
      case Some(t2) if t2.is("as") && sig.lift(fi + 3).exists(_.isWord) =>
        (unq(sig(fi + 3)), fi + 3)
      case Some(t2) if t2.isWord && !stop.contains(t2.text.toLowerCase) =>
        (unq(t2), fi + 2)
      case _ => (table, fi + 1)
    }
    Some(IndexedRelation(table, version, pk, spec, rel, spliceAt))
  }

  /** The durable declared index of `r` at its committed version, memoized
    * per (table, index, kind, version). The reference keeps each shard's
    * index on disk beside its data; graft writes one per committed
    * version under `dir/v<version>`, so fresh sessions load instead of
    * rebuilding:
    *
    *  1. load the stored `v<version>` when it exists;
    *  2. else patch the newest older stored version with the rows
    *     [[indexDelta]] reports changed (`patch` returns None to decline);
    *  3. else build over the whole table;
    *  4. save, then reclaim every other version — `carry` sees each stale
    *     version first, with the patched delta's (removed, added) rows;
    *  5. serve the reloaded store if it committed, else the built index
    *     (a patched index references the version step 4 reclaimed).
    *
    * Records "loaded" | "delta" | "full" in
    * [[StatementRouter.lastIndexBuild]], or "" on a memo hit: the slot
    * always tells how THIS call's index came to be. */
  private def durableIndex[T](r: IndexedRelation, kind: String, dir: String,
                              cols: Seq[String])(
      exists: String => Boolean, load: String => T,
      patch: (String, DataFrame, DataFrame) => Option[T], build: => T,
      save: (T, String) => Unit,
      carry: (Path, Option[(DataFrame, DataFrame)]) => Unit = (_, _) => ()): T = {
    StatementRouter.lastIndexBuild.set("")
    MatchText.IndexCache.cached(
        spark, s"${tablePath(r.table)}#${r.spec.name}$kind#v${r.version}") {
      val stored = s"$dir/v${r.version}"
      if (exists(stored)) {
        StatementRouter.lastIndexBuild.set("loaded")
        load(stored)
      } else {
        val patched = indexDelta(r.table, dir, r.version, r.pk, cols).flatMap {
          case (prev, removed, added) =>
            patch(s"$dir/v$prev", removed, added).map((_, (removed, added)))
        }
        StatementRouter.lastIndexBuild.set(if (patched.isDefined) "delta" else "full")
        val built = patched.fold(build)(_._1)
        try {
          save(built, stored)
          fs.listStatus(new Path(dir)).foreach { st =>
            if (st.getPath.getName != s"v${r.version}") {
              carry(st.getPath, patched.map(_._2))
              fs.delete(st.getPath, true)
            }
          }
        } catch { case _: Exception => () } // search proceeds on the built index
        if (exists(stored)) load(stored) else built
      }
    }
  }

  /** The score join of a declared-index route: every token is kept except
    * where `replace(i)` gives (text, last token replaced), and
    * `JOIN <view> ON rel.pk = <view>.<idCol>` follows the relation. */
  private def spliceJoin(stmt: Stmt, r: IndexedRelation, view: String,
                         idCol: String)(replace: Int => Option[(String, Int)]): Stmt = {
    val sig = stmt.sig
    val out = new Stmt.Builder
    var i = 0
    while (i < sig.length) replace(i) match {
      case Some((text, last)) => out.gen(text); i = last + 1
      case None =>
        out.keep(sig(i))
        if (i == r.spliceAt) out.gen(s"JOIN $view ON ${r.rel}.${r.pk} = $view.$idCol")
        i += 1
    }
    out.result
  }

  // JVM-global: per-statement temp view names (graft_match_scores_N,
  // graft_knn_filter_N, …) must not collide across router instances
  // sharing one SparkSession — a second router restarting at 1 would
  // silently replace (and on failure, drop) another router's live view
  private def nextViewN: Long = StatementRouter.viewSeq.incrementAndGet()

  /** Hidden system columns on router tables (reference
    * `docs/general/ddl/system-columns.rst`, `metadata/doc/SysColumns
    * .java`): `_id` — the compound string of the row's PRIMARY KEY values
    * (the reference's routing identity; no PK → NULL, where the reference
    * generates a random id at index time), `_raw` — the row as a JSON
    * document (the reference returns the stored source), `_version` — the
    * table's committed snapshot version (the reference tracks per-row
    * versions; copy-on-write snapshots version whole tables, which is the
    * honest equivalent), `_docid` — a scan-internal row id, unique within
    * the scan but unstable across runs, exactly the caveat the reference
    * documents for Lucene segment ids. `_score` has its own routes.
    * Rewrites only when the statement reads ONE router table. A SELECT of
    * per-row `_seq_no` reads an overlay view, registered here with the
    * table-version stand-in; the returned served half swaps in the
    * row-diff map, which persists the `_seqno` sidecar (plain EXPLAIN
    * must not). */
  private def rewriteSystemColumns(stmt: Stmt): (Stmt, Option[Served]) = {
    val unchanged = (stmt, None)
    val lower = stmt.text.toLowerCase
    if (!lower.contains("_id") && !lower.contains("_raw") &&
        !lower.contains("_version") && !lower.contains("_docid") &&
        !lower.contains("_seq_no") && !lower.contains("_primary_term")) return unchanged
    val sig = stmt.sig
    // the one relation the statement addresses: UPDATE's target, else a
    // single FROM/JOIN reference
    val ti =
      if (sig(0).is("update")) 1
      else {
        val froms = sig.indices.filter(i => sig(i).is("from") || sig(i).is("join"))
        if (froms.length != 1) return unchanged
        froms.head + 1
      }
    if (!sig.lift(ti).exists(_.isWord)) return unchanged
    val table = unq(sig(ti))
    if (VersionedTable.latestVersion(spark, tablePath(table)).isEmpty) return unchanged
    val pk = VersionedTable.primaryKey(spark, tablePath(table))
    val version = VersionedTable.latestVersion(spark, tablePath(table)).get
    val idExpr = pk match {
      case Seq()    => "CAST(NULL AS STRING)"
      case Seq(one) => s"CAST($one AS STRING)"
      case many     => s"concat_ws('|', ${many.map(c => s"CAST($c AS STRING)").mkString(", ")})"
    }
    // per-row OCC applies when the table is unpartitioned and keyed:
    // `_seq_no` resolves through the row-diff walk ([[seqNoMapDf]]) —
    // SELECTs swap the FROM reference to a seq-joined overlay view;
    // UPDATE/DELETE keep the target name and join in [[update]]/[[delete]]
    val bareSeq = sig.indices.exists(i => sig(i).kind == Dialect.K.Word &&
      sig(i).is("_seq_no") && !(i > 0 && sig(i - 1).isSym(".")))
    val perRow = bareSeq && pk.nonEmpty &&
      VersionedTable.partitionSpec(spark, tablePath(table)).isEmpty
    val isDml = sig(0).is("update") || sig(0).is("delete")
    val fromStop = Set("where", "group", "order", "limit", "having",
      "offset", "window", "join", "inner", "left", "right", "full",
      "cross", "on", "union", "intersect", "except", "qualify", "returning")
    val out = new Stmt.Builder
    var changed = false
    var overlay: Option[Served] = None
    sig.indices.foreach { i =>
      val t = sig(i)
      val prevDot = i > 0 && sig(i - 1).isSym(".")
      if (i == ti && perRow && !isDml) {
        changed = true
        val view = s"graft_seqt_$nextViewN"
        readTable(table).withColumn("__graft_seq_no", lit(version).cast("long"))
          .createOrReplaceTempView(view)
        overlay = Some(() => {
          withSeqNo(readTable(table), table, version).createOrReplaceTempView(view)
          Some("")
        })
        out.gen(view)
        // keep the original name usable as a qualifier unless the
        // statement aliases the relation itself
        val aliased = sig.lift(i + 1).exists(t2 => t2.is("as") ||
          (t2.isWord && !fromStop.contains(t2.text.toLowerCase)))
        if (!aliased) out.gen(table)
      } else if (perRow && !isDml && t.isSym("*") && {
        // a projection-item star — bare or qualified — must hide the
        // overlay's internal seq column (the passKnnMatch precedent:
        // `v.* EXCEPT (col)` parses)
        val bare = i == 0 || sig(i - 1).is("select") || sig(i - 1).isSym(",")
        val qualified = i >= 2 && sig(i - 1).isSym(".") && sig(i - 2).isWord &&
          (i == 2 || sig(i - 3).is("select") || sig(i - 3).isSym(","))
        val nextOk = sig.lift(i + 1).forall(t2 => t2.isSym(",") || t2.is("from"))
        (bare || qualified) && nextOk
      }) {
        changed = true
        out.gen("* EXCEPT (__graft_seq_no)")
      } else {
      val repl =
        if (t.kind == Dialect.K.Word && !prevDot) t.text.toLowerCase match {
          case "_id"      => Some(s"$idExpr")
          case "_raw"     => Some("to_json(struct(*))")
          case "_version" => Some(s"CAST($version AS BIGINT)")
          case "_docid"   => Some("monotonically_increasing_id()")
          // OCC (occ.rst): on an unpartitioned keyed table `_seq_no`
          // resolves PER ROW to the version at which the row last
          // CHANGED — hash row-diff ([[seqNoMapDf]] walk) unioned with
          // the `_touched` markers [[markTouched]] records, so an
          // autocommit UPDATE writing identical values still advances
          // the row (the reference's any-write per-row `_seq_no`,
          // SysColumns.java:49-64, up to the walk bound).
          // Value-partitioned tables resolve per row to the version at
          // which the row's PARTITION last changed ([[seqNoExpr]]);
          // keyless tables keep the table-version stand-in. Every
          // approximation is an upper bound: extra false conflicts
          // possible, lost updates never.
          case "_seq_no" =>
            if (perRow) Some("__graft_seq_no")
            else Some(seqNoExpr(table, version))
          case "_primary_term" => Some("CAST(1 AS BIGINT)")
          case _          => None
        } else None
      repl match {
        case Some(r) =>
          changed = true
          // keep a usable output column name for bare SELECT-list items
          // (next token ends the item); WHERE/ORDER uses stay bare
          out.gen(
            if (sig.lift(i + 1).exists(t2 => t2.isSym(",") || t2.is("from")))
              s"$r AS ${t.text}"
            else r)
        case None => out.keep(t)
      }
      }
    }
    if (changed) (out.result, overlay) else unchanged
  }

  /** Per-row `_seq_no` map for an UNPARTITIONED pk-carrying table
    * (reference `metadata/doc/SysColumns.java:49-64` stores a per-doc
    * sequence): walks committed snapshots newest-first (≤64, or until a
    * vacuumed version stops the walk) hashing each row once per version
    * — narrow (pk-concat, xxhash64) projections — and resolves each pk
    * to the LATEST version at which its hash changed, appeared, or
    * re-appeared after a gap. One union + one window shuffle; rows
    * older than the walk floor resolve to the floor — an upper bound on
    * the true last write, so any truncation degrades conservatively
    * toward the table-version approximation (extra false conflicts,
    * never a lost update). Result is memoized per (table path, version)
    * in [[Memo]], so DROP, RENAME, SWAP and vacuum drop it with the
    * table. */
  private def seqNoMapDf(table: String, version: Int): Option[DataFrame] = {
    val path = tablePath(table)
    Memo(spark, s"seqno#$path#v$version") {
      val pk = VersionedTable.primaryKey(spark, path)
      if (pk.isEmpty || VersionedTable.partitionSpec(spark, path).isDefined)
        None
      else try {
        // durable sidecar (the _vecindex pattern): the first `_seq_no`
        // statement at a version computes and persists the map; later
        // statements — and later VERSIONS — read it back, so steady-state
        // cost is one narrow row-diff against the previous sidecar
        // instead of the multi-version walk
        val sidecar = new Path(s"$path/_seqno/v$version")
        def hashes(v: Int): DataFrame = {
          val df = VersionedTable.readVersion(spark, path, v)
          df.select(
            concat_ws("|", pk.map(c => col(c).cast("string")): _*)
              .as("graft_seq_pk"),
            xxhash64(df.columns.sorted.map(col): _*).as("h"))
        }
        val built: Option[DataFrame] =
          if (fs.exists(sidecar)) Some(ParquetFooter.read(spark, sidecar.toString))
          else {
            val prevSidecar = new Path(s"$path/_seqno/v${version - 1}")
            val m: Option[DataFrame] =
              if (version > 1 && fs.exists(prevSidecar)) {
                // incremental: rows whose hash differs from v-1 (or are
                // new) advance to `version`; the rest keep their prior
                // seq. A `_touched` marker ([[markTouched]]) also
                // advances its pks — an UPDATE writing identical values
                // changes no hash but the reference still bumps the seq
                val prior = ParquetFooter.read(spark, prevSidecar.toString)
                val prevH = hashes(version - 1)
                  .withColumnRenamed("h", "h_prev")
                val touchedP = new Path(s"$path/_touched/v$version")
                val withTouched = {
                  val base = hashes(version)
                    .join(prevH, Seq("graft_seq_pk"), "left")
                    .join(prior, Seq("graft_seq_pk"), "left")
                  if (fs.exists(touchedP))
                    base.join(ParquetFooter.read(spark, touchedP.toString)
                        .withColumn("graft_touched", lit(true)),
                      Seq("graft_seq_pk"), "left")
                  else base.withColumn("graft_touched", lit(null).cast("boolean"))
                }
                Some(withTouched
                  .select(col("graft_seq_pk"),
                    when(col("h_prev").isNull || col("h_prev") =!= col("h") ||
                        col("__graft_seq_no").isNull ||
                        col("graft_touched"),
                      lit(version).cast("long"))
                      .otherwise(col("__graft_seq_no"))
                      .as("__graft_seq_no")))
              } else fullSeqWalk(path, pk, version)
            m.map { df =>
              // persist best-effort; an unwritable sidecar degrades to the
              // in-memory map for this session
              try {
                df.write.mode("overwrite").parquet(sidecar.toString)
                fs.listStatus(new Path(s"$path/_seqno")).foreach { st =>
                  if (st.getPath.getName != s"v$version")
                    fs.delete(st.getPath, true)
                }
                // the sidecar at `version` has absorbed every touched
                // marker ≤ version; later patches only need NEWER ones
                val tdir = new Path(s"$path/_touched")
                if (fs.exists(tdir)) fs.listStatus(tdir).foreach { st =>
                  val tv = st.getPath.getName.stripPrefix("v").toIntOption
                  if (tv.exists(_ <= version)) fs.delete(st.getPath, true)
                }
                ParquetFooter.read(spark, sidecar.toString)
              } catch {
                case scala.util.control.NonFatal(_) => df.localCheckpoint()
              }
            }
          }
        built
      } catch { case scala.util.control.NonFatal(_) => None }
    }
  }

  /** Cold-start seq resolution: walk committed snapshots newest-first
    * (≤64 or until a vacuumed version), one narrow (pk-concat, xxhash64)
    * projection each, one union + one window shuffle. */
  private def fullSeqWalk(path: String, pk: Seq[String],
                          version: Int): Option[DataFrame] = {
    val snaps = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var v = version
    var ok = true
    while (ok && v >= 1 && version - v < 64) {
      try {
        val df = VersionedTable.readVersion(spark, path, v)
        snaps += df.select(
          concat_ws("|", pk.map(c => col(c).cast("string")): _*)
            .as("graft_seq_pk"),
          xxhash64(df.columns.sorted.map(col): _*).as("h"),
          lit(v).cast("long").as("v"))
        v -= 1
      } catch { case scala.util.control.NonFatal(_) => ok = false }
    }
    if (snaps.isEmpty) None
    else {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("graft_seq_pk")).orderBy(col("v"))
      val all = snaps.reduce(_ unionByName _)
      val hashEvents = all
        .select(col("graft_seq_pk"), col("v"),
          (lag(col("h"), 1).over(w).isNull ||
            lag(col("h"), 1).over(w) =!= col("h") ||
            lag(col("v"), 1).over(w) =!= col("v") - 1).as("chg"))
        .filter(col("chg"))
        .select(col("graft_seq_pk"), col("v"))
      // `_touched` markers ([[markTouched]]) inject the write events
      // content hashing cannot see (identical-value UPDATEs)
      val touchedEvents = (v + 1 to version).flatMap { tv =>
        val p = new Path(s"$path/_touched/v$tv")
        if (fs.exists(p))
          try Some(ParquetFooter.read(spark, p.toString)
            .select(col("graft_seq_pk"), lit(tv).cast("long").as("v")))
          catch { case scala.util.control.NonFatal(_) => None }
        else None
      }
      Some(touchedEvents.foldLeft(hashEvents)(_ unionByName _)
        .groupBy(col("graft_seq_pk"))
        .agg(max(col("v")).as("__graft_seq_no")))
    }
  }

  /** The snapshot with its per-row `__graft_seq_no` joined on (pk-concat);
    * rows the map misses (concurrent edge) resolve to the table version —
    * conservative. */
  private def withSeqNo(df: DataFrame, table: String, version: Int): DataFrame =
    seqNoMapDf(table, version) match {
      case Some(m) =>
        val pk = VersionedTable.primaryKey(spark, tablePath(table))
        df.withColumn("graft_seq_pk",
            concat_ws("|", pk.map(c => col(c).cast("string")): _*))
          .join(m, Seq("graft_seq_pk"), "left")
          .withColumn("__graft_seq_no",
            coalesce(col("__graft_seq_no"), lit(version).cast("long")))
          .drop("graft_seq_pk")
      case None => df.withColumn("__graft_seq_no", lit(version).cast("long"))
    }

  /** Partition-granular `_seq_no` (occ.rst; reference `SysColumns.java:
    * 49-64` is per-ROW): for a value-partitioned table, a row's sequence
    * is the version at which its PARTITION's manifest entry last changed
    * — [[VersionedTable.commitPartial]] carries untouched partitions
    * forward by reference, so an equal entry path between consecutive
    * versions means untouched content. The walk down the manifest chain
    * is metadata-only (no data files read) and each resolved value is an
    * UPPER bound on the true last write, so any early exit (vacuumed old
    * manifest, >1000 partitions — expression size bound) degrades
    * conservatively back toward the table-version approximation: extra
    * false conflicts, never a lost update. Unpartitioned tables keep the
    * table-version stand-in. */
  private def seqNoExpr(table: String, version: Int): String = {
    val tableVersion = s"CAST($version AS BIGINT)"
    val path = tablePath(table)
    val ps = VersionedTable.partitionSpec(spark, path)
      .getOrElse(return tableVersion)
    def norm(s: String) = new Path(s).toUri.getPath
    val lastW = scala.collection.mutable.HashMap.empty[String, Int]
    try {
      var cur = VersionedTable.partitionDirs(spark, path, version).toMap
      if (cur.isEmpty || cur.size > 1000) return tableVersion
      cur.keys.foreach(k => lastW(k) = version)
      val active = scala.collection.mutable.Set[String](cur.keySet.toSeq: _*)
      var v = version
      while (v > 1 && active.nonEmpty) {
        val prevDirs = VersionedTable.partitionDirs(spark, path, v - 1).toMap
        active.toSeq.foreach { k =>
          (cur.get(k), prevDirs.get(k)) match {
            case (Some(d), Some(p)) if norm(d) == norm(p) => lastW(k) = v - 1
            case _ => active -= k // changed (or created) at v: freeze
          }
        }
        cur = prevDirs
        v -= 1
      }
    } catch { case _: Exception => () } // partial walk: values stay upper bounds
    if (lastW.isEmpty) return tableVersion
    val nameExpr = ps.cols
      .map(c => s"concat('$c=', coalesce(CAST(`$c` AS STRING), " +
        "'__HIVE_DEFAULT_PARTITION__'))")
      .mkString("concat_ws('/', ", ", ", ")")
    val entries = lastW.toSeq.sortBy(_._1)
      .map { case (k, lv) => s"'${k.replace("'", "''")}', CAST($lv AS BIGINT)" }
      .mkString(", ")
    // unknown keys (path-escaped values the raw cast can't reproduce)
    // fall back to the table version — conservative again
    s"coalesce(element_at(map($entries), $nameExpr), $tableVersion)"
  }

  /** Delta inputs for incremental index maintenance. When the table is
    * value-partitioned and a committed stored index exists for an OLDER
    * version, the partitions whose manifest entries differ between the
    * two versions are exactly the rows that changed —
    * [[VersionedTable.commitPartial]] carries untouched partitions
    * forward by reference, so equal entry paths mean equal content.
    * Returns (prevVersion, removedRows-at-prev (pk only),
    * addedRows-at-current) or None when a full rebuild is required:
    * unpartitioned table, no stored older version, an indexed or key
    * column is a partition column (partition values live in directory
    * names, not data files), or more than half the partitions changed
    * (full retokenize is cheaper than patching most of the index). */
  private def indexDelta(table: String, idxRoot: String, version: Int,
                         pk: String, textCols: Seq[String])
      : Option[(Int, DataFrame, DataFrame)] = {
    val path = tablePath(table)
    val rootP = new Path(idxRoot)
    if (!fs.exists(rootP)) return None
    val prev = fs.listStatus(rootP).toSeq.map(_.getPath.getName)
      .filter(_.matches("v\\d+")).map(_.drop(1).toInt)
      .filter(v => v < version &&
        (graft.operators.MatchText.storedIndexExists(spark, s"$idxRoot/v$v") ||
          // vector-index layout (codes/centroids, routeKnnStored)
          fs.exists(new Path(s"$idxRoot/v$v/codes/_SUCCESS"))))
      .sorted.lastOption.getOrElse(return None)
    val pspec = VersionedTable.partitionSpec(spark, path)
      .getOrElse(return rowDiffDelta(table, prev, pk, textCols))
    val lowerParts = pspec.cols.map(_.toLowerCase).toSet
    if ((pk +: textCols).exists(c => lowerParts.contains(c.toLowerCase))) return None
    // scheme-normalize before comparing: carried manifest entries resolve
    // without the fs scheme ("/x"), fresh ones with it ("file:/x")
    def norm(s: String): String = new Path(s).toUri.getPath
    val oldDirs = VersionedTable.partitionDirs(spark, path, prev).toMap
    val newDirs = VersionedTable.partitionDirs(spark, path, version).toMap
    if (oldDirs.isEmpty && newDirs.isEmpty) return None
    val allKeys = oldDirs.keySet ++ newDirs.keySet
    val changed = allKeys.filter(k =>
      oldDirs.get(k).map(norm) != newDirs.get(k).map(norm))
    if (changed.size * 2 > allKeys.size) return None
    val remDirs = changed.toSeq.flatMap(oldDirs.get)
    val addDirs = changed.toSeq.flatMap(newDirs.get)
    val removed = if (remDirs.isEmpty) readTable(table).select(col(pk)).limit(0)
                  else ParquetFooter.read(spark, remDirs: _*).select(col(pk))
    val added = if (addDirs.isEmpty) readTable(table).limit(0)
                else ParquetFooter.read(spark, addDirs: _*)
    Some((prev, removed, added))
  }

  /** Row-diff delta for UNPARTITIONED tables: the changed-row set between
    * the indexed snapshot and the current one is a PK full-outer compare
    * of `(pk, xxhash64(text cols))` — narrow 16-byte rows, one pass over
    * each snapshot, no tokenization. Tokenizing (the expensive half of an
    * index build: explode to one row per term) then runs over CHANGED
    * rows only. At 100 TB this still reads both snapshots' text bytes
    * once (IO), but skips the term explosion + aggregation for the
    * unchanged corpus — partitioned tables keep the stronger
    * manifest-diff path that skips the read too. Falls back to a full
    * rebuild when the previous snapshot was vacuumed or >50% of rows
    * changed (patching most of an index costs more than rebuilding). */
  private def rowDiffDelta(table: String, prev: Int, pk: String,
                           textCols: Seq[String])
      : Option[(Int, DataFrame, DataFrame)] = {
    val path = tablePath(table)
    val oldDf =
      try VersionedTable.readVersion(spark, path, prev)
      catch { case _: Exception => return None } // snapshot vacuumed
    val newDf = readTable(table)
    if (!(pk +: textCols).forall(c => oldDf.columns.contains(c)))
      return None // schema changed under the index → rebuild
    val oh = oldDf.select(col(pk).as("pk"),
      xxhash64(textCols.map(col): _*).as("h_old"))
    val nh = newDf.select(col(pk).as("pk"),
      xxhash64(textCols.map(col): _*).as("h_new"))
    val joined = oh.join(nh, Seq("pk"), "full_outer")
      .select(col("pk"), col("h_old"), col("h_new")).persist()
    try {
      val counts = joined.agg(
        sum(when(col("h_old").isNotNull &&
          (col("h_new").isNull || col("h_old") =!= col("h_new")), 1L)
          .otherwise(0L)),
        count(lit(1))).head()
      val (nChanged, nTotal) = (counts.getLong(0), counts.getLong(1))
      if (nTotal == 0 || nChanged * 2 > nTotal) return None
      val removed = joined.filter(col("h_old").isNotNull &&
          (col("h_new").isNull || col("h_old") =!= col("h_new")))
        .select(col("pk").as(pk)).localCheckpoint()
      val addedIds = joined.filter(col("h_new").isNotNull &&
          (col("h_old").isNull || col("h_old") =!= col("h_new")))
        .select(col("pk").as(pk)).localCheckpoint()
      val added = newDf.join(addedIds, Seq(pk), "left_semi")
      Some((prev, removed, added))
    } finally joined.unpersist(blocking = false)
  }

  /** `_score` through a declared fulltext index (reference: MATCH scores
    * come out of Lucene's index postings, `lucene/match/MatchQueries.java` —
    * never from re-analyzing the row). When the translated statement scores
    * a MATCH whose target resolves to a declared fulltext index on a table
    * with a single-column PRIMARY KEY, the per-row TF-saturation score
    * upgrades to corpus-IDF BM25 read from the inverted index:
    *
    *  - `FROM t [alias]` gains `JOIN <scores> ON alias.pk = <scores>.doc_id`
    *  - `graft_match_score(target, 'q')` → `<scores>.score`
    *  - `match_text[_analyzed](target, 'q'[, a])` → `TRUE` (the score join
    *    carries exactly the AND-matched documents, so the predicate is the
    *    join — semantics unchanged, score values gain the corpus IDF /
    *    length normalization the TF-only fallback cannot see)
    *
    * The index is built once per (table, index, committed version) and
    * cached; a query is then a broadcast of its few terms into the
    * term-partitioned postings plus one narrow per-doc aggregation — at
    * scale, matched docs flow, not the corpus. Conservative by design:
    * any unrecognized shape (no declared index, composite PRIMARY KEY,
    * MATCH options, subquery FROM) returns None and the TF fallback runs. */
  private def routeIndexedScore(stmt: Stmt): Option[Route] = {
    if (!stmt.text.toLowerCase.contains("graft_match_score")) return None
    val sig = stmt.sig

    // the scored MATCH: graft_match_score(target, 'query')
    val si = sig.indexWhere(t => t.kind == Dialect.K.Word && t.is("graft_match_score"))
    if (si < 0 || !sig.lift(si + 1).exists(_.isSym("("))) return None
    val sClose = matchFwd(sig, si + 1)
    val sParts = splitTopCommas(sig.slice(si + 2, sClose))
    if (sParts.length != 2 || sParts(1).length != 1 ||
        sParts(1).head.kind != Dialect.K.Str) return None
    val targetCol = unq(sParts(0).last).toLowerCase
    val queryLit = sParts(1).head.text
    val query = unq(sParts(1).head)

    // FROM <router table with a covering index spec and a 1-column PK>
    val r = indexedRelation(sig)(s => !s.analyzer.startsWith("vector:") &&
      (s.name.equalsIgnoreCase(targetCol) ||
        (s.cols.length == 1 && s.cols.head.equalsIgnoreCase(targetCol))))
      .getOrElse(return None)

    // token-shape bails BEFORE the index build (a bailing statement must
    // neither pay for nor leak a freshly built index + score view):
    def isScoreCall(i: Int): Option[Int] =
      if (sig(i).kind == Dialect.K.Word && sig(i).is("graft_match_score") &&
          sig.lift(i + 1).exists(_.isSym("("))) {
        val c = matchFwd(sig, i + 1)
        val ps = splitTopCommas(sig.slice(i + 2, c))
        if (ps.length == 2 && unq(ps(0).last).equalsIgnoreCase(targetCol) &&
            ps(1).length == 1 && ps(1).head.text == queryLit) Some(c) else None
      } else None
    def isMatchCall(i: Int): Option[Int] =
      if (sig(i).kind == Dialect.K.Word &&
          (sig(i).is("match_text") || sig(i).is("match_text_analyzed")) &&
          sig.lift(i + 1).exists(_.isSym("("))) {
        val c = matchFwd(sig, i + 1)
        val ps = splitTopCommas(sig.slice(i + 2, c))
        if ((ps.length == 2 || ps.length == 3) &&
            unq(ps(0).last).equalsIgnoreCase(targetCol) &&
            ps(1).headOption.exists(t => t.kind == Dialect.K.Str &&
              t.text == queryLit)) Some(c) else None
      } else None
    // the statement must actually carry the MATCH predicate we replace —
    // otherwise the join would FILTER rows a bare projection would keep
    if (!sig.indices.exists(i => isMatchCall(i).isDefined)) return None
    // ... and carry ONLY that predicate: a multi-column MATCH lowers to an
    // OR-chain over several columns, and joining on one column's matches
    // would drop rows the other columns admit — any foreign match call
    // means the shape is not ours, fall back
    for (i <- sig.indices) {
      val t = sig(i)
      if (t.kind == Dialect.K.Word &&
          (t.is("match_text") || t.is("match_text_analyzed")) &&
          sig.lift(i + 1).exists(_.isSym("(")) && isMatchCall(i).isEmpty)
        return None
    }
    // scores from the declared index at the table's committed version
    // (the served half): term-bucketed Parquet under the table root, so
    // searches prune to the query terms' buckets; DML patches the stored
    // postings from the changed rows only (reference: DML updates the
    // per-shard Lucene segments)
    val view = s"graft_match_scores_$nextViewN"
    def serve(): Option[String] = {
      val analyzer = MatchText.Analyzer.byName(r.spec.analyzer)
      def withConcat(df: DataFrame): (DataFrame, String) =
        if (r.spec.cols.length == 1) (df, r.spec.cols.head)
        else (df.withColumn("graft_ft_concat",
          concat_ws(" ", r.spec.cols.map(col): _*)), "graft_ft_concat")
      val idx = durableIndex[MatchText.InvertedIndex](r, "",
          s"${tablePath(r.table)}/_ftindex/${r.spec.name}", r.spec.cols)(
        exists = MatchText.storedIndexExists(spark, _),
        load = MatchText.loadIndex(spark, _, analyzer),
        patch = (prev, removed, added) => {
          val (adf, textCol) = withConcat(added)
          Some(MatchText.updateIndex(MatchText.loadIndex(spark, prev, analyzer),
            removed, adf, r.pk, textCol))
        },
        build = {
          val (df, textCol) = withConcat(readTable(r.table))
          MatchText.buildIndex(df, r.pk, textCol, analyzer)
        },
        save = MatchText.saveIndex(_, _))
      // non-colliding column names: the base table may have doc_id/score
      MatchText.scoreBM25(idx, query)
        .select(col("doc_id").as("graft_score_id"), col("score").as("graft_bm25"))
        .createOrReplaceTempView(view)
      Some("")
    }

    // score calls → view.score, match predicate → TRUE
    Some(Route(spliceJoin(stmt, r, view, "graft_score_id") { i =>
      isScoreCall(i).map(c => (s"$view.graft_bm25", c))
        .orElse(isMatchCall(i).map(c => ("TRUE", c)))
    }, "indexed-score-bm25", () => serve()))
  }

  /** SQL `knn_match` through a DECLARED vector index (reference
    * `expression/scalar/KnnMatch.java:48` + docs/general/dql/vector-search
    * .rst: the reference serves `knn_match` from the float_vector column's
    * HNSW index; graft's declared twin is `INDEX iv USING VECTOR (col)` —
    * a durable int8-quantized IVF index under the table root, built once
    * per committed version, codes bucket-partitioned so an nprobe search
    * prunes to nprobe partitions AT THE SCAN and reads 4× fewer bytes
    * than the float corpus). The symmetric twin of [[routeIndexedScore]]:
    *
    *  - `FROM t [alias]` gains `JOIN <hits> ON alias.pk = <hits>.id`
    *  - `knn_match(col, [v..], k)` → `TRUE` (the join carries the k hits)
    *  - `_score` → `<hits>.sim` — metric l2 (`vector_similarity` =
    *    1/(1+l2²)), so ranking matches the exact Dialect fallback
    *
    * Maintenance mirrors the fulltext path: fresh sessions LOAD the
    * stored codes; a changed table patches incrementally via
    * [[graft.operators.Similarity.updateQuantizedIndex]] (assign-to-fixed-
    * centroids over the row diff) when [[indexDelta]] reports small churn,
    * and rebuilds otherwise.
    *
    * Extra WHERE conjuncts PRE-filter through the index (reference
    * semantics — Lucene searches over the filter's docset,
    * LuceneQueryBuilder, so k MATCHING rows return): the rest-conjunct
    * predicate runs as a pk-only projection over the table and semi-joins
    * into the bucket-pruned candidate scan before k-selection. Non-literal
    * query vectors (subqueries, function calls) are evaluated once on the
    * driver — a query vector is a single row by definition — and served
    * from the index like a literal. Conservative bails: a missing index
    * or composite PK, OR around the knn conjunct, `_score` inside a
    * pre-filter, multi-call shapes, or a filter/vector that fails to
    * evaluate all return None — [[Dialect]]'s exact TakeOrderedAndProject
    * lowering then runs. */
  private def routeKnnStored(stmt: Stmt): Option[Route] = {
    if (!stmt.text.toLowerCase.contains("knn_match")) return None
    val sig = stmt.sig
    val ki = sig.indexWhere(t => t.kind == Dialect.K.Word && t.is("knn_match"))
    if (ki < 0 || !sig.lift(ki + 1).exists(_.isSym("("))) return None
    if (sig.indexWhere(t => t.kind == Dialect.K.Word && t.is("knn_match"), ki + 1) >= 0)
      return None
    val close = matchFwd(sig, ki + 1)
    if (close < 0) return None
    val parts = splitTopCommas(sig.slice(ki + 2, close))
    if (parts.length != 3) return None
    val targetCol = unq(parts(0).last).toLowerCase
    // query vector: a `[n, n, …]` literal parses directly; anything else
    // is kept as an expression and evaluated once on the driver after the
    // cheap shape checks below succeed
    val vecToks = parts(1)
    if (!vecToks.exists(_.sig)) return None
    val litNums: Option[Seq[Float]] =
      if (vecToks.headOption.exists(_.isSym("[")) &&
          vecToks.lastOption.exists(_.isSym("]"))) {
        val nums = scala.collection.mutable.ArrayBuffer.empty[Float]
        var bad = false; var i = 1; var sign = 1.0f
        while (i < vecToks.length - 1 && !bad) {
          val t = vecToks(i)
          if (t.isSym("-")) sign = -sign
          else if (t.isSym("+") || t.isSym(",")) ()
          else if (t.kind == Dialect.K.Num) { nums += sign * t.text.toFloat; sign = 1.0f }
          else bad = true
          i += 1
        }
        if (bad || nums.isEmpty) None else Some(nums.toSeq)
      } else None
    val k = parts(2) match {
      case Vector(t) if t.kind == Dialect.K.Num =>
        t.text.toIntOption.getOrElse(return None)
      case _ => return None
    }

    // FROM <router table with a vector index and a 1-column PK>
    val r = indexedRelation(sig)(s =>
      s.analyzer.startsWith("vector:") && s.cols.length == 1 &&
        (s.name.equalsIgnoreCase(targetCol) || s.cols.head.equalsIgnoreCase(targetCol)))
      .getOrElse(return None)
    val IndexedRelation(table, _, pk, _, rel, _) = r

    // WHERE: depth-0 AND conjuncts; the knn_match call must stand alone
    // as one of them, the REST become the docset pre-filter (reference
    // filters BEFORE k-selection). OR around the knn conjunct cannot be
    // served from the index
    val wi = sig.indexWhere(t => t.kind == Dialect.K.Word && t.is("where"))
    if (wi < 0 || ki <= wi) return None
    val tailKw = Set("group", "order", "limit", "having", "offset", "window")
    var tailStart = sig.length
    locally {
      var depth = 0; var i = wi + 1
      while (i < sig.length && tailStart == sig.length) {
        val t = sig(i)
        if (t.isSym("(") || t.isSym("[")) depth += 1
        else if (t.isSym(")") || t.isSym("]")) depth -= 1
        else if (depth == 0 && t.kind == Dialect.K.Word &&
                 tailKw.contains(t.text.toLowerCase)) tailStart = i
        i += 1
      }
    }
    // depth-0 AND boundaries — BETWEEN's AND is a range separator
    val andIdxs = scala.collection.mutable.ArrayBuffer.empty[Int]
    locally {
      var depth = 0; var betweenPending = false
      for (i <- wi + 1 until tailStart) {
        val t = sig(i)
        if (t.isSym("(") || t.isSym("[")) depth += 1
        else if (t.isSym(")") || t.isSym("]")) depth -= 1
        else if (depth == 0 && t.kind == Dialect.K.Word && t.is("or"))
          return None
        else if (depth == 0 && t.kind == Dialect.K.Word && t.is("between"))
          betweenPending = true
        else if (depth == 0 && t.kind == Dialect.K.Word && t.is("and")) {
          if (betweenPending) betweenPending = false else andIdxs += i
        }
      }
    }
    val conjBounds = (Seq(wi) ++ andIdxs ++ Seq(tailStart)).sliding(2).toSeq
      .map { case Seq(a, b) => (a + 1, b) }
    val knnConj = conjBounds.find { case (a, b) => a <= ki && close < b }
      .getOrElse(return None)
    if (knnConj._1 != ki || knnConj._2 != close + 1) return None
    val restConjs = conjBounds.filterNot(_ == knnConj)
      .map { case (a, b) => sig.slice(a, b).map(_.text).mkString(" ").trim }
      .filter(_.nonEmpty)
    if (restConjs.exists(_.toLowerCase.contains("_score"))) return None

    // docset pre-filter: pk-only projection of the rest conjuncts over
    // the table snapshot, semi-joined into the candidate scan inside
    // ivfKnnStored — the float corpus is never touched by the filter.
    // Analysis binds the snapshot, so the view is dropped right after;
    // a filter that fails analysis leaves the exact path to serve
    val knnN = nextViewN
    val candFilter: Option[DataFrame] = if (restConjs.isEmpty) None else {
      val fview = s"graft_knn_filter_$knnN"
      readTable(table).createOrReplaceTempView(fview)
      val fsql = s"SELECT $pk AS cid FROM $fview $rel WHERE " +
        restConjs.mkString("(", ") AND (", ")")
      try Some(spark.sql(Dialect.translate(fsql)))
      catch { case scala.util.control.NonFatal(_) => return None }
      finally spark.catalog.dropTempView(fview)
    }
    val label = if (candFilter.isDefined) "stored-index-filtered" else "stored-index"
    StatementRouter.lastKnnRoute.set(label)
    val view = s"graft_knn_hits_$knnN"
    // the knn_match call → TRUE, _score → the hit's similarity
    val routed = spliceJoin(stmt, r, view, "graft_knn_id") { i =>
      if (i == ki) Some(("TRUE", close))
      else if (sig(i).kind == Dialect.K.Word && sig(i).is("_score"))
        Some((s"$view.graft_knn_sim", i))
      else None
    }
    Some(Route(routed, label, () =>
      serveKnn(r, litNums, vecToks, k, candFilter, view)))
  }

  /** The served half of [[routeKnnStored]]: the driver-side query-vector
    * eval, the durable index, the ANN probe and recall count, and the
    * hits view. Returns the `, index …` / `, probe …` label suffix, or
    * None when the query vector fails to evaluate. */
  private def serveKnn(r: IndexedRelation, litNums: Option[Seq[Float]],
                       vecToks: Vector[Tok], k: Int, candFilter: Option[DataFrame],
                       view: String): Option[String] = {
    val IndexedRelation(table, version, pk, spec, _, _) = r
    val vecCol = spec.cols.head
    // non-literal query vector: evaluate the expression once on the
    // driver (single row by definition); a failure — unresolvable
    // columns, multi-row subquery, wrong type — falls back to the exact
    // path, which reports it loudly
    val queryVec: Seq[Float] = litNums.getOrElse {
      val exprR = vecToks.map(_.text).mkString(" ")
      try {
        val row = spark.sql(Dialect.translate(
          s"SELECT CAST(($exprR) AS ARRAY<FLOAT>) AS graft_qv")).head()
        val seq = row.getSeq[Float](0)
        if (seq == null || seq.isEmpty) return None
        seq
      } catch { case scala.util.control.NonFatal(_) => return None }
    }

    // durable index at the committed version: load, patch, or build.
    // analyzer slot: "vector:<centroids>:<nprobe>[:pq:<m>:<ksub>]" —
    // the optional pq tail selects the IVF-PQ layout (m-byte codes +
    // codebooks beside the centroids) over the int8 one.
    val specParts = spec.analyzer.split(":")
    val centStr = specParts(1)
    // "r<pct>[s<N>]" in the nprobe slot = a declared recall target (with
    // an optional calibration sample-count override): the probe count is
    // resolved from the index's stored calibration curve below (r9
    // verdict ask #7); a plain integer is the fixed-nprobe contract
    val recallSlot = "r(\\d+)(?:s(\\d+))?".r
    val (recallTarget: Option[Double], recallSamples: Int) =
      specParts(2) match {
        case recallSlot(pct, ns) =>
          (Some(pct.toInt / 100.0),
            Option(ns).map(_.toInt).getOrElse(32))
        case _ => (None, 32)
      }
    val nprobe = recallTarget.fold(specParts(2).toInt)(_ => 4)
    val isPq = specParts.length >= 4 && specParts(3) == "pq"
    val (pqM, pqKsub) =
      if (isPq) (specParts(4).toInt, specParts(5).toInt) else (0, 0)
    // ":res" tail = residual IVFADC: codes quantize v − centroid(v) and
    // ADC tables are built per (query, probed bucket) — same store
    // layout, higher recall at identical byte cost (Jégou 2011 §V.A)
    val isRes = isPq && specParts.length >= 7 && specParts(6) == "res"
    import spark.implicits._
    val idxRootStr = s"${tablePath(table)}/_vecindex/${spec.name}"
    val stored = s"$idxRootStr/v$version"
    def autoCentroids(n: Long): Int =
      // auto-scale: ≈ N·nprobe/256 buckets keeps the expected probed
      // candidate set ~256·k-independent rows regardless of corpus size
      // (Similarity.embeddingNearDupPairs's argument)
      if (centStr.toInt > 0) centStr.toInt
      else math.max(16L, math.min(65536L, n * nprobe / 256)).toInt
    // delta patches keep centroids AND codebooks fixed, so the previous
    // version's recall-calibration curve stays valid for ASSIGNMENT — but
    // the recall it measured drifts as the corpus churns. Copy it forward
    // only while cumulative churn stays under 20% of the corpus the curve
    // was calibrated against (tracked in calibmeta); past that, leave the
    // curve absent so the next declared-recall query recalibrates (an
    // unbounded copy-forward can under-probe a recall=0.9 index
    // indefinitely). Full rebuilds retrain centroids, so no prior curve
    // survives them and they always fall through to fresh calibration.
    def carryRecallCurve(stale: Path, patched: Option[(DataFrame, DataFrame)]): Unit =
      patched.foreach { case (removed, added) =>
        val prevCurve = new Path(stale, "recallcurve")
        val curCurve = new Path(s"$stored/recallcurve")
        if (fs.exists(prevCurve) && !fs.exists(curCurve)) {
          val prevMeta = new Path(stale, "calibmeta")
          // indexes calibrated before metadata existed carry no base
          // size: treat as never-stale (legacy behavior)
          val (baseN, cum, smp) =
            if (fs.exists(prevMeta)) {
              val row = ParquetFooter.read(spark, prevMeta.toString).collect()(0)
              (row.getLong(0), row.getLong(1), row.getInt(2))
            } else (Long.MaxValue, 0L, 32)
          val newCum = cum + removed.count() + added.count()
          if (baseN == Long.MaxValue || newCum <= baseN / 5) {
            org.apache.hadoop.fs.FileUtil.copy(fs, prevCurve, fs,
              curCurve, false, spark.sparkContext.hadoopConfiguration)
            Seq((baseN, newCum, smp))
              .toDF("base_n", "cum_delta", "samples").coalesce(1)
              .write.mode("overwrite").parquet(s"$stored/calibmeta")
          }
        }
      }

    val queries = Seq((0L, queryVec)).toDF("vec_id", "embedding")
    // index handles are acquired ONCE (memoized per version) and hoisted
    // out of the search dispatch so the recall-curve calibration below
    // runs on the exact handles the statement search uses; PQ indexes
    // carry their codebooks beside the codes and centroids
    def loadVec(d: String): (DataFrame, DataFrame, Option[Array[Array[Array[Float]]]]) = {
      val (codes, cents) = Similarity.loadQuantizedIndex(spark, d)
      (codes, cents,
        if (isPq) Some(Similarity.loadPqCodebooks(spark, s"$d/codebooks")) else None)
    }
    val (codes, centroids, codebooks) =
      durableIndex[(DataFrame, DataFrame, Option[Array[Array[Array[Float]]]])](
          r, if (isPq) "#vecpq" else "#vec", idxRootStr, Seq(vecCol))(
        exists = d => fs.exists(new Path(s"$d/codes")),
        load = loadVec,
        // assign the changed rows to the fixed centroids (and codebooks)
        patch = (prev, removed, added) =>
          if (!fs.exists(new Path(s"$prev/codes")) ||
              (isPq && !fs.exists(new Path(s"$prev/codebooks")))) None
          else {
            val (oldCodes, cents, cb) = loadVec(prev)
            Some((cb match {
              case Some(b) if isRes => Similarity.updatePqIndexResidual(
                oldCodes, cents, b, removed, added, pk, vecCol)
              case Some(b) => Similarity.updatePqIndex(
                oldCodes, cents, b, removed, added, pk, vecCol)
              case None => Similarity.updateQuantizedIndex(
                oldCodes, cents, removed, added, pk, vecCol)
            }, cents, cb))
          },
        build = {
          val corpus = readTable(table)
          val (bucketed, cents) = Similarity.kmeansBucketize(corpus,
            numCentroids = autoCentroids(corpus.count()), iters = 2,
            idCol = pk, vecCol = vecCol)
          if (!isPq) (Similarity.quantizedIndex(bucketed), cents, None)
          else if (isRes) {
            val cb = Similarity.pqTrainResidual(bucketed, cents, m = pqM, ksub = pqKsub)
            (Similarity.ivfPqIndexResidual(bucketed, cents, cb), cents, Some(cb))
          } else {
            val cb = Similarity.pqTrain(corpus, m = pqM, ksub = pqKsub,
              idCol = pk, vecCol = vecCol)
            (Similarity.ivfPqIndex(bucketed, cb), cents, Some(cb))
          }
        },
        save = { case ((c, cents, cb), d) =>
          c.write.mode("overwrite").partitionBy("bucket").parquet(s"$d/codes")
          cents.write.mode("overwrite").parquet(s"$d/centroids")
          cb.foreach(Similarity.savePqCodebooks(spark, _, s"$d/codebooks"))
        },
        carry = carryRecallCurve)
    // this route's own build, read before anything else resolves an index
    val build = StatementRouter.lastIndexBuild.get()
    /** Raw (qid, cid, sim, rk) hits for ANY query set — the statement
      * search and the calibration rungs share this one dispatch. */
    def searchRaw(np: Int, qdf: DataFrame, kk: Int,
                  filt: Option[DataFrame]): DataFrame =
      codebooks match {
        case Some(cb) =>
          if (isRes)
            Similarity.ivfPqKnnStoredResidual(
              codes, centroids, cb, readTable(table), qdf, kk, np,
              idCol = pk, vecCol = vecCol, candidateFilter = filt)
          else
            Similarity.ivfPqKnnStored(
              codes, centroids, cb, readTable(table), qdf, kk, np,
              idCol = pk, vecCol = vecCol, candidateFilter = filt)
        case None =>
          Similarity.ivfKnnStored(
            codes, centroids, readTable(table), qdf, kk, np,
            idCol = pk, vecCol = vecCol, metric = "l2",
            candidateFilter = filt)
      }
    def search(np: Int): DataFrame =
      searchRaw(np, queries, k, candFilter)
        .select(col("cid").as("graft_knn_id"), col("sim").as("graft_knn_sim"))

    // declared-recall indexes resolve nprobe from the calibration curve
    // stored beside the codes: at (re)build time the route samples 8
    // deterministic corpus vectors, computes the exact top-10 truth by
    // the route's own ranking metric (vector_similarity), measures
    // recall@10 at a doubling nprobe ladder, and persists (np, recall);
    // a query then probes with the SMALLEST rung meeting the target —
    // the declarative recall/cost trade the reference inherits silently
    // from Lucene HNSW's beam-width. Curve cost: |ladder| bounded probes
    // over 8 queries, once per index version. Resolution is memoized per
    // version so repeated statements pay one tiny parquet read, total.
    StatementRouter.lastKnnAutoNprobe.set("")
    val npUse: Int = recallTarget match {
      case None => nprobe
      case Some(target) =>
        val picked = graft.operators.MatchText.IndexCache
          .cached[java.lang.Integer](
            spark, s"${tablePath(table)}#${spec.name}#autonp#v$version") {
          val curvePath = s"$stored/recallcurve"
          val centCount = centroids.count().toInt
          if (!fs.exists(new Path(curvePath))) {
            val corpus = readTable(table)
            val corpusN = corpus.count()
            val sq = corpus
              .orderBy(xxhash64(col(pk)), col(pk)).limit(recallSamples)
              .select(col(pk).as("vec_id"), col(vecCol).as("embedding"))
              .localCheckpoint()
            val qq = sq.select(col("vec_id").as("qid"),
              col("embedding").as("qvec"))
            val truth = corpus
              .select(col(pk).as("cid"), col(vecCol).as("cvec"))
              .crossJoin(broadcast(qq))
              .select(col("qid"), col("cid"),
                graft.functions.VectorFunctions
                  .vectorSimilarity(col("cvec"), col("qvec")).as("sim"))
              .withColumn("rk", row_number().over(
                org.apache.spark.sql.expressions.Window
                  .partitionBy(col("qid"))
                  .orderBy(col("sim").desc, col("cid"))))
              .filter(col("rk") <= 10)
              .select(col("qid"), col("cid")).localCheckpoint()
            val ladder = (Iterator.iterate(1)(_ * 2)
              .takeWhile(_ < centCount).toSeq :+ centCount).distinct
            val curve = ladder.map { np =>
              (np, graft.operators.Similarity.recallAtK(
                searchRaw(np, sq, 10, None).select(col("qid"), col("cid")),
                truth))
            }
            // monotonicity guard: widening nprobe can only grow the
            // probed candidate set, so measured recall must not drop by
            // more than sampling jitter — a bigger dip means the search
            // dispatch itself is broken and the curve is untrustworthy
            var runMax = 0.0
            curve.foreach { case (np, rc) =>
              require(rc >= runMax - 0.1,
                s"recall curve non-monotonic at nprobe=$np: " +
                  s"$rc after a max of $runMax — search dispatch broken")
              runMax = math.max(runMax, rc)
            }
            curve.toDF("np", "recall").coalesce(1)
              .write.mode("overwrite").parquet(curvePath)
            // calibration metadata: the corpus size the curve was
            // measured against, cumulative churn since (maintained by
            // the delta copy-forward), and the sample count — the
            // staleness bound reads these
            Seq((corpusN, 0L, recallSamples))
              .toDF("base_n", "cum_delta", "samples").coalesce(1)
              .write.mode("overwrite").parquet(s"$stored/calibmeta")
          }
          val rows = ParquetFooter.read(spark, curvePath).collect()
            .map(r => (r.getInt(0), r.getDouble(1))).sortBy(_._1)
          Int.box(rows.find(_._2 >= target).map(_._1).getOrElse(centCount))
        }
        StatementRouter.lastKnnAutoNprobe.set(picked.toString)
        picked.intValue
    }
    // recall guard: a selective pre-filter can leave <k matching rows in
    // the nprobe-probed buckets even when ≥k exist elsewhere; the
    // reference (Lucene kNN over the filter's docset) returns k matching
    // rows in that case. When the filtered search comes up short, re-run
    // over ALL buckets — still the int8 code scan + survivor rescore, the
    // float corpus is never filtered — which returns min(k, |matching|).
    val hits = candFilter match {
      case Some(cf) =>
        // materialize the probed search ONCE: the recall count below and
        // the hits view both read the checkpointed rows (≤k of them, so
        // coalesce(1) first — one tiny partition instead of a shuffle's
        // worth). An uncached DataFrame would re-run probe + semi-join +
        // rescore when the rewritten statement executes — doubling every
        // fixed-probe filtered vector query.
        val first = search(npUse).coalesce(1).localCheckpoint()
        val got = first.count()
        if (got >= k) { StatementRouter.lastKnnProbe.set("fixed"); first }
        else if (got >= cf.count()) {
          // the probed buckets already returned every filter-matching row
          // (fewer than k exist in total — e.g. a pk-equality filter with
          // k=10): an all-buckets re-scan cannot find more, skip it
          StatementRouter.lastKnnProbe.set("exhausted"); first
        } else {
          StatementRouter.lastKnnProbe.set("widened")
          search(Int.MaxValue).coalesce(1).localCheckpoint()
        }
      case None => search(npUse)
    }
    hits.createOrReplaceTempView(view)
    val probe = StatementRouter.lastKnnProbe.get()
    Some((if (build.isEmpty) "" else s", index $build") +
      (if (probe.isEmpty) "" else s", probe $probe"))
  }

  /** MATCH through declared fulltext indexes (reference MatchPredicate
    * resolves each target's index analyzer, `lucene/match/MatchQueries.java`;
    * a named composite index — `INDEX ft USING FULLTEXT (a, b)` — is
    * MATCHable by its name). [[Dialect.translate]] has already lowered MATCH
    * to `match_text(target, 'q')`; here each target resolves against the
    * referenced tables' durable index specs:
    *
    *  - column / index name with a declared analyzer →
    *    `match_text_analyzed(col, 'q', '<analyzer>')`
    *  - a composite index name expands to OR over its covered columns
    *    (the reference concatenates the fields into one Lucene field —
    *    term-presence over the union is the same predicate)
    *
    * Targets without a spec keep the default-analyzer `match_text` path. */
  private def applyDeclaredAnalyzers(stmt: Stmt): Stmt = {
    val sig = stmt.sig
    if (!sig.exists(t => t.kind == Dialect.K.Word && t.is("match_text"))) return stmt
    val specs: Map[String, VersionedTable.IndexSpec] = {
      val words = sig.filter(t => t.kind == Dialect.K.Word || t.kind == Dialect.K.QId)
        .map(t => unq(t).toLowerCase).toSet
      val rp = new Path(root)
      if (!fs.exists(rp)) Map.empty
      else fs.listStatus(rp).iterator
        .map(_.getPath.getName)
        .filter(n => words.contains(n.toLowerCase))
        .flatMap(n => VersionedTable.indexSpecs(spark, tablePath(n)))
        .filterNot(_.analyzer.startsWith("vector:"))
        .map(s => s.name.toLowerCase -> s)
        .toMap
    }
    if (specs.isEmpty) return stmt
    val out = new Stmt.Builder
    var i = 0
    while (i < sig.length) {
      val t = sig(i)
      val rewritten =
        if (t.kind == Dialect.K.Word && t.is("match_text") &&
            sig.lift(i + 1).exists(_.isSym("("))) {
          val close = matchFwd(sig, i + 1)
          val parts = splitTopCommas(sig.slice(i + 2, close))
          if (parts.length == 2) {
            val target = parts(0)
            val last = target.last
            specs.get(unq(last).toLowerCase).map { spec =>
              val qualifier = target.dropRight(1).map(_.text).mkString // "t."
              val q = renderSig(parts(1))
              out.gen(spec.cols
                .map(c => s"match_text_analyzed($qualifier$c, $q, '${spec.analyzer}')")
                .mkString("(", " OR ", ")"))
              i = close + 1
              true
            }.getOrElse(false)
          } else false
        } else false
      if (!rewritten) { out.keep(t); i += 1 }
    }
    out.result
  }

  /** `SET [SESSION | GLOBAL] [PERSISTENT | TRANSIENT] key { = | TO } value
    * [, value…]` (reference `SetSessionPlan.java` / `UpdateSettingsPlan
    * .java`): scope modifiers collapse to the session conf — Spark has one
    * runtime-config surface, which `current_setting` reads back. */
  private def setStmt(sig: Vector[Tok]): DataFrame = {
    // SET [SESSION CHARACTERISTICS AS] TRANSACTION … — accepted and
    // ignored: single-statement transactional semantics, the reference's
    // SetTransactionPlan is the same no-op ack (set-transaction.rst)
    if (sig.take(4).exists(t => t.is("transaction") || t.is("characteristics")))
      return summary(0L)
    // SET SESSION AUTHORIZATION {user|DEFAULT} (reference
    // set-session-authorization.rst): switches the effective session user
    // the privilege checks and current_user/session_user resolve against.
    if (sig.length > 2 && sig(1).is("session") && sig(2).is("authorization")) {
      val v = sig.drop(3).map(unq).mkString
      if (v.isEmpty || v.equalsIgnoreCase("default"))
        spark.conf.unset("graft.session.user")
      else {
        require(sources.Roles.find(v).exists(_.isUser),
          s"User '$v' does not exist")
        spark.conf.set("graft.session.user", v)
      }
      return summary(0L)
    }
    var i = 1
    while (i < sig.length &&
      (sig(i).is("session") || sig(i).is("global") ||
        sig(i).is("persistent") || sig(i).is("transient") || sig(i).is("local"))) i += 1
    // dotted key: idents joined by '.'
    val key = new StringBuilder
    while (i < sig.length && !sig(i).isSym("=") && !sig(i).is("to")) {
      key.append(sig(i).text); i += 1
    }
    require(i < sig.length, s"SET needs '=' or TO: $sig")
    val value = sig.drop(i + 1).map(unq).mkString(",")
    spark.conf.set(key.toString, value)
    summary(0L)
  }

  /** `SHOW CREATE TABLE t` — synthesized from the current snapshot schema
    * plus the persistent bucket spec (reference `SHOW CREATE TABLE` emits
    * the same reconstructed DDL, `MetadataToASTVisitor.java`). */
  private def showCreateTable(name: String): DataFrame = {
    import spark.implicits._
    val schema = readTable(name).schema
    val cspec = VersionedTable.constraintSpec(spark, tablePath(name))
    val genOf = cspec.map(_.generated.map(g => g._1 -> g._3).toMap)
      .getOrElse(Map.empty[String, String])
    val defOf = cspec.map(_.defaults.map(d => d._1 -> d._3).toMap)
      .getOrElse(Map.empty[String, String])
    val checkOfCol = cspec.map(_.checks).getOrElse(Nil)
      .collect { case (n, _, o) if n.contains("_") => (n, o) }
    val notNullSet = cspec.map(_.notNull.toSet).getOrElse(Set.empty[String])
    val cols = schema.fields.map { f =>
      val t = graft.plans.PgTypeofExpr.crateName(f.dataType) match {
        case "text" => "TEXT"
        case other  => other.toUpperCase
      }
      val gen = genOf.get(f.name).map(e => s" GENERATED ALWAYS AS ($e)").getOrElse("") +
        defOf.get(f.name).map(e => s" DEFAULT $e").getOrElse("")
      val colCheck = checkOfCol
        .find(_._1 == s"${name}_${f.name}_check")
        .map(c => s" CHECK (${c._2})").getOrElse("")
      val nn = if (!f.nullable || notNullSet.contains(f.name)) " NOT NULL" else ""
      s"   ${f.name} $t$gen$colCheck$nn"
    }.mkString(",\n")
    // PRIMARY KEY re-renders as the table-level clause, like the
    // reference's MetadataToASTVisitor
    val pkClause = VersionedTable.primaryKey(spark, tablePath(name)) match {
      case Nil => Nil
      case ks  => Seq(s"   PRIMARY KEY (${ks.mkString(", ")})")
    }
    // declared fulltext indexes re-render as table-level INDEX clauses,
    // like the reference's MetadataToASTVisitor
    val ftIndexes = VersionedTable.indexSpecs(spark, tablePath(name)).map { ix =>
      if (ix.analyzer.startsWith("vector:")) {
        val ps = ix.analyzer.split(":")
        val pq = if (ps.length >= 6 && ps(3) == "pq")
          s", encoding = 'pq', pq_m = ${ps(4)}, pq_ksub = ${ps(5)}" +
            (if (ps.length >= 7 && ps(6) == "res") ", pq_residual = true"
             else "")
        else ""
        val np = "r(\\d+)(?:s(\\d+))?".r.findFirstMatchIn(ps(2))
          .filter(_ => ps(2).startsWith("r"))
          .map { m =>
            s"recall = ${m.group(1).toInt / 100.0}" +
              Option(m.group(2)).fold("")(ns => s", recall_sample = $ns")
          }
          .getOrElse(s"nprobe = ${ps(2)}")
        s"   INDEX ${ix.name} USING VECTOR (${ix.cols.mkString(", ")}) " +
          s"WITH (centroids = ${ps(1)}, $np$pq)"
      } else
        s"   INDEX ${ix.name} USING FULLTEXT (${ix.cols.mkString(", ")}) " +
          s"WITH (analyzer = '${ix.analyzer}')"
    }
    // named/table-level CHECK constraints (auto col-checks rendered inline)
    val tableChecks = cspec.map(_.checks).getOrElse(Nil)
      .filterNot { case (n, _, _) =>
        schema.fields.exists(f => n == s"${name}_${f.name}_check") }
      .map { case (n, _, o) => s"   CONSTRAINT $n CHECK ($o)" }
    val body = (cols +: (pkClause ++ ftIndexes ++ tableChecks).toVector)
      .filter(_.nonEmpty).mkString(",\n")
    val clustered = VersionedTable.bucketSpec(spark, tablePath(name))
      .map(b => s"\nCLUSTERED BY (${b.cols.mkString(", ")}) INTO ${b.numBuckets} SHARDS")
      .getOrElse("") +
      VersionedTable.partitionSpec(spark, tablePath(name))
        .map(p => s"\nPARTITIONED BY (${p.cols.mkString(", ")})")
        .getOrElse("")
    // ALTER TABLE … SET settings render back as the WITH clause
    // (reference MetadataToASTVisitor emits the non-default settings)
    val settings = VersionedTable.tableSettings(spark, tablePath(name))
    val withClause =
      if (settings.isEmpty) ""
      else settings.toSeq.sortBy(_._1)
        .map { case (k, v) => s"""   "$k" = '$v'""" }
        .mkString("\nWITH (\n", ",\n", "\n)")
    Seq(s"CREATE TABLE IF NOT EXISTS $name (\n$body\n)$clustered$withClause")
      .toDF("create_table")
  }

  // ---------- maintenance verbs (reference RefreshTablePlan.java,
  // OptimizeTablePlan.java, AnalyzePlan.java, KillPlan.java) ----------

  /** `REFRESH TABLE t1 [, t2 …]` — drop stale cached metadata/data so the
    * next read sees the latest committed version (the reference makes new
    * segments visible; our versions are already atomic, so this is a cache
    * invalidation). Returns the refreshed-table count like the reference. */
  private def refreshStmt(sig: Vector[Tok]): DataFrame = {
    val names = splitTopCommas(sig.slice(2, sig.length)).map(p => unq(p.head))
    names.foreach { n =>
      require(VersionedTable.latestVersion(spark, tablePath(n)).isDefined,
        s"table $n does not exist")
      readTable(n).createOrReplaceTempView(n)
      try spark.catalog.refreshTable(n) catch { case _: Exception => () }
    }
    summary(names.size.toLong)
  }

  /** `OPTIMIZE TABLE t [PARTITION (col = val [, …])] [WITH (…)]` —
    * compact the latest snapshot into ~128 MB files, committed as the
    * NEXT version (copy-on-write: readers of the old version are
    * untouched; the reference's segment merge has the same no-torn-reads
    * property via Lucene commits). With a PARTITION clause (reference
    * `optimize.rst:19` — "optimize one partition exclusively"), only that
    * partition's files are read and rewritten; every other partition
    * carries forward by manifest reference. At 100 TB this is the routine
    * post-ingest pass that keeps scan parallelism sane. */
  private def optimizeStmt(sig: Vector[Tok]): DataFrame = {
    val name = sig(2).text
    val (cur, version) = snapshot(name)
    // compaction moves no key: the key map carries forward
    val carried = version.flatMap(KeyMap.stored(spark, tablePath(name), _))
    val pi = sig.indexWhere(_.is("partition"))
    val psOpt = VersionedTable.partitionSpec(spark, tablePath(name))
    if (pi >= 0 && sig.lift(pi + 1).exists(_.isSym("(")) &&
        psOpt.isDefined && txn.isEmpty) {
      val ps = psOpt.get
      val close = matchFwd(sig, pi + 1)
      val pairs = splitTopCommas(sig.slice(pi + 2, close)).map { p =>
        val eq = p.indexWhere(_.isSym("="))
        require(eq > 0 && eq + 1 < p.length, "PARTITION clause expects col = value")
        val vTok = p(eq + 1)
        val v: Any = vTok.kind match {
          case Dialect.K.Str => unq(vTok)
          case Dialect.K.Num if !vTok.text.contains('.') => vTok.text.toLong
          case Dialect.K.Word if vTok.is("true") || vTok.is("false") =>
            vTok.text.toBoolean
          case _ => unq(vTok)
        }
        unq(p(eq - 1)).toLowerCase -> v
      }.toMap
      require(ps.cols.forall(c => pairs.contains(c.toLowerCase)),
        s"PARTITION clause must pin every partition column of (${ps.cols.mkString(", ")})")
      val touched = Seq(ps.cols.map(c => pairs(c.toLowerCase)))
      val part = cur.filter(
        ps.cols.map(c => col(c) === lit(pairs(c.toLowerCase))).reduce(_ && _))
      storeKeyMap(name, version,
        writeTable(name, part.repartition(VersionedTable.writeTasks(part)), Some(touched)), carried)
    } else storeKeyMap(name, version,
      writeTable(name, cur.repartition(VersionedTable.writeTasks(cur))), carried)
    summary(0L)
  }

  /** `ANALYZE` — the reference refreshes planner statistics
    * (TableStatsService); graft's snapshots carry parquet footer stats
    * that are always current, so the statement folds to a metadata
    * refresh of every table. */
  private def analyzeStmt(): DataFrame = {
    registerViews()
    val names = tableNames
    names.foreach { name =>
      try spark.catalog.refreshTable(name)
      catch { case _: Exception => () }
      // per-column statistics → pg_stats (the reference's ANALYZE feeds
      // TableStatsService, surfaced through pg_stats): one
      // partial-aggregated pass per table computing null fraction,
      // average width and approximate distinct count per column — the
      // same trio the reference's ReservoirSampler collects
      try collectColumnStats(name)
      catch { case _: Exception => () }
    }
    summary(names.length.toLong)
  }

  private def collectColumnStats(name: String): Unit = {
    import org.apache.spark.sql.types.{NumericType, StringType}
    val df = readTable(name)
    if (df.schema.isEmpty) return
    val fields = df.schema.fields.toSeq
    val numericCols = fields.filter(_.dataType.isInstanceOf[NumericType])
      .map(_.name).toSet
    // one aggregation pass: per-column null count, HLL distinct, width,
    // and (numeric) decile histogram bounds — the reference's
    // HistogramSketch role, t-digest-approximated here
    val deciles = array((0 to 10).map(i => lit(i / 10.0)): _*)
    val aggCols = fields.flatMap { f =>
      val c = col(f.name)
      val w: Column = f.dataType match {
        case StringType => coalesce(avg(length(c)), lit(0.0))
        case dt         => lit(dt.defaultSize.toDouble)
      }
      val hist: Column =
        if (numericCols(f.name))
          percentile_approx(c.cast("double"), deciles, lit(1000))
        else lit(null).cast("array<double>")
      Seq(sum(when(c.isNull, 1L).otherwise(0L)),
        approx_count_distinct(c), w.cast("double"), hist)
    } :+ count(lit(1))
    val row = df.agg(aggCols.head, aggCols.tail: _*).head()
    val total = row.getLong(aggCols.length - 1)
    // one stacked pass for every column's most-common values (the
    // reference's MostCommonValuesSketch): (column, value) counts, top 10
    // by (count desc, value asc) — a single narrow shuffle for ALL
    // columns. Like the reference's sketch-on-ReservoirSampler
    // (TableStatsService), the pass runs on a bounded sample — the
    // stacked explode is table-bytes × column-count, so at 100 TB the
    // unsampled shuffle would make ANALYZE the most expensive statement
    // in the engine. Frequencies scale by the sampled count; tables at
    // or under the cap are read whole, so small-table MCVs stay exact.
    val mcvSampleCap =
      spark.conf.get("graft.analyze.mcv_sample_cap", "100000").toLong
    val (sampleDf, sampleTotal) =
      if (total > mcvSampleCap) {
        // deterministic seed: repeated ANALYZE yields identical stats
        val s = df.sample(withReplacement = false,
          mcvSampleCap.toDouble / total, seed = 42L)
        val sc = s.cache(); (sc, sc.count())
      } else (df, total)
    val stacked = sampleDf.select(explode(array(fields.map(f =>
        struct(lit(f.name).as("c"), col(f.name).cast("string").as("v"))): _*)))
      .select(col("col.c").as("c"), col("col.v").as("v"))
      .filter(col("v").isNotNull)
      .groupBy(col("c"), col("v")).agg(count(lit(1)).as("n"))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col("c")).orderBy(col("n").desc, col("v"))
    val mcv = stacked.withColumn("rk", row_number().over(win))
      .filter(col("rk") <= 10)
      .collect()
      .groupBy(_.getString(0))
      .view.mapValues(_.sortBy(_.getInt(3)).map(r =>
        (r.getString(1), r.getLong(2))).toSeq).toMap
    fields.zipWithIndex.foreach { case (f, i) =>
      val nulls = row.getLong(i * 4)
      val distinct = row.getLong(i * 4 + 1)
      val width = row.getDouble(i * 4 + 2)
      val hist: Seq[String] =
        if (row.isNullAt(i * 4 + 3)) Nil
        else row.getSeq[Double](i * 4 + 3).map(_.toString)
      val top = mcv.getOrElse(f.name, Seq.empty)
      sources.PgCatalog.analyzedStats.put((name, f.name),
        sources.PgCatalog.ColStats(
          if (total > 0) (nulls.toDouble / total).toFloat else 0f,
          math.round(width).toInt, distinct.toFloat,
          top.map(_._1),
          top.map(t =>
            if (sampleTotal > 0) (t._2.toDouble / sampleTotal).toFloat else 0f),
          hist))
    }
    if (sampleDf ne df) sampleDf.unpersist()
  }

  /** `KILL ALL | KILL '<job-group>' | KILL <spark-job-id>` — cancel running
    * statements. Router statements are tagged with a `graft-<n>` job group
    * (interrupt-on-cancel), so another session's KILL takes effect
    * mid-query; a bare integer cancels that Spark job id from `sys.jobs`. */
  private def killStmt(sig: Vector[Tok]): DataFrame = {
    val arg = sig.lift(1).getOrElse(sys.error("KILL needs ALL or a job id"))
    if (arg.is("all")) spark.sparkContext.cancelAllJobs()
    else unq(arg).toIntOption match {
      case Some(jobId) => spark.sparkContext.cancelJob(jobId)
      case None        => spark.sparkContext.cancelJobGroup(unq(arg))
    }
    summary(0L)
  }

  // ---------- CREATE / DROP VIEW (reference CreateViewPlan.java,
  // DropViewPlan.java, metadata/view/ViewsMetadata.java) ----------

  /** `CREATE [OR REPLACE] VIEW name AS <query>` — stores the CrateDB query
    * text durably; each use re-analyzes it against the current snapshots,
    * so a view always reflects the latest committed table versions (the
    * reference stores the statement string the same way). The query must
    * analyze NOW — CREATE-time validation like the reference. */
  private def createView(sig: Vector[Tok], orReplace: Boolean): DataFrame = {
    val vi = sig.indexWhere(_.is("view"))
    val name = unq(sig(vi + 1))
    val ai = sig.indexWhere(_.is("as"), vi + 2)
    require(ai > 0, "CREATE VIEW requires AS <query>")
    val queryToks = sig.slice(ai + 1, sig.length)
    val query = renderSig(queryToks)
    require(VersionedTable.latestVersion(spark, tablePath(name)).isEmpty,
      s"a table named $name already exists")
    val p = new Path(viewsDir, s"$name.sql")
    require(orReplace || !fs.exists(p), s"view $name already exists")
    registerViews(queryToks)
    // analyze (not execute) the translated text — schema resolution errors
    // surface at CREATE VIEW, like the reference's analyzer
    lower(query).schema
    fs.mkdirs(viewsDir)
    val tmp = new Path(viewsDir, s"$name.sql.tmp")
    writeTextFile(tmp, query)
    fs.delete(p, false)
    require(fs.rename(tmp, p), s"view commit failed for $name")
    summary(0L)
  }

  private def dropView(stmt: Stmt): DataFrame = {
    val ifExists = stmt.sig.lift(2).exists(_.is("if"))
    val name = unq(stmt.sig(stmt.nameAt(2)))
    val p = new Path(viewsDir, s"$name.sql")
    if (!fs.exists(p)) require(ifExists, s"view $name does not exist")
    else fs.delete(p, false)
    spark.catalog.dropTempView(name)
    summary(0L)
  }

  // ---------- ALTER TABLE (reference planner/node/ddl/
  // AlterTableAddColumnPlan.java, AlterTableDropColumnPlan.java,
  // AlterTableRenameColumnPlan.java, AlterTableRenameTablePlan.java,
  // AlterTablePlan.java) ----------

  /** `ALTER TABLE t ADD [COLUMN] def | DROP [COLUMN] [IF EXISTS] c |
    * RENAME [COLUMN] a TO b | RENAME TO t2 | SET (k = v, …) | RESET (k, …)`.
    *
    * Schema changes are copy-on-write: the altered snapshot commits as the
    * next table version, so readers of the old version never see a torn
    * schema and time travel across the DDL keeps working. Column types run
    * through the same [[Dialect.translateDdl]] mapping as CREATE TABLE, so
    * OBJECT/ARRAY/GEO types work in ADD COLUMN. SET/RESET persist into
    * durable table settings rendered back by SHOW CREATE TABLE. */
  private def alterTable(sig: Vector[Tok]): DataFrame = {
    val name = sig(2).text
    val op = sig.lift(3).map(_.text.toLowerCase).getOrElse("")
    op match {
      case "add" =>
        val ci = if (sig.lift(4).exists(_.is("column"))) 5 else 4
        // reuse the CREATE TABLE type mapping on a synthetic single-column
        // definition — identical semantics, zero duplicated code
        val ddl = Dialect.translateDdl(
          s"CREATE TABLE __alter (${renderSig(sig.slice(ci, sig.length))})")
        val inner = ddl.substring(ddl.indexOf('(') + 1, ddl.indexOf(") USING parquet"))
        val added = StructType.fromDDL(inner.replace(" NOT NULL", ""))
        val cur = readTable(name)
        added.fieldNames.foreach(c => require(!cur.columns.contains(c),
          s"column $c already exists in $name"))
        val next = added.fields.foldLeft(cur)((df, f) =>
          df.withColumn(f.name, lit(null).cast(f.dataType)))
        writeTable(name, next)
        summary(0L)
      // DROP CONSTRAINT name (alter-table.rst) — removes a named CHECK
      case "drop" if sig.lift(4).exists(_.is("constraint")) =>
        val cname = unq(sig(5))
        val cs = VersionedTable.constraintSpec(spark, tablePath(name))
          .getOrElse(VersionedTable.ConstraintSpec(Nil, Nil, Nil))
        require(cs.checks.exists(_._1 == cname),
          s"Cannot find a CHECK CONSTRAINT named $cname on table $name")
        VersionedTable.setConstraintSpec(spark, tablePath(name),
          cs.copy(checks = cs.checks.filterNot(_._1 == cname)))
        summary(0L)
      case "drop" =>
        var ci = if (sig.lift(4).exists(_.is("column"))) 5 else 4
        val ifExists = sig.lift(ci).exists(_.is("if"))
        if (ifExists) ci += 2
        val c = unq(sig(ci))
        val cur = readTable(name)
        if (!cur.columns.contains(c)) {
          require(ifExists, s"column $c does not exist in $name")
          return summary(0L)
        }
        require(cur.columns.length > 1, "cannot drop the only column")
        writeTable(name, cur.drop(c))
        summary(0L)
      case "rename" if sig.lift(4).exists(_.is("to")) =>
        val to = unq(sig(5))
        require(txn.isEmpty, "RENAME TO inside a transaction is not supported")
        require(VersionedTable.latestVersion(spark, tablePath(to)).isEmpty,
          s"table $to already exists")
        Memo.invalidate(_.contains(tablePath(name)))
        require(fs.rename(new Path(tablePath(name)), new Path(tablePath(to))),
          s"rename $name -> $to failed")
        summary(0L)
      case "rename" =>
        val ci = if (sig.lift(4).exists(_.is("column"))) 5 else 4
        val from = unq(sig(ci))
        require(sig.lift(ci + 1).exists(_.is("to")), "RENAME COLUMN needs TO")
        val to = unq(sig(ci + 2))
        val cur = readTable(name)
        require(cur.columns.contains(from), s"column $from does not exist")
        require(!cur.columns.contains(to), s"column $to already exists")
        writeTable(name, cur.withColumnRenamed(from, to))
        summary(0L)
      case "set" =>
        val kvs = parseKvSettings(sig)
        VersionedTable.setTableSettings(spark, tablePath(name),
          VersionedTable.tableSettings(spark, tablePath(name)) ++ kvs)
        summary(0L)
      case "reset" =>
        val open = sig.indexWhere(_.isSym("("))
        val keys =
          if (open < 0) sig.slice(4, sig.length).filter(_.sig).map(unq)
          else splitTopCommas(sig.slice(open + 1, matchFwd(sig, open)))
            .map(p => p.map(_.text).mkString("."))
        val cur = VersionedTable.tableSettings(spark, tablePath(name))
        VersionedTable.setTableSettings(spark, tablePath(name), cur -- keys)
        summary(0L)
      // ALTER [COLUMN] c { SET DEFAULT expr | DROP DEFAULT }
      // (alter-table.rst)
      case "alter" =>
        val ci = if (sig.lift(4).exists(_.is("column"))) 5 else 4
        val c = unq(sig(ci))
        require(readTable(name).columns.contains(c),
          s"column $c does not exist in $name")
        val cs = VersionedTable.constraintSpec(spark, tablePath(name))
          .getOrElse(VersionedTable.ConstraintSpec(Nil, Nil, Nil))
        if (sig.lift(ci + 1).exists(_.is("set")) &&
            sig.lift(ci + 2).exists(_.is("default"))) {
          val orig = renderSig(sig.slice(ci + 3, sig.length))
          val sparkEx = Dialect.translate(orig)
          VersionedTable.setConstraintSpec(spark, tablePath(name),
            cs.copy(defaults =
              cs.defaults.filterNot(_._1 == c) :+ ((c, sparkEx, orig))))
        } else if (sig.lift(ci + 1).exists(_.is("drop")) &&
            sig.lift(ci + 2).exists(_.is("default"))) {
          VersionedTable.setConstraintSpec(spark, tablePath(name),
            cs.copy(defaults = cs.defaults.filterNot(_._1 == c)))
        } else sys.error("ALTER COLUMN supports SET DEFAULT and DROP DEFAULT")
        summary(0L)
      // OPEN/CLOSE (alter-table.rst: a closed table refuses every
      // operation except ALTER TABLE; OPEN lifts it) — a durable flag in
      // the table settings, enforced by [[enforceOpen]]
      case "close" =>
        VersionedTable.setTableSettings(spark, tablePath(name),
          VersionedTable.tableSettings(spark, tablePath(name)) + ("closed" -> "true"))
        summary(0L)
      case "open" =>
        VersionedTable.setTableSettings(spark, tablePath(name),
          VersionedTable.tableSettings(spark, tablePath(name)) - "closed")
        summary(0L)
      case other => sys.error(s"unsupported ALTER TABLE operation: $other")
    }
  }

  /** `ALTER CLUSTER { SWAP TABLE s TO t [WITH (drop_source = b)] |
    * REROUTE RETRY FAILED | GC DANGLING ARTIFACTS | DECOMMISSION … }`
    * (alter-cluster.rst). SWAP atomically exchanges the two table
    * directories — the schema-migration pattern the reference documents
    * (build the new table, INSERT INTO … query, swap). Shard rerouting
    * and artifact GC are storage-layer concerns Spark owns → no-op ack;
    * DECOMMISSION is cluster management outside scope → loud error. */
  private def alterCluster(sig: Vector[Tok]): DataFrame = {
    if (sig.lift(2).exists(_.is("swap"))) {
      require(sig.lift(3).exists(_.is("table")), "expected ALTER CLUSTER SWAP TABLE")
      val src = unq(sig(4))
      require(sig.lift(5).exists(_.is("to")), "SWAP TABLE needs TO <target>")
      val tgt = unq(sig(6))
      require(txn.isEmpty, "SWAP TABLE inside a transaction is not supported")
      val dropSource = sig.lift(7).exists(_.is("with")) &&
        parseKvSettings(sig).get("drop_source").exists(_.toBoolean)
      require(VersionedTable.latestVersion(spark, tablePath(src)).isDefined,
        s"table $src does not exist")
      require(VersionedTable.latestVersion(spark, tablePath(tgt)).isDefined,
        s"table $tgt does not exist")
      val tmp = new Path(tablePath(s"__swap_$tgt"))
      // directory surgery ahead: memo entries under either root must not
      // survive the rename
      Memo.invalidate(k => k.contains(tablePath(src)) || k.contains(tablePath(tgt)))
      require(fs.rename(new Path(tablePath(tgt)), tmp), "swap failed")
      require(fs.rename(new Path(tablePath(src)), new Path(tablePath(tgt))),
        "swap failed")
      if (dropSource) {
        fs.delete(tmp, true)
        try spark.catalog.dropTempView(src) catch { case _: Exception => () }
      } else require(fs.rename(tmp, new Path(tablePath(src))), "swap failed")
      registerViews()
      summary(1L)
    } else if (sig.lift(2).exists(t => t.is("reroute") || t.is("gc"))) {
      summary(0L)
    } else throw new UnsupportedOperationException(
      "ALTER CLUSTER DECOMMISSION is cluster management outside this engine's scope")
  }

  /** `ALTER REPOSITORY name SET (k = v, …)` (alter-repository.rst) —
    * location/path updates land; other settings are accepted as
    * metadata. */
  private def alterRepository(sig: Vector[Tok]): DataFrame = {
    val name = unq(sig(2))
    require(repositories.contains(name), s"repository $name does not exist")
    val kvs = parseKvSettings(sig)
    val (typ, loc) = repositories(name)
    writeRepositories(repositories +
      (name -> (typ, kvs.getOrElse("location", kvs.getOrElse("path", loc)))))
    summary(1L)
  }

  /** `ALTER SERVER name OPTIONS ([ADD|SET|DROP] opt ['value'], …)`
    * (alter-server.rst) — bare options default to ADD, like PG. */
  private def alterServer(sig: Vector[Tok]): DataFrame = {
    val name = sig(2).text
    val oi = sig.indexWhere(_.is("options"))
    require(oi > 0 && sig.lift(oi + 1).exists(_.isSym("(")),
      "ALTER SERVER needs OPTIONS (…)")
    val close = matchFwd(sig, oi + 1)
    val changes = splitTopCommas(sig.slice(oi + 2, close)).map { p =>
      val toks = p.filter(_.sig)
      toks(0).text.toLowerCase match {
        case "add" | "set" => (toks(1).text.toLowerCase, Some(unq(toks(2))))
        case "drop"        => (toks(1).text.toLowerCase, None)
        case k             => (k, Some(unq(toks(1))))
      }
    }
    graft.sources.Fdw.alterServerOptions(name, changes)
    summary(1L)
  }

  /** `DISCARD { ALL | PLANS | SEQUENCES | TEMPORARY | TEMP }`
    * (discard.rst) — open cursors are the session state this engine
    * holds; PLANS/SEQUENCES have no retained state to free. */
  private def discardStmt(sig: Vector[Tok]): DataFrame = {
    if (sig.lift(1).exists(_.is("all"))) {
      cursors.values.foreach(_.close()); cursors.clear()
    }
    summary(0L)
  }

  /** `SET ("k" = v, …)` after ALTER TABLE — dotted keys may arrive as one
    * quoted identifier or word.number token runs. */
  private def parseKvSettings(sig: Vector[Tok]): Map[String, String] = {
    val open = sig.indexWhere(_.isSym("("))
    require(open > 0, "ALTER TABLE SET needs a parenthesized settings list")
    splitTopCommas(sig.slice(open + 1, matchFwd(sig, open))).flatMap { p =>
      val eq = p.indexWhere(_.isSym("="))
      if (eq <= 0) None
      else Some(p.slice(0, eq).map(unq).mkString ->
        p.slice(eq + 1, p.length).map(unq).mkString)
    }.toMap
  }

  // ---------- SHOW SCHEMAS / TABLES / COLUMNS (reference
  // ShowStatementAnalyzer.java:192,218,266 rewrites these onto
  // information_schema; graft answers from the router's own catalog state —
  // same shapes, same ordering) ----------

  /** Optional trailing `LIKE 'pattern'` filter on `colName`. */
  private def likeFiltered(df: DataFrame, colName: String,
                           sig: Vector[Tok]): DataFrame = {
    val li = sig.indexWhere(_.is("like"))
    if (li > 0 && li + 1 < sig.length) df.filter(col(colName).like(unq(sig(li + 1))))
    else df
  }

  /** `SHOW SCHEMAS [LIKE 'p']` → schema_name rows, ordered (built-ins
    * plus every schema CREATE SCHEMA / qualified CREATE TABLE added). */
  private def showSchemas(sig: Vector[Tok]): DataFrame = {
    import spark.implicits._
    val df = (Seq("doc", "information_schema", "pg_catalog", "sys")
      ++ registeredSchemas).distinct.toDF("schema_name")
    likeFiltered(df, "schema_name", sig).orderBy("schema_name")
  }

  /** `SHOW TABLES [FROM|IN schema] [LIKE 'p']` → user tables only (the
    * reference excludes information_schema/sys/pg_catalog). Tables of a
    * created schema list under it with their bare names. */
  private def showTables(sig: Vector[Tok]): DataFrame = {
    import spark.implicits._
    val fi = sig.indexWhere(t => t.is("from") || t.is("in"))
    val schema = if (fi > 0 && fi + 1 < sig.length) unq(sig(fi + 1)) else "doc"
    val all = tableNames
    val names =
      if (schema == "doc") all.filterNot(_.contains("__"))
      else if (registeredSchemas.contains(schema.toLowerCase))
        all.filter(_.startsWith(schema.toLowerCase + "__"))
          .map(_.stripPrefix(schema.toLowerCase + "__"))
      else Seq.empty[String]
    likeFiltered(names.toDF("table_name"), "table_name", sig)
      .orderBy("table_name")
  }

  /** `SHOW COLUMNS FROM|IN t [FROM|IN schema] [LIKE 'p']` →
    * (column_name, data_type) with CrateDB display type names, ordered by
    * column name like the reference's rewrite. */
  private def showColumns(sig: Vector[Tok]): DataFrame = {
    import spark.implicits._
    require(sig.length > 3 && (sig(2).is("from") || sig(2).is("in")),
      "SHOW COLUMNS requires FROM <table>")
    val table = unq(sig(3))
    val cols = readTable(table).schema.fields.toSeq
      .map(f => (f.name, graft.plans.PgTypeofExpr.crateName(f.dataType)))
      .toDF("column_name", "data_type")
    likeFiltered(cols, "column_name", sig).orderBy("column_name")
  }

  /** `COPY t FROM '<glob>' [WITH (…)] [RETURN SUMMARY]` /
    * `COPY t TO [DIRECTORY] '<path>' [WITH (format = …, compression = …)]`
    * (reference `CopyFromPlan.java` / `CopyToPlan.java` via
    * [[sources.CopyOps]]). FROM appends the parsed rows as a new table
    * version; RETURN SUMMARY yields the per-file error channel. */
  private def copyStmt(stmt: Stmt): DataFrame = {
    val ts = stmt.sig
    val name = ts(1).text
    val dirIdx = ts.indexWhere(t => t.is("from") || t.is("to"))
    require(dirIdx > 0, "COPY requires FROM or TO")
    val isFrom = ts(dirIdx).is("from")
    val path = ts.drop(dirIdx + 1).find(_.text.startsWith("'"))
      .getOrElse(sys.error("COPY requires a quoted path"))
      .text.stripPrefix("'").stripSuffix("'")
    val wIdx = ts.indexWhere(_.is("with"))
    val opts: Map[String, String] =
      if (wIdx >= 0 && wIdx + 1 < ts.length && ts(wIdx + 1).isSym("(")) {
        val c = matchFwd(ts, wIdx + 1)
        splitTopCommas(ts.slice(wIdx + 2, c)).flatMap { p =>
          val eq = p.indexWhere(_.isSym("="))
          if (eq > 0) Some(p(eq - 1).text.toLowerCase ->
            p.slice(eq + 1, p.length).map(_.text).mkString
              .stripPrefix("'").stripSuffix("'").toLowerCase)
          else None
        }.toMap
      } else Map.empty
    val fmt = opts.getOrElse("format",
      if (path.replaceAll("\\.gz$", "").endsWith(".csv")) "csv" else "json")
    val gzip = opts.get("compression").contains("gzip")
    if (isFrom) {
      val (target, version) = snapshot(name)
      // PRIMARY KEY (reference: a duplicate key fails its row, not the
      // COPY): of the file rows repeating a key only the first is read,
      // and rows whose key the table holds are skipped
      val pk = VersionedTable.primaryKey(spark, tablePath(name))
      val parsed =
        if (fmt == "csv")
          sources.CopyOps.readCsv(spark, target.schema,
            opts.getOrElse("header", "true").toBoolean, path, pk)
        else sources.CopyOps.readJson(spark, target.schema, path, pk)
      // generated columns recompute for file rows (reference: "computed as
      // needed for every INSERT, UPDATE and COPY FROM"); CHECK/NOT NULL
      // enforced like INSERT. Files carrying a generated column get it
      // recomputed (deterministic expressions yield the same value).
      val checked = enforceOnInsert(name, parsed.rows, Set.empty)
      // materialized once, still carrying each row's file: the count, the
      // touched partitions, RETURN SUMMARY and the write would each re-run
      // the dedup window and the anti-join
      val imported =
        if (pk.isEmpty) checked else Dml.absent(target, checked, pk).localCheckpoint()
      // RETURN SUMMARY counts against the table as it stood before this
      // COPY, so it is computed before the write
      val report =
        if (ts.exists(_.is("summary"))) Some(parsed.summary(imported).localCheckpoint())
        else None
      // an append only changes the incoming rows' partitions. Into a table
      // with a stored key map, the import tally groups by the key too (when
      // the input is small enough for the map), and the committed version
      // gets the map plus the imported keys
      val pcols = partitionCols(name, target.schema)
      val seeded = for {
        (k, ps) <- keyed(name, target.schema)
        v       <- version
        m       <- KeyMap.stored(spark, tablePath(name), v)
        if m.size + KeyMap.rowEstimate(imported) <= KeyMap.MaxKeys
      } yield (k, ps, m)
      val (n, parts, nextMap) = seeded match {
        case Some((k, ps, m)) =>
          val t = Dml.tally(imported, k +: ps)
          (t.values.sum, pcols.map(_ => t.keys.map(_.tail).toSeq.distinct),
            KeyMap.fromTally(t, target.schema(k).dataType).map(m ++ _))
        case None =>
          val (n, parts) = touchOf(imported, pcols)
          (n, parts, None)
      }
      storeKeyMap(name, version, writeTable(name, Dml.insertInto(target, imported), parts), nextMap)
      report.getOrElse(summary(n))
    } else {
      val cur = readTable(name)
      fmt match {
        case "csv"     => sources.CopyOps.copyToCsv(cur, path, gzip = gzip)
        case "parquet" => sources.CopyOps.copyToParquet(cur, path)
        case _         => sources.CopyOps.copyToJson(cur, path, gzip = gzip)
      }
      summary(cur.count())
    }
  }

  /** `EXPLAIN [ANALYZE | VERBOSE] <stmt>` and the option-list form
    * `EXPLAIN (ANALYZE [bool], COSTS [bool], VERBOSE [bool]) <stmt>`
    * (reference explain.rst + `ExplainPlan.java`) → one plan-text row.
    *
    * Plain EXPLAIN is PLAN-ONLY, like the reference's: it runs the same
    * route chain as execution ([[routeSelect]]) without the served half
    * of any route, and displays the side-effect-free exact lowering — no
    * index is built, no ANN probe runs, no `_seqno` sidecar is written,
    * nothing on disk changes. The `index …` and `probe …` suffixes are
    * execution facts and are omitted. EXPLAIN ANALYZE executes for real, so it resolves through
    * the full route chain and reports the served plan's shape (hits-view
    * joins &c.) plus index load/delta/full and probe width. VERBOSE maps
    * to Spark's extended breakdown (parsed → analyzed → optimized →
    * physical — the optimizer-steps analog of the reference's VERBOSE
    * table); COSTS to the cost-annotated logical plan
    * (`Statistics(sizeInBytes, rowCount)` per node). */
  private def explainStmt(stmt: Stmt): DataFrame = {
    import spark.implicits._
    val sig = stmt.sig
    var analyze = sig.lift(1).exists(_.is("analyze"))
    var verbose = sig.lift(1).exists(_.is("verbose"))
    var costs = false
    // parenthesized option list: `name [TRUE|FALSE|ON|OFF|1|0]`, comma-sep
    val optClose = if (sig.lift(1).exists(_.isSym("("))) matchFwd(sig, 1) else -1
    if (optClose > 0) splitTopCommas(sig.slice(2, optClose)).foreach { o =>
      val on = o.lift(1).map(_.text.toLowerCase) match {
        case None | Some("true") | Some("on") | Some("1") => true
        case Some("false") | Some("off") | Some("0")      => false
        case Some(other) =>
          sys.error(s"EXPLAIN option ${o(0).text}: bad boolean '$other'")
      }
      o(0).text.toLowerCase match {
        case "analyze" => analyze = on
        case "costs"   => costs = on
        case "verbose" => verbose = on
        case other     => sys.error(s"unknown EXPLAIN option: $other")
      }
    }
    val inner = stmt.from(
      if (optClose > 0) optClose + 1 else if (analyze || verbose) 2 else 1)
    // default = the plan tree (reference default); VERBOSE = the full
    // parsed→analyzed→optimized→physical breakdown; COSTS = the
    // cost-annotated logical plan
    val mode = if (costs) "cost" else if (verbose) "extended" else "formatted"
    val head = inner.sig.headOption.fold("")(_.text.toLowerCase)
    if (head == "select" || head == "with") {
      if (analyze) {
        // resolveSelect registers the views itself
        val df = resolveSelect(inner)
        val prov = s"route: ${StatementRouter.lastSelectRoute.get()}"
        Seq(prov + "\n" + sources.Maintenance.explain(df, analyze)).toDF("plan")
      } else {
        registerViews(inner.sig)
        val (route, base, served) = routeSelect(inner, _ => Some(""))
        // a matched route's statement reads views only its served half
        // registers: show the exact lowering it upgrades instead
        val df = if (route == "exact") spark.sql(served.text) else lower(base.text)
        Seq(s"route: $route\n" +
            sources.Maintenance.explain(df, analyze = false, mode = mode))
          .toDF("plan")
      }
    } else {
      registerViews(inner.sig)
      Seq(sources.Maintenance.explain(Engine.sql(spark, inner.text), analyze,
        mode = mode)).toDF("plan")
    }
  }

  private def summary(n: Long): DataFrame = {
    import spark.implicits._
    Seq(n).toDF("rows_affected")
  }

  // ---------- CREATE / DROP ----------

  private def createTable(stmt: Stmt): DataFrame = {
    val sig = stmt.sig
    val ifNotExists = sig.lift(2).exists(_.is("if"))
    // CREATE TABLE [IF NOT EXISTS] t AS {(query)|query}  (create-table-as
    // .rst) and CREATE TABLE [IF NOT EXISTS] t (LIKE src [opts])
    // (create-table-like.rst) branch off before the column-list parse
    locally {
      val i = stmt.nameAt(2)
      if (sig.lift(i).isDefined) {
        val name = unq(sig(i))
        if (sig.lift(i + 1).exists(_.is("as")))
          return createTableAs(name, ifNotExists, sig, i + 2)
        if (sig.lift(i + 1).exists(_.isSym("(")) &&
            sig.lift(i + 2).exists(_.is("like")))
          return createTableLike(name, ifNotExists, sig, i + 1)
      }
    }
    val ddl = Dialect.translateDdl(stmt.text)
    // "CREATE TABLE <name> (<cols>) USING parquet[ PARTITIONED ...]"
    val open = ddl.indexOf('(')
    val closeMark = ddl.indexOf(") USING parquet")
    require(open > 0 && closeMark > open, s"unexpected DDL shape: $ddl")
    val name = ddl.substring("CREATE TABLE ".length, open).trim
    val schema = StructType.fromDDL(
      ddl.substring(open + 1, closeMark).replace(" NOT NULL", ""))
    if (VersionedTable.latestVersion(spark, tablePath(name)).isDefined) {
      require(ifNotExists, s"table $name already exists")
      return summary(0L)
    }
    require(!fs.exists(new Path(viewsDir, s"$name.sql")),
      s"a view named $name already exists")
    // CLUSTERED BY (c) INTO n SHARDS → persistent bucket spec: every
    // version of this table is written bucketed, so repeated joins on the
    // clustering key plan shuffle-free (the reference's shard routing,
    // DocTableInfo.clusteredBy).
    "CLUSTERED BY \\((.+?)\\) INTO (\\d+) BUCKETS".r.findFirstMatchIn(ddl)
      .foreach { m =>
        VersionedTable.setBucketSpec(spark, tablePath(name),
          VersionedTable.BucketSpec(m.group(2).toInt,
            m.group(1).split(",").map(_.trim.stripPrefix("`").stripSuffix("`")).toSeq))
      }
    // PARTITIONED BY (cols) → durable partition spec: every version is
    // written value-partitioned, WHERE on the partition columns prunes
    // directories (reference DocTableInfo.partitionedBy — one index per
    // partition; PartitionPruningSpec asserts the pruning)
    val pb = sig.indexWhere(_.is("partitioned"))
    if (pb >= 0 && sig.lift(pb + 1).exists(_.is("by")) &&
        sig.lift(pb + 2).exists(_.isSym("("))) {
      val c = matchFwd(sig, pb + 2)
      val cols = splitTopCommas(sig.slice(pb + 3, c)).map(p => unq(p.head))
      VersionedTable.setPartitionSpec(spark, tablePath(name),
        VersionedTable.PartitionSpec(cols, ""))
    }
    // PRIMARY KEY (table-level clause or per-column modifier) → durable
    // identity metadata (reference DocTableInfo.primaryKey); SHOW CREATE
    // TABLE renders it back and the indexed _score route joins through it
    val pkCols = parsePrimaryKey(sig)
    if (pkCols.nonEmpty) {
      VersionedTable.setPrimaryKey(spark, tablePath(name), pkCols)
      sources.InformationSchema.registerPrimaryKey(name, pkCols)
    }
    // fulltext INDEX defs (table-level and column-level) → durable index
    // spec; the analyzer must exist NOW, like the reference's CREATE-time
    // validation
    val ftIndexes = parseFulltextIndexes(sig)
    if (ftIndexes.nonEmpty) {
      ftIndexes.foreach(ix => require(
        ix.analyzer.startsWith("vector:") ||
          graft.operators.MatchText.Analyzer.exists(ix.analyzer),
        s"unknown analyzer: ${ix.analyzer}"))
      VersionedTable.setIndexSpecs(spark, tablePath(name), ftIndexes)
    }
    // generated columns / CHECK / NOT NULL → durable constraint spec;
    // untyped generated columns get their type inferred from the
    // expression and stitched into the schema at their declared position
    val (fullSchema, cspec) =
      parseConstraints(name, sig, schema)
    if (cspec.generated.nonEmpty || cspec.checks.nonEmpty ||
        cspec.notNull.nonEmpty || cspec.defaults.nonEmpty)
      VersionedTable.setConstraintSpec(spark, tablePath(name), cspec)
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], fullSchema)
    val v = VersionedTable.commit(spark, tablePath(name), empty)
    KeyMap.keyColumn(pkCols, fullSchema).foreach(k =>
      KeyMap.store(spark, tablePath(name), v, KeyMap.empty(fullSchema(k).dataType)))
    summary(0L)
  }

  /** `CREATE TABLE [IF NOT EXISTS] t AS {(query)|query}` (reference
    * create-table-as.rst): column names/types and rows come from the
    * query; table options take their defaults. Returns the inserted row
    * count, read from the committed version's footers (no extra pass). */
  private def createTableAs(name: String, ifNotExists: Boolean,
                            sig: Vector[Tok], from: Int): DataFrame = {
    if (VersionedTable.latestVersion(spark, tablePath(name)).isDefined) {
      require(ifNotExists, s"table $name already exists")
      return summary(0L)
    }
    require(!fs.exists(new Path(viewsDir, s"$name.sql")),
      s"a view named $name already exists")
    var q = sig.slice(from, sig.length)
    if (q.headOption.exists(_.isSym("(")) && matchFwd(q, 0) == q.length - 1)
      q = q.slice(1, q.length - 1)
    registerViews(q)
    val df = spark.sql(Dialect.translate(renderSig(q)))
    VersionedTable.commit(spark, tablePath(name), df)
    summary(readTable(name).count())
  }

  /** `CREATE TABLE [IF NOT EXISTS] t (LIKE src [like_option …])`
    * (reference create-table-like.rst): an empty table with the source's
    * column names, types and NOT NULL constraints; PARTITIONED BY /
    * CLUSTERED BY always copy. `INCLUDING {ALL | CONSTRAINTS | GENERATED
    * | INDEXES}` additionally copies CHECK + PRIMARY KEY, generated
    * columns, and fulltext index specs; DEFAULTS/STORAGE are accepted
    * no-ops (graft tables have neither column defaults nor storage
    * parameters). */
  private def createTableLike(name: String, ifNotExists: Boolean,
                              sig: Vector[Tok], open: Int): DataFrame = {
    if (VersionedTable.latestVersion(spark, tablePath(name)).isDefined) {
      require(ifNotExists, s"table $name already exists")
      return summary(0L)
    }
    val close = matchFwd(sig, open)
    require(close > open + 2, "CREATE TABLE (LIKE …): source table expected")
    val src = unq(sig(open + 2))
    val srcPath = tablePath(src)
    require(VersionedTable.latestVersion(spark, srcPath).isDefined,
      s"table $src does not exist")
    var inc = Map("constraints" -> false, "generated" -> false,
      "indexes" -> false, "defaults" -> false)
    var j = open + 3
    while (j + 1 < close) {
      val mode = sig(j)
      if (mode.is("including") || mode.is("excluding")) {
        val on = mode.is("including")
        val what = sig(j + 1).text.toLowerCase
        if (what == "all") inc = inc.map { case (k, _) => k -> on }
        else if (inc.contains(what)) inc += what -> on
        j += 2
      } else j += 1
    }
    val schema = readTable(src).schema
    VersionedTable.partitionSpec(spark, srcPath).foreach(ps =>
      VersionedTable.setPartitionSpec(spark, tablePath(name),
        ps.copy(schemaDdl = schema.toDDL)))
    VersionedTable.bucketSpec(spark, srcPath).foreach(bs =>
      VersionedTable.setBucketSpec(spark, tablePath(name), bs))
    val srcSpec = VersionedTable.constraintSpec(spark, srcPath)
      .getOrElse(VersionedTable.ConstraintSpec(Nil, Nil, Nil))
    val copied = VersionedTable.ConstraintSpec(
      if (inc("generated")) srcSpec.generated else Nil,
      if (inc("constraints")) srcSpec.checks else Nil,
      srcSpec.notNull,
      if (inc("defaults")) srcSpec.defaults else Nil)
    if (copied.generated.nonEmpty || copied.checks.nonEmpty ||
        copied.notNull.nonEmpty || copied.defaults.nonEmpty)
      VersionedTable.setConstraintSpec(spark, tablePath(name), copied)
    if (inc("constraints")) {
      val pk = VersionedTable.primaryKey(spark, srcPath)
      if (pk.nonEmpty) {
        VersionedTable.setPrimaryKey(spark, tablePath(name), pk)
        sources.InformationSchema.registerPrimaryKey(name, pk)
      }
    }
    if (inc("indexes")) {
      val ix = VersionedTable.indexSpecs(spark, srcPath)
      if (ix.nonEmpty) VersionedTable.setIndexSpecs(spark, tablePath(name), ix)
    }
    VersionedTable.commit(spark, tablePath(name),
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema))
    summary(0L)
  }

  /** Generated columns, CHECK constraints and NOT NULL from a CrateDB
    * CREATE TABLE (reference `docs/general/ddl/generated-columns.rst`,
    * `constraints.rst`; AnalyzedColumnDefinition carries the same three
    * classes). Returns the schema extended with untyped generated columns
    * (type inferred by resolving the expression against the declared
    * columns) plus the durable spec the DML paths enforce. */
  private def parseConstraints(table: String, sig: Vector[Tok],
                               base: StructType):
      (StructType, VersionedTable.ConstraintSpec) = {
    val none = VersionedTable.ConstraintSpec(Nil, Nil, Nil)
    val open = sig.indexWhere(_.isSym("("))
    if (open < 0) return (base, none)
    val close = matchFwd(sig, open)
    val defs = splitTopCommas(sig.slice(open + 1, close))
    val generated = scala.collection.mutable.ArrayBuffer.empty[(String, String, String)]
    val checks = scala.collection.mutable.ArrayBuffer.empty[(String, String, String)]
    val notNull = scala.collection.mutable.ArrayBuffer.empty[String]
    val defaults = scala.collection.mutable.ArrayBuffer.empty[(String, String, String)]
    // declared column order; Right = untyped generated (needs inference)
    val order = scala.collection.mutable.ArrayBuffer.empty[Either[String, (String, String)]]
    var checkN = 0

    def exprToks(d: Vector[Tok], from: Int): Vector[Tok] =
      if (d.lift(from).exists(_.isSym("("))) {
        val c = matchFwd(d, from); d.slice(from + 1, c)
      } else d.slice(from, d.length)
    def xlate(e: Vector[Tok]): (String, String) =
      (Dialect.translate(renderSig(e)), renderSig(e))

    defs.foreach { d =>
      d(0).text.toLowerCase match {
        case "primary" | "index" => ()
        case "check" =>
          checkN += 1
          val (s, o) = xlate(exprToks(d, 1))
          checks += ((s"${table}_check_$checkN", s, o))
        case "constraint" if d.lift(2).exists(_.is("check")) =>
          val (s, o) = xlate(exprToks(d, 3))
          checks += ((unq(d(1)), s, o))
        case "constraint" => ()
        case _ =>
          val col = unq(d(0))
          if (d.length > 1 && (d(1).is("generated") || d(1).is("as"))) {
            // no declared type: `col [GENERATED ALWAYS] AS expr`
            val from =
              if (d(1).is("generated")) d.indexWhere(_.is("as"), 1) + 1 else 2
            val (s, o) = xlate(exprToks(d, from))
            generated += ((col, s, o))
            order += Right((col, s))
          } else {
            val (_, after) = Dialect.mapType(d, 1)
            order += Left(col)
            // BIT(n) columns get an implicit write-time check — the
            // reference's implicitCast/valueForInsert (BitStringType
            // .java:196,206) requires EXACT length and 0/1 chars on
            // insert; graft stores raw-bits strings, so the length and
            // charset ride the same CHECK machinery as user constraints
            if (d(1).is("bit")) {
              val n = if (d.lift(2).exists(_.isSym("(")))
                d(3).text.toInt else 1
              checks += ((s"${table}_${col}_bitlen",
                s"`$col` IS NULL OR (`$col` RLIKE '^[01]*$$' AND " +
                  s"length(`$col`) = $n)",
                s"$col is a valid bit($n)"))
            }
            var k = after; var depth = 0
            var genAt = -1; var checkAt = -1; var defAt = -1
            while (k < d.length) {
              val t = d(k)
              if (t.isSym("(")) depth += 1
              else if (t.isSym(")")) depth -= 1
              else if (depth == 0) {
                if (genAt < 0 && (t.is("generated") || t.is("as"))) genAt = k
                if (checkAt < 0 && t.is("check")) checkAt = k
                if (defAt < 0 && t.is("default")) defAt = k
                if (t.is("not") && d.lift(k + 1).exists(_.is("null")) &&
                  !notNull.contains(col)) notNull += col
              }
              k += 1
            }
            // DEFAULT expr (create-table.rst default_expr: inserted when
            // the column is omitted): expression runs to the next depth-0
            // constraint keyword
            if (defAt >= 0) {
              val stopWords = Set("not", "check", "generated", "primary",
                "index", "storage", "constraint")
              var e = defAt + 1; var dep2 = 0; var stop = -1
              while (e < d.length && stop < 0) {
                val t = d(e)
                if (t.isSym("(")) dep2 += 1
                else if (t.isSym(")")) dep2 -= 1
                else if (dep2 == 0 && t.kind == Dialect.K.Word &&
                  stopWords.contains(t.text.toLowerCase)) stop = e
                e += 1
              }
              val end = if (stop < 0) d.length else stop
              val (s, o) = xlate(d.slice(defAt + 1, end))
              defaults += ((col, s, o))
            }
            if (genAt >= 0) {
              val from =
                if (d(genAt).is("generated")) d.indexWhere(_.is("as"), genAt) + 1
                else genAt + 1
              val (s, o) = xlate(exprToks(d, from))
              generated += ((col, s, o))
            }
            if (checkAt >= 0 && d.lift(checkAt + 1).exists(_.isSym("("))) {
              val c = matchFwd(d, checkAt + 1)
              val (s, o) = xlate(d.slice(checkAt + 2, c))
              checks += ((s"${table}_${col}_check", s, o))
            }
          }
      }
    }
    val spec = VersionedTable.ConstraintSpec(generated.toSeq, checks.toSeq,
      notNull.toSeq, defaults.toSeq)
    if (order.forall(_.isLeft))
      return (base, spec)
    val probe = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], base)
    val baseMap = base.fields.map(f => f.name -> f).toMap
    val fields = order.map {
      case Left(c) => baseMap(c)
      case Right((c, sqlExpr)) =>
        val dt =
          try probe.selectExpr(s"($sqlExpr) AS __g").schema.head.dataType
          catch { case e: Exception => throw new IllegalArgumentException(
            s"cannot infer the type of generated column $c from ($sqlExpr): ${e.getMessage}")
          }
        org.apache.spark.sql.types.StructField(c, dt)
    }
    (StructType(fields.toArray), spec)
  }

  /** INSERT-side enforcement (reference GeneratedColumns.java — compute
    * when absent, validate when supplied unless the expression is
    * non-deterministic; CHECK fails only on FALSE, SQL 3VL; NOT NULL
    * rejects nulls). Validation runs as bounded `head(1)` probes — no
    * collect of data-sized results. */
  private def enforceOnInsert(name: String, aligned: DataFrame,
                              supplied: Set[String],
                              fillDefaults: Boolean = true): DataFrame =
    VersionedTable.constraintSpec(spark, tablePath(name)) match {
      case None => aligned
      case Some(spec) =>
        var df = aligned
        // DEFAULT fills omitted columns (INSERT without the column) and
        // file-row gaps (COPY FROM) — a SUPPLIED explicit NULL stays
        // NULL, as in PG/the reference (create-table.rst default_expr).
        // UPDATE never backfills (fillDefaults = false): an existing NULL
        // is data, not an omission.
        if (fillDefaults) spec.defaults.foreach { case (c, ex, _) =>
          if (!supplied.contains(c)) {
            val target = df.schema(c).dataType
            df = df.withColumn(c, coalesce(col(c), expr(ex)).cast(target))
          }
        }
        spec.generated.foreach { case (c, ex, orig) =>
          val target = df.schema(c).dataType
          val computed = expr(ex).cast(target)
          if (!supplied.contains(c))
            df = df.withColumn(c, computed)
          else if (df.selectExpr(s"($ex) AS __g").queryExecution
                     .analyzed.expressions.head.deterministic) {
            df.filter(!(df(c) <=> computed))
              .select(df(c).cast("string"), computed.cast("string"))
              .head(1).headOption.foreach { r =>
                throw new IllegalArgumentException(
                  s"Given value ${r.get(0)} for generated column $c does not " +
                    s"match calculation ($orig) = ${r.get(1)}")
              }
          }
        }
        enforceRowConstraints(df, spec)
    }

  private def enforceRowConstraints(df: DataFrame,
      spec: VersionedTable.ConstraintSpec): DataFrame = {
    spec.checks.foreach { case (cn, ex, orig) =>
      if (df.filter(s"NOT coalesce(CAST(($ex) AS BOOLEAN), true)").head(1).nonEmpty)
        throw new IllegalArgumentException(s"Failed CONSTRAINT $cn CHECK ($orig)")
    }
    spec.notNull.foreach { c =>
      if (df.filter(df(c).isNull).head(1).nonEmpty)
        throw new IllegalArgumentException(s""""$c" must not be null""")
    }
    df
  }

  /** Fulltext INDEX definitions inside a CREATE TABLE column list
    * (reference `docs/general/ddl/fulltext-indices.rst`,
    * `analyze/MetadataToASTVisitor.java` renders the same clauses back):
    *
    *  - table-level `INDEX name USING FULLTEXT (col, …) [WITH (analyzer = 'x')]`
    *  - column-level `col TEXT INDEX USING FULLTEXT [WITH (analyzer = 'x')]`
    *
    * Default analyzer is `standard`, like the reference. `INDEX OFF` /
    * `INDEX USING PLAIN` carry no analyzer semantics and are ignored. */
  private def parseFulltextIndexes(sig: Vector[Tok]): Seq[VersionedTable.IndexSpec] = {
    val open = sig.indexWhere(_.isSym("("))
    if (open < 0) return Nil
    val close = matchFwd(sig, open)
    splitTopCommas(sig.slice(open + 1, close)).flatMap { d =>
      def analyzerOf(from: Int): String = {
        val wi = d.indexWhere(_.is("with"), from)
        if (wi >= 0 && d.lift(wi + 1).exists(_.isSym("("))) {
          val c = matchFwd(d, wi + 1)
          val body = d.slice(wi + 2, c)
          val ai = body.indexWhere(_.is("analyzer"))
          if (ai >= 0 && body.lift(ai + 1).exists(_.isSym("=")) && ai + 2 < body.length)
            unq(body(ai + 2))
          else "standard"
        } else "standard"
      }
      val ix = d.indexWhere(_.is("index"))
      def usingFulltext(k: Int) =
        d.lift(k).exists(_.is("using")) && d.lift(k + 1).exists(_.is("fulltext"))
      def usingVector(k: Int) =
        d.lift(k).exists(_.is("using")) && d.lift(k + 1).exists(_.is("vector"))
      if (ix == 0 && usingVector(2)) {
        // INDEX name USING VECTOR (col) [WITH (centroids = N, nprobe = M
        // [, encoding = 'pq', pq_m = 16, pq_ksub = 16])] — graft's
        // declared ANN index (the reference attaches an HNSW index to
        // every FLOAT_VECTOR column implicitly; an explicit clause fits
        // the table-level INDEX grammar and keeps build cost opt-in).
        // Parameters ride the analyzer slot as
        // "vector:<centroids>:<nprobe>[:pq:<m>:<ksub>]"; centroids=0 →
        // auto-scale. encoding='pq' stores m-byte product-quantization
        // codes + codebooks instead of int8 — 16× smaller than float32
        // at m=16/dim=64, searched by ADC with exact re-ranking.
        val po = d.indexWhere(_.isSym("("), 4)
        if (po < 0) None
        else {
          val pc = matchFwd(d, po)
          val cols = splitTopCommas(d.slice(po + 1, pc)).map(p => unq(p.head))
          def optS(name: String): Option[String] = {
            val wi = d.indexWhere(_.is("with"), pc)
            if (wi >= 0 && d.lift(wi + 1).exists(_.isSym("("))) {
              val c = matchFwd(d, wi + 1)
              val body = d.slice(wi + 2, c)
              val ni = body.indexWhere(_.is(name))
              if (ni >= 0 && body.lift(ni + 1).exists(_.isSym("=")) &&
                  ni + 2 < body.length) Some(unq(body(ni + 2)))
              else None
            } else None
          }
          def opt(name: String, dflt: Int): Int =
            optS(name).flatMap(_.toIntOption).getOrElse(dflt)
          val pqTail =
            if (optS("encoding").exists(_.equalsIgnoreCase("pq")))
              s":pq:${opt("pq_m", 16)}:${opt("pq_ksub", 16)}" +
                (if (optS("pq_residual").exists(_.equalsIgnoreCase("true")))
                  ":res" else "")
            else ""
          // `recall = 0.9` replaces the fixed nprobe: the route resolves
          // the probe count from the index's stored calibration curve
          // (analyzer slot "r<pct>" — e.g. recall = 0.9 → "r90").
          // `recall_sample = N` overrides the calibration sample count
          // (slot "r<pct>s<N>"; default 32 queries = 320 truth pairs,
          // so one flipped neighbor moves a rung by ~0.3pp, not 1.25pp)
          val npSlot = optS("recall").flatMap(_.toDoubleOption)
            .map { rc =>
              val base = s"r${math.round(rc * 100)}"
              optS("recall_sample").flatMap(_.toIntOption)
                .map(ns => s"${base}s$ns").getOrElse(base)
            }
            .getOrElse(opt("nprobe", 4).toString)
          Some(VersionedTable.IndexSpec(unq(d(1)), cols,
            s"vector:${opt("centroids", 0)}:$npSlot$pqTail"))
        }
      } else if (ix == 0 && usingFulltext(2)) {
        // INDEX name USING FULLTEXT (cols) [WITH (...)]
        val po = d.indexWhere(_.isSym("("), 4)
        if (po < 0) None
        else {
          val pc = matchFwd(d, po)
          val cols = splitTopCommas(d.slice(po + 1, pc)).map(p => unq(p.head))
          Some(VersionedTable.IndexSpec(unq(d(1)), cols, analyzerOf(pc)))
        }
      } else if (ix > 0 && usingFulltext(ix + 1)) {
        // col TYPE INDEX USING FULLTEXT [WITH (...)] — the index is the column
        val col = unq(d(0))
        Some(VersionedTable.IndexSpec(col, Seq(col), analyzerOf(ix + 2)))
      } else None
    }
  }

  /** PRIMARY KEY columns from a CrateDB CREATE TABLE: the table-level
    * `PRIMARY KEY (a, b)` clause or per-column `col TYPE PRIMARY KEY`
    * modifiers, in declaration order (reference
    * `AnalyzedTableElements.primaryKeys`). */
  private def parsePrimaryKey(sig: Vector[Tok]): Seq[String] = {
    val open = sig.indexWhere(_.isSym("("))
    if (open < 0) return Nil
    val close = matchFwd(sig, open)
    splitTopCommas(sig.slice(open + 1, close)).flatMap { d =>
      if (d(0).is("primary") && d.lift(1).exists(_.is("key")) &&
          d.lift(2).exists(_.isSym("("))) {
        val c = matchFwd(d, 2)
        splitTopCommas(d.slice(3, c)).map(p => unq(p.head))
      } else if (!d(0).is("index") && !d(0).is("constraint") && !d(0).is("check")) {
        val pi = d.indexWhere(_.is("primary"), 1)
        if (pi > 0 && d.lift(pi + 1).exists(_.is("key"))) Seq(unq(d(0))) else Nil
      } else Nil
    }
  }

  // ---------- FDW DDL (reference fdw/CreateServerPlan.java,
  // CreateForeignTablePlan.java, CreateUserMappingPlan.java — the metadata
  // half is fully functional; the actual JDBC scan needs an endpoint) ----------

  /** `OPTIONS (key 'value', ...)` anywhere after `from`. */
  private def parseOptions(sig: Vector[Tok], from: Int): Map[String, String] = {
    val oi = sig.indexWhere(_.is("options"), from)
    if (oi < 0) return Map.empty
    val out = scala.collection.mutable.LinkedHashMap.empty[String, String]
    var i = oi + 2 // skip OPTIONS (
    while (i + 1 < sig.length && !sig(i).isSym(")")) {
      out(unq(sig(i))) = unq(sig(i + 1))
      i += 2
      if (i < sig.length && sig(i).isSym(",")) i += 1
    }
    out.toMap
  }

  /** `CREATE [OR REPLACE] FUNCTION [schema.]name(args) RETURNS t LANGUAGE
    * JAVASCRIPT AS '<js>'` (reference CreateFunctionAnalyzer /
    * docs/general/user-defined-functions.rst). The JS body is translated
    * to a Spark SQL expression ([[graft.functions.JsUdf]] — the
    * single-return arithmetic subset every doc example uses) and registered
    * as a Spark SQL scalar UDF, so it runs codegen'd instead of through an
    * interpreter; bodies outside the subset run in the step-bounded
    * interpreter ([[graft.functions.JsInterp]]). Signature OVERLOADING is
    * supported like the reference (one function name, several argument
    * signatures, resolution per call-site types) — see
    * [[graft.functions.UdfOverloads]].
    */
  private def createFunction(sig: Vector[Tok], orReplace: Boolean): DataFrame = {
    val typeStart = Set("array", "object", "geo_point", "geo_shape", "double",
      "timestamp", "time", "text", "string", "ip", "varchar", "char",
      "character", "int", "integer", "long", "bigint", "smallint", "short",
      "byte", "real", "float4", "float", "float8", "boolean", "bool",
      "date", "decimal", "numeric", "timestamptz")
    var i = if (orReplace) 4 else 2
    // [schema.]name — single-namespace engine, the schema qualifier drops
    val nameParts = scala.collection.mutable.ArrayBuffer.empty[String]
    while (i < sig.length && !sig(i).isSym("(")) {
      if (!sig(i).isSym(".")) nameParts += unq(sig(i))
      i += 1
    }
    require(nameParts.nonEmpty && i < sig.length, "CREATE FUNCTION needs name(args)")
    val fname = nameParts.last
    val close = matchFwd(sig, i)
    require(close > i, "unbalanced CREATE FUNCTION argument list")
    val argTypes: Seq[String] = Dialect.splitCommas(sig.slice(i + 1, close)).map { d =>
      val from =
        if (d.length > 1 && d(0).kind == Dialect.K.Word &&
          !typeStart(d(0).text.toLowerCase)) 1
        else if (d.length > 1 && d(0).kind == Dialect.K.QId) 1
        else 0
      Dialect.mapType(d, from)._1
    }
    val ri = sig.indexWhere(_.is("returns"), close)
    require(ri > 0, "CREATE FUNCTION needs RETURNS <type>")
    val (retType, _) = Dialect.mapType(sig, ri + 1)
    val li = sig.indexWhere(_.is("language"), close)
    require(li > 0 && li + 1 < sig.length, "CREATE FUNCTION needs LANGUAGE")
    val lang = sig(li + 1).text.toLowerCase
    require(lang == "javascript",
      s"unsupported UDF language '$lang' (the reference supports JAVASCRIPT)")
    val body = sig.lastIndexWhere(_.kind == Dialect.K.Str) match {
      case b if b > li =>
        sig(b).text.stripPrefix("'").stripSuffix("'").replace("''", "'")
      case _ => throw new IllegalArgumentException(
        "CREATE FUNCTION needs AS '<function body>'")
    }
    // translatable subset → codegen'd SQL expression; anything else falls
    // back to the step-bounded interpreter (JsInterp — reference
    // JavaScriptLanguage.java:28 runs arbitrary JS on GraalVM) registered
    // as a scalar UDF of the declared return type. Parse errors in BOTH
    // paths stay loud.
    val translated =
      try Left(graft.functions.JsUdf.translate(body))
      catch {
        case _: UnsupportedOperationException =>
          Right(graft.functions.JsInterp.compile(body))
      }
    // reference UserDefinedFunctionService: the declared name must match
    // the name bound in the body (JavascriptUserDefinedFunctionTest
    // .testFunctionWrongNameInFunctionBody)
    val bodyName = translated.fold(_.name, _.name)
    require(bodyName.equalsIgnoreCase(fname),
      s"The name of the function signature '$fname' doesn't match the " +
        s"function name in the function definition ('$bodyName')")
    // signature overloading (reference user-defined-functions.rst
    // "Overloading"): each (name, argTypes) stores its implementation
    // under a mangled slot; the plain name is ONE dispatching builder
    // resolving per call-site argument types (UdfOverloads.dispatch).
    // OR REPLACE is required only when the SAME signature exists —
    // a new signature for an existing name is a plain CREATE.
    val ovls = graft.functions.UdfOverloads
    val prior = ovls.overloads(fname)
      .find(_.argDdl.map(_.toUpperCase) == argTypes.map(_.toUpperCase))
    val (mangled, existed) = {
      require(orReplace || prior.isEmpty,
        s"function $fname(${argTypes.mkString(", ")}) already exists")
      ovls.put(fname, argTypes, retType)
    }
    // the overload slot was registered above so `mangled` is final; if
    // the IMPLEMENTATION registration now fails (bad RETURNS DDL, arity
    // mismatch), roll the slot back — otherwise a phantom overload stays
    // in the registry and later calls dispatch to a nonexistent mangled
    // function (ADVICE r12). Only the just-added slot is removed; a
    // pre-existing same-signature implementation (OR REPLACE path) keeps
    // working because its mangled function was never touched on failure.
    try translated match {
      case Left(tr) =>
        require(tr.params.length == argTypes.length,
          s"JS function has ${tr.params.length} parameters but the declaration " +
            s"has ${argTypes.length} argument types")
        val paramDdl = tr.params.zip(argTypes)
          .map { case (p, t) => s"`$p` $t" }.mkString(", ")
        try spark.sql(s"CREATE OR REPLACE TEMPORARY FUNCTION `$mangled`($paramDdl) " +
          s"RETURNS $retType RETURN ${tr.sql}")
        catch {
          // a body can be syntactically translatable yet not TYPE-check
          // as SQL (e.g. a WKT-string return for GEO_POINT, an object
          // literal for an untyped OBJECT): fall back to the
          // interpreter, whose return coercion handles those JS shapes
          case _: org.apache.spark.sql.AnalysisException =>
            graft.functions.JsInterp.register(spark, mangled,
              graft.functions.JsInterp.compile(body),
              org.apache.spark.sql.types.DataType.fromDDL(retType))
        }
      case Right(cj) =>
        require(cj.params.length == argTypes.length,
          s"JS function has ${cj.params.length} parameters but the declaration " +
            s"has ${argTypes.length} argument types")
        graft.functions.JsInterp.register(spark, mangled, cj,
          org.apache.spark.sql.types.DataType.fromDDL(retType))
    } catch {
      case e: Throwable =>
        try {
          if (!existed) ovls.remove(fname, Some(argTypes))
          // OR REPLACE over an existing signature: restore the prior
          // declared return type — the old implementation still serves
          else prior.foreach(p => ovls.put(fname, p.argDdl, p.retDdl))
        } catch { case _: Throwable => () }
        throw e
    }
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(fname,
      exprs => graft.functions.UdfOverloads.dispatch(fname, exprs),
      "scala_udf")
    // same-signature OR REPLACE keeps the registry name-set unchanged —
    // drop the function-list snapshot so pg_proc/routines refresh
    Memo.invalidate(_.startsWith(graft.sources.CatalogSnapshot.functionsKey))
    summary(1L)
  }

  /** `DROP FUNCTION [IF EXISTS] [schema.]name([types])` — with types,
    * drops that overload; without, the name must have exactly one
    * (reference semantics: an overloaded name needs the signature). */
  private def dropFunction(sig: Vector[Tok]): DataFrame = {
    var i = 2
    val ifExists = sig.lift(i).exists(_.is("if"))
    if (ifExists) i += 2
    val nameParts = scala.collection.mutable.ArrayBuffer.empty[String]
    while (i < sig.length && !sig(i).isSym("(")) {
      if (!sig(i).isSym(".")) nameParts += unq(sig(i))
      i += 1
    }
    require(nameParts.nonEmpty, "DROP FUNCTION needs a name")
    val fname = nameParts.last
    // optional (types) — empty parens mean the zero-arg signature only
    // when the name is overloaded; a bare name drops the only overload
    val types: Option[Seq[String]] =
      if (i < sig.length && sig(i).isSym("(")) {
        val close = matchFwd(sig, i)
        Some(Dialect.splitCommas(sig.slice(i + 1, close))
          .filter(_.nonEmpty).map(d => Dialect.mapType(d, 0)._1))
      } else None
    val ovls = graft.functions.UdfOverloads
    if (ovls.overloads(fname).isEmpty) {
      // not overload-registered (e.g. dropped twice): keep the legacy
      // direct drop so IF EXISTS stays a no-op and plain drops stay loud
      val ex = if (ifExists) "IF EXISTS " else ""
      spark.sql(s"DROP TEMPORARY FUNCTION $ex`$fname`")
      return summary(1L)
    }
    val (removed, remaining) =
      try ovls.remove(fname, types)
      catch {
        case e: IllegalArgumentException if ifExists &&
            e.getMessage.contains("does not exist") => return summary(0L)
      }
    spark.sql(s"DROP TEMPORARY FUNCTION IF EXISTS `${removed.mangled}`")
    if (remaining == 0)
      spark.sql(s"DROP TEMPORARY FUNCTION IF EXISTS `$fname`")
    Memo.invalidate(_.startsWith(graft.sources.CatalogSnapshot.functionsKey))
    summary(1L)
  }

  private def createServer(stmt: Stmt): DataFrame = {
    val sig = stmt.sig
    val i = stmt.nameAt(2)
    val name = sig(i).text
    val opts = parseOptions(sig, i)
    graft.sources.Fdw.createServer(name,
      graft.sources.Fdw.Server(url = opts.getOrElse("url", ""), options = opts - "url"))
    summary(0L)
  }

  private def createForeignTable(stmt: Stmt): DataFrame = {
    val sig = stmt.sig
    val name = sig(stmt.nameAt(3)).text
    val si = sig.lastIndexWhere(_.is("server"))
    require(si > 0 && si + 1 < sig.length, "CREATE FOREIGN TABLE needs SERVER <name>")
    val server = sig(si + 1).text
    val opts = parseOptions(sig, si)
    val remote = (opts.get("schema_name"), opts.get("table_name")) match {
      case (Some(s), Some(t)) => s + "." + t
      case (_, Some(t))       => t
      case _                  => name
    }
    graft.sources.Fdw.createForeignTable(name,
      graft.sources.Fdw.ForeignTable(server, remote,
        opts -- Seq("schema_name", "table_name")))
    summary(0L)
  }

  private def createUserMapping(sig: Vector[Tok]): DataFrame = {
    val fi = sig.indexWhere(_.is("for"))
    require(fi > 0 && fi + 1 < sig.length, "CREATE USER MAPPING needs FOR <user>")
    val userTok = sig(fi + 1)
    val user =
      if (userTok.is("user") || userTok.is("current_user") || userTok.is("current_role"))
        spark.sparkContext.sparkUser
      else unq(userTok)
    val si = sig.indexWhere(_.is("server"), fi)
    require(si > 0 && si + 1 < sig.length, "CREATE USER MAPPING needs SERVER <name>")
    graft.sources.Fdw.createUserMapping(user, sig(si + 1).text, parseOptions(sig, si))
    summary(0L)
  }

  private def dropUserMapping(sig: Vector[Tok]): DataFrame = {
    // DROP USER MAPPING [IF EXISTS] FOR {user|USER|CURRENT_USER} SERVER s
    val fi = sig.indexWhere(_.is("for"))
    require(fi > 0 && fi + 1 < sig.length, "DROP USER MAPPING needs FOR <user>")
    val userTok = sig(fi + 1)
    val user =
      if (userTok.is("user") || userTok.is("current_user") || userTok.is("current_role"))
        sources.Roles.sessionUser(spark)
      else unq(userTok)
    val si = sig.indexWhere(_.is("server"), fi)
    require(si > 0 && si + 1 < sig.length, "DROP USER MAPPING needs SERVER <name>")
    graft.sources.Fdw.dropUserMapping(user, sig(si + 1).text)
    summary(0L)
  }

  // ---------- users / roles / privileges (reference io.crate.role) ----------

  /** `CREATE USER u [WITH [(] password [=] 'pw' [)]]` / `CREATE ROLE r`
    * (reference `docs/sql/statements/create-user.rst` — all four password
    * spellings accepted; a ROLE cannot carry a password). JWT properties
    * are authentication plumbing with no offline analogue → loud error. */
  private def createRole(sig: Vector[Tok]): DataFrame = {
    val isUser = sig(1).is("user")
    val name = unq(sig(2))
    require(!sig.exists(_.is("jwt")),
      "jwt authentication properties are not supported (no wire-level authentication in this engine)")
    val pi = sig.indexWhere(_.is("password"))
    val password =
      if (pi < 0) None
      else Some(unq(sig.drop(pi + 1).find(t => !t.isSym("=") && !t.isSym("("))
        .getOrElse(throw new IllegalArgumentException("password needs a value"))))
    summary(sources.Roles.create(name, isUser, password))
  }

  /** `ALTER USER|ROLE name SET (password = 'pw' | password = NULL)`
    * (reference `docs/sql/statements/alter-role.rst`). */
  private def alterRole(sig: Vector[Tok]): DataFrame = {
    val name = unq(sig(2))
    val pi = sig.indexWhere(_.is("password"))
    require(pi > 0, "ALTER USER/ROLE supports SET (password = …)")
    val vTok = sig.drop(pi + 1).find(t => !t.isSym("=") && !t.isSym("("))
      .getOrElse(throw new IllegalArgumentException("password needs a value"))
    val pw = if (vTok.is("null")) None else Some(unq(vTok))
    summary(sources.Roles.alterPassword(name, pw))
  }

  private def dropRole(sig: Vector[Tok]): DataFrame = {
    val ifExists = sig.lift(2).exists(_.is("if"))
    val name = unq(sig(if (ifExists) 4 else 2))
    summary(sources.Roles.drop(name, ifExists))
  }

  /** GRANT/DENY in both reference flavours (`docs/sql/statements/
    * grant.rst`): privileges `{DQL|DML|DDL|AL[,…]|ALL [PRIVILEGES]} [ON
    * {SCHEMA|TABLE|VIEW} ident[,…]] TO name[,…]`, or role inheritance
    * `GRANT role[,…] TO name[,…]` (DENY has no role flavour). */
  private def grantOrDeny(sig: Vector[Tok], policy: String): DataFrame = {
    val toIdx = sig.indexWhere(_.is("to"))
    require(toIdx > 1, s"$policy needs TO")
    val grantees = splitTopCommas(sig.slice(toIdx + 1, sig.length)).map(v => unq(v.head))
    val head = sig.slice(1, toIdx)
    val onIdx = head.indexWhere(_.is("on"))
    val subjectToks = if (onIdx < 0) head else head.take(onIdx)
    val subjects = splitTopCommas(subjectToks)
      .map(_.filterNot(_.isSym(".")).map(unq).mkString("."))
    val isAll = subjectToks.headOption.exists(_.is("all")) // ALL [PRIVILEGES]
    val isPriv = isAll ||
      subjects.forall(s => sources.Roles.Permissions.contains(s.toUpperCase))
    if (isPriv) {
      val perms =
        if (isAll) sources.Roles.Permissions
        else subjects.map(_.toUpperCase)
      val (securable, idents) =
        if (onIdx < 0) ("CLUSTER", Seq(None))
        else {
          val sec = head(onIdx + 1).text.toUpperCase
          require(Seq("SCHEMA", "TABLE", "VIEW").contains(sec),
            s"ON expects SCHEMA, TABLE or VIEW, got $sec")
          val ids = splitTopCommas(head.slice(onIdx + 2, head.length)).map { v =>
            // the qualifier rewrite may have folded `s.t` to the internal
            // `s__t` before this parser ran — unfold so grants store the
            // same `schema.table` ident enforcement checks against
            val raw0 = v.filterNot(_.isSym(".")).map(unq).mkString(".")
            val raw = if (sec != "SCHEMA" && !raw0.contains('.') && raw0.contains("__"))
              raw0.replaceFirst("__", ".") else raw0
            // TABLE/VIEW idents are stored fully qualified; bare names
            // resolve in the current (doc) schema (grant.rst Parameters)
            Some(if (sec != "SCHEMA" && !raw.contains('.')) s"doc.$raw" else raw)
          }
          (sec, ids)
        }
      summary(sources.Roles.applyPrivileges(policy, perms, securable, idents,
        grantees, sources.Roles.sessionUser(spark)))
    } else {
      require(policy == "GRANT", "DENY only applies to privileges, not roles")
      require(onIdx < 0, "role grants take no ON clause")
      summary(sources.Roles.grantRoles(subjects, grantees,
        sources.Roles.sessionUser(spark)))
    }
  }

  /** `REVOKE {privileges [ON …]|roles} FROM name[,…]` — removes GRANT and
    * DENY entries alike (reference `role/PrivilegesModifier.java`). */
  private def revokeStmt(sig: Vector[Tok]): DataFrame = {
    val fromIdx = sig.indexWhere(_.is("from"))
    require(fromIdx > 1, "REVOKE needs FROM")
    val grantees = splitTopCommas(sig.slice(fromIdx + 1, sig.length)).map(v => unq(v.head))
    val head = sig.slice(1, fromIdx)
    val onIdx = head.indexWhere(_.is("on"))
    val subjectToks = if (onIdx < 0) head else head.take(onIdx)
    val subjects = splitTopCommas(subjectToks)
      .map(_.filterNot(_.isSym(".")).map(unq).mkString("."))
    val isAll = subjectToks.headOption.exists(_.is("all")) // ALL [PRIVILEGES]
    val isPriv = isAll ||
      subjects.forall(s => sources.Roles.Permissions.contains(s.toUpperCase))
    if (isPriv) {
      val perms =
        if (isAll) sources.Roles.Permissions
        else subjects.map(_.toUpperCase)
      val (securable, idents) =
        if (onIdx < 0) ("CLUSTER", Seq(None))
        else {
          val sec = head(onIdx + 1).text.toUpperCase
          val ids = splitTopCommas(head.slice(onIdx + 2, head.length)).map { v =>
            val raw0 = v.filterNot(_.isSym(".")).map(unq).mkString(".")
            val raw = if (sec != "SCHEMA" && !raw0.contains('.') && raw0.contains("__"))
              raw0.replaceFirst("__", ".") else raw0
            Some(if (sec != "SCHEMA" && !raw.contains('.')) s"doc.$raw" else raw)
          }
          (sec, ids)
        }
      summary(sources.Roles.applyPrivileges("REVOKE", perms, securable, idents,
        grantees, sources.Roles.sessionUser(spark)))
    } else {
      require(onIdx < 0, "role revokes take no ON clause")
      summary(sources.Roles.revokeRoles(subjects, grantees))
    }
  }

  // ---------- cursors (reference session/Cursor.java, declare/fetch/close.rst) ----------

  // open cursors of this router session, by name
  private val cursors =
    scala.collection.mutable.Map[String, sources.Cursor]()

  /** `DECLARE c [BINARY] [[A|IN]SENSITIVE] [[NO] SCROLL] CURSOR
    * [{WITH|WITHOUT} HOLD] FOR query`. The query plan suspends behind
    * `toLocalIterator` — nothing executes until the first FETCH. */
  private def declareCursor(stmt: Stmt): DataFrame = {
    val sig = stmt.sig
    val name = unq(sig(1))
    require(!cursors.contains(name), s"""Cursor "$name" already exists""")
    val ci = sig.indexWhere(_.is("cursor"))
    require(ci > 1, "DECLARE needs CURSOR FOR <query>")
    val flags = sig.slice(2, ci)
    val scroll = flags.exists(_.is("scroll")) &&
      !flags.sliding(2).exists(p => p.length == 2 && p(0).is("no") && p(1).is("scroll"))
    val hold = sig.lift(ci + 1).exists(t => t.is("with") || t.is("without")) &&
      sig.lift(ci + 2).exists(_.is("hold"))
    val fi = if (hold) ci + 3 else ci + 1
    require(sig.lift(fi).exists(_.is("for")), "DECLARE needs CURSOR FOR <query>")
    val query = stmt.from(fi + 1)
    registerViews(query.sig)
    // non-recording inner path: execute() already logs the DECLARE once
    val df = lower(query.text)
    cursors(name) = sources.Cursor.declare(name, query.text, df, scroll)
    summary(0L)
  }

  /** `FETCH [direction [FROM|IN]] c` / `MOVE …` — directions NEXT,
    * count, ALL, FORWARD [count|ALL], RELATIVE count, ABSOLUTE position
    * (fetch.rst). MOVE repositions and reports rows skipped. */
  private def fetchStmt(sig: Vector[Tok]): DataFrame = {
    val isMove = sig(0).is("move")
    val name = unq(sig.last)
    val cur = cursors.getOrElse(name,
      throw new IllegalArgumentException(s"""No cursor named "$name""""))
    val dir = sig.slice(1, sig.length - 1).filterNot(t => t.is("from") || t.is("in"))
    def num(t: Tok): Long = t.text.toLong
    val rows: Seq[org.apache.spark.sql.Row] = dir.map(_.text.toLowerCase) match {
      case Seq() | Seq("next") | Seq("forward")         => cur.fetch(1)
      case Seq("all") | Seq("forward", "all")           => cur.fetch(Long.MaxValue)
      case Seq("forward", _)                            => cur.fetch(num(dir(1)))
      case Seq("relative", _*)                          =>
        cur.fetchRelative(dir.drop(1).map(_.text).mkString.toLong)
      case Seq("absolute", _*)                          =>
        cur.fetchAbsolute(dir.drop(1).map(_.text).mkString.toLong)
      case Seq(n) if n.forall(_.isDigit)                => cur.fetch(num(dir(0)))
      case Seq("-", n) if n.forall(_.isDigit)           => // backward count
        cur.fetchRelative(-n.toLong)
      case other => throw new IllegalArgumentException(
        s"Unsupported FETCH direction: ${other.mkString(" ")}")
    }
    if (isMove) summary(rows.length.toLong)
    else spark.createDataFrame(
      new java.util.ArrayList(scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      cur.schema)
  }

  /** `CLOSE c | CLOSE ALL` (close.rst). */
  private def closeCursor(sig: Vector[Tok]): DataFrame = {
    if (sig.lift(1).exists(_.is("all"))) {
      cursors.values.foreach(_.close()); cursors.clear()
    } else {
      val name = unq(sig(1))
      val cur = cursors.remove(name).getOrElse(
        throw new IllegalArgumentException(s"""No cursor named "$name""""))
      cur.close()
    }
    summary(0L)
  }

  /** `CREATE ANALYZER name (TOKENIZER t [WITH (…)], TOKEN_FILTERS (f [WITH
    * (…)], …), CHAR_FILTERS (f [WITH (…)], …))` and the `EXTENDS base WITH
    * (…)` form (reference `CreateAnalyzerStatementAnalyzer.java`,
    * `docs/general/ddl/fulltext-indices.rst`). Builds a
    * [[graft.operators.MatchText.Analyzer]] chain and registers it for
    * MATCH / fulltext-index use by name. Supported pieces — tokenizers
    * standard/whitespace/letter/lowercase/keyword; token filters lowercase,
    * stop (stopwords=[…] or the English set), length (min/max), kstem /
    * porter_stem / snowball (English), s_stem; char filters html_strip,
    * mapping (mappings=['a=>b',…]), pattern_replace (pattern, replacement).
    * Anything else raises, listing what the statement asked for. */
  private def createAnalyzer(sig: Vector[Tok]): DataFrame = {
    import graft.operators.MatchText.{Analyzer, CharFilter}
    val name = sig(2).text
    val exi = sig.indexWhere(_.is("extends"))
    if (exi > 0) {
      // CREATE ANALYZER x EXTENDS base WITH (k = v, …)
      val base = sig(exi + 1).text.toLowerCase
      val opts = parseKvOptions(sig, exi + 1)
      val built = base match {
        case "snowball" =>
          // every built-in language analyzer (stop set + its stemmer) is a
          // valid snowball base; english upgrades to the full Porter chain
          val lang = opts.getOrElse("language", Seq("english")).head.toLowerCase
          val full = Map("en" -> "english", "de" -> "german", "fr" -> "french",
            "es" -> "spanish", "it" -> "italian", "pt" -> "portuguese",
            "nl" -> "dutch", "ru" -> "russian", "sv" -> "swedish",
            "no" -> "norwegian", "da" -> "danish", "fi" -> "finnish")
            .getOrElse(lang, lang)
          if (full == "english")
            Analyzer(stopwords = graft.operators.MatchText.englishStopwords,
              porter = true)
          else if (Analyzer.exists(full)) Analyzer.byName(full)
          else throw new IllegalArgumentException(
            s"snowball language '$lang' unsupported (any builtin language analyzer name)")
        case b if Analyzer.exists(b) =>
          val a = Analyzer.byName(b)
          opts.get("stopwords").map(sw => a.copy(stopwords = sw)).getOrElse(a)
        case other => throw new IllegalArgumentException(s"unknown base analyzer: $other")
      }
      Analyzer.register(name, built)
      return summary(1L)
    }
    // body form: walk the top-level parenthesized list
    val open = sig.indexWhere(_.isSym("("))
    require(open > 0, "CREATE ANALYZER needs a definition body or EXTENDS")
    var a = Analyzer(lowercase = false)
    var hasLower = false
    var i = open + 1
    def parenEnd(from: Int): Int = {
      var depth = 0; var j = from
      while (j < sig.length) {
        if (sig(j).isSym("(") || sig(j).isSym("[")) depth += 1
        else if (sig(j).isSym(")") || sig(j).isSym("]")) {
          depth -= 1; if (depth == 0) return j
        }
        j += 1
      }
      sig.length - 1
    }
    def applyTokenFilter(f: String, opts: Map[String, Seq[String]]): Unit = f match {
      case "lowercase" => hasLower = true
      case "stop" => a = a.copy(stopwords =
        opts.getOrElse("stopwords", graft.operators.MatchText.englishStopwords))
      case "length" => a = a.copy(
        minTokenLength = opts.get("min").map(_.head.toInt).getOrElse(a.minTokenLength),
        maxTokenLength = opts.get("max").map(_.head.toInt).getOrElse(a.maxTokenLength))
      case "kstem" | "porter_stem" => a = a.copy(porter = true)
      case "snowball" =>
        // English gets the full Porter pipeline; every other bundled
        // language its light minimal stemmer
        opts.getOrElse("language", Seq("english")).head.toLowerCase match {
          case "english" | "en"    => a = a.copy(porter = true)
          case "german" | "de"     => a = a.copy(minimalStem = "de")
          case "french" | "fr"     => a = a.copy(minimalStem = "fr")
          case "spanish" | "es"    => a = a.copy(minimalStem = "es")
          case "italian" | "it"    => a = a.copy(minimalStem = "it")
          case "portuguese" | "pt" => a = a.copy(minimalStem = "pt")
          case "dutch" | "nl"      => a = a.copy(minimalStem = "nl")
          case "russian" | "ru"    => a = a.copy(minimalStem = "ru")
          case "swedish" | "sv"    => a = a.copy(minimalStem = "sv")
          case "norwegian" | "no"  => a = a.copy(minimalStem = "no")
          case "danish" | "da"     => a = a.copy(minimalStem = "da")
          case "finnish" | "fi"    => a = a.copy(minimalStem = "fi")
          // wave-4 data-driven light stemmers (MatchText.lightRules)
          case lang =>
            val code = Map("arabic" -> "ar", "turkish" -> "tr",
              "greek" -> "el", "hindi" -> "hi", "czech" -> "cs",
              "hungarian" -> "hu", "indonesian" -> "id", "romanian" -> "ro",
              "bulgarian" -> "bg", "catalan" -> "ca", "galician" -> "gl",
              "latvian" -> "lv", "lithuanian" -> "lt", "armenian" -> "hy",
              "basque" -> "eu", "bengali" -> "bn", "brazilian" -> "pt",
              "persian" -> "fa", "sorani" -> "ckb").getOrElse(lang, lang)
            if (code == "pt") a = a.copy(minimalStem = "pt")
            else if (graft.operators.MatchText.lightRules.contains(code))
              a = a.copy(minimalStem = code)
            else throw new IllegalArgumentException(
              s"snowball language '$lang' unsupported")
        }
      case "s_stem" => a = a.copy(sStem = true)
      case "asciifolding" => a = a.copy(asciifold = true)
      case "edge_ngram" | "edgengram" => a = a.copy(edgeNgram = (
        opts.get("min_gram").map(_.head.toInt).getOrElse(1),
        opts.get("max_gram").map(_.head.toInt).getOrElse(2)))
      case "cjk_bigram" =>
        // Lucene CJKBigramFilter with the ES-shaped per-script toggles:
        // ignored_scripts = ['han'|'hiragana'|'katakana'|'hangul', ...]
        // exempts scripts from bigramming; output_unigrams additionally
        // emits each enabled-script char (MatchText.cjkExpand semantics)
        val ign = opts.getOrElse("ignored_scripts", Nil).map(_.toLowerCase)
        ign.foreach(s0 => require(
          graft.operators.MatchText.cjkScriptIds.contains(s0),
          s"cjk_bigram: unknown script '$s0'"))
        a = a.copy(cjkBigram = true, cjkIgnored = ign,
          cjkOutputUnigrams =
            opts.get("output_unigrams").exists(_.head.toBoolean))
      case "cjk_width" =>
        a = a.copy(charFilters = a.charFilters :+
          graft.operators.MatchText.CharFilter("cjk_width"))
      case "shingle" => a = a.copy(shingle = (
        opts.get("min_shingle_size").map(_.head.toInt).getOrElse(2),
        opts.get("max_shingle_size").map(_.head.toInt).getOrElse(2)))
      case other => throw new IllegalArgumentException(s"unknown token filter: $other")
    }
    def applyCharFilter(f: String, opts: Map[String, Seq[String]]): Unit = {
      val kind = opts.get("type").map(_.head).getOrElse(f)
      val cf = kind match {
        case "html_strip" => CharFilter("html_strip")
        case "mapping" => CharFilter("mapping",
          mappings = opts.getOrElse("mappings",
            throw new IllegalArgumentException("mapping char filter needs mappings=[…]")))
        case "pattern_replace" => CharFilter("pattern_replace",
          pattern = opts.getOrElse("pattern", Seq("")).head,
          replacement = opts.getOrElse("replacement", Seq("")).head)
        case other => throw new IllegalArgumentException(s"unknown char filter: $other")
      }
      a = a.copy(charFilters = a.charFilters :+ cf)
    }
    while (i < sig.length && !sig(i).isSym(")")) {
      if (sig(i).is("tokenizer")) {
        a = a.copy(tokenizer = sig(i + 1).text.toLowerCase)
        i += 2
        if (i < sig.length && sig(i).is("with")) i = parenEnd(i + 1) + 1
      } else if (sig(i).is("token_filters") || sig(i).is("char_filters")) {
        val isToken = sig(i).is("token_filters")
        val end = parenEnd(i + 1)
        var j = i + 2
        while (j < end) {
          val fname = sig(j).text.toLowerCase
          var opts = Map.empty[String, Seq[String]]
          j += 1
          if (j < end && sig(j).is("with")) {
            val oEnd = parenEnd(j + 1)
            opts = parseKvBody(sig, j + 2, oEnd)
            j = oEnd + 1
          }
          if (isToken) applyTokenFilter(fname, opts) else applyCharFilter(fname, opts)
          if (j < end && sig(j).isSym(",")) j += 1
        }
        i = end + 1
      } else i += 1
      if (i < sig.length && sig(i).isSym(",")) i += 1
    }
    Analyzer.register(name, a.copy(lowercase = hasLower))
    summary(1L)
  }

  /** `WITH ( k = v, k2 = [v, v2], … )` starting at or after `from` →
    * key → values (arrays flattened, strings unquoted). */
  private def parseKvOptions(sig: Vector[Tok], from: Int): Map[String, Seq[String]] = {
    val wi = sig.indexWhere(_.is("with"), from)
    if (wi < 0 || wi + 1 >= sig.length || !sig(wi + 1).isSym("(")) Map.empty
    else {
      var depth = 1; var end = wi + 2
      while (end < sig.length && depth > 0) {
        if (sig(end).isSym("(")) depth += 1
        else if (sig(end).isSym(")")) depth -= 1
        if (depth > 0) end += 1
      }
      parseKvBody(sig, wi + 2, end)
    }
  }

  /** key `=` value (scalar or `[v, v, …]` list) pairs between `from`
    * (inclusive) and `end` (exclusive). */
  private def parseKvBody(sig: Vector[Tok], from: Int, end: Int): Map[String, Seq[String]] = {
    val out = scala.collection.mutable.LinkedHashMap[String, Seq[String]]()
    var i = from
    while (i < end) {
      if (i + 2 < end + 1 && sig(i + 1).isSym("=")) {
        val key = sig(i).text.toLowerCase
        var j = i + 2
        if (j < end && sig(j).isSym("[")) {
          var vals = Vector.empty[String]
          j += 1
          while (j < end && !sig(j).isSym("]")) {
            if (!sig(j).isSym(",")) vals :+= unq(sig(j))
            j += 1
          }
          out(key) = vals
          i = j + 1
        } else {
          out(key) = Vector(unq(sig(j)))
          i = j + 1
        }
      } else i += 1
    }
    out.toMap
  }

  // ---------- repositories & snapshots ----------

  /** Durable repository registry (reference create-repository.rst: a
    * named backup location; `fs`/`s3`/`azure` all resolve through the
    * Hadoop FileSystem for the configured location URI). */
  private def repositoriesFile = new Path(root, "_repositories")

  private def repositories: Map[String, (String, String)] =
    if (!fs.exists(repositoriesFile)) Map.empty
    else readTextFile(repositoriesFile).split("\n").filter(_.nonEmpty).map { l =>
      val a = l.split("\t", 3); a(0) -> (a(1), a(2))
    }.toMap

  private def writeRepositories(m: Map[String, (String, String)]): Unit =
    writeTextFile(repositoriesFile, m.toSeq.sortBy(_._1)
      .map { case (n, (t, l)) => s"$n\t$t\t$l" }.mkString("\n"))

  /** `CREATE REPOSITORY r TYPE t WITH (location = '…')`. */
  private def createRepository(sig: Vector[Tok]): DataFrame = {
    val name = unq(sig(2))
    require(sig.lift(3).exists(_.is("type")), "CREATE REPOSITORY requires TYPE")
    val typ = sig(4).text.toLowerCase
    val wIdx = sig.indexWhere(_.is("with"))
    val opts: Map[String, String] =
      if (wIdx >= 0 && sig.lift(wIdx + 1).exists(_.isSym("("))) {
        val c = matchFwd(sig, wIdx + 1)
        splitTopCommas(sig.slice(wIdx + 2, c)).flatMap { p =>
          val eq = p.indexWhere(_.isSym("="))
          if (eq > 0) Some(p(eq - 1).text.toLowerCase ->
            unq(p(eq + 1)))
          else None
        }.toMap
      } else Map.empty
    val loc = opts.getOrElse("location",
      opts.getOrElse("path", sys.error("repository requires a location")))
    require(!repositories.contains(name), s"repository $name already exists")
    writeRepositories(repositories + (name -> (typ, loc)))
    summary(1L)
  }

  private def dropRepository(sig: Vector[Tok]): DataFrame = {
    val name = unq(sig(2))
    require(repositories.contains(name), s"repository $name does not exist")
    writeRepositories(repositories - name)
    summary(1L)
  }

  private val tableSpecFiles = Seq("_pkspec", "_bucketspec", "_partitionspec",
    "_indexspec", "_constraintspec", "_tablesettings")

  private def copyFile(from: Path, to: Path): Unit = {
    val in = fs.open(from)
    val bytes = new Array[Byte](in.available())
    in.readFully(bytes); in.close()
    fs.mkdirs(to.getParent)
    val out = fs.create(to, true)
    out.write(bytes); out.close()
  }

  /** `CREATE SNAPSHOT r.s { TABLE t [, …] | ALL }` (create-snapshot.rst):
    * each table's CURRENT snapshot (data + spec metadata + schema) is
    * written under the repository location. Versions are immutable, so
    * the backup is consistent at statement start like the reference's.
    * PARTITION sub-clauses are not supported — loud error. */
  private def createSnapshot(sig: Vector[Tok]): DataFrame = {
    require(!sig.exists(_.is("partition")),
      "snapshot PARTITION clauses are not supported")
    require(sig.lift(3).exists(_.isSym(".")), "CREATE SNAPSHOT repo.name expected")
    val repo = unq(sig(2)); val snap = unq(sig(4))
    val (_, loc) = repositories.getOrElse(repo,
      sys.error(s"repository $repo does not exist"))
    val names: Seq[String] =
      if (sig.lift(5).exists(_.is("all"))) tableNames
      else {
        require(sig.lift(5).exists(_.is("table")), "TABLE list or ALL expected")
        val stop = sig.indexWhere(_.is("with")) match {
          case -1 => sig.length
          case w  => w
        }
        splitTopCommas(sig.slice(6, stop)).map(p => unq(p.head))
      }
    val snapDir = new Path(loc, snap)
    require(!fs.exists(new Path(snapDir, "_snapshot")),
      s"snapshot $repo.$snap already exists")
    names.foreach { t =>
      val df = readTable(t)
      df.write.mode("overwrite").parquet(new Path(snapDir, s"$t/data").toString)
      writeTextFile(new Path(snapDir, s"$t/_schema"), df.schema.toDDL)
      tableSpecFiles.foreach { f =>
        val p = new Path(tablePath(t), f)
        if (fs.exists(p)) copyFile(p, new Path(snapDir, s"$t/$f"))
      }
    }
    writeTextFile(new Path(snapDir, "_snapshot"), names.sorted.mkString("\n"))
    summary(names.length.toLong)
  }

  /** `RESTORE SNAPSHOT r.s { ALL | TABLE t [, …] }` — restored tables
    * must not exist (the reference's contract); data + spec metadata come
    * back exactly, committed as the new table's v1. */
  private def restoreSnapshot(sig: Vector[Tok]): DataFrame = {
    require(!sig.exists(_.is("partition")),
      "restore PARTITION clauses are not supported")
    require(sig.lift(3).exists(_.isSym(".")), "RESTORE SNAPSHOT repo.name expected")
    val repo = unq(sig(2)); val snap = unq(sig(4))
    val (_, loc) = repositories.getOrElse(repo,
      sys.error(s"repository $repo does not exist"))
    val snapDir = new Path(loc, snap)
    val markerPath = new Path(snapDir, "_snapshot")
    require(fs.exists(markerPath), s"snapshot $repo.$snap does not exist")
    val stored = readTextFile(markerPath).split("\n").toSeq.filter(_.nonEmpty)
    val names: Seq[String] =
      if (sig.lift(5).exists(_.is("all")) || sig.length <= 5) stored
      else {
        require(sig.lift(5).exists(_.is("table")), "TABLE list or ALL expected")
        val picked = splitTopCommas(sig.slice(6, sig.length)).map(p => unq(p.head))
        picked.foreach(t => require(stored.contains(t),
          s"table $t is not in snapshot $repo.$snap"))
        picked
      }
    names.foreach { t =>
      require(VersionedTable.latestVersion(spark, tablePath(t)).isEmpty,
        s"table $t already exists — drop it before restoring")
      tableSpecFiles.foreach { f =>
        val p = new Path(snapDir, s"$t/$f")
        if (fs.exists(p)) copyFile(p, new Path(tablePath(t), f))
      }
      val schema = StructType.fromDDL(readTextFile(new Path(snapDir, s"$t/_schema")))
      val df = spark.read.schema(schema)
        .parquet(new Path(snapDir, s"$t/data").toString)
      VersionedTable.commit(spark, tablePath(t), df)
      val pk = VersionedTable.primaryKey(spark, tablePath(t))
      if (pk.nonEmpty) sources.InformationSchema.registerPrimaryKey(t, pk)
    }
    summary(names.length.toLong)
  }

  private def dropSnapshot(sig: Vector[Tok]): DataFrame = {
    require(sig.lift(3).exists(_.isSym(".")), "DROP SNAPSHOT repo.name expected")
    val repo = unq(sig(2)); val snap = unq(sig(4))
    val (_, loc) = repositories.getOrElse(repo,
      sys.error(s"repository $repo does not exist"))
    val snapDir = new Path(loc, snap)
    require(fs.exists(new Path(snapDir, "_snapshot")),
      s"snapshot $repo.$snap does not exist")
    fs.delete(snapDir, true)
    summary(1L)
  }

  /** `DROP SCHEMA [IF EXISTS] s [CASCADE]` — a plain drop requires the
    * namespace empty; CASCADE drops its tables first (drop-schema
    * semantics mirror PG's, which the reference follows). */
  private def dropSchema(stmt: Stmt): DataFrame = {
    val sig = stmt.sig
    val ifExists = sig.lift(2).exists(_.is("if"))
    val ni = stmt.nameAt(2)
    val s = unq(sig(ni)).toLowerCase
    val cascade = sig.lift(ni + 1).exists(_.is("cascade"))
    val cur = registeredSchemas
    if (!cur.contains(s)) {
      require(ifExists, s"schema $s does not exist")
      return summary(0L)
    }
    val members = tableNames.filter(_.startsWith(s + "__"))
    if (members.nonEmpty) {
      require(cascade, s"schema $s is not empty (use CASCADE)")
      members.foreach { m =>
        VersionedTable.dropCatalogEntries(spark, tablePath(m))
        fs.delete(new Path(tablePath(m)), true)
        sources.InformationSchema.dropPrimaryKey(m)
        spark.catalog.dropTempView(m)
      }
    }
    writeSchemas(cur - s)
    sources.InformationSchema.dropSchema(s)
    summary(0L)
  }

  private def dropTable(stmt: Stmt): DataFrame = {
    val ifExists = stmt.sig.lift(2).exists(_.is("if"))
    val name = stmt.sig(stmt.nameAt(2)).text
    val p = new Path(tablePath(name))
    if (!fs.exists(p)) require(ifExists, s"table $name does not exist")
    else {
      VersionedTable.dropCatalogEntries(spark, tablePath(name))
      fs.delete(p, true)
    }
    sources.InformationSchema.dropPrimaryKey(name)
    spark.catalog.dropTempView(name)
    summary(0L)
  }

  // ---------- INSERT ----------

  private def insert(stmt: Stmt): DataFrame = {
    val ts = translated(stmt.text).sig
    require(ts(0).is("insert") && ts(1).is("into"), "INSERT INTO expected")
    var i = 2
    val name = ts(i).text; i += 1
    val (target, version) = snapshot(name)
    // optional explicit column list
    var cols: Seq[String] = target.schema.fieldNames.toSeq
    if (i < ts.length && ts(i).isSym("(")) {
      val c = matchFwd(ts, i)
      cols = ts.slice(i + 1, c).filterNot(_.isSym(",")).map(_.text)
      i = c + 1
    }
    // split the source from optional top-level ON CONFLICT / RETURNING
    var depth = 0; var oc = -1; var ri = -1; var k = i
    while (k < ts.length) {
      val t = ts(k)
      if (t.isSym("(")) depth += 1
      else if (t.isSym(")")) depth -= 1
      else if (depth == 0 && oc < 0 && t.is("on") && k + 1 < ts.length &&
        ts(k + 1).is("conflict")) oc = k
      else if (depth == 0 && ri < 0 && t.is("returning")) ri = k
      k += 1
    }
    val stmtEnd = if (ri >= 0) ri else ts.length
    val srcEnd = if (oc >= 0) oc else stmtEnd
    val srcToks = ts.slice(i, srcEnd)
    val rowsRaw =
      if (srcToks.headOption.exists(_.is("values")))
        spark.sql("SELECT * FROM " + renderSig(srcToks) +
          s" AS __v(${cols.mkString(", ")})")
      else { registerViews(srcToks); spark.sql(renderSig(srcToks)).toDF(cols: _*) }
    // align to the full target schema: unlisted columns become typed nulls
    val alignedRaw = rowsRaw.select(target.schema.fields.map { f =>
      if (cols.contains(f.name)) rowsRaw(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }.toSeq: _*)
    // generated columns computed/validated, CHECK + NOT NULL enforced
    val aligned = enforceOnInsert(name, alignedRaw, cols.toSet)
    var conflictKeys: Seq[String] = Nil
    var doNothing = false
    var upsertAssigns: Seq[(String, Vector[Tok])] = Nil
    val next: DataFrame => DataFrame =
      if (oc < 0) cur => Dml.insertInto(cur, aligned)
      else {
        // ON CONFLICT (keys) DO NOTHING | DO UPDATE SET a = expr, ...
        var j = oc + 2
        require(ts(j).isSym("("), "ON CONFLICT requires a key list")
        val c = matchFwd(ts, j)
        val keys = ts.slice(j + 1, c).filterNot(_.isSym(",")).map(_.text)
        conflictKeys = keys
        j = c + 1
        require(ts(j).is("do"), "DO expected after conflict keys")
        if (ts(j + 1).is("nothing")) {
          doNothing = true
          cur => Dml.upsertDoNothing(cur, aligned, keys)
        } else {
          require(ts(j + 1).is("update") && ts(j + 2).is("set"), "DO UPDATE SET expected")
          val assigns = parseAssignments(ts.slice(j + 3, stmtEnd))
          upsertAssigns = assigns
          cur => mergeUpsert(cur, aligned, keys, assigns)
        }
      }
    if (ri < 0) {
      val conflict =
        if (oc < 0) None
        else Some(conflictKeys -> (if (doNothing) None else Some(upsertAssigns)))
      keyedInsert(name, target, version, aligned, conflict) match {
        case Some(n) => return summary(n)
        case None    =>
      }
    }
    // plain INSERT / DO NOTHING change rows only inside the incoming
    // rows' partitions; DO UPDATE may touch a matched row whose partition
    // differs from the incoming value → full commit
    val (n, touchedParts) = touchOf(aligned,
      if (oc < 0 || doNothing) partitionCols(name, target.schema) else None)
    // a plain INSERT of a key that exists or repeats within the statement
    // fails before anything is written (reference DuplicateKeyException).
    // VALUES rows are on the driver: their keys are compared there, and
    // the table is probed with them as a literal predicate its scan
    // pushes down
    val pk = if (oc < 0) VersionedTable.primaryKey(spark, tablePath(name)) else Nil
    val literalKeys =
      if (pk.isEmpty || pk.exists(c => aligned.schema(c).dataType match {
        case _: ArrayType | _: MapType | _: StructType => true
        case _ => false
      })) None
      else Dml.localRows(aligned.select(pk.map(col): _*))
    require(pk.isEmpty || (literalKeys match {
      case Some(keys) =>
        keys.distinct.size == n &&
          Dml.tally(target.filter(Dml.keyPredicate(pk, keys)), Nil).isEmpty
      case None => Dml.absent(target, aligned, pk).select(pk.map(col): _*).distinct().count() == n
    }), duplicateKey(name))
    val newState = next(target)
    // RETURNING * | exprs (reference dml.rst): the rows the statement
    // actually produced — plain inserts return the incoming rows; DO
    // NOTHING returns only non-conflicting rows; DO UPDATE returns the
    // post-merge state of the incoming keys
    val result =
      if (ri < 0) summary(n)
      else {
        val retToks = ts.slice(ri + 1, ts.length)
        val affected =
          if (oc < 0) aligned
          else if (doNothing) Dml.absent(target, aligned, conflictKeys)
          else
            newState.join(
              aligned.select(conflictKeys.map(col): _*).distinct(),
              conflictKeys, "left_semi")
        selectReturning(affected, retToks).localCheckpoint()
      }
    // ON CONFLICT DO UPDATE matched rows get `_touched` markers, like
    // autocommit UPDATE: the reference assigns a fresh per-doc seqNo on
    // ANY write (SysColumns.java:49-64), including an upsert that writes
    // back identical values — which the content-hash row-diff cannot
    // see. DO NOTHING leaves matched rows unwritten, so no marker.
    val upsertMatched =
      if (oc >= 0 && !doNothing)
        Some(target.join(
          aligned.select(conflictKeys.map(col): _*).distinct(),
          conflictKeys, "left_semi"))
      else None
    writeTable(name, newState, touchedParts)
    upsertMatched.foreach(markTouched(name, _))
    result
  }

  /** INSERT on the key path: VALUES rows, no RETURNING, into a table whose
    * latest version has a [[KeyMap]]. The duplicate-key check of a plain
    * INSERT and the conflict match of `ON CONFLICT (key)` are map lookups,
    * so the write is the statement's one job, and the committed version
    * gets the map plus the new keys. `conflict` is None for a plain INSERT,
    * else the conflict keys and the DO UPDATE assignments (None for DO
    * NOTHING). DO UPDATE writes the partitions of its new rows and of its
    * matched stored rows ([[mergeKeyed]]). None, and the caller's path runs,
    * when the map does not apply: a conflict target other than the key, an
    * assignment to the key or a partition column, an upsert whose rows
    * repeat a key or carry a NULL one, or a DO UPDATE over a column type
    * no literal holds. Returns the affected-row count. */
  private def keyedInsert(name: String, target: DataFrame, version: Option[Int],
                          aligned: DataFrame,
                          conflict: Option[(Seq[String], Option[Seq[(String, Vector[Tok])]])])
      : Option[Long] = {
    val assigned = conflict.flatMap(_._2).getOrElse(Nil).map(_._1)
    for {
      (k, parts) <- keyed(name, target.schema)
      if conflict.forall(_._1.map(_.toLowerCase) == Seq(k.toLowerCase))
      if !movesKey(assigned, k, parts)
      rows <- Dml.localRows(aligned)
      v <- version
      incoming = rows.map(r => r.getAs[Any](k) -> parts.map(r.getAs[Any]))
      keys = incoming.map(_._1)
      if conflict.isEmpty || (!keys.contains(null) && keys.distinct.size == keys.size)
      if !conflict.exists(_._2.isDefined) || aligned.schema.forall(f => literalType(f.dataType))
      m <- KeyMap.of(spark, tablePath(name), v, k, parts)
    } yield {
      val (matched, fresh) = incoming.partition(e => e._1 != null && m.contains(e._1))
      val freshKeys = fresh.map(_._1)
      val (next, touched) = conflict match {
        case None =>
          require(matched.isEmpty && keys.distinct.size == keys.size, duplicateKey(name))
          (Dml.insertInto(target, aligned), fresh.map(_._2))
        case Some((_, None)) =>
          (Dml.insertInto(target, aligned.filter(keyIn(k, freshKeys))), fresh.map(_._2))
        case Some((_, Some(assigns))) =>
          (mergeKeyed(target, aligned, k, assigns, matched.map(_._1)),
            fresh.map(_._2) ++ matched.map(e => m.get(e._1).get))
      }
      val committed = writeTable(name, next,
        partitionCols(name, target.schema, assigned.toSet).map(_ => touched.distinct))
      if (conflict.exists(_._2.isDefined) && matched.nonEmpty)
        markTouched(name, aligned.filter(keyIn(k, matched.map(_._1))))
      if (!freshKeys.contains(null)) storeKeyMap(name, version, committed, Some(m ++ fresh))
      rows.length.toLong
    }
  }

  /** Types whose values `lit` renders exactly. */
  private def literalType(dt: DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case _: NumericType | _: StringType | BooleanType | DateType | TimestampType |
           TimestampNTZType | BinaryType => true
      case _ => false
    }
  }

  /** The DO UPDATE merge on the key path, one projection of the table:
    * the incoming rows whose key it holds (`matched`) are on the driver, so
    * they ride in the plan as one literal map from key to row, and each
    * matched stored row reads its `excluded` row from it; the incoming
    * rows of new keys are unioned on. No join, so nothing is broadcast or
    * shuffled. Same result as [[mergeUpsert]] over rows with distinct
    * keys; every column must be of a type a literal holds ([[literalType]]). */
  private def mergeKeyed(target: DataFrame, rows: DataFrame, k: String,
                         assigns: Seq[(String, Vector[Tok])], matched: Seq[Any]): DataFrame = {
    val hit = keyIn(k, matched)
    def value(v: Any, dt: DataType) = lit(v).cast(dt)
    val incoming = Dml.localRows(rows.filter(hit)).get
    // typed arrays: with no matched row they are empty, and an untyped
    // empty map would leave `excluded.<col>` nothing to resolve against
    val byKey = map_from_arrays(
      array(incoming.map(r => value(r.getAs[Any](k), rows.schema(k).dataType)): _*)
        .cast(ArrayType(rows.schema(k).dataType)),
      array(incoming.map(r => struct(rows.schema.fields.toSeq.zipWithIndex.map { case (f, i) =>
        value(r.get(i), f.dataType).as(f.name) }: _*)): _*)
        .cast(ArrayType(StructType(rows.schema.fields.map(_.copy(nullable = true))))))
    val assignMap = assigns.toMap
    target.withColumn("__e", try_element_at(byKey, col(k)))
      .select(target.schema.fieldNames.map { cname =>
        assignMap.get(cname) match {
          case Some(rhs) => when(hit, expr(qualifyExcluded(rhs))).otherwise(col(cname)).as(cname)
          case None      => col(cname)
        }
      }.toSeq: _*)
      .unionByName(rows.filter(!hit).select(target.columns.map(col).toSeq: _*))
  }

  /** Partial-assignment upsert (`DO UPDATE SET v = excluded.v || '!'`):
    * one full-outer merge — new keys insert whole rows, matched keys apply
    * the assignments (rhs may reference `excluded.<col>` = the incoming row
    * and bare `<col>` = the current row), unmatched targets pass through. */
  private def mergeUpsert(target: DataFrame, rows: DataFrame, keys: Seq[String],
                          assigns: Seq[(String, Vector[Tok])]): DataFrame = {
    // the incoming row is one struct column, so bare names resolve to the
    // current row alone
    val e = col("__e")
    val joined = target.join(
      rows.dropDuplicates(keys).select(struct(rows.columns.map(col).toSeq: _*).as("__e")),
      keys.map(k => target(k) === e(k)).reduce(_ && _), "full_outer")
    val matched = keys.map(k => target(k).isNotNull && e(k).isNotNull).reduce(_ && _)
    val inserted = keys.map(k => target(k).isNull).reduce(_ && _)
    val assignMap = assigns.toMap
    joined.select(target.schema.fieldNames.map { cname =>
      val base = when(inserted, e(cname)).otherwise(target(cname))
      assignMap.get(cname) match {
        case Some(rhs) =>
          when(matched, expr(qualifyExcluded(rhs))).otherwise(base).as(cname)
        case None => base.as(cname)
      }
    }.toSeq: _*)
  }

  /** `excluded.x` → `__e.x`, a field of the merge's incoming-row struct
    * column; bare column words stay unqualified and read the current row. */
  private def qualifyExcluded(toks: Vector[Tok]): String = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      if (t.is("excluded") && i + 1 < toks.length && toks(i + 1).isSym(".") &&
          i + 2 < toks.length) {
        out += s"__e.${toks(i + 2).text}"
        i += 3
      } else { out += t.text; i += 1 }
    }
    out.mkString(" ")
  }

  // ---------- UPDATE / DELETE ----------

  private def update(stmt: Stmt): DataFrame = {
    val ts = translated(stmt.text).sig
    require(ts(0).is("update") && ts(2).is("set"), "UPDATE <t> SET expected")
    val name = ts(1).text
    val (setEnd, whereToks, retToks) = tailClauses(ts, 3)
    val assigns = parseAssignments(ts.slice(3, setEnd))
    val cond = whereToks.map(w => expr(renderSig(w))).getOrElse(lit(true))
    // per-row OCC: a rewritten `_seq_no` predicate references the
    // row-diff seq column — join it onto the snapshot for the filter,
    // drop it again before the write
    val needSeq = stmt.text.toLowerCase.contains("__graft_seq_no")
    val (cur0, version) = snapshot(name)
    val cur = if (!needSeq) cur0 else withSeqNo(cur0, name,
      VersionedTable.latestVersion(spark, tablePath(name)).getOrElse(1))
    // generated columns recompute on every UPDATE (reference
    // GeneratedColumns.java) unless the SET assigns them explicitly —
    // explicit assignments are validated below like INSERT-supplied values
    val spec = VersionedTable.constraintSpec(spark, tablePath(name))
    val genRecompute = spec.toSeq.flatMap(_.generated)
      .filterNot { case (c, _, _) => assigns.exists(_._1 == c) }
      .map { case (c, ex, _) => c -> expr(ex).cast(cur.schema(c).dataType) }
      .toMap
    val (next, touched) = Dml.update(cur, cond,
      assigns.map { case (c, rhs) => c -> expr(renderSig(rhs)) }.toMap, genRecompute)
    spec.foreach { sp =>
      val assignedGen = sp.generated.filter { case (c, _, _) => assigns.exists(_._1 == c) }
      if (assignedGen.nonEmpty)
        enforceOnInsert(name, touched, assigns.map(_._1).toSet,
          fillDefaults = false)
      enforceRowConstraints(touched, sp)
    }
    // a recomputed generated column moves like an assigned one
    val moved = assigns.map(_._1).toSet ++ genRecompute.keySet
    val pcols = partitionCols(name, cur.schema, moved)
    // keys and partitions stay put: the key map carries forward, and a key
    // predicate reads its count and partitions from it
    val carry = keyed(name, cur.schema).filterNot { case (k, ps) => movesKey(moved, k, ps) }
    val hits = carry.filter(_ => !needSeq && retToks.isEmpty).flatMap { case (k, ps) =>
      keyHits(name, version, k, ps, cur.filter(cond)) }
    val (n, parts) = hits match {
      case Some((_, sel)) => (sel.length.toLong, pcols.map(_ => sel.map(_._2).distinct))
      case None           => touchOf(cur.filter(cond), pcols)
    }
    val result = retToks match {
      case Some(r) =>
        val rt = if (needSeq && !r.exists(_.is("__graft_seq_no")))
          touched.drop("__graft_seq_no") else touched
        selectReturning(rt, r).localCheckpoint()
      case None    => summary(n)
    }
    // no matched row: nothing changes, so nothing is written (the
    // reference answers 0 and leaves the table as it was)
    if (n > 0) {
      val committed = writeTable(name, if (needSeq) next.drop("__graft_seq_no") else next, parts)
      markTouched(name, touched)
      if (carry.isDefined) storeKeyMap(name, version, committed,
        hits.map(_._1).orElse(version.flatMap(KeyMap.stored(spark, tablePath(name), _))))
    }
    result
  }

  /** Durable touched-row marker: the reference advances a doc's `_seq_no`
    * on ANY write (`metadata/doc/SysColumns.java:49-64` — Lucene assigns
    * a fresh per-op seqNo), INCLUDING an UPDATE that writes identical
    * values — which a content-hash row-diff cannot see. UPDATEs (and
    * upsert-matched rows) on an unpartitioned keyed table therefore
    * record the matched pks under `<table>/_touched/v{N}`; [[seqNoMapDf]]'s
    * patch-forward and [[fullSeqWalk]] advance those rows even when
    * their hash is unchanged. In a TRANSACTION the pks stage in
    * [[txnTouched]] (the version isn't known yet) and [[commitTxn]]
    * writes them under the committed version. Best-effort: an unwritable
    * marker degrades to content-hash semantics for that version. */
  private def markTouched(name: String, touchedRows: DataFrame): Unit = {
    val path = tablePath(name)
    val pk = VersionedTable.primaryKey(spark, path)
    if (pk.isEmpty || VersionedTable.partitionSpec(spark, path).isDefined)
      return
    try {
      val pks = touchedRows
        .select(concat_ws("|", pk.map(c => col(c).cast("string")): _*)
          .as("graft_seq_pk"))
        .distinct()
      txn match {
        case Some(_) =>
          // checkpoint: later statements in the transaction mutate the
          // staged snapshots these pks derive from
          val staged = txnTouched.get(name) match {
            case Some(prev) => prev.union(pks).distinct()
            case None       => pks
          }
          txnTouched(name) = staged.localCheckpoint()
        case None =>
          val v = VersionedTable.latestVersion(spark, path).getOrElse(return)
          pks.write.mode("overwrite").parquet(s"$path/_touched/v$v")
      }
    } catch { case scala.util.control.NonFatal(_) => () }
  }

  private def delete(stmt: Stmt): DataFrame = {
    val ts = translated(stmt.text).sig
    require(ts(0).is("delete") && ts(1).is("from"), "DELETE FROM expected")
    val name = ts(2).text
    val (_, whereToks, retToks) = tailClauses(ts, 3)
    val cond = whereToks.map(w => expr(renderSig(w))).getOrElse(lit(true))
    val needSeq = stmt.text.toLowerCase.contains("__graft_seq_no")
    val (cur0, version) = snapshot(name)
    val cur = if (!needSeq) cur0 else withSeqNo(cur0, name,
      VersionedTable.latestVersion(spark, tablePath(name)).getOrElse(1))
    val (next, deleted) = Dml.delete(cur, cond)
    val pcols = partitionCols(name, cur.schema)
    // the key map answers a key predicate; any other condition tallies,
    // stores no map, and the next keyed statement rebuilds it by a scan
    val km = if (needSeq || retToks.isDefined) None else keyed(name, cur.schema)
    val (n, parts, nextMap) = km.flatMap { case (k, ps) =>
      keyHits(name, version, k, ps, cur.filter(cond)).map { case (m, sel) =>
        (sel.length.toLong, pcols.map(_ => sel.map(_._2).distinct), Some(m -- sel.map(_._1)))
      }
    }.getOrElse {
      val (n, parts) = touchOf(cur.filter(cond), pcols)
      (n, parts, None)
    }
    val result = retToks match {
      case Some(r) =>
        val rt = if (needSeq && !r.exists(_.is("__graft_seq_no")))
          deleted.drop("__graft_seq_no") else deleted
        selectReturning(rt, r).localCheckpoint()
      case None    => summary(n)
    }
    if (n > 0)
      storeKeyMap(name, version,
        writeTable(name, if (needSeq) next.drop("__graft_seq_no") else next, parts), nextMap)
    result
  }

  private def selectReturning(rows: DataFrame, ret: Vector[Tok]): DataFrame =
    if (ret.length == 1 && ret(0).isSym("*")) rows
    else {
      val parts = splitTopCommas(ret).map(p => expr(renderSig(p)))
      rows.select(parts: _*)
    }

  /** Locate top-level WHERE / RETURNING; returns (end-of-SET-list index,
    * where tokens, returning tokens). */
  private def tailClauses(ts: Vector[Tok], from: Int):
      (Int, Option[Vector[Tok]], Option[Vector[Tok]]) = {
    var depth = 0; var w = -1; var r = -1; var k = from
    while (k < ts.length) {
      val t = ts(k)
      if (t.isSym("(")) depth += 1
      else if (t.isSym(")")) depth -= 1
      else if (depth == 0 && t.is("where") && w < 0) w = k
      else if (depth == 0 && t.is("returning") && r < 0) r = k
      k += 1
    }
    val setEnd = if (w >= 0) w else if (r >= 0) r else ts.length
    val whereToks = if (w >= 0) Some(ts.slice(w + 1, if (r >= 0) r else ts.length)) else None
    val retToks = if (r >= 0) Some(ts.slice(r + 1, ts.length)) else None
    (setEnd, whereToks, retToks)
  }

  /** `a = expr, b = expr` (top-level commas, first top-level `=`). */
  private def parseAssignments(v: Vector[Tok]): Seq[(String, Vector[Tok])] =
    splitTopCommas(v).map { part =>
      val eq = part.indexWhere(_.isSym("="))
      require(eq > 0, s"assignment expected in: ${renderSig(part)}")
      (part(eq - 1).text, part.slice(eq + 1, part.length))
    }

  private def splitTopCommas(v: Vector[Tok]): Seq[Vector[Tok]] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Vector[Tok]]
    var depth = 0; var b = Vector.newBuilder[Tok]
    for (t <- v) {
      if (t.isSym("(") || t.isSym("[")) depth += 1
      if (t.isSym(")") || t.isSym("]")) depth -= 1
      if (t.isSym(",") && depth == 0) { out += b.result(); b = Vector.newBuilder[Tok] }
      else b += t
    }
    val l = b.result(); if (l.nonEmpty) out += l
    out.toSeq
  }
}

object StatementRouter {
  import Dialect.Tok

  /** One statement, lexed once: every token — whitespace and comments
    * included, so `text` is exactly their concatenation — and the
    * significant ones the router reads. Resolution, privilege checks,
    * dispatch, the routes and the handlers all read these tokens; a
    * rewrite builds its result with a [[Stmt.Builder]] instead of
    * rendering text and lexing it again. */
  private[graft] final class Stmt private (toks: Vector[Tok]) {
    val text: String = Dialect.render(toks)
    val sig: Vector[Tok] = toks.filter(_.sig)

    /** Index of the object name at `i`, past an `IF [NOT] EXISTS` guard. */
    def nameAt(i: Int): Int =
      if (!sig.lift(i).exists(_.is("if"))) i
      else if (sig.lift(i + 1).exists(_.is("not"))) i + 3
      else i + 2

    /** The relation named at `i` — `a.b` or bare `a`, lower-cased. */
    def relAt(i: Int): Option[String] =
      if (!sig.lift(i).exists(_.isWord)) None
      else if (sig.lift(i + 1).exists(_.isSym(".")) && sig.lift(i + 2).exists(_.isWord))
        Some(s"${unq(sig(i)).toLowerCase}.${unq(sig(i + 2)).toLowerCase}")
      else Some(unq(sig(i)).toLowerCase)

    /** The statement from its `i`-th significant token on (the query of
      * an EXPLAIN or a DECLARE), without trailing whitespace. */
    def from(i: Int): Stmt = {
      val start = toks.indices.filter(k => toks(k).sig).lift(i).getOrElse(toks.length)
      new Stmt(toks.slice(start, toks.lastIndexWhere(_.kind != Dialect.K.Ws) + 1))
    }
  }

  private[graft] object Stmt {
    def apply(text: String): Stmt = new Stmt(Dialect.lex(text))

    /** A script's statements, split on top-level semicolons — literal-safe,
      * since the split walks tokens, never raw text. */
    def script(text: String): Seq[Stmt] = {
      val toks = Dialect.lex(text)
      val cuts = -1 +: toks.indices.filter(toks(_).isSym(";")) :+ toks.length
      cuts.sliding(2).map { case Seq(a, b) => new Stmt(toks.slice(a + 1, b)) }
        .filter(_.text.trim.nonEmpty).toSeq
    }

    /** A rewritten statement: kept tokens and generated SQL fragments,
      * one space apart — the text token rewrites have always rendered. */
    final class Builder {
      private val out = Vector.newBuilder[Tok]
      private var empty = true
      private def add(ts: Vector[Tok]): Unit = {
        if (!empty) out += Tok(Dialect.K.Ws, " ")
        out ++= ts; empty = false
      }
      def keep(t: Tok): Unit = add(Vector(t))
      def gen(sql: String): Unit = add(Dialect.lex(sql))
      def result: Stmt = new Stmt(out.result())
    }
  }

  /** A matched SELECT route's side-effecting half: returns its EXPLAIN
    * label's execution suffix, or None when the route declines after all. */
  private[graft] type Served = () => Option[String]

  /** A declared-index route that matched a SELECT: the statement reading
    * the route's view, its EXPLAIN `route:` label, and the half that
    * builds or loads the index and registers the view. */
  private[graft] final case class Route(stmt: Stmt, label: String, serve: Served)

  private[graft] def unq(t: Tok): String =
    if (t.text.length >= 2 && t.text.head == '\'' && t.text.last == '\'')
      t.text.substring(1, t.text.length - 1).replace("''", "'")
    else if (t.text.length >= 2 && t.text.head == '"' && t.text.last == '"')
      t.text.substring(1, t.text.length - 1)
    else t.text

  /** Monotonic id for per-statement Spark job groups (`KILL` targets). */
  private[graft] val jobSeq = new java.util.concurrent.atomic.AtomicLong(0)
  /** Monotonic id for per-statement temp views — JVM-global so views from
    * different router instances over one SparkSession never collide. */
  private[graft] val viewSeq = new java.util.concurrent.atomic.AtomicLong(0)
  /** How the last declared index a statement resolved (fielded or
    * single-column fulltext, int8 or PQ vector) came to be — "loaded" |
    * "delta" | "full"; "" when the statement resolved none or hit the
    * in-session memo. Set by [[durableIndex]] for each index it resolves,
    * reset per SELECT.
    *
    * All the provenance slots are THREAD-LOCAL: a statement's route is a
    * per-statement fact, and routers sharing one SparkSession execute on
    * their client threads — a JVM-global slot would let a concurrent
    * statement's provenance bleed into another session's EXPLAIN header. */
  private[graft] val lastIndexBuild: ThreadLocal[String] =
    ThreadLocal.withInitial(() => "")
  /** Which knn_match route served the last statement —
    * "stored-index" | "stored-index-filtered" (set only when the stored
    * route fires; the exact Dialect fallback leaves it untouched, so
    * reset before asserting). */
  private[graft] val lastKnnRoute: ThreadLocal[String] =
    ThreadLocal.withInitial(() => "")
  /** Which route [[resolveSelect]] last served a query through —
    * "stored-index[, index …][, probe …]" | "stored-index-filtered…" |
    * "indexed-score[-fielded]-bm25" | "exact". Prepended by EXPLAIN as
    * `route: …`. */
  private[graft] val lastSelectRoute: ThreadLocal[String] =
    ThreadLocal.withInitial(() => "")
  /** Probe width the last filtered stored-knn search ran at — "fixed"
    * (declared nprobe sufficed) | "widened" (the pre-filter left <k
    * candidates in the probed buckets AND more matching rows exist, so
    * the search re-ran over ALL buckets to honor the reference's
    * k-matching-rows guarantee) | "exhausted" (the probed buckets already
    * returned every filter-matching row — fewer than k exist in total, so
    * an all-buckets re-scan could not find more and is skipped). */
  private[graft] val lastKnnProbe: ThreadLocal[String] =
    ThreadLocal.withInitial(() => "")
  /** nprobe the last recall-declared (`WITH (recall = …)`) stored-knn
    * search resolved from its calibration curve; "" when the index
    * declares a fixed nprobe. Spec/catalog observability. */
  private[graft] val lastKnnAutoNprobe: ThreadLocal[String] =
    ThreadLocal.withInitial(() => "")
}
