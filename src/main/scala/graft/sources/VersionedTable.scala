package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Minimal multi-version table format: snapshot isolation + time travel on
  * plain Parquet, the lakehouse commit protocol the reference gets from its
  * Lucene translog (`TransportShardUpsertAction.java:91`) and that a
  * single-version directory swap cannot give (a reader racing the swap
  * re-lists the directory mid-rename).
  *
  * Layout:
  * {{{
  *   table/
  *     data/v00001/part-*.parquet     (immutable once committed)
  *     data/v00002/part-*.parquet
  *     _manifests/v00001.manifest     (one line: the data dir of the version)
  *     _manifests/v00002.manifest
  * }}}
  *
  * Invariants:
  *  - data dirs are write-once; a version's files never change after its
  *    manifest exists → readers pin a snapshot by resolving ONE manifest
  *    and never re-list;
  *  - a commit is the atomic rename of `v{n}.manifest.tmp` → `v{n}.manifest`
  *    (single-file rename — atomic on HDFS/local/ABFS; on S3 use a
  *    rename-capable committer or a DynamoDB-style log, documented);
  *  - a crash before the manifest rename leaves an orphan data dir that no
  *    reader ever sees; `vacuum` collects it.
  *
  * Concurrency: last-manifest-wins for writers (no optimistic-conflict
  * detection — single-writer-per-table is the supported mode, like the
  * reference's primary-shard write path); readers are fully isolated.
  */
object VersionedTable {

  private def fs(spark: SparkSession): FileSystem =
    FileSystem.get(spark.sparkContext.hadoopConfiguration)

  private def manifestDir(path: String) = new Path(path, "_manifests")

  // ---------- bucketing (CLUSTERED BY) ----------

  /** `CLUSTERED BY (cols) INTO n SHARDS` carried onto the versioned
    * substrate (reference `DocTableInfo.clusteredBy` — same-key rows on the
    * same shard). Spark's twin is a bucketed table; bucket metadata lives
    * in the session catalog, so each version's data dir is written through
    * an external catalog table (`bucketBy` cannot target a bare path) and
    * readers re-register that entry when absent (fresh session). Joins on
    * the clustering key between co-bucketed tables then plan shuffle-free.
    */
  final case class BucketSpec(numBuckets: Int, cols: Seq[String])

  private def bucketSpecFile(path: String) = new Path(path, "_bucketspec")

  /** Record the clustering for all future commits at `path` (call before
    * the first commit; CREATE TABLE does). */
  def setBucketSpec(spark: SparkSession, path: String, spec: BucketSpec): Unit = {
    val f = fs(spark)
    f.mkdirs(new Path(path))
    val out = f.create(bucketSpecFile(path), true)
    out.write(s"${spec.numBuckets}\t${spec.cols.mkString(",")}".getBytes("UTF-8"))
    out.close()
  }

  def bucketSpec(spark: SparkSession, path: String): Option[BucketSpec] = {
    val f = fs(spark)
    val p = bucketSpecFile(path)
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      val bytes = new Array[Byte](in.available())
      in.readFully(bytes); in.close()
      val Array(n, cols) = new String(bytes, "UTF-8").trim.split("\t", 2)
      Some(BucketSpec(n.toInt, cols.split(",").toSeq))
    }
  }

  // ---------- partitioning (PARTITIONED BY) ----------

  /** `PARTITIONED BY (cols)` carried onto the versioned substrate
    * (reference `DocTableInfo.partitionedBy` — one Lucene index per
    * partition value; the Spark twin is value-partitioned Parquet, which
    * Catalyst prunes from WHERE clauses for free). The spec stores the
    * FULL column schema alongside the partition columns: partitioned
    * parquet moves partition columns to the end of the inferred schema
    * and loses them entirely on an empty table, so reads supply the
    * stored schema explicitly — order, types and empty-table behaviour
    * all stay identical to an unpartitioned table. A commit whose schema
    * differs from the stored one rewrites the spec, so ALTER TABLE schema
    * changes propagate (older versions read missing columns as NULL, the
    * lakehouse norm); an unchanged schema leaves the file alone. */
  final case class PartitionSpec(cols: Seq[String], schemaDdl: String)

  private def partitionSpecFile(path: String) = new Path(path, "_partitionspec")

  def setPartitionSpec(spark: SparkSession, path: String, spec: PartitionSpec): Unit = {
    val f = fs(spark)
    f.mkdirs(new Path(path))
    val out = f.create(partitionSpecFile(path), true)
    out.write(s"${spec.cols.mkString(",")}\t${spec.schemaDdl}".getBytes("UTF-8"))
    out.close()
  }

  def partitionSpec(spark: SparkSession, path: String): Option[PartitionSpec] = {
    val f = fs(spark)
    val p = partitionSpecFile(path)
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      val bytes = new Array[Byte](in.available())
      in.readFully(bytes); in.close()
      val Array(cols, ddl) = new String(bytes, "UTF-8").split("\t", 2)
      Some(PartitionSpec(cols.split(",").toSeq.filter(_.nonEmpty), ddl))
    }
  }

  // ---------- primary key ----------

  private def pkSpecFile(path: String) = new Path(path, "_pkspec")

  /** Declared PRIMARY KEY columns (reference `DocTableInfo.primaryKey`,
    * `docs/general/ddl/constraints.rst`). Parquet enforces no uniqueness —
    * like the reference this is routing/identity metadata: SHOW CREATE
    * TABLE renders it back, and the indexed `_score` route joins scored
    * doc ids to base rows through it. */
  def setPrimaryKey(spark: SparkSession, path: String, cols: Seq[String]): Unit = {
    val f = fs(spark)
    f.mkdirs(new Path(path))
    val out = f.create(pkSpecFile(path), true)
    out.write(cols.mkString(",").getBytes("UTF-8"))
    out.close()
  }

  def primaryKey(spark: SparkSession, path: String): Seq[String] = {
    val f = fs(spark)
    val p = pkSpecFile(path)
    if (!f.exists(p)) Nil
    else {
      val in = f.open(p)
      val bytes = new Array[Byte](in.available())
      in.readFully(bytes); in.close()
      new String(bytes, "UTF-8").trim.split(",").toSeq.filter(_.nonEmpty)
    }
  }

  /** One declared fulltext index (reference `CREATE TABLE … INDEX name
    * USING FULLTEXT (cols) WITH (analyzer = '…')`, FulltextIndexer.java):
    * durable table metadata, like the bucket spec — SHOW CREATE TABLE
    * reproduces the clause, and index builds resolve the analyzer by name
    * through [[graft.operators.MatchText.Analyzer.byName]]. */
  final case class IndexSpec(name: String, cols: Seq[String], analyzer: String)

  private def indexSpecFile(path: String) = new Path(path, "_indexspec")

  /** Record the declared fulltext indexes for the table at `path`. */
  def setIndexSpecs(spark: SparkSession, path: String, specs: Seq[IndexSpec]): Unit = {
    val f = fs(spark)
    f.mkdirs(new Path(path))
    val out = f.create(indexSpecFile(path), true)
    out.write(specs.map(s => s"${s.name}\t${s.cols.mkString(",")}\t${s.analyzer}")
      .mkString("\n").getBytes("UTF-8"))
    out.close()
  }

  def indexSpecs(spark: SparkSession, path: String): Seq[IndexSpec] = {
    val f = fs(spark)
    val p = indexSpecFile(path)
    if (!f.exists(p)) Nil
    else {
      val in = f.open(p)
      val bytes = new Array[Byte](in.available())
      in.readFully(bytes); in.close()
      new String(bytes, "UTF-8").split("\n").toSeq.filter(_.nonEmpty).map { line =>
        val Array(n, cols, an) = line.split("\t", 3)
        IndexSpec(n, cols.split(",").toSeq, an)
      }
    }
  }

  /** Declared row constraints (reference `docs/general/ddl/
    * generated-columns.rst`, `constraints.rst`; AnalyzedColumnDefinition
    * carries the same three classes): generated-column expressions, CHECK
    * constraints, NOT NULL columns. Durable table metadata like the bucket
    * and index specs — enforced by the router on INSERT/UPDATE, rendered
    * back by SHOW CREATE TABLE. Expressions are stored as translated
    * Spark SQL text (the CrateDB original is kept for error messages). */
  final case class ConstraintSpec(
      generated: Seq[(String, String, String)], // (col, sparkExpr, crateExpr)
      checks: Seq[(String, String, String)],    // (name, sparkExpr, crateExpr)
      notNull: Seq[String],
      defaults: Seq[(String, String, String)] = Nil) // (col, sparkExpr, crateExpr)

  private def constraintSpecFile(path: String) = new Path(path, "_constraintspec")
  private val FS = "" // field separator — safe inside SQL text

  def setConstraintSpec(spark: SparkSession, path: String, spec: ConstraintSpec): Unit = {
    val f = fs(spark)
    f.mkdirs(new Path(path))
    val lines =
      spec.generated.map { case (c, s, o) => s"G$FS$c$FS$s$FS$o" } ++
      spec.checks.map { case (n, s, o) => s"C$FS$n$FS$s$FS$o" } ++
      spec.notNull.map(c => s"N$FS$c") ++
      spec.defaults.map { case (c, s, o) => s"D$FS$c$FS$s$FS$o" }
    val out = f.create(constraintSpecFile(path), true)
    out.write(lines.mkString("\n").getBytes("UTF-8"))
    out.close()
  }

  def constraintSpec(spark: SparkSession, path: String): Option[ConstraintSpec] = {
    val f = fs(spark)
    val p = constraintSpecFile(path)
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      val bytes = new Array[Byte](in.available())
      in.readFully(bytes); in.close()
      val lines = new String(bytes, "UTF-8").split("\n").toSeq.filter(_.nonEmpty)
      val g = lines.filter(_.startsWith("G")).map { l =>
        val a = l.split(FS, 4); (a(1), a(2), a(3)) }
      val c = lines.filter(_.startsWith("C")).map { l =>
        val a = l.split(FS, 4); (a(1), a(2), a(3)) }
      val n = lines.filter(_.startsWith("N")).map(_.split(FS, 2)(1))
      val d = lines.filter(_.startsWith("D")).map { l =>
        val a = l.split(FS, 4); (a(1), a(2), a(3)) }
      Some(ConstraintSpec(g, c, n, d))
    }
  }

  /** Durable `ALTER TABLE … SET (k = v)` table settings (reference
    * `AlterTablePlan.java` persists them into the table metadata;
    * SHOW CREATE TABLE renders the WITH clause back). */
  private def settingsFile(path: String) = new Path(path, "_tablesettings")

  def setTableSettings(spark: SparkSession, path: String,
                       settings: Map[String, String]): Unit = {
    val f = fs(spark)
    if (settings.isEmpty) { f.delete(settingsFile(path), false); return }
    f.mkdirs(new Path(path))
    val out = f.create(settingsFile(path), true)
    out.write(settings.toSeq.sortBy(_._1).map { case (k, v) => s"$k\t$v" }
      .mkString("\n").getBytes("UTF-8"))
    out.close()
  }

  def tableSettings(spark: SparkSession, path: String): Map[String, String] = {
    val f = fs(spark)
    val p = settingsFile(path)
    if (!f.exists(p)) Map.empty
    else {
      val in = f.open(p)
      val bytes = new Array[Byte](in.available())
      in.readFully(bytes); in.close()
      new String(bytes, "UTF-8").split("\n").filter(_.nonEmpty).map { line =>
        val Array(k, v) = line.split("\t", 2)
        k -> v
      }.toMap
    }
  }

  /** Catalog identifier for one version's external bucketed table — derived
    * from the table path so concurrent tests/roots cannot collide. */
  private def catalogName(path: String, version: Int): String = {
    val base = new Path(path).getName.replaceAll("[^A-Za-z0-9_]", "_")
    val h = Integer.toHexString(path.hashCode)
    f"graft_vt_${base}_${h}_v$version%05d"
  }

  private def ensureCatalogEntry(spark: SparkSession, path: String, version: Int,
                                 dataDir: String, spec: BucketSpec): String = {
    val name = catalogName(path, version)
    if (!spark.catalog.tableExists(name)) {
      val schema = ParquetFooter.schema(spark, dataDir).toDDL
      spark.sql(
        s"""CREATE TABLE $name ($schema) USING parquet
           |CLUSTERED BY (${spec.cols.mkString(", ")})
           |INTO ${spec.numBuckets} BUCKETS
           |LOCATION '$dataDir'""".stripMargin)
    }
    name
  }

  private def versionOf(p: Path): Option[Int] = {
    val n = p.getName
    if (n.endsWith(".manifest")) n.stripSuffix(".manifest").stripPrefix("v").toIntOption
    else None
  }

  /** All committed versions, ascending. */
  def versions(spark: SparkSession, path: String): Seq[Int] = {
    val f = fs(spark)
    val md = manifestDir(path)
    if (!f.exists(md)) Seq.empty
    else f.listStatus(md).toSeq.flatMap(s => versionOf(s.getPath)).sorted
  }

  def latestVersion(spark: SparkSession, path: String): Option[Int] =
    versions(spark, path).lastOption

  /** The size one written file aims at: commits and OPTIMIZE cut their
    * input into this many bytes per write task. */
  val TargetFileBytes: Long = 128L * 1024 * 1024

  /** Write tasks for `df`: ceil(plan bytes / [[TargetFileBytes]]), clamped
    * to [1, Int.MaxValue] (a join's default size estimate is the product
    * of its children's, far past the Int range). */
  def writeTasks(df: DataFrame): Int = {
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    ((bytes + TargetFileBytes - 1) / TargetFileBytes).max(1).min(Int.MaxValue).toInt
  }

  /** `df` coalesced to [[writeTasks]] tasks, without a shuffle: a commit
    * writes files sized by its input, where one task per input file would
    * leave a few rows in each of many small files. */
  private def sized(df: DataFrame): DataFrame = df.coalesce(writeTasks(df))

  /** Store `df`'s schema in the partition spec `ps` when it differs. */
  private def refreshSchema(spark: SparkSession, path: String, ps: PartitionSpec,
                            df: DataFrame): Unit = {
    val ddl = df.schema.toDDL
    if (ddl != ps.schemaDdl) setPartitionSpec(spark, path, ps.copy(schemaDdl = ddl))
  }

  /** Commit `df` as the next version; returns the committed version number.
    * The data write happens BEFORE any metadata changes; the single-file
    * manifest rename is the commit point. */
  def commit(spark: SparkSession, path: String, input: DataFrame): Int = {
    val df = sized(input)
    val f = fs(spark)
    val next = latestVersion(spark, path).getOrElse(0) + 1
    val dataDir = new Path(path, f"data/v$next%05d")
    val pSpec = partitionSpec(spark, path)
    // keep the stored read-schema current: partitioned reads supply it
    // explicitly, so schema evolution must land here too
    pSpec.foreach(refreshSchema(spark, path, _, df))
    bucketSpec(spark, path) match {
      case Some(spec) =>
        // bucketed write: bucket metadata must live in the catalog, so the
        // version is written through an external table at the data dir
        val w0 = df.write.mode("error").option("path", dataDir.toString)
        val w1 = pSpec.map(ps => w0.partitionBy(ps.cols: _*)).getOrElse(w0)
        w1.bucketBy(spec.numBuckets, spec.cols.head, spec.cols.tail: _*)
          .sortBy(spec.cols.head, spec.cols.tail: _*)
          .format("parquet").saveAsTable(catalogName(path, next))
      case None =>
        pSpec match {
          case Some(ps) =>
            df.write.mode("error").partitionBy(ps.cols: _*).parquet(dataDir.toString)
          case None =>
            df.write.mode("error").parquet(dataDir.toString)
        }
    }
    require(f.exists(new Path(dataDir, "_SUCCESS")),
      s"versioned commit aborted: data write $dataDir did not complete")
    val md = manifestDir(path)
    f.mkdirs(md)
    val tmp = new Path(md, f"v$next%05d.manifest.tmp")
    val fin = new Path(md, f"v$next%05d.manifest")
    val out = f.create(tmp, true)
    out.write(dataDir.toString.getBytes("UTF-8"))
    out.close()
    if (!f.rename(tmp, fin))
      throw new java.io.IOException(s"versioned commit: manifest rename failed for v$next")
    next
  }

  private def dataDirFor(spark: SparkSession, path: String, version: Int): String = {
    val f = fs(spark)
    val m = new Path(manifestDir(path), f"v$version%05d.manifest")
    require(f.exists(m), s"version $version does not exist at $path")
    val in = f.open(m)
    val bytes = new Array[Byte](in.available())
    in.readFully(bytes); in.close()
    val stored = new String(bytes, "UTF-8").split("\n").head.trim
    // manifests record the data dir absolute at commit time, but the
    // layout under the table root is fixed — resolving against the CURRENT
    // path keeps every version readable after `ALTER TABLE … RENAME TO`
    // (a pure directory move)
    val rel = new Path(path, f"data/v$version%05d")
    if (f.exists(rel)) rel.toString else stored
  }

  /** All data-directory entries of a version's manifest, resolved against
    * the CURRENT table root (rename-safe like [[dataDirFor]]). A classic
    * manifest has one entry — the version's own data dir. A
    * partition-granular commit ([[commitPartial]]) lists the new version's
    * dir plus every carried-forward partition directory of the previous
    * snapshot, Iceberg-manifest style. */
  def manifestEntries(spark: SparkSession, path: String, version: Int): Seq[String] = {
    val f = fs(spark)
    val m = new Path(manifestDir(path), f"v$version%05d.manifest")
    require(f.exists(m), s"version $version does not exist at $path")
    val in = f.open(m)
    val bytes = new Array[Byte](in.available())
    in.readFully(bytes); in.close()
    new String(bytes, "UTF-8").split("\n").toSeq.map(_.trim).filter(_.nonEmpty)
      .map { line =>
        if (line.startsWith("data/")) new Path(path, line).toString
        else {
          val idx = line.indexOf("/data/v")
          val rel = if (idx >= 0) new Path(path, line.substring(idx + 1))
                    else new Path(line)
          if (f.exists(rel)) rel.toString else line
        }
      }
  }

  /** Every partition directory a version's snapshot is made of, as
    * (relative partition name like `a=1/b=2`, absolute dir). Resolves
    * whole-version entries by walking the value-partitioned layout and
    * carried partition entries directly. Empty for unpartitioned tables. */
  def partitionDirs(spark: SparkSession, path: String, version: Int): Seq[(String, String)] = {
    val f = fs(spark)
    val n = partitionSpec(spark, path).map(_.cols.length).getOrElse(0)
    if (n == 0) return Seq.empty
    def partDepth(p: Path): Int = {
      var c = 0; var cur = p
      while (cur != null && cur.getName.contains("=")) { c += 1; cur = cur.getParent }
      c
    }
    def relName(p: Path, k: Int): String = {
      val segs = new Array[String](k); var cur = p
      var i = k - 1
      while (i >= 0) { segs(i) = cur.getName; cur = cur.getParent; i -= 1 }
      segs.mkString("/")
    }
    def walk(base: Path, depth: Int): Seq[Path] =
      if (depth == 0) Seq(base)
      else if (!f.exists(base)) Seq.empty
      else f.listStatus(base).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.contains("="))
        .flatMap(s => walk(s.getPath, depth - 1))
    manifestEntries(spark, path, version).flatMap { e =>
      val p = new Path(e)
      val k = partDepth(p)
      if (k >= n) Seq(relName(p, n) -> e)
      else walk(p, n).map(d => relName(d, n) -> d.toString)
    }
  }

  /** Partition-granular copy-on-write commit (reference: a partitioned
    * table is one Lucene index PER PARTITION, and DML touches only the
    * partitions its WHERE selects — `DocTableInfo.partitionedBy`). Writes
    * only the `touched` partitions of `df` into the next version's data
    * dir and carries every other partition of the previous snapshot
    * forward BY REFERENCE in the manifest: at 100 TB, an UPDATE of one
    * day's partition moves that partition's bytes, not the table's. The
    * partition filter prunes the read side too — untouched partitions are
    * neither read nor written.
    *
    * `touched` lists the distinct partition-column value tuples the DML
    * affects (values ordered like `partitionSpec.cols`; null allowed) and
    * must cover every partition whose content changes — the router falls
    * back to a full [[commit]] when a SET assigns a partition column (a
    * row could MOVE across partitions). An empty `touched` commits a
    * pure-reference manifest (version bump, zero data movement). */
  def commitPartial(spark: SparkSession, path: String, df: DataFrame,
                    touched: Seq[Seq[Any]]): Int = {
    import org.apache.spark.sql.functions.{col, lit}
    val f = fs(spark)
    val ps = partitionSpec(spark, path).getOrElse(
      throw new IllegalArgumentException(s"commitPartial: $path is not partitioned"))
    require(bucketSpec(spark, path).isEmpty,
      "commitPartial: bucketed tables commit whole versions")
    require(touched.forall(_.length == ps.cols.length),
      s"commitPartial: partition tuples must match ${ps.cols}")
    val prev = latestVersion(spark, path)
    val next = prev.getOrElse(0) + 1
    refreshSchema(spark, path, ps, df)

    def dirName(vals: Seq[Any]): String =
      ps.cols.zip(vals).map { case (c, v) =>
        val s =
          if (v == null) "__HIVE_DEFAULT_PARTITION__"
          else org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
            .escapePathName(v.toString)
        s"$c=$s"
      }.mkString("/")
    val touchedNames = touched.map(dirName).toSet

    val entries = scala.collection.mutable.ArrayBuffer.empty[String]
    if (touched.nonEmpty) {
      val dataDir = new Path(path, f"data/v$next%05d")
      val cond = touched.map(vals =>
        ps.cols.zip(vals).map { case (c, v) =>
          if (v == null) col(c).isNull else col(c) === lit(v)
        }.reduce(_ && _)).reduce(_ || _)
      sized(df.filter(cond)).write.mode("error")
        .partitionBy(ps.cols: _*).parquet(dataDir.toString)
      require(f.exists(new Path(dataDir, "_SUCCESS")),
        s"versioned commit aborted: data write $dataDir did not complete")
      entries += f"data/v$next%05d"
    }
    prev.foreach { pv =>
      partitionDirs(spark, path, pv).foreach { case (nm, dir) =>
        if (!touchedNames.contains(nm)) {
          val idx = dir.indexOf("/data/v")
          entries += (if (idx >= 0) dir.substring(idx + 1) else dir)
        }
      }
    }
    val md = manifestDir(path)
    f.mkdirs(md)
    val tmp = new Path(md, f"v$next%05d.manifest.tmp")
    val fin = new Path(md, f"v$next%05d.manifest")
    val out = f.create(tmp, true)
    out.write(entries.mkString("\n").getBytes("UTF-8"))
    out.close()
    if (!f.rename(tmp, fin))
      throw new java.io.IOException(s"versioned commit: manifest rename failed for v$next")
    next
  }

  /** Rows of a committed version, summed from the Parquet footers of the
    * files its manifest lists, read on the driver: no job. */
  def rowCount(spark: SparkSession, path: String, version: Int): Long =
    manifestEntries(spark, path, version)
      .map(e => ParquetFooter.stats(spark, e).rowCount.getOrElse(BigInt(0))).sum.toLong

  /** Read the latest committed snapshot. */
  def read(spark: SparkSession, path: String): DataFrame = {
    val v = latestVersion(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no committed versions at $path"))
    readVersion(spark, path, v)
  }

  /** Time travel: read an exact committed version. Bucketed tables read
    * through their catalog entry (re-registered if the session is fresh)
    * so the clustering survives into join planning. */
  def readVersion(spark: SparkSession, path: String, version: Int): DataFrame = {
    val dataDir = dataDirFor(spark, path, version)
    bucketSpec(spark, path) match {
      case Some(spec) =>
        spark.table(ensureCatalogEntry(spark, path, version, dataDir, spec))
      case None =>
        partitionSpec(spark, path) match {
          case Some(ps) =>
            // memoized like the unpartitioned read below; the key carries
            // the spec text, so a schema change reads afresh
            val spec = s"${ps.cols.mkString(",")}\t${ps.schemaDdl}"
            graft.Memo(spark, s"read#$path#v$version#$spec") {
              // the stored schema pins column types and keeps empty tables
              // full-width; the final select pins the declared column ORDER
              // (Spark always reports partition columns last). A plain
              // attribute select does not block partition pruning.
              val schema = org.apache.spark.sql.types.StructType.fromDDL(ps.schemaDdl)
              // a partition-granular manifest mixes dirs from several
              // version bases; each base gets ONE scan (basePath keeps
              // native partition-value parsing and pruning), unioned
              def ownerBase(e: String): String = {
                var cur = new Path(e)
                while (cur.getName.contains("=")) cur = cur.getParent
                cur.toString
              }
              val scans = manifestEntries(spark, path, version).groupBy(ownerBase).toSeq
                .sortBy(_._1)
                .map { case (b, dirs) =>
                  spark.read.schema(schema).option("basePath", b)
                    .parquet(dirs: _*)
                }
              val base =
                if (scans.isEmpty)
                  spark.createDataFrame(
                    spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
                else scans.reduce(_ unionByName _)
              base.select(schema.fieldNames.map(org.apache.spark.sql.functions.col)
                .toSeq: _*)
            }
          case None =>
            // a committed version's data dir is immutable (copy-on-write;
            // vacuum removes whole dirs, never rewrites them), so the
            // resolved scan — file listing + footer schema, paid per
            // registerViews per statement otherwise — is reusable.
            // Bucketed reads stay per-call: they resolve a catalog entry.
            // The immutability holds for commits, not for whole-directory
            // surgery: DROP TABLE, ALTER RENAME, ALTER CLUSTER SWAP TABLE
            // and vacuum invalidate every memo key naming the table path.
            graft.Memo(spark, s"read#$dataDir")(ParquetFooter.read(spark, dataDir))
        }
    }
  }

  /** Copy-on-write DML on the versioned table: apply `f` to the latest
    * snapshot and commit the result as a new version. */
  def transact(spark: SparkSession, path: String, f: DataFrame => DataFrame): Int =
    commit(spark, path, f(read(spark, path)))

  /** Remove every catalog entry this table's bucketed versions registered
    * (call before deleting the table root — a later CREATE TABLE at the
    * same path would otherwise resolve a stale entry). */
  def dropCatalogEntries(spark: SparkSession, path: String): Unit = {
    graft.Memo.invalidate(_.contains(path))
    versions(spark, path).foreach { v =>
      spark.sql(s"DROP TABLE IF EXISTS ${catalogName(path, v)}")
    }
  }

  /** Drop data + manifests of all but the newest `keep` versions, plus any
    * orphan data dirs from crashed commits (dirs without a manifest).
    * Partition-granular manifests ([[commitPartial]]) may reference OLD
    * version dirs by carried partition entries — a version data dir is
    * only deleted when no kept manifest references any dir under it. */
  def vacuum(spark: SparkSession, path: String, keep: Int = 2): Unit = {
    graft.Memo.invalidate(_.contains(path))
    val f = fs(spark)
    val vs = versions(spark, path)
    val keepVs = vs.takeRight(math.max(keep, 1))
    def ownerVersionName(e: String): String = {
      var cur = new Path(e)
      while (cur.getName.contains("=")) cur = cur.getParent
      cur.getName
    }
    val referenced: Set[String] = keepVs
      .flatMap(v => manifestEntries(spark, path, v).map(ownerVersionName)).toSet
    val dead = vs.dropRight(math.max(keep, 1))
    dead.foreach { v =>
      spark.sql(s"DROP TABLE IF EXISTS ${catalogName(path, v)}")
      f.delete(new Path(manifestDir(path), f"v$v%05d.manifest"), false)
      if (!referenced.contains(f"v$v%05d"))
        f.delete(new Path(path, f"data/v$v%05d"), true)
    }
    // orphans: data dirs no kept manifest references
    val live = referenced ++ keepVs.map(v => f"v$v%05d")
    val dataRoot = new Path(path, "data")
    if (f.exists(dataRoot))
      f.listStatus(dataRoot).foreach { s =>
        if (!live.contains(s.getPath.getName)) f.delete(s.getPath, true)
      }
  }
}
