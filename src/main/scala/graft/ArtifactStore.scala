package graft

import graft.sources.ParquetFooter
import org.apache.spark.sql.SparkSession

/** On-disk home for DYNAMIC-ORACLE model artifacts (VERDICT r11 ask #1).
  *
  * Two catalog entries train a model at run time (q248's classifier
  * weights, q240's k-means centroids) whose exact values the DuckDB
  * oracle must replay. Round 11 carried them across the entry→dump
  * boundary in `@volatile` vars — mutable JVM state whose correctness
  * depended on the entry and the oracle dump sharing one JVM and one
  * ordering, and whose failure mode was a SILENT hash mismatch (the
  * round's one driver-gate red: the dump spliced default weights while
  * the parquet held trained scores).
  *
  * This store replaces that with one persisted artifact per model:
  *  - the ENTRY trains, renders each value to its final string form
  *    exactly once, writes the strings to a parquet artifact here, then
  *    READS THE ARTIFACT BACK and builds its Spark literals from the
  *    read-back strings;
  *  - the ORACLE builder reads the same artifact at dump time and
  *    splices the same strings into the DuckDB SQL.
  * Both engines therefore derive from one on-disk source of truth; a
  * dump in a different JVM (or a re-dump long after the run) still
  * splices the values the persisted model actually used. When the
  * artifact is missing the oracle degrades to a DuckDB `error(...)`
  * call — a LOUD per-entry failure naming the artifact, never silently
  *-wrong VALUES.
  *
  * Location: `graft.Verify` points the store at `<outDir>_artifacts`
  * (a SIBLING of the dump dir — the driver's compare globs every
  * directory inside the dump dir, so artifacts must not live there),
  * making the trained model part of the round's forensic record. Other
  * contexts (specs, Bench) fall back to one temp dir per JVM.
  */
object ArtifactStore {

  val RootProperty = "graft.artifact.dir"

  @volatile private var tmpFallback: String = null

  def root: String = {
    val p = System.getProperty(RootProperty)
    if (p != null && p.nonEmpty) { new java.io.File(p).mkdirs(); p }
    else synchronized {
      if (tmpFallback == null) {
        val f = java.nio.file.Files.createTempDirectory("graft_artifacts")
          .toFile
        // recursive: deleteOnExit would leave the dir once it holds a
        // parquet artifact
        Runtime.getRuntime.addShutdownHook(
          new Thread(() => deleteRec(f), "graft-artifacts-cleanup"))
        tmpFallback = f.getAbsolutePath
      }
      tmpFallback
    }
  }

  private def path(name: String): String = s"$root/$name"

  /** Per-JVM scratch root for catalog-entry router tables and streaming
    * state: one shared directory, recursively deleted at JVM exit
    * (VERDICT r11 ask #7 — the per-entry `Files.createTempDirectory`
    * orphans used to accumulate across a long session). */
  private lazy val scratchRoot: java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory("graft_scratch")
    Runtime.getRuntime.addShutdownHook(
      new Thread(() => deleteRec(p.toFile), "graft-scratch-cleanup"))
    p
  }

  private def deleteRec(f: java.io.File): Unit = {
    val kids = f.listFiles()
    if (kids != null) kids.foreach(deleteRec)
    f.delete(); ()
  }

  /** A fresh scratch directory under the shared, exit-cleaned root —
    * the drop-in replacement for `Files.createTempDirectory` at catalog
    * entry sites. */
  def scratchDir(prefix: String): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory(scratchRoot, prefix)

  /** The fixture dir the CURRENT invocation expects artifacts to have
    * been trained on — set by Verify to its sfDir argument so a stale
    * artifact from an earlier invocation at a different scale factor
    * can never splice silently (VERDICT r12 ask #2). */
  val ExpectSfDirProperty = "graft.artifact.expect.sfdir"

  def expectedSfDir: Option[String] =
    Option(System.getProperty(ExpectSfDirProperty)).filter(_.nonEmpty)

  /** Persists (idx, value-string) model rows plus the fixture dir they
    * were trained on and duckdb-irrelevant writer forensics (wall-clock
    * timestamp, row count). Overwrites — the artifact always describes
    * the latest run, and readers see exactly what was written (value
    * strings round-trip verbatim through parquet). */
  def writePairs(spark: SparkSession, name: String,
                 rows: Seq[(Int, String)], sfDir: String): Unit = {
    import org.apache.spark.sql.functions.lit
    import spark.implicits._
    rows.toDF("idx", "v")
      .withColumn("sf_dir", lit(sfDir))
      .withColumn("written_at", lit(java.time.Instant.now().toString))
      .withColumn("n_rows", lit(rows.size.toLong))
      .coalesce(1)
      .write.mode("overwrite").parquet(path(name))
  }

  /** Reads a persisted artifact back as idx-sorted (idx, value-string)
    * rows; None when the artifact does not exist or no session is
    * available to read it. */
  def readPairs(name: String): Option[Seq[(Int, String)]] = {
    val dir = new java.io.File(path(name))
    if (!dir.isDirectory) return None
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .flatMap { spark =>
        try Some(ParquetFooter.read(spark, dir.getAbsolutePath)
          .select("idx", "v").collect()
          .map(r => (r.getInt(0), r.getString(1))).toSeq.sortBy(_._1))
        catch { case _: Throwable => None }
      }
  }

  /** [[readPairs]] with the staleness guard the store was built for:
    * the persisted `sf_dir` must equal `expectSfDir` on EVERY row, else
    * None — so an oracle splice degrades to the loud [[missingOracle]]
    * error instead of silently replaying a model trained on a different
    * fixture (the one cross-invocation failure mode writePairs records
    * the column for; VERDICT r12 "What's wrong #2"). */
  def readPairs(name: String,
                expectSfDir: String): Option[Seq[(Int, String)]] = {
    val dir = new java.io.File(path(name))
    if (!dir.isDirectory) return None
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .flatMap { spark =>
        try {
          val rows = ParquetFooter.read(spark, dir.getAbsolutePath)
            .select("idx", "v", "sf_dir").collect()
          if (rows.exists(_.getString(2) != expectSfDir)) {
            System.err.println(s"[artifact] '$name' is STALE: trained on " +
              s"'${rows.headOption.map(_.getString(2)).getOrElse("?")}', " +
              s"this invocation expects '$expectSfDir' - ignoring it")
            None
          } else Some(rows.map(r => (r.getInt(0), r.getString(1)))
            .toSeq.sortBy(_._1))
        } catch { case _: Throwable => None }
      }
  }

  /** The oracle-splice read: validates against [[expectedSfDir]] when
    * the invocation declared one (Verify always does), plain read
    * otherwise (specs, ad-hoc sessions). */
  def readPairsForOracle(name: String): Option[Seq[(Int, String)]] =
    expectedSfDir match {
      case Some(d) => readPairs(name, d)
      case None    => readPairs(name)
    }

  /** The loud-failure oracle for a missing artifact: DuckDB's error()
    * raises with the artifact named, so the driver's gate records a
    * diagnosable per-entry error instead of comparing silently-wrong
    * values. */
  def missingOracle(name: String, entry: String): String =
    s"SELECT error('graft artifact \"$name\" missing at oracle-dump " +
      s"time - the $entry entry did not run (or ran against a " +
      "different artifact root) before this dump')"
}
