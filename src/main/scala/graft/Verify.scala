package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: only dump queries whose name starts with this
    // prefix (local iteration; the driver always passes two args)
    val prefix = if (args.length > 2) args(2) else ""
    val spark = Engine.session(cbo = false)
    new java.io.File(outDir).mkdirs()
    // dynamic-oracle model artifacts (q248 weights, q240 centroids) live
    // in a SIBLING of the dump dir: part of the round's forensic record,
    // shared by the entry run and the oracle dump below even across
    // separate Verify invocations, and invisible to the driver's
    // per-directory compare of outDir itself (see ArtifactStore).
    System.setProperty(graft.ArtifactStore.RootProperty,
      outDir.stripSuffix("/") + "_artifacts")
    // staleness guard: an artifact trained at a DIFFERENT sfDir (a
    // leftover from an earlier harness invocation) must degrade the
    // oracle loudly, never splice silently (VERDICT r12 ask #2)
    System.setProperty(graft.ArtifactStore.ExpectSfDirProperty, sfDir)
    SparkEntry.queries.filter(_._1.startsWith(prefix)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      Sweep.cleanup(spark)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // engine-version forensics (VERDICT r12 ask #4): if a driver-side
    // hash red ever diverges from a judge-local green again, version
    // skew must be checkable from the round's artifacts alone. The
    // DuckDB side is recorded by tools/check.py next to the compare.
    try Files.writeString(
      Paths.get(s"${graft.ArtifactStore.root}/engine_versions.json"),
      s"""{"spark": "${spark.version}", """ +
        s""""java": "${System.getProperty("java.version")}", """ +
        s""""scala": "${scala.util.Properties.versionNumberString}", """ +
        s""""sf_dir": "$sfDir"}""")
    catch { case _: Throwable => () }
    val oracles = SparkEntry.oracleSql
    val json = oracles
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // forensic copy of the one remaining DYNAMIC oracle (q240, spliced
    // from its ArtifactStore model at dump time; q248 is static since
    // r13): even if a later dump overwrites oracle_sql.json, the exact
    // SQL this run spliced stays beside the model artifact it was
    // spliced from (VERDICT r11 ask #1)
    for (name <- Seq("q240_semdedup_auto")) {
      oracles.get(name).foreach { sql =>
        try Files.writeString(
          Paths.get(s"${graft.ArtifactStore.root}/${name}_spliced.sql"), sql)
        catch { case _: Throwable => () }
      }
    }
    spark.stop()
  }
}
