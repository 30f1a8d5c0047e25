package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** `COPY FROM` / `COPY TO` (SURVEY.md §2.2).
  *
  * Reference semantics: `COPY t FROM path` ingests json-lines or csv, with
  * glob support and a `RETURN SUMMARY` error channel
  * (`server/src/main/java/io/crate/execution/engine/collect/files/FileReadingIterator.java`,
  * `analyze/AnalyzedCopyFromReturnSummary.java`); `COPY t TO` writes
  * json-lines/csv, optionally gzipped
  * (`execution/dsl/projection/WriterProjection.java:45`).
  *
  * Spark-first: `spark.read.json/csv` already does distributed globbed,
  * gzip-transparent reads. The summary channel maps onto PERMISSIVE mode's
  * corrupt-record column + `input_file_name()` — per-file good/bad counts
  * come from one aggregation, no driver-side file loop.
  */
object CopyOps {

  val CorruptCol = "_corrupt_record"

  /** COPY FROM json-lines. Returns (good rows, per-file summary).
    * `schema` is required for a stable error channel (schema-on-read with a
    * corrupt-record column — same contract as the reference's typed target
    * table). Paths may be globs; .gz files decompress transparently. */
  def copyFromJson(spark: SparkSession, schema: StructType, path: String,
                   firstPerKey: Seq[String] = Nil,
                   existing: Option[DataFrame] = None): (DataFrame, DataFrame) = {
    val withCorrupt = StructType(schema.fields :+ StructField(CorruptCol, StringType, nullable = true))
    val raw = spark.read
      .schema(withCorrupt)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", CorruptCol)
      .json(path)
    split(raw, schema, firstPerKey, existing)
  }

  /** COPY FROM csv (with header). Same contract as [[copyFromJson]]. */
  def copyFromCsv(spark: SparkSession, schema: StructType, header: Boolean, path: String,
                  firstPerKey: Seq[String] = Nil,
                  existing: Option[DataFrame] = None): (DataFrame, DataFrame) = {
    val withCorrupt = StructType(schema.fields :+ StructField(CorruptCol, StringType, nullable = true))
    val raw = spark.read
      .schema(withCorrupt)
      .option("header", header.toString)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", CorruptCol)
      .csv(path)
    split(raw, schema, firstPerKey, existing)
  }

  /** (good rows without bookkeeping cols, RETURN SUMMARY per file).
    * The parsed scan is cached: Spark disallows plans that read ONLY the
    * corrupt-record column from a raw file scan (the summary aggregation
    * would), and the cache also keeps COPY single-pass over the input.
    * With `firstPerKey`, good rows repeating a key keep only the first in
    * file order (file path, then position in the file) — the reference
    * imports a PRIMARY KEY once and fails the later rows. The summary then
    * counts a parsed row as a success only when it is that first row and
    * `existing` (the target table) does not hold its key; the other rows
    * count as errors, as in the reference. */
  private def split(raw0: DataFrame, schema: StructType, firstPerKey: Seq[String],
                    existing: Option[DataFrame]): (DataFrame, DataFrame) = {
    val raw = raw0.withColumn("_file", input_file_name())
      .withColumn("_pos", monotonically_increasing_id()).cache()
    val parsed = raw.filter(col(CorruptCol).isNull)
    val firsts = if (firstPerKey.isEmpty) parsed else {
      val w = Window.partitionBy(firstPerKey.map(col): _*).orderBy(col("_file"), col("_pos"))
      parsed.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1)
    }
    val good = firsts.select(schema.fieldNames.map(col).toSeq: _*)
    val kept =
      if (firstPerKey.isEmpty) firsts else existing.fold(firsts)(Dml.absent(_, firsts, firstPerKey))
    val ok = coalesce(col("ok"), lit(0L))
    val summary = raw.groupBy(col("_file").as("uri"))
      .agg(count(lit(1)).as("rows"),
        slice(collect_list(col(CorruptCol)), 1, 5).as("error_samples"))
      .join(kept.groupBy(col("_file").as("uri")).agg(count(lit(1)).as("ok")),
        Seq("uri"), "left")
      .select(col("uri"), ok.as("success_count"), (col("rows") - ok).as("error_count"),
        col("error_samples"))
      .orderBy(col("uri"))
    (good, summary)
  }

  /** COPY TO json-lines; gzip optional (reference formats :67-68). */
  def copyToJson(df: DataFrame, path: String, gzip: Boolean = false): Unit = {
    val w = df.write.mode("overwrite")
    (if (gzip) w.option("compression", "gzip") else w).json(path)
  }

  def copyToCsv(df: DataFrame, path: String, gzip: Boolean = false, header: Boolean = true): Unit = {
    val w = df.write.mode("overwrite").option("header", header.toString)
    (if (gzip) w.option("compression", "gzip") else w).csv(path)
  }

  /** COPY TO in the engine-native columnar format, optionally
    * value-partitioned (`COPY (query) TO dir WITH (format = parquet)
    * PARTITION BY (col)`): what a pipeline stage hands to the next one.
    * Partition columns become directory keys → downstream scans prune. */
  def copyToParquet(df: DataFrame, path: String,
                    partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
  }
}
