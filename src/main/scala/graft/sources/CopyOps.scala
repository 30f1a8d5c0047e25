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

  /** The source file of each parsed row, kept on [[Parsed.rows]]. */
  val FileCol = "_file"

  /** One COPY FROM read. `rows` are the good rows in the target schema
    * plus [[FileCol]]; with `firstPerKey`, of the rows repeating a key only
    * the first in file order (file path, then position in the file) — the
    * reference imports a PRIMARY KEY once and fails the later rows.
    * [[summary]] builds RETURN SUMMARY from the rows actually kept, so a
    * caller that filters `rows` further (the existing-key anti-join)
    * derives both the summary and the import from one pass. */
  final class Parsed private[CopyOps] (raw: DataFrame, val rows: DataFrame) {

    /** RETURN SUMMARY per file: a parsed row counts as a success when it is
      * in `kept` (a subset of [[rows]], still carrying [[FileCol]]); every
      * other row of the file, corrupt or skipped, is an error. */
    def summary(kept: DataFrame): DataFrame = {
      val ok = coalesce(col("ok"), lit(0L))
      raw.groupBy(col(FileCol).as("uri"))
        .agg(count(lit(1)).as("rows"),
          slice(collect_list(col(CorruptCol)), 1, 5).as("error_samples"))
        .join(kept.groupBy(col(FileCol).as("uri")).agg(count(lit(1)).as("ok")),
          Seq("uri"), "left")
        .select(col("uri"), ok.as("success_count"), (col("rows") - ok).as("error_count"),
          col("error_samples"))
        .orderBy(col("uri"))
    }

    /** (good rows without bookkeeping cols, RETURN SUMMARY per file). */
    def split: (DataFrame, DataFrame) = (rows.drop(FileCol), summary(rows))
  }

  /** COPY FROM json-lines. Returns (good rows, per-file summary).
    * `schema` is required for a stable error channel (schema-on-read with a
    * corrupt-record column — same contract as the reference's typed target
    * table). Paths may be globs; .gz files decompress transparently. */
  def copyFromJson(spark: SparkSession, schema: StructType, path: String): (DataFrame, DataFrame) =
    readJson(spark, schema, path).split

  /** COPY FROM csv (with header). Same contract as [[copyFromJson]]. */
  def copyFromCsv(spark: SparkSession, schema: StructType, header: Boolean,
                  path: String): (DataFrame, DataFrame) =
    readCsv(spark, schema, header, path).split

  /** COPY FROM json-lines as one [[Parsed]] read (the router's path). */
  def readJson(spark: SparkSession, schema: StructType, path: String,
               firstPerKey: Seq[String] = Nil): Parsed =
    parse(spark.read.schema(withCorrupt(schema))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", CorruptCol)
      .json(path), schema, firstPerKey)

  /** COPY FROM csv as one [[Parsed]] read. */
  def readCsv(spark: SparkSession, schema: StructType, header: Boolean, path: String,
              firstPerKey: Seq[String] = Nil): Parsed =
    parse(spark.read.schema(withCorrupt(schema))
      .option("header", header.toString)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", CorruptCol)
      .csv(path), schema, firstPerKey)

  private def withCorrupt(schema: StructType) =
    StructType(schema.fields :+ StructField(CorruptCol, StringType, nullable = true))

  /** The parsed scan is cached: Spark disallows plans that read ONLY the
    * corrupt-record column from a raw file scan (the summary aggregation
    * would), and the cache also keeps COPY single-pass over the input. */
  private def parse(raw0: DataFrame, schema: StructType, firstPerKey: Seq[String]): Parsed = {
    val raw = raw0.withColumn(FileCol, input_file_name())
      .withColumn("_pos", monotonically_increasing_id()).cache()
    val parsed = raw.filter(col(CorruptCol).isNull)
    val firsts = if (firstPerKey.isEmpty) parsed else {
      val w = Window.partitionBy(firstPerKey.map(col): _*).orderBy(col(FileCol), col("_pos"))
      parsed.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1)
    }
    new Parsed(raw, firsts.select((schema.fieldNames :+ FileCol).map(col).toSeq: _*))
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
