package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.CatalogStatistics
import org.apache.spark.sql.execution.datasources.parquet.{
  ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

import scala.jdk.CollectionConverters._

/** Table metadata from Parquet footers, read on the driver.
  *
  * `spark.read.parquet(p)` infers its schema by reading one footer (with
  * `mergeSchema` off) inside a Spark job, and `ANALYZE TABLE … COMPUTE
  * STATISTICS` scans every row for a count the footers already hold. Both
  * are metadata work; here the driver opens the footer itself. The schema
  * comes from the same file Spark's inference picks (the first data file
  * by path, `_`/`.` files skipped) through Spark's own
  * `readSchemaFromFooter` and session-configured converter, so the stored
  * Spark schema is preferred and `nanosAsLong`, binary-as-string, INT96 and
  * NTZ inference behave as in `spark.read.parquet`. Whatever this reader
  * does not mirror (summary files, `mergeSchema`, a glob, a path without a
  * readable data file) goes to `spark.read.parquet`, so results and errors
  * stay Spark's. The reference planner likewise reads table statistics from
  * metadata (`TableStatsService.java:101`).
  */
object ParquetFooter {

  /** The schema `spark.read.parquet(path)` reports, partition columns
    * included, without its inference job. */
  def schema(spark: SparkSession, path: String): StructType = read(spark, path).schema

  /** `spark.read.parquet(paths: _*)` with the footer schema supplied. */
  def read(spark: SparkSession, paths: String*): DataFrame =
    footerSchema(spark, paths) match {
      case Some(s) => spark.read.schema(s).parquet(paths: _*)
      case None    => spark.read.parquet(paths: _*)
    }

  /** What `ANALYZE TABLE … COMPUTE STATISTICS` stores for a table at
    * `path`: the bytes of its data files and the sum of their footers' row
    * counts. */
  def stats(spark: SparkSession, path: String): CatalogStatistics = {
    val conf = spark.sessionState.newHadoopConf()
    val files = listed(conf, path).filterNot(isSummary)
    val rows = files.map(f =>
      footer(conf, f, ParquetMetadataConverter.NO_FILTER).getBlocks.asScala
        .map(_.getRowCount).sum).sum
    CatalogStatistics(BigInt(files.map(_.getLen).sum), Some(BigInt(rows)))
  }

  /** The data columns of the first data file across `paths`, or None
    * where Spark's own inference has to decide (and report any error). */
  private def footerSchema(spark: SparkSession, paths: Seq[String]): Option[StructType] =
    if (spark.sessionState.conf.isParquetSchemaMergingEnabled) None
    else try {
      val conf = spark.sessionState.newHadoopConf()
      val files = paths.flatMap(listed(conf, _))
      if (files.exists(isSummary)) None
      else files.minByOption(_.getPath.toString).map { f =>
        val meta = footer(conf, f, ParquetMetadataConverter.SKIP_ROW_GROUPS)
        ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, meta),
          new ParquetToSparkSchemaConverter(spark.sessionState.conf))
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  private def footer(conf: Configuration, f: FileStatus,
                     filter: ParquetMetadataConverter.MetadataFilter): ParquetMetadata =
    ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(f, conf), filter)

  private def isSummary(f: FileStatus): Boolean = {
    val n = f.getPath.getName
    n == "_metadata" || n == "_common_metadata"
  }

  /** The files a Parquet read of `path` lists: `path` itself when it is a
    * file, else every file below it outside hidden (`_`/`.`-prefixed, bar
    * `name=value` partition directories) entries, summary files kept. */
  private def listed(conf: Configuration, path: String): Seq[FileStatus] = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val st = fs.getFileStatus(p)
    if (st.isDirectory) below(fs, p) else Seq(st)
  }

  private def below(fs: FileSystem, dir: Path): Seq[FileStatus] =
    fs.listStatus(dir).toSeq.flatMap { s =>
      val n = s.getPath.getName
      if (s.isDirectory) { if (hidden(n)) Nil else below(fs, s.getPath) }
      else if (hidden(n) && !isSummary(s)) Nil
      else Seq(s)
    }

  private def hidden(name: String): Boolean =
    (name.startsWith("_") && !name.contains("=")) || name.startsWith(".")
}
