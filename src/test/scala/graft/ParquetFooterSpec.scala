package graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{ParquetFooter, VersionedTable}

import scala.util.Try

/** Parity of the driver-side footer reader with Spark's own inference:
  * the schema it supplies must be the one `spark.read.parquet` infers, on
  * every layout a converted read site sees, and a path it cannot read
  * must fail as `spark.read.parquet` fails. */
class ParquetFooterSpec extends SparkTestBase {

  private def scratch(name: String): String =
    ArtifactStore.scratchDir(name).toFile.getAbsolutePath

  /** Same schema, or the same error class, as Spark's inference. */
  private def assertParity(s: SparkSession, paths: String*): Unit = {
    val want = Try(s.read.parquet(paths: _*).schema)
    val got = Try(ParquetFooter.read(s, paths: _*).schema)
    (want, got) match {
      case (scala.util.Success(w), scala.util.Success(g)) =>
        assert(g == w, s"${paths.mkString(", ")}: footer $g != inferred $w")
      case (scala.util.Failure(w), scala.util.Failure(g)) =>
        assert(g.getClass == w.getClass, s"footer error $g, Spark's $w")
      case _ => fail(s"${paths.mkString(", ")}: footer $got, Spark $want")
    }
  }

  private def sameRows(a: DataFrame, b: DataFrame): Unit = {
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    assert(rows(a) == rows(b))
  }

  test("fixture tables: the footer schema is the inferred one under each conf") {
    for {
      nanos <- Seq("true", "false")
      ntz <- Seq("true", "false")
    } {
      val s = spark.newSession()
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", nanos)
      s.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", ntz)
      Tables.names.foreach { n =>
        val f = s"$sfDir/$n.parquet"
        assertParity(s, f)
        assert(ParquetFooter.schema(s, f) == s.read.parquet(f).schema)
      }
    }
  }

  test("TIMESTAMP(NANOS): long with nanosAsLong, Spark's error without") {
    val dir = scratch("graft_footer_nanos")
    val file = s"$dir/nanos.parquet"
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 id; optional int64 ts (TIMESTAMP(NANOS,true)); }")
    val w = ExampleParquetWriter.builder(new Path(file)).withType(schema)
      .withConf(spark.sessionState.newHadoopConf()).build()
    val g = new SimpleGroupFactory(schema)
    try w.write(g.newGroup().append("id", 1L).append("ts", 1700000000123456789L))
    finally w.close()
    for (nanos <- Seq("true", "false")) {
      val s = spark.newSession()
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", nanos)
      assertParity(s, file)
    }
    val s = spark.newSession()
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    assert(ParquetFooter.read(s, file).head().getLong(1) == 1700000000123456789L)
  }

  test("a Spark-written version dir with _SUCCESS and .crc files, and a 0-row one") {
    import spark.implicits._
    val path = s"${scratch("graft_footer_vt")}/t"
    val df = Seq((1L, "a", 0.5, Seq(1, 2), Map("k" -> 1.0)),
        (2L, "b", 1.5, Nil, Map.empty[String, Double]))
      .toDF("id", "v", "x", "arr", "m")
      .withColumn("st", struct(col("id"), col("v")))
      .withColumn("d", col("x").cast("decimal(10,2)"))
      .withColumn("ts", current_timestamp())
    val v1 = VersionedTable.commit(spark, path, df)
    val dir1 = f"$path/data/v$v1%05d"
    val names = new java.io.File(dir1).list().toSeq
    assert(names.contains("_SUCCESS") && names.exists(_.endsWith(".crc")), names)
    assertParity(spark, dir1)
    sameRows(ParquetFooter.read(spark, dir1), spark.read.parquet(dir1))
    val v2 = VersionedTable.commit(spark, path, df.limit(0))
    val dir2 = f"$path/data/v$v2%05d"
    assertParity(spark, dir2)
    assert(ParquetFooter.read(spark, dir2).count() == 0)
  }

  test("partition-subdir layouts: stored indexes, partitioned versions, leaf dirs") {
    import spark.implicits._
    val root = scratch("graft_footer_parts")
    val df = (0 until 40).map(i => (i.toLong, s"t$i", i % 7, f"2024-03-${i % 3 + 1}%02d"))
      .toDF("id", "term", "tb", "day")
    // MatchText postings/termstats (partitioned by tb), Similarity codes
    df.write.partitionBy("tb").parquet(s"$root/postings")
    assertParity(spark, s"$root/postings")
    sameRows(ParquetFooter.read(spark, s"$root/postings"), spark.read.parquet(s"$root/postings"))
    // a glob goes to Spark's own inference
    assertParity(spark, s"$root/postings/tb=*")
    // two partition levels, string values
    df.write.partitionBy("day", "tb").parquet(s"$root/two")
    assertParity(spark, s"$root/two")
    // the router's changed-partition reads (indexDelta): several leaf
    // dirs, no basePath
    val leaves = Seq(s"$root/postings/tb=3", s"$root/postings/tb=0", s"$root/postings/tb=5")
    assertParity(spark, leaves: _*)
    sameRows(ParquetFooter.read(spark, leaves: _*), spark.read.parquet(leaves: _*))
    // a partitioned VersionedTable version
    val path = s"$root/vt"
    VersionedTable.setPartitionSpec(spark, path,
      VersionedTable.PartitionSpec(Seq("day"), df.schema.toDDL))
    val v = VersionedTable.commit(spark, path, df)
    assertParity(spark, f"$path/data/v$v%05d")
  }

  test("no data file: the same error class as spark.read.parquet") {
    val root = scratch("graft_footer_empty")
    val empty = new java.io.File(s"$root/empty"); empty.mkdirs()
    val onlyMarker = new java.io.File(s"$root/marker"); onlyMarker.mkdirs()
    new java.io.File(onlyMarker, "_SUCCESS").createNewFile()
    for (p <- Seq(empty.getPath, onlyMarker.getPath, s"$root/missing")) {
      assert(Try(spark.read.parquet(p)).isFailure, p)
      assertParity(spark, p)
    }
  }
}
