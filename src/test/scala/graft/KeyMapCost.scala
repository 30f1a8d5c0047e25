package graft

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.LongType

import graft.sources.{Dml, KeyMap, VersionedTable}

/** What a primary-key map costs and saves at a given table size: the
  * measurement behind [[KeyMap.MaxKeys]]. For each row count and partition
  * count it builds a `PARTITIONED BY (day)` table shaped like the sql_dml
  * one (BIGINT key, TEXT day, DOUBLE value), one data file per partition,
  * and prints one line with:
  *  - heap_b_per_key: driver heap the map retains per key (used heap
  *    after full GCs, with and without the map);
  *  - footer_ms: the cap check, the row count from every data file's
  *    Parquet footer (median of 5);
  *  - build_ms: what a lazy build does, in a fresh session: the footer
  *    walk, a scan of (key, day) and the sorted map (median of 3);
  *  - tally_ms: the job the map saves per keyed statement, a tally of the
  *    rows one key selects (median of 5).
  *
  * Run: `sbt "Test/runMain graft.KeyMapCost [rows,...] [partitions,...]"`. */
object KeyMapCost {

  private def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.length / 2)

  private def ms[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e6)
  }

  private def usedHeap(): Long = {
    val rt = Runtime.getRuntime
    (1 to 4).foreach { _ => System.gc(); Thread.sleep(100) }
    rt.totalMemory() - rt.freeMemory()
  }

  def main(args: Array[String]): Unit = {
    val sizes = args.headOption.map(_.split(",").map(_.toInt).toSeq)
      .getOrElse(Seq(1 << 14, 1 << 16, 1 << 18))
    val partitions = args.lift(1).map(_.split(",").map(_.toInt).toSeq).getOrElse(Seq(8, 365))
    val spark = Engine.session()
    val root = ArtifactStore.scratchDir("graft_keymap_cost").toFile.getAbsolutePath
    println(s"cpus=${Runtime.getRuntime.availableProcessors()} " +
      s"max_heap_mb=${Runtime.getRuntime.maxMemory() >> 20}")
    for (p <- partitions; n <- sizes) {
      val name = s"t_${n}_$p"
      val path = s"$root/$name"
      new StatementRouter(spark, root).execute(
        s"CREATE TABLE $name (id BIGINT PRIMARY KEY, day TEXT, v DOUBLE PRECISION) PARTITIONED BY (day)")
      VersionedTable.commit(spark, path, spark.range(n).selectExpr("id",
        s"date_format(date_add(DATE'2024-01-01', CAST(id % $p AS INT)), 'yyyy-MM-dd') AS day",
        "id * 0.5 AS v"))
      val v = VersionedTable.latestVersion(spark, path).get
      val files = VersionedTable.manifestEntries(spark, path, v).map { e =>
        val dir = new org.apache.hadoop.fs.Path(e).toUri.getPath
        java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).filter(_.toString.endsWith(".parquet"))
          .count()
      }.sum
      val df = VersionedTable.readVersion(spark, path, v)

      val footer = median((1 to 5).map(_ => ms(VersionedTable.rowCount(spark, path, v))._2))
      val build = median((1 to 3).map { _ =>
        val fresh = spark.newSession()
        ms {
          VersionedTable.rowCount(fresh, path, v)
          KeyMap.fromTally(Dml.tally(VersionedTable.readVersion(fresh, path, v),
            Seq("id", "day")), LongType)
        }._2
      })
      val tally = median((1 to 5).map(i =>
        ms(Dml.tally(df.filter(col("id") === (i * 7919L) % n), Seq("day")))._2))

      // retained heap of the map alone: its tally is dropped before the GC
      val base = usedHeap()
      var t = Dml.tally(df, Seq("id", "day"))
      val m = KeyMap.fromTally(t, LongType).get
      t = null
      val perKey = (usedHeap() - base).toDouble / m.size
      println(f"rows=$n%d partitions=$p%d files=$files%d heap_b_per_key=$perKey%.0f " +
        f"footer_ms=$footer%.1f build_ms=$build%.1f tally_ms=$tally%.1f map_keys=${m.size}%d")
    }
    spark.stop()
  }
}
