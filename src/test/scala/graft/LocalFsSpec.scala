package graft

import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions

import graft.sources.LocalFs
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

import scala.jdk.CollectionConverters._

/** The session's `file:` FileSystem sets permissions with a syscall where
  * Hadoop forks `chmod`; every mode, the FileSystem the session resolves,
  * and the modes and file count a DML stream leaves must match stock. */
class LocalFsSpec extends SparkTestBase {

  private def hconf = spark.sparkContext.hadoopConfiguration

  private def modeOf(p: JPath): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  /** Every entry under `root`: its path relative to `root` with the write
    * UUIDs masked, and its mode. */
  private def tree(root: String): Seq[(String, String)] = {
    val base = new java.io.File(root).toPath
    val walk = Files.walk(base)
    try walk.iterator.asScala.filter(_ != base).map { p =>
      base.relativize(p).toString.replaceAll("[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}", "*") ->
        modeOf(p)
    }.toSeq.sorted
    finally walk.close()
  }

  private def deleteTree(p: JPath): Unit = {
    val walk = Files.walk(p)
    val all = try walk.iterator.asScala.toList finally walk.close()
    all.foreach(f => Files.setPosixFilePermissions(f, PosixFilePermissions.fromString("rwx------")))
    all.reverse.foreach(Files.delete)
  }

  test("every mode 0000-0777 on files and mkdirs dirs matches stock RawLocalFileSystem") {
    val dir = ArtifactStore.scratchDir("localfs_modes")
    val graftRaw = new LocalFs.Raw
    val stockRaw = new RawLocalFileSystem
    Seq(graftRaw, stockRaw).foreach(_.initialize(URI.create("file:///"), hconf))
    try {
      val mismatches = (0 until 512).flatMap { m =>
        val perm = new FsPermission(m.toShort)
        Seq(graftRaw -> "graft", stockRaw -> "stock").map { case (fs, side) =>
          val f = new Path(dir.toString, f"$side-f$m%04o")
          fs.create(f).close()
          fs.setPermission(f, perm)
          fs.mkdirs(new Path(dir.toString, f"$side-d$m%04o"), perm)
        }
        Seq("f", "d").flatMap { kind =>
          val g = modeOf(dir.resolve(f"graft-$kind$m%04o"))
          val s = modeOf(dir.resolve(f"stock-$kind$m%04o"))
          if (g == s) None else Some(f"$kind $m%04o: graft $g, stock $s")
        }
      }
      assert(mismatches.isEmpty, mismatches.mkString("\n"))
      assert(modeOf(dir.resolve("graft-f0754")) == "rwxr-xr--")
    } finally deleteTree(dir)
  }

  test("the session's file: FileSystem is LocalFs over graft's raw FS") {
    val fs = FileSystem.get(new URI("file:///"), hconf)
    assert(fs.isInstanceOf[LocalFs], fs.getClass.getName)
    assert(fs.asInstanceOf[LocalFileSystem].getRawFileSystem.isInstanceOf[LocalFs.Raw])
  }

  test("a DML stream on a partitioned PK table leaves the modes and files stock writes") {
    val days = (1 to 4).map(d => f"2024-03-$d%02d")
    def stream(): String = {
      val root = ArtifactStore.scratchDir("localfs_dml").toFile.getAbsolutePath
      val r = new StatementRouter(spark, root)
      r.execute("""CREATE TABLE m (id BIGINT PRIMARY KEY, day TEXT, v DOUBLE PRECISION)
          PARTITIONED BY (day)""")
      r.execute("INSERT INTO m (id, day, v) VALUES " +
        (0 until 40).map(i => s"($i, '${days(i % 4)}', ${i * 0.5})").mkString(", "))
      r.execute("UPDATE m SET v = 1.5 WHERE id = 7")
      r.execute("DELETE FROM m WHERE id >= 10 AND id < 14")
      r.execute("INSERT INTO m (id, day, v) VALUES (3, '2024-03-04', 9.0), (99, '2024-03-01', 2.0) " +
        "ON CONFLICT (id) DO UPDATE SET v = excluded.v")
      r.execute("OPTIMIZE TABLE m")
      assert(r.execute("SELECT count(*) FROM m").head().getLong(0) == 37L)
      s"$root/m"
    }
    val graftTree = tree(stream())
    // stock: the same conf names Hadoop's LocalFileSystem, uncached, so
    // neither the commit code nor the write tasks reach the cached LocalFs
    val keys = Seq("fs.file.impl", "fs.file.impl.disable.cache")
    val saved = keys.map(k => k -> Option(hconf.get(k)))
    hconf.set("fs.file.impl", classOf[LocalFileSystem].getName)
    hconf.setBoolean("fs.file.impl.disable.cache", true)
    val stockTree =
      try {
        assert(FileSystem.get(new URI("file:///"), hconf).getClass == classOf[LocalFileSystem])
        tree(stream())
      } finally saved.foreach {
        case (k, Some(v)) => hconf.set(k, v)
        case (k, None)    => hconf.unset(k)
      }
    assert(FileSystem.get(new URI("file:///"), hconf).isInstanceOf[LocalFs])
    assert(graftTree.length == stockTree.length)
    assert(graftTree.count(_._1.endsWith(".parquet")) > 0)
    assert(graftTree == stockTree)
  }
}
