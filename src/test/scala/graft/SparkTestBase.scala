package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole test JVM (Test / fork := true). */
object TestSpark {
  lazy val spark: SparkSession = {
    // the factory never sets the warehouse, so a deployment's own
    // -Dspark.sql.warehouse.dir wins; the tests pass theirs the same way
    System.setProperty("spark.sql.warehouse.dir",
      graft.ArtifactStore.scratchDir("graft-wh").toString)
    val s = Engine.session("local[4]", 4, cbo = false)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sfDir = "/root/testdata/sf0.001"
}

abstract class SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  def sfDir: String = TestSpark.sfDir
}
