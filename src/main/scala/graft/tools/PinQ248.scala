package graft.tools

import org.apache.spark.sql.functions._

/** Regenerates [[graft.operators.Q248PinnedModel]] — the COMMITTED
  * constants the q248 catalog entry scores with (VERDICT r12 ask #1:
  * after two rounds of driver-only hash reds on the dynamic-oracle
  * path, the trained weights are pinned into the source and the oracle
  * is a static VALUES splice like every other entry).
  *
  * Run deliberately, only when the sf0.01 `documents` fixture changes:
  *   sbt "runMain graft.tools.PinQ248"
  * then commit the rewritten Q248PinnedModel.scala.
  * ArtifactOracleSpec pins "training on the sf0.01 fixture reproduces
  * these constants bit-for-bit", so a fixture drift fails the SPEC (a
  * deliberate regeneration point), never the driver's gate. */
object PinQ248 {
  val TrainDir = "/root/testdata/sf0.01"
  val OutFile =
    "src/main/scala/graft/operators/Q248PinnedModel.scala"

  def main(args: Array[String]): Unit = {
    val spark = graft.Engine.session("local[8]", 8, cbo = false)
    val docs = graft.Tables.load(spark, TrainDir, "documents")
      .select(col("doc_id"), col("text"), col("lang"))
      .withColumn("is_en", col("lang") === "en")
    val (w, b) = graft.operators.QualityClassifier.train(docs, "is_en")
    val dec = (x: Double) =>
      graft.operators.QualityClassifier.dec(x).bigDecimal.toPlainString
    val lines = (Seq(s"-1 ${dec(b)}") ++
      w.zipWithIndex.collect { case (x, i) if x != 0.0 => s"$i ${dec(x)}" })
      .mkString("\n")
    val src =
      s"""package graft.operators
         |
         |/** GENERATED by graft.tools.PinQ248 from the sf0.01 `documents`
         |  * fixture — do not edit by hand; regenerate deliberately when
         |  * the fixture changes (ArtifactOracleSpec fails first).
         |  * idx -1 = bias; idx >= 0 = nonzero weight buckets, each value
         |  * the 12-dp decimal string BOTH engines parse (the entry's
         |  * Spark literals and the static DuckDB oracle VALUES). */
         |object Q248PinnedModel {
         |  val trainedOn = "${TrainDir}"
         |  private val raw = \"\"\"$lines\"\"\"
         |  val pairs: Seq[(Int, String)] = raw.linesIterator.map { l =>
         |    val sp = l.indexOf(' ')
         |    (l.substring(0, sp).toInt, l.substring(sp + 1))
         |  }.toSeq
         |  val bias: String = pairs.find(_._1 == -1).get._2
         |  val weights: Map[Int, String] =
         |    pairs.filter(_._1 >= 0).toMap
         |}
         |""".stripMargin
    java.nio.file.Files.writeString(java.nio.file.Paths.get(OutFile), src)
    println(s"wrote ${OutFile}: ${w.count(_ != 0.0)} nonzero weights, " +
      s"bias ${dec(b)}")
    spark.stop()
  }
}
