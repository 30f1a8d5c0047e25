package graft

/** Times a single catalog entry in a fresh JVM with the [[Bench]] session
  * — the adjudication tool for "is this row slow or is the box noisy":
  * `sbt "runMain graft.BenchOne q247_js_closures 4"`.
  * Prints one line per rep; NOT part of the driver contract. */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val reps = if (args.length > 1) args(1).toInt else 3
    val spark = Engine.session(cbo = false)
    val fn = SparkEntry.queries(name)
    (1 to reps).foreach { r =>
      val s = Sweep.time("benchone", name)(fn(spark, Sweep.sfDir))
      println(f"[benchone] $name rep$r: $s%.2f s")
    }
    spark.stop()
  }
}
