package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector similarity over `array<float>` embedding columns.
  *
  * Reference surface: `knn_match` / `vector_similarity`
  * (`server/src/main/java/io/crate/expression/scalar/KnnMatch.java:48`,
  * `VectorSimilarityFunction.java:35`) over `FLOAT_VECTOR` columns.
  *
  * Implementation is pure native higher-order functions (`zip_with` +
  * `aggregate`), which Catalyst evaluates without UDF serialization overhead
  * and keeps inside the optimized plan; math is double-precision and
  * sequential, so results are deterministic.
  */
object VectorFunctions {

  /** Codegen'd native cosine (graft.plans.CosineSimilarityExpr). Requires
    * [[GraftFunctions.registerAll]] on the session (idempotent, cheap).
    * Bit-identical to [[cosineSimilarity]]; one fused loop, no intermediate
    * arrays. */
  def cosineNative(a: Column, b: Column): Column = call_function("graft_cosine", a, b)

  /** The EXACT scalar twin of [[graft.plans.CosineSimilarityExpr]] for
    * kernel-side pair verification (the in-bucket near-dup verify):
    * identical operand order, double accumulation in index order,
    * `sqrt(na) * sqrt(nb)` denominator — so a sim computed here is
    * bit-for-bit the value the expression would produce (null on length
    * mismatch or zero norm, like the expression). Any change here MUST
    * mirror CosineSimilarityExpr (differential-gated in
    * OptimizationR16Spec). */
  def cosineFloatsExact(a: Array[Float], b: Array[Float]): java.lang.Double = {
    if (a == null || b == null || a.length != b.length) return null
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) null else Double.box(dot / denom)
  }

  private def d(c: Column): Column = transform(c, x => x.cast("double"))

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(d(a), d(b), (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column =
    sqrt(aggregate(d(a), lit(0.0), (acc, x) => acc + x * x))

  /** Cosine similarity in [-1, 1]; null-safe via Spark's null propagation. */
  def cosineSimilarity(a: Column, b: Column): Column =
    dot(a, b) / (norm(a) * norm(b))

  /** Euclidean (L2) distance. */
  def l2Distance(a: Column, b: Column): Column =
    sqrt(aggregate(zip_with(d(a), d(b), (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, x) => acc + x))

  /** CrateDB's `vector_similarity` = 1 / (1 + l2²) (Lucene convention). */
  def vectorSimilarity(a: Column, b: Column): Column = {
    val l2sq = aggregate(zip_with(d(a), d(b), (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, x) => acc + x)
    lit(1.0) / (lit(1.0) + l2sq)
  }
}
