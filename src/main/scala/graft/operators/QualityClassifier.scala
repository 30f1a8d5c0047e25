package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Hashed-linear quality classifier — the fasttext-style model-based
  * document filter every production curation pipeline runs after the
  * rule batteries (CCNet trains a fasttext LM-vs-crawl classifier,
  * Wenzek et al. 2020 §4.4; FineWeb-Edu scores with a linear probe;
  * the reference has no model-based filter, so this extends the
  * pipeline family the same way the Gopher/DSIR operators do).
  *
  * Architecture, chosen for EXACT cross-engine replayability:
  *  - features = the first `maxTokens` lowercase `[a-z]+` tokens,
  *    de-duplicated (bag-of-presence), hashed into `dims` buckets with
  *    the md5-prefix trick (`CAST('0x' || substr(md5(t), 1, 15) AS
  *    BIGINT) % dims`) that q238 proved bit-identical between Spark,
  *    DuckDB, and the JVM;
  *  - score = the LOGIT z = bias + Σ w[bucket(t)], summed in
  *    DECIMAL(28,12) so the result is exact regardless of summation
  *    order (the q229 discipline) and no transcendental (sigmoid)
  *    has to agree across engines — `predicted` is just z > 0;
  *  - training = full-batch logistic-regression gradient descent on
  *    the DRIVER over a deterministic bounded sample (ORDER BY
  *    xxhash64(id), id LIMIT cap — the kmeansBucketize convention):
  *    fixed zero init, fixed epoch count, fixed learning rate, fixed
  *    iteration order ⇒ bit-reproducible weights. Weights round to
  *    9 dp so they serialize compactly into oracles.
  *
  * Scale: training collects ≤ `sampleCap` (id, label, buckets) rows —
  * a quality classifier is trained on ~10^5 labeled docs even at
  * 10^11-doc corpora, so the driver sample IS the production shape.
  * Scoring is MAP-ONLY: the weight table rides the plan as an array
  * literal (`dims` decimals ≈ 16 KB at 1024 buckets), each row pays
  * one `aggregate()` over its token array, and nothing shuffles.
  */
object QualityClassifier {

  /** dims must divide the md5-prefix space deterministically; 60 bits
    * of md5 prefix keeps `% dims` unbiased for any dims ≪ 2^60. */
  private def bucketOfJvm(token: String, dims: Int): Int = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(token.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString.substring(0, 15)
    (java.lang.Long.parseLong(hex, 16) % dims).toInt
  }

  private[graft] def tokensJvm(text: String, maxTokens: Int): Seq[String] =
    text.toLowerCase.split("[^a-z]+").iterator
      .filter(_.nonEmpty).take(maxTokens).toSeq.distinct

  /** SQL-side token column mirroring [[tokensJvm]] exactly: slice
    * before distinct, same regex, same order. */
  private def tokenCol(textCol: Column, maxTokens: Int): Column =
    array_distinct(slice(
      filter(split(lower(textCol), "[^a-z]+"), t => t =!= lit("")),
      1, maxTokens))

  /** Train by full-batch gradient descent; returns (weights, bias),
    * both rounded to 9 dp. `labelCol` must be a boolean column. */
  def train(docs: DataFrame, labelCol: String,
            idCol: String = "doc_id", textCol: String = "text",
            dims: Int = 1024, maxTokens: Int = 64,
            epochs: Int = 30, lr: Double = 0.5,
            sampleCap: Int = 8192): (Array[Double], Double) = {
    val sample: Array[(Boolean, Array[Int])] = docs
      .select(col(idCol).as("id"), col(labelCol).cast("boolean").as("y"),
        col(textCol).as("t"))
      .orderBy(xxhash64(col("id")), col("id")).limit(sampleCap)
      .collect()
      .map { r =>
        val y = !r.isNullAt(1) && r.getBoolean(1)
        val toks = Option(r.getString(2)).getOrElse("")
        (y, tokensJvm(toks, maxTokens).map(bucketOfJvm(_, dims)).toArray)
      }
    require(sample.nonEmpty, "quality classifier: empty training sample")
    val n = sample.length.toDouble
    val w = new Array[Double](dims)
    var b = 0.0
    var ep = 0
    while (ep < epochs) {
      val gw = new Array[Double](dims)
      var gb = 0.0
      sample.foreach { case (y, feats) =>
        var z = b
        feats.foreach(f => z += w(f))
        val p = 1.0 / (1.0 + math.exp(-z))
        val g = (if (y) 1.0 else 0.0) - p
        gb += g
        feats.foreach(f => gw(f) += g)
      }
      var i = 0
      while (i < dims) { w(i) += lr * gw(i) / n; i += 1 }
      b += lr * gb / n
      ep += 1
    }
    (w.map(x => math.rint(x * 1e9) / 1e9), math.rint(b * 1e9) / 1e9)
  }

  /** 12-dp decimal rendering of a weight — the ONE conversion both the
    * Spark literal array and the oracle's VALUES rows use (and that
    * graft.tools.PinQ248 bakes into [[Q248PinnedModel]]), so the two
    * engines sum byte-identical decimals. */
  private[graft] def dec(x: Double): BigDecimal =
    BigDecimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP)

  /** Exact micro-unit (×10¹²) rendering of a pinned 12-dp weight
    * string — the integer the BIGINT scoring path and the oracle's
    * integer VALUES both use. `longValueExact` is LOUD if a pin ever
    * stops being exactly 12-dp (PinQ248 emits 12-dp strings, so every
    * committed weight is exactly representable). */
  private[graft] def microsOf(s: String): Long =
    new java.math.BigDecimal(s).movePointRight(12).longValueExact

  /** Shared token column (the q248 tokenization), public for the
    * stage-localizing probe entries (q266/q267): same regex, slice
    * BEFORE distinct, null text → empty array. */
  def tokenColumn(textCol: Column, maxTokens: Int = 64): Column =
    coalesce(tokenCol(textCol, maxTokens), array().cast("array<string>"))

  /** The q238/q248 md5-prefix bucket hash as a Column, public for the
    * probe entries. */
  def bucketColumn(t: Column, dims: Int = 1024): Column =
    pmod(conv(substr(md5(t), lit(1), lit(15)), 16, 10).cast("long"),
      lit(dims)).cast("int")

  /** INTEGER-EXACT map-only scoring (VERDICT r13 ask #1): the pinned
    * 12-dp weight strings scale ×10¹² into BIGINT micro-units, the fold
    * runs in pure 64-bit integer arithmetic on both engines, and the
    * hashed output carries NO decimal/float/hex-cast construct — after
    * three rounds of driver-only hash reds on the DECIMAL(38,12) shape,
    * the score column is now a plain BIGINT (`score_micros`).
    * Range safety: |weight| < 1 ⇒ |micro-unit| < 10¹²; ≤ maxTokens=64
    * terms + bias keep |score_micros| < 6.6×10¹³, far inside int64. */
  def scoreMicrosFromStrings(docs: DataFrame, weights: Map[Int, String],
                             bias: String, dims: Int = 1024,
                             idCol: String = "doc_id",
                             textCol: String = "text",
                             maxTokens: Int = 64): DataFrame = {
    val wLit = array((0 until dims).map { i =>
      lit(microsOf(weights.getOrElse(i, "0")))
    }: _*)
    val toks = tokenColumn(col(textCol), maxTokens)
    val z = aggregate(toks, lit(microsOf(bias)),
      (acc, t) => acc + element_at(wLit, bucketColumn(t, dims) + 1))
    docs.select(col(idCol),
      z.as("score_micros"),
      (z > lit(0L)).as("predicted"))
  }

  /** Map-only scoring: (idCol, score = the exact DECIMAL(38,12) logit,
    * predicted = logit > 0). Zero shuffle; the weights ride the plan as
    * a literal array. */
  def score(docs: DataFrame, weights: Array[Double], bias: Double,
            idCol: String = "doc_id", textCol: String = "text",
            maxTokens: Int = 64): DataFrame = {
    val dims = weights.length
    val wLit = array(weights.map(x =>
      lit(dec(x)).cast("decimal(28,12)")): _*)
    // null text scores at the bias alone (no tokens), like empty text
    val toks = coalesce(tokenCol(col(textCol), maxTokens),
      array().cast("array<string>"))
    val bucket = (t: Column) =>
      pmod(conv(substr(md5(t), lit(1), lit(15)), 16, 10).cast("long"),
        lit(dims)).cast("int")
    val z = aggregate(toks,
      lit(dec(bias)).cast("decimal(38,12)"),
      (acc, t) =>
        (acc + element_at(wLit, bucket(t) + 1)).cast("decimal(38,12)"))
    docs.select(col(idCol),
      z.as("score"),
      (z > lit(0)).as("predicted"))
  }
}
