package graft.operators

import graft.functions.VectorFunctions
import graft.sources.ParquetFooter
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search over embedding columns (`array<float>`).
  *
  * Reference surface: `knn_match(vec, query, k)`
  * (`server/src/main/java/io/crate/expression/scalar/KnnMatch.java:48`), which
  * delegates to a Lucene HNSW index. Spark-first equivalents:
  *
  *  - [[bruteForceKnn]]: exact top-k — broadcast the (small) query set,
  *    one scan of the corpus, per-query top-k via window. Cosine math is
  *    native `zip_with`/`aggregate` expressions, fully parallel, no index.
  *    This is the right baseline even at 100 TB when the query set is small
  *    (cost = one pass).
  *  - [[ivfKnn]]: IVF-style approximate path — k-means-ish coarse centroids
  *    (deterministically seeded sample), corpus bucketed by nearest centroid
  *    (computed once, reusable), queries probe `nprobe` nearest buckets.
  *    Scan cost drops by ~nprobe/centroids at a small recall cost.
  */
object Similarity {

  /** Symmetric int8 quantization of an embedding vector: per-vector scale
    * `max(|x|)/127` stored beside the TINYINT codes — 4× smaller than
    * FLOAT at rest and on the shuffle wire, which is the difference between
    * shipping 100 TB and 25 TB of embeddings between stages. Pure
    * higher-order expressions (codegen'd, no UDF); max reconstruction error
    * is half a quantization step. Reference analogue: `float_vector`
    * storage (KnnMatch.java) keeps full floats — this is the scale path the
    * reference lacks. */
  def quantizeInt8(vec: Column): Column = {
    val mxd = greatest(array_max(transform(vec, x => abs(x))).cast("double"), lit(1e-30))
    val codes = transform(vec, x => round(x.cast("double") / mxd * 127).cast("tinyint"))
    struct(codes.as("codes"), (mxd / 127.0).as("scale"))
  }

  /** Inverse of [[quantizeInt8]]: `code * scale` back to FLOAT. */
  def dequantizeInt8(q: Column): Column =
    transform(q.getField("codes"),
      c => (c.cast("double") * q.getField("scale")).cast("float"))

  /** Exact top-k neighbors per query row. `queries` must be small enough to
    * broadcast (driver guards are the caller's job at scale). */
  def bruteForceKnn(corpus: DataFrame, queries: DataFrame, k: Int,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    qIdCol: String = "vec_id", qVecCol: String = "embedding"): DataFrame = {
    graft.functions.GraftFunctions.registerAll(corpus.sparkSession)
    val c = corpus.select(col(idCol).as("cid"), col(vecCol).as("cvec"))
    val q = queries.select(col(qIdCol).as("qid"), col(qVecCol).as("qvec"))
    // project down to (qid, cid, sim) BEFORE the top-k shuffle — vectors
    // never leave the scan stage.
    val scored = c.crossJoin(broadcast(q))
      .select(col("qid"), col("cid"),
        VectorFunctions.cosineNative(col("cvec"), col("qvec")).as("sim"))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("cid"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("qid"), col("cid"), col("sim"), col("rk"))
  }

  /** Pick `numCentroids` deterministic centroids and assign every corpus row
    * to its nearest centroid. Seeds are the top-k rows by xxhash64(id) — a
    * deterministic pseudo-random sample (TakeOrdered, no full sort), unlike
    * a first-k-ids pick which is biased toward whatever the id order
    * clusters. Returns the bucketed corpus (cid, cvec, bucket). The result
    * can be persisted/bucketed once and reused across query batches — the
    * IVF "index". */
  def ivfBucketize(corpus: DataFrame, numCentroids: Int,
                   idCol: String = "vec_id", vecCol: String = "embedding"): (DataFrame, DataFrame) = {
    graft.functions.GraftFunctions.registerAll(corpus.sparkSession)
    val c = corpus.select(col(idCol).as("cid"), col(vecCol).as("cvec"))
    val centroids = c.orderBy(xxhash64(col("cid")), col("cid")).limit(numCentroids)
      .select(col("cid").as("centroid_id"), col("cvec").as("centroid"))
    // nearest-centroid via partial-aggregated max_by on narrow rows (no
    // window shuffle of vectors); ties break to the lowest centroid id.
    val best = c.crossJoin(broadcast(centroids))
      .select(col("cid"),
        VectorFunctions.cosineNative(col("cvec"), col("centroid")).as("sim"),
        col("centroid_id"))
      .groupBy(col("cid"))
      .agg(expr("max_by(centroid_id, struct(sim, -centroid_id))").as("bucket"))
    val assigned = c.join(best, Seq("cid")).select(col("cid"), col("cvec"), col("bucket"))
    (assigned, centroids)
  }

  /** Lloyd-refined IVF centroids, trained on a bounded deterministic
    * sample at the driver — the standard IVF recipe (FAISS trains on
    * ~`40×k` sampled vectors, never the full corpus): take the top
    * `trainCap` rows by xxhash64(id) (a deterministic pseudo-random
    * sample, TakeOrdered — no full sort), run Lloyd locally, broadcast the
    * centroids back for ONE distributed assignment pass. Compared to
    * distributed Lloyd this removes `iters × 3` shuffle/checkpoint jobs —
    * centroid training cost is O(trainCap·k·dim) at the driver and does
    * not grow with the corpus — while the assignment semantics
    * (cosine, ties to the lowest centroid id) stay identical to
    * [[ivfBucketize]]. Refined centroids tighten buckets, which directly
    * improves ivfKnn recall at the same nprobe.
    *
    * Driver memory bound: `trainCap` vectors (default 65536 × dim floats ≈
    * 16 MB at dim 64) — a cap, not a scan; the sample job reads only
    * (id, vec) columns. At dim ≫ 64 the cap's byte budget shrinks the
    * effective sample (65536 × dim-1024 floats ≈ 256 MB — lower trainCap
    * accordingly); if the sampled fit degrades recall there, skip driver
    * refinement entirely: [[ivfBucketize]] + the distributed
    * [[assignBuckets]] pass already give hash-seeded centroids with the
    * identical assignment semantics, no driver collection at all. */
  def kmeansBucketize(corpus: DataFrame, numCentroids: Int, iters: Int = 3,
                      idCol: String = "vec_id", vecCol: String = "embedding",
                      trainCap: Int = 65536): (DataFrame, DataFrame) = {
    require(numCentroids > 0 && numCentroids <= trainCap)
    val spark = corpus.sparkSession
    graft.functions.GraftFunctions.registerAll(spark)
    val c = corpus.select(col(idCol).as("cid"), col(vecCol).as("cvec"))
    // deterministic training sample; the first `numCentroids` of it are the
    // same seeds ivfBucketize picks
    val sample: Array[(Long, Array[Double])] =
      c.orderBy(xxhash64(col("cid")), col("cid")).limit(trainCap)
        .select(col("cid").cast("long"), col("cvec").cast("array<double>"))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val dim = if (sample.nonEmpty) sample.head._2.length else 0
    var cents: Array[(Long, Array[Double])] =
      sample.take(numCentroids).map { case (id, v) => (id, v.clone()) }
    def cosine(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i)*b(i); na += a(i)*a(i); nb += b(i)*b(i); i += 1 }
      if (na == 0 || nb == 0) 0.0 else dot / math.sqrt(na * nb)
    }
    var it = 0
    while (it < iters) {
      // assign each sample vector to its best centroid (ties → lowest id,
      // matching the distributed max_by(centroid_id, struct(sim, -id)))
      val sums = scala.collection.mutable.LinkedHashMap[Long, (Array[Double], Long)]()
      sample.foreach { case (_, v) =>
        var best = -1L; var bestSim = Double.NegativeInfinity
        cents.foreach { case (cid, cv) =>
          val s = cosine(v, cv)
          if (s > bestSim || (s == bestSim && (best < 0 || cid < best))) {
            bestSim = s; best = cid
          }
        }
        val (acc, n) = sums.getOrElseUpdate(best, (new Array[Double](dim), 0L))
        var i = 0
        while (i < dim) { acc(i) += v(i); i += 1 }
        sums(best) = (acc, n + 1)
      }
      // empty clusters keep their previous centroid
      cents = cents.map { case (cid, prev) =>
        sums.get(cid) match {
          case Some((acc, n)) if n > 0 => (cid, acc.map(_ / n))
          case _                       => (cid, prev)
        }
      }
      it += 1
    }
    import spark.implicits._
    val centroids = cents.toSeq
      .map { case (cid, v) => (cid, v.map(_.toFloat).toSeq) }
      .toDF("centroid_id", "centroid")
    (assignBucketsMapOnly(c, cents), centroids)
  }

  /** Nearest-centroid assignment as a SINGLE map-only pass: the trained
    * centroids are already driver-side, so they ride into the plan as an
    * array literal and each row folds over it picking the best (highest
    * cosine, ties to the lowest centroid id — identical to the
    * `max_by(centroid_id, struct(sim, -centroid_id))` semantics of the
    * distributed pass in [[ivfBucketize]]/[[assignFixed]]). Zero
    * shuffles, zero joins: at 100 TB the assignment is embarrassingly
    * parallel, and at bench scale it removes the two exchanges the old
    * crossJoin→groupBy→join shape paid per build. */
  private def assignBucketsMapOnly(c: DataFrame,
      cents: Array[(Long, Array[Double])]): DataFrame = {
    val centArr = array(cents.map { case (bcid, v) =>
      struct(lit(bcid).as("bcid"),
        typedLit(v.map(_.toFloat).toSeq).as("bcvec"))
    }.toSeq: _*)
    val best = aggregate(
      centArr,
      struct(lit(-1L).as("bcid"), lit(Double.NegativeInfinity).as("bsim")),
      (acc, ct) => {
        val s = VectorFunctions.cosineNative(col("cvec"), ct.getField("bcvec"))
        val better = (acc.getField("bcid") < 0) || (s > acc.getField("bsim")) ||
          (s === acc.getField("bsim") && ct.getField("bcid") < acc.getField("bcid"))
        when(better, struct(ct.getField("bcid").as("bcid"), s.as("bsim")))
          .otherwise(acc)
      },
      acc => acc.getField("bcid"))
    c.select(col("cid"), col("cvec"), best.as("bucket"))
  }

  /** recall@k of an approximate kNN result vs the exact brute-force result
    * (both in (qid, cid, rk) shape) — the tuning metric for nprobe/centroid
    * counts. */
  def recallAtK(approx: DataFrame, exact: DataFrame): Double = {
    // one action: left-join the approx hits onto the exact set and count
    // total + matched in a single aggregate pass (two separate count()
    // jobs would scan both sides twice)
    val row = exact.select(col("qid"), col("cid"))
      .join(approx.select(col("qid"), col("cid"), lit(1).as("hit")).distinct(),
        Seq("qid", "cid"), "left")
      .agg(count(lit(1)).as("total"),
        sum(coalesce(col("hit"), lit(0))).as("hits"))
      .head()
    val total = row.getLong(0).toDouble
    if (total == 0) 1.0 else row.getLong(1).toDouble / total
  }

  /** Approximate top-k: probe the `nprobe` closest centroid buckets only. */
  def ivfKnn(bucketed: DataFrame, centroids: DataFrame, queries: DataFrame,
             k: Int, nprobe: Int = 4,
             qIdCol: String = "vec_id", qVecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(qIdCol).as("qid"), col(qVecCol).as("qvec"))
    val probes = q.crossJoin(broadcast(centroids))
      .withColumn("csim", VectorFunctions.cosineNative(col("qvec"), col("centroid")))
      .withColumn("crk", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("csim").desc, col("centroid_id"))))
      .filter(col("crk") <= nprobe)
      .select(col("qid"), col("qvec"), col("centroid_id").as("bucket"))
    val scored = bucketed.join(broadcast(probes), Seq("bucket"))
      .select(col("qid"), col("cid"),
        VectorFunctions.cosineNative(col("cvec"), col("qvec")).as("sim"))
    scored.withColumn("rk", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("cid"))))
      .filter(col("rk") <= k)
      .select(col("qid"), col("cid"), col("sim"), col("rk"))
  }

  /** The stored form of a quantized IVF index: (bucket, cid, qcode) with
    * int8 codes only — persist THIS at build time and the search scan
    * reads 4× fewer bytes than the float index (the difference between
    * scanning 100 TB and 25 TB of embeddings). */
  // ---------- stored-layout codecs (shared assign/encode/delta) ----------

  /** THE bucket-assignment semantics every stored layout shares: cosine
    * against the FIXED centroid set, ties to the lowest centroid id —
    * identical to [[ivfBucketize]]'s fresh assignment, so a
    * delta-maintained index of ANY layout equals a fresh assignment pass
    * over the union corpus against the same centroids. One broadcast
    * pass over the delta only. Returns (bucket, cid, cvec). */
  /** Test seam: the distributed max_by assignment against arbitrary
    * centroids — the map-only fold ([[assignBucketsMapOnly]]) must
    * agree with it bucket-for-bucket (gated in KMeansIvfSpec). */
  private[graft] def assignDistributed(corpus: DataFrame, centroids: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    assignFixed(corpus, centroids, idCol, vecCol)
      .select(col("cid"), col("bucket"))

  private def assignFixed(added: DataFrame, centroids: DataFrame,
                          idCol: String, vecCol: String): DataFrame =
    added.select(col(idCol).as("cid"), col(vecCol).as("cvec"))
      .crossJoin(broadcast(centroids))
      .select(col("cid"), col("cvec"),
        VectorFunctions.cosineNative(col("cvec"), col("centroid")).as("sim"),
        col("centroid_id"))
      .groupBy(col("cid"))
      .agg(expr("max_by(centroid_id, struct(sim, -centroid_id))").as("bucket"),
        expr("any_value(cvec)").as("cvec"))
      .select(col("bucket"), col("cid"), col("cvec"))

  /** Code layout of a stored vector index — the analyzer slot
    * `vector:<c>:<np>[:pq:<m>:<ksub>[:res]]` names one of these. A codec
    * owns ONLY the encode step; bucket assignment ([[assignFixed]]) and
    * delta surgery ([[updateIndex]]) are shared code, so the three
    * layouts cannot silently diverge in bucket or churn semantics. */
  sealed trait VectorCodec {
    def codeCol: String
    /** Encode (bucket, cid, cvec) rows into this layout's code rows.
      * `centroids` is required by residual encoding only. */
    def encode(assigned: DataFrame, centroids: Option[DataFrame]): DataFrame
  }

  /** int8-quantized float vectors (4× smaller at rest, exact bucket). */
  case object Int8Codec extends VectorCodec {
    val codeCol = "qcode"
    def encode(assigned: DataFrame, centroids: Option[DataFrame]): DataFrame =
      assigned.select(col("bucket"), col("cid"),
        quantizeInt8(col("cvec")).as(codeCol))
  }

  /** m-byte PQ codes; `residual = true` encodes v − centroid(v) (the
    * full IVFADC recipe, Jégou 2011 §V.A). */
  final case class PqCodec(codebooks: Array[Array[Array[Float]]],
                           residual: Boolean) extends VectorCodec {
    val codeCol = "pqcodes"
    def encode(assigned: DataFrame, centroids: Option[DataFrame]): DataFrame = {
      val enc = pqEncoderUdf(assigned.sparkSession, codebooks)
      if (residual) {
        val cents = centroids.getOrElse(
          throw new IllegalArgumentException(
            "residual PQ encoding needs the centroid set"))
        assigned
          .join(broadcast(cents), col("bucket") === col("centroid_id"))
          .select(col("bucket"), col("cid"),
            enc(zip_with(col("cvec").cast("array<float>"),
              col("centroid").cast("array<float>"), (x, y) => x - y))
              .as(codeCol))
      } else
        assigned.select(col("bucket"), col("cid"),
          enc(col("cvec").cast("array<float>")).as(codeCol))
    }
  }

  /** Incremental maintenance shared by ALL stored layouts — the vector
    * twin of [[graft.operators.MatchText.updateIndex]] (and of FAISS's
    * `add`/`remove_ids` practice): removed ids drop out of the code set
    * with one anti-join, added vectors assign to the EXISTING centroids
    * ([[assignFixed]]) and encode through the layout's codec — one
    * broadcast pass over the delta, never a corpus re-scan or retrain.
    * Retrain (rebuild) only when distribution drift hurts recall. */
  def updateIndex(codec: VectorCodec, codes: DataFrame, centroids: DataFrame,
                  removedIds: DataFrame, added: DataFrame,
                  idCol: String = "vec_id",
                  vecCol: String = "embedding"): DataFrame = {
    graft.functions.GraftFunctions.registerAll(codes.sparkSession)
    val rem = removedIds.select(col(removedIds.columns.head).as("cid"))
    val encoded = codec.encode(
      assignFixed(added, centroids, idCol, vecCol), Some(centroids))
    codes.select(col("bucket"), col("cid"), col(codec.codeCol))
      .join(rem, Seq("cid"), "left_anti")
      .unionByName(encoded)
      .select(col("bucket"), col("cid"), col(codec.codeCol))
  }

  def quantizedIndex(bucketed: DataFrame): DataFrame =
    Int8Codec.encode(bucketed, None)

  /** Persist a quantized IVF index as parquet, bucket-partitioned so an
    * `nprobe`-bucket search prunes to `nprobe` partitions at the SCAN
    * (PartitionFilters, not just column pruning). The float vectors are
    * NOT in the file: re-reading this index physically moves 4× fewer
    * bytes, which is the point at 100 TB. */
  def saveQuantizedIndex(bucketed: DataFrame, centroids: DataFrame,
                         path: String): Unit = {
    quantizedIndex(bucketed).write.mode("overwrite")
      .partitionBy("bucket").parquet(s"$path/codes")
    centroids.write.mode("overwrite").parquet(s"$path/centroids")
  }

  /** (codes, centroids) of a stored quantized index. */
  def loadQuantizedIndex(spark: org.apache.spark.sql.SparkSession,
                         path: String): (DataFrame, DataFrame) =
    (ParquetFooter.read(spark, s"$path/codes"),
      ParquetFooter.read(spark, s"$path/centroids"))

  /** [[updateIndex]] on the int8 layout (kept as the stable entry point
    * for router/spec/catalog callers). */
  def updateQuantizedIndex(codes: DataFrame, centroids: DataFrame,
                           removedIds: DataFrame, added: DataFrame,
                           idCol: String = "vec_id",
                           vecCol: String = "embedding"): DataFrame =
    updateIndex(Int8Codec, codes, centroids, removedIds, added, idCol, vecCol)

  /** [[ivfKnnQuantized]] against a STORED index plus the float corpus for
    * rescoring: candidate generation scans only the code files (pruned to
    * the probed buckets), the float corpus is touched only by the
    * survivor join.
    *
    * `candidateFilter` (one `cid` column) restricts candidates BEFORE
    * k-selection — the reference's filtered vector search (Lucene runs
    * the kNN over the filter's docset, LuceneQueryBuilder) — rather than
    * `filter ∩ unfiltered-top-k`. The semi-join lands after the bucket
    * probe: the probed code subset (bounded by nprobe buckets) shuffles
    * against a pk-only projection of the filter — never the float corpus,
    * never unprobed buckets. NOTE: because the filter applies only within
    * the probed buckets, a selective filter whose matches live elsewhere
    * can return fewer than k rows at a fixed nprobe; callers needing the
    * reference's k-matching-rows guarantee must widen nprobe when the
    * result comes up short ([[StatementRouter.routeKnnStored]] re-runs
    * with all buckets probed). */
  def ivfKnnStored(codes: DataFrame, centroids: DataFrame,
                   corpus: DataFrame, queries: DataFrame, k: Int,
                   nprobe: Int = 4, rescoreFactor: Int = 4,
                   idCol: String = "vec_id", vecCol: String = "embedding",
                   qIdCol: String = "vec_id",
                   qVecCol: String = "embedding",
                   metric: String = "cosine",
                   candidateFilter: Option[DataFrame] = None): DataFrame = {
    // `metric`: "cosine" (default) or "l2" — "l2" ranks by the reference's
    // vector_similarity = 1/(1+l2²) (Lucene EUCLIDEAN, the float_vector
    // default), used by the SQL knn_match route so stored-index results
    // rank identically to the exact Dialect fallback
    def sim(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      if (metric == "l2") VectorFunctions.vectorSimilarity(a, b)
      else VectorFunctions.cosineNative(a, b)
    val q = queries.select(col(qIdCol).as("qid"), col(qVecCol).as("qvec"))
    val probes = q.crossJoin(broadcast(centroids))
      .withColumn("csim", sim(col("qvec"), col("centroid")))
      .withColumn("crk", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("csim").desc, col("centroid_id"))))
      .filter(col("crk") <= nprobe)
      .select(col("qid"), col("qvec"), col("centroid_id").as("bucket"))
    val probed = codes.join(broadcast(probes), Seq("bucket"))
    val eligible = candidateFilter.fold(probed)(f =>
      probed.join(f.select(col(f.columns.head).as("cid")), Seq("cid"), "left_semi"))
    val survivors = eligible
      .select(col("qid"), col("qvec"), col("cid"),
        sim(dequantizeInt8(col("qcode")), col("qvec")).as("asim"))
      .withColumn("ark", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("asim").desc, col("cid"))))
      .filter(col("ark") <= k * rescoreFactor)
    survivors
      .join(corpus.select(col(idCol).as("cid"), col(vecCol).as("cvec")), Seq("cid"))
      .select(col("qid"), col("cid"),
        sim(col("cvec"), col("qvec")).as("sim"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("cid"))))
      .filter(col("rk") <= k)
      .select(col("qid"), col("cid"), col("sim"), col("rk"))
  }

  /** IVF search in int8 CODE SPACE with float rescoring — the scale path
    * of [[ivfKnn]]: candidate scoring touches only the quantized index
    * ([[quantizedIndex]] — 4× fewer scan/shuffle bytes), and the
    * full-precision vectors join back ONLY for the `k·rescoreFactor`
    * survivors per query, not for every bucket candidate. Cosine is
    * scale-invariant, so code-space cosine differs from float cosine by
    * at most the half-step rounding error — and the float rescore removes
    * even that from the final ranking. */
  def ivfKnnQuantized(bucketed: DataFrame, centroids: DataFrame,
                      queries: DataFrame, k: Int, nprobe: Int = 4,
                      rescoreFactor: Int = 4,
                      qIdCol: String = "vec_id",
                      qVecCol: String = "embedding"): DataFrame = {
    val codes = quantizedIndex(bucketed)
    val q = queries.select(col(qIdCol).as("qid"), col(qVecCol).as("qvec"))
    val probes = q.crossJoin(broadcast(centroids))
      .withColumn("csim", VectorFunctions.cosineNative(col("qvec"), col("centroid")))
      .withColumn("crk", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("csim").desc, col("centroid_id"))))
      .filter(col("crk") <= nprobe)
      .select(col("qid"), col("qvec"), col("centroid_id").as("bucket"))
    val survivors = codes.join(broadcast(probes), Seq("bucket"))
      .select(col("qid"), col("qvec"), col("cid"),
        VectorFunctions.cosineNative(dequantizeInt8(col("qcode")), col("qvec")).as("asim"))
      .withColumn("ark", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("asim").desc, col("cid"))))
      .filter(col("ark") <= k * rescoreFactor)
    survivors
      .join(bucketed.select(col("cid"), col("cvec")), Seq("cid"))
      .select(col("qid"), col("cid"),
        VectorFunctions.cosineNative(col("cvec"), col("qvec")).as("sim"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("cid"))))
      .filter(col("rk") <= k)
      .select(col("qid"), col("cid"), col("sim"), col("rk"))
  }

  /** `knn_match(vec_col, query_vector, k)` — the reference's single-query
    * signature (`KnnMatch.java:48`): rows of `corpus` whose embedding is
    * among the k nearest to one literal query vector. */
  def knnMatch(corpus: DataFrame, queryVec: Array[Float], k: Int,
               idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    graft.functions.GraftFunctions.registerAll(corpus.sparkSession)
    corpus
      .withColumn("_score", VectorFunctions.cosineNative(col(vecCol), lit(queryVec)))
      .orderBy(col("_score").desc, col(idCol))
      .limit(k)
  }

  /** Embedding-cosine near-duplicate pairs (id_a < id_b, sim ≥ threshold).
    * Blocked by IVF bucket so the pairwise step is per-bucket, not global,
    * with two scale guards the text-LSH paths already have:
    *
    *  - `numCentroids <= 0` auto-scales to ≈ N·nprobe/256 buckets (min 32,
    *    cap 65536), so the expected bucket stays ~256 assignments and the
    *    candidate set stays linear in N regardless of corpus size — a fixed
    *    centroid count would go quadratic at 100 TB;
    *  - buckets larger than `maxBucket` are dropped before the pairwise
    *    join (the skew guard mirroring `Dedup.coBucketedPairs`): one dense
    *    cluster can't pin a single reducer on O(bucket²) work.
    */
  /** Random-hyperplane LSH near-dup pairs — the blocking alternative to
    * [[embeddingNearDupPairs]] when the corpus has no clusterable structure
    * (IVF buckets degenerate) or when an extra global `count()` pass to size
    * centroids is unwanted. Each of `tables` hash tables maps a vector to a
    * `bits`-bit signature (sign of the dot product against deterministic
    * seeded Gaussian hyperplanes); co-bucketed ids become candidates, capped
    * at `maxBucket` per bucket (the same skew guard as the text-LSH paths),
    * then verified with exact cosine — so precision is exact and only recall
    * is approximate. P[same bucket] = (1 - θ/π)^bits per table; more tables
    * raise recall, more bits raise precision of the blocking.
    *
    * Scale shape: one map pass computes all signatures (closure ships a
    * tables×bits×dim plane matrix, ~32 KB at the defaults); one narrow
    * (key, id) shuffle; vectors rejoin only for surviving candidates.
    *
    * `bits <= 0` auto-scales to `max(4, ceil(log2(N/256)))` — the same
    * expected-bucket-of-~256 target as [[embeddingNearDupPairs]]'s
    * centroid auto-scale, and for the same reason: per-bucket pairing is
    * quadratic, so a FIXED signature width goes quadratic as the corpus
    * grows (2^4 = 16 buckets per table shard a 20k-vector corpus into
    * ~1250-vector buckets — ~150M candidate pairs where ~18M suffice).
    * Auto-width keeps the candidate set linear in N; recall for real
    * near-dups (sim ≥ 0.9, p ≈ 0.86/bit) stays ≥ 0.99 at 12 tables even
    * at 24 bits. The auto path sizes N with one `count()` — footer
    * metadata for a parquet source, no data read; callers that must stay
    * zero-job (the original design note vs IVF's sizing pass) pass bits
    * explicitly. The size heuristic `estimateRows` is NOT used here: its
    * defaultSize-based row guess is off by the array element count for
    * vector columns, and bits calibration is recall-sensitive. */
  def hyperplaneNearDupPairs(corpus: DataFrame, threshold: Double,
                             bits: Int = 0, tables: Int = 4,
                             maxBucket: Int = 2000,
                             idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val nbits =
      if (bits > 0) bits
      else math.max(4L, math.ceil(math.log(
        math.max(1L, corpus.count() / 256L).toDouble) / math.log(2.0)).toLong).toInt
    require(nbits > 0 && nbits <= 62 && tables > 0)
    graft.functions.GraftFunctions.registerAll(corpus.sparkSession)
    val base = corpus.select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
    // The plane matrix is derived lazily on each executor from (tables,
    // bits, dim) + a fixed seed — identical on every partition/run because
    // the generation order is fixed, and the closure ships three ints
    // instead of a materialized matrix. Crucially there is NO driver-side
    // `.head()` to learn the vector dimension (the r3 review flagged that
    // as a needless eager job): dim comes from the first row each executor
    // actually sees.
    val (nTables, nBits) = (tables, nbits)
    val sigUdf = udf((v: Seq[Float]) =>
      if (v == null) null
      else {
        val planes = Similarity.planesFor(nTables, nBits, v.length)
        val out = new Array[Long](nTables)
        var t = 0
        while (t < nTables) {
          var sig = 0L; var b = 0
          while (b < nBits) {
            val p = planes(t)(b)
            var d = 0.0; var i = 0; val n = math.min(v.length, p.length)
            while (i < n) { d += v(i) * p(i); i += 1 }
            if (d > 0) sig |= 1L << b
            b += 1
          }
          out(t) = sig; t += 1
        }
        out.toSeq
      })
    val keyed = base
      .select(col("id"), col("vec"),
        posexplode(sigUdf(col("vec"))).as(Seq("t", "sig")))
      .select(col("id"), col("vec"), xxhash64(col("t"), col("sig")).as("key"))
    // in-bucket verify (see coBucketedCosinePairs): pair expansion,
    // cosine and threshold run inside the bucket; only survivors shuffle
    coBucketedCosinePairs(keyed, maxBucket, threshold)
  }

  /** In-bucket cosine pair verify for [[hyperplaneNearDupPairs]] — the
    * simhashPairs shape applied to the vector family (r16: guide §2.3
    * "shuffle keys and metadata instead of payloads"). The old chain
    * expanded EVERY co-bucketed pair (~tables × Σ bucket²/2 rows) through
    * a tuple UDF, shuffled them through a distinct, then joined the
    * vectors back TWICE and re-ran cosine per surviving pair — the
    * 2-task 2+ s stage in the q135 profile. ([[embeddingNearDupPairs]]
    * A/B'd this shape and keeps its join verify — see its comment.)
    * Here each bucket's (id, vec) structs collect once (vectors shuffle
    * once per table assignment, ~3 MB at fixture scale, never per pair),
    * the kernel scores pairs in-bucket and emits ONLY survivors at
    * sim ≥ threshold, and the cross-bucket distinct runs over that far
    * smaller survivor set. Pair semantics are identical to
    * Dedup.coBucketedPairs + cosine verify: per-bucket distinct ids,
    * ascending (id_a < id_b), bucket cap BEFORE expansion, and the sim is
    * [[VectorFunctions.cosineFloatsExact]] — the bit-exact scalar twin of
    * the CosineSimilarityExpr the join path evaluated. */
  private def coBucketedCosinePairs(keyed: DataFrame, maxBucket: Int,
                                    threshold: Double): DataFrame = {
    val th = threshold
    val pairUdf = udf((rows: Seq[org.apache.spark.sql.Row]) => {
      // distinct by id (same id ⇒ same vector), ascending id order —
      // exactly coBucketedPairs' ids.distinct.sorted
      val m = new java.util.TreeMap[Long, Array[Float]]()
      rows.foreach { r =>
        if (!r.isNullAt(0) && !m.containsKey(r.getLong(0)))
          m.put(r.getLong(0),
            if (r.isNullAt(1)) null else r.getSeq[Float](1).toArray)
      }
      val ids = new Array[Long](m.size)
      val vecs = new Array[Array[Float]](m.size)
      var n = 0
      val it = m.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next(); ids(n) = e.getKey; vecs(n) = e.getValue; n += 1
      }
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
      var i = 0
      while (i < n) {
        var j = i + 1
        while (j < n) {
          val s = graft.functions.VectorFunctions.cosineFloatsExact(vecs(i), vecs(j))
          if (s != null && s >= th) out += ((ids(i), ids(j), s.doubleValue))
          j += 1
        }
        i += 1
      }
      out.toSeq
    })
    keyed.groupBy(col("key"))
      .agg(collect_list(struct(col("id"), col("vec"))).as("rows"))
      .filter(size(col("rows")).between(2, maxBucket))
      .select(explode(pairUdf(col("rows"))).as("p"))
      .select(col("p._1").as("id_a"), col("p._2").as("id_b"),
        col("p._3").as("sim"))
      .dropDuplicates("id_a", "id_b")
  }

  /** Deterministic Gaussian hyperplanes, generated once per executor JVM
    * per (tables, bits, dim) — the fixed seed + fill order makes every
    * executor (and every run) agree bit-for-bit. ~tables×bits×dim×8 bytes,
    * e.g. 32 KB at (4, 16, 64). */
  private val planeCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int, Int), Array[Array[Array[Double]]]]()
  private[operators] def planesFor(tables: Int, bits: Int, dim: Int): Array[Array[Array[Double]]] =
    planeCache.computeIfAbsent((tables, bits, dim), { _ =>
      val rnd = new scala.util.Random(0x5EED5EEDL)
      Array.fill(tables, bits, dim)(rnd.nextGaussian())
    })

  /** Row-count estimate without running a job: CBO rowCount when ANALYZE
    * stats exist, else the optimizer's sizeInBytes over the schema's
    * default row width. Good to well within the 4096× slack the centroid
    * heuristic tolerates — an exact `count()` here would be a full extra
    * pass over a 100 TB corpus. */
  private def estimateRows(df: DataFrame): Long = {
    val stats = df.queryExecution.optimizedPlan.stats
    stats.rowCount.map(_.toLong).getOrElse {
      val rowWidth = math.max(1, df.schema.defaultSize)
      (stats.sizeInBytes / rowWidth).toLong
    }
  }

  /** Multi-probe IVF near-dup pairs. Each vector is assigned to its
    * `nprobe` NEAREST centroids (not just the best one): a near-dup pair
    * that straddles a Voronoi boundary — the dominant recall loss of
    * single-assignment IVF — is still co-bucketed as long as any of the
    * a-side probes meets any b-side probe. Cost scales by ~nprobe² in the
    * candidate stage, recall rises from ~0.25 to ~1.0 at nprobe=2–3 on the
    * fixture corpora (measured by the q67 recall floor).
    *
    * Scale shape: the top-nprobe assignment is a partial-aggregating typed
    * [[Aggregator]] over (id, centroid_id, sim) — map-side combine reduces
    * each id's k candidate rows to an nprobe-entry buffer before the
    * shuffle, so assignment shuffles N narrow groups, never N×k rows and
    * never a vector. Candidate pairing is the shared
    * [[Dedup.coBucketedPairs]] path (bucket cap = skew guard, distinct
    * pairs); vectors rejoin only for surviving candidates. Ids follow the
    * same Long contract as [[hyperplaneNearDupPairs]]. */
  def embeddingNearDupPairs(corpus: DataFrame, threshold: Double,
                            numCentroids: Int = 0, maxBucket: Int = 4096,
                            nprobe: Int = 2,
                            idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(nprobe >= 1)
    graft.functions.GraftFunctions.registerAll(corpus.sparkSession)
    // Auto-scale targets an expected bucket of ~256 assignments
    // (N·nprobe/k ≈ 256): per-bucket pairing is quadratic, so bucket size —
    // not centroid count — is what must stay bounded. k ≈ N·nprobe/256
    // keeps the candidate set ≈ 128·nprobe·N, linear in N, where the old
    // N/4096 target produced ~2048-vector buckets whose pairing cost WAS
    // the all-pairs join it was supposed to avoid. Capped at 65536 so the
    // centroid broadcast stays ≤ ~16 MB; corpora big enough to hit the cap
    // (≥ ~4B assignments) should block with [[hyperplaneNearDupPairs]],
    // whose signature width is corpus-size-independent.
    val k =
      if (numCentroids > 0) numCentroids
      else math.min(65536L,
        math.max(32L, estimateRows(corpus) * nprobe / 256L)).toInt
    val base = corpus.select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
    val centroids = base.orderBy(xxhash64(col("id")), col("id")).limit(k)
      .select(col("id").as("centroid_id"), col("vec").as("centroid"))
    val topn = udf_topNCentroids(nprobe)
    val keyed = base.crossJoin(broadcast(centroids))
      .select(col("id"), col("centroid_id"),
        VectorFunctions.cosineNative(col("vec"), col("centroid")).as("sim"))
      .groupBy(col("id"))
      .agg(topn(col("centroid_id"), col("sim")).as("buckets"))
      .select(col("id"), explode(col("buckets")).as("key"))
    // JOIN-side verify kept deliberately (r16 A/B at sf1, BenchOne warm
    // reps): the in-bucket kernel (coBucketedCosinePairs, the q135 win)
    // concentrates the pair cosines into the few AQE-coalesced bucket
    // tasks — right for the hyperplane path, whose 12-table candidate
    // duplication makes the expand→distinct→join-back chain the dominant
    // cost, but NOT here: IVF candidates are barely duplicated (≤nprobe
    // co-bucketings), both variants measured within noise of each other
    // at sf0.1 (~2.1 s) and sf1 (join 11.7/13.2 s vs in-bucket
    // 16.7/12.4 s for q221/q217), and the join-back's shuffle keeps the
    // verify width tied to the cluster, never to AQE's byte-based
    // coalescing — the structurally safer shape at 100 TB.
    Dedup.coBucketedPairs(keyed, maxBucket)
      .join(base.select(col("id").as("id_a"), col("vec").as("va")), Seq("id_a"))
      .join(base.select(col("id").as("id_b"), col("vec").as("vb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        VectorFunctions.cosineNative(col("va"), col("vb")).as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication", arXiv:2303.09540):
    * cluster-blocked semantic deduplication — embeddings are assigned to
    * their nearest centroid and cosine pruning runs WITHIN each cluster
    * only, so the pair cost is Σ|cluster|², never corpus². The paper runs
    * k-means with K ≈ √N, which keeps expected cluster size ≈ √N and the
    * total pair work ≈ N^1.5; production callers pass
    * [[kmeansBucketize]]/[[pqTrain]]-style trained centroids, while a
    * deterministic centroid set (as the q231 gate uses) makes the whole
    * operator exactly oracle-replayable. Oversized clusters should be
    * re-split by sub-clustering before pruning (same skew discipline as
    * [[embeddingNearDupPairs]]'s bucket cap).
    *
    * Policy: within a cluster, row `j` is a semantic duplicate iff some
    * lower-id row `i` has round(cos(i, j), 6) ≥ tau — the keep-lowest-id
    * representative rule. Non-recursive by design (j is pruned even when
    * its witness i was itself pruned): deterministic, one join, and every
    * similarity group still keeps its minimum-id member. Rounding to 6
    * decimals before the threshold makes the verdict bit-stable across
    * engines and summation orders.
    *
    * Scale: centroids are driver-collected (K bounded by contract — the
    * paper's √N for N=10¹¹ is ~3·10⁵ rows ≈ 80 MB at dim 64, broadcast
    * once per executor), assignment is a map-only UDF pass over the scan,
    * and the within-cluster self-join shuffles each (cluster, id, vec)
    * row once on the cluster key. Returns (idCol, cluster, kept). */
  def semDedup(corpus: DataFrame, centroids: DataFrame, tau: Double,
               idCol: String = "vec_id", vecCol: String = "embedding",
               centIdxCol: String = "cidx", centVecCol: String = "cvec"): DataFrame = {
    val spark = corpus.sparkSession
    graft.functions.GraftFunctions.registerAll(spark)
    val cents: Array[(Int, Array[Float])] = centroids
      .select(col(centIdxCol).cast("int"), col(centVecCol).cast("array<float>"))
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)
    require(cents.nonEmpty, "semDedup: empty centroid set")
    val bc = spark.sparkContext.broadcast(cents)
    // argmin squared-L2 in ascending-index double accumulation; ties break
    // to the lowest centroid index (strict < keeps the first minimum)
    val assign = udf { (v: Seq[Float]) =>
      if (v == null) Option.empty[Int]
      else {
        val cs = bc.value
        var best = cs(0)._1; var bd = Double.MaxValue; var c = 0
        while (c < cs.length) {
          val cv = cs(c)._2
          var acc = 0.0; var j = 0
          while (j < cv.length && j < v.length) {
            val t = v(j).toDouble - cv(j).toDouble; acc += t * t; j += 1
          }
          if (acc < bd) { bd = acc; best = cs(c)._1 }
          c += 1
        }
        Some(best)
      }
    }
    val asg = corpus
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
      .withColumn("cluster", assign(col("vec").cast("array<float>")))
    val a = asg.select(col("cluster"), col("id").as("ia"), col("vec").as("va"))
    val b = asg.select(col("cluster"), col("id").as("ib"), col("vec").as("vb"))
    val removed = a.join(b, Seq("cluster"))
      .filter(col("ia") < col("ib"))
      .filter(round(VectorFunctions.cosineNative(col("va"), col("vb")), 6)
        >= tau)
      .select(col("ib").as("id")).distinct()
    asg.join(removed.withColumn("hit", lit(1)), Seq("id"), "left")
      .select(col("id").as(idCol), col("cluster"),
        col("hit").isNull.as("kept"))
  }

  /** The paper's K ≈ √N cluster-count contract, as code: with K = ⌈√N⌉
    * the expected cluster size is √N and the Σ|cluster|² pair cost stays
    * ≈ N^1.5. Floored at `minK` so tiny corpora still block (below
    * minK² = 256 rows the floor wins and the quadratic-within-cluster
    * cost is trivial anyway). */
  def semDedupAutoK(n: Long, minK: Int = 16): Int =
    math.max(minK, math.ceil(math.sqrt(n.toDouble)).toInt)

  /** [[semDedup]] with the K ≈ √N contract enforced automatically: K is
    * derived from ONE corpus count() (the same auto-sizing discipline as
    * the hyperplane-LSH auto-bits), centroids are k-means-trained on the
    * deterministic bounded sample ([[kmeansBucketize]]), and their ids
    * are densified to 0..K-1. A naive caller gets the paper's scaling
    * without reading the scaladoc; gates that need exact oracle replay
    * (q231) keep passing a pinned centroid set to [[semDedup]]. */
  def semDedupAuto(corpus: DataFrame, tau: Double,
                   idCol: String = "vec_id", vecCol: String = "embedding",
                   iters: Int = 2, minK: Int = 16): DataFrame =
    semDedupAutoWithCentroids(corpus, tau, idCol, vecCol, iters, minK)._1

  /** [[semDedupAuto]] plus the centroid frame it trained — the exact
    * (cidx, cvec) input [[semDedup]] consumed. Gates that replay
    * assignment/pruning independently (q240) persist these beside the
    * verdicts: training is deterministic (pinned sample, seeds, iters),
    * so given the same centroids a second engine reproduces every
    * per-row verdict bit-for-bit. */
  def semDedupAutoWithCentroids(corpus: DataFrame, tau: Double,
                                idCol: String = "vec_id",
                                vecCol: String = "embedding",
                                iters: Int = 2, minK: Int = 16)
      : (DataFrame, DataFrame) = {
    val k = semDedupAutoK(corpus.count(), minK)
    val (_, cents) =
      kmeansBucketize(corpus, numCentroids = k, iters = iters,
        idCol = idCol, vecCol = vecCol)
    // densify seed-row ids to 0..K-1 (K rows — a driver-window is fine)
    val centIdx = cents
      .withColumn("cidx",
        row_number().over(Window.orderBy(col("centroid_id"))) - 1)
      .select(col("cidx"), col("centroid").as("cvec"))
    (semDedup(corpus, centIdx, tau, idCol, vecCol), centIdx)
  }

  private def udf_topNCentroids(n: Int) =
    org.apache.spark.sql.functions.udaf(new TopNCentroids(n),
      org.apache.spark.sql.Encoders.product[CentScore])

  /** Filtered vector search: exact top-k among the corpus rows satisfying
    * `pred` (search within a language, a source, a date range — the
    * metadata-filtered retrieval every RAG/curation pipeline runs). The
    * predicate applies BEFORE the similarity kernel, so it reaches the
    * parquet scan as a pushed filter and excluded rows' vectors are never
    * read — filtering after an unfiltered ANN search (post-filtering)
    * under-fills k and scans more; this is the pre-filter plan. */
  def filteredKnn(corpus: DataFrame, pred: Column, queries: DataFrame, k: Int,
                  idCol: String = "vec_id", vecCol: String = "embedding",
                  qIdCol: String = "vec_id", qVecCol: String = "embedding"): DataFrame =
    bruteForceKnn(corpus.filter(pred), queries, k, idCol, vecCol, qIdCol, qVecCol)

  /** Hybrid lexical+vector retrieval fused by Reciprocal Rank Fusion
    * (Cormack/Clarke/Büttcher, SIGIR 2009): rrf(d) = Σ_list 1/(k0 + rank_d)
    * over the BM25 top-`poolN` and the cosine top-`poolN`. Rank fusion
    * needs no score calibration between the two signals, which is why it
    * is the standard hybrid default. `queryVecs` carries the single query
    * vector as a one-row DataFrame (same shape [[bruteForceKnn]] takes).
    *
    * Scale: the two searches are the cost — BM25 is a broadcast-terms
    * postings join, the vector side a broadcast-query scan; the fusion
    * itself joins two ≤poolN-row lists. Documents found by only one list
    * keep their one-sided contribution (full outer join), exactly the
    * published formula. */
  def hybridSearch(textIndex: MatchText.InvertedIndex, vectors: DataFrame,
                   queryText: String, queryVecs: DataFrame,
                   topN: Int = 10, poolN: Int = 50, k0: Int = 60,
                   idCol: String = "vec_id", vecCol: String = "embedding",
                   qIdCol: String = "vec_id", qVecCol: String = "embedding"): DataFrame = {
    val lexRanked = MatchText.searchBM25(textIndex, queryText, topN = poolN)
      .select(col("doc_id").cast("long").as("id"), col("score").as("bm25_score"))
      .withColumn("lex_rank",
        row_number().over(Window.orderBy(col("bm25_score").desc, col("id"))))
    val vecRanked = bruteForceKnn(vectors, queryVecs, k = poolN,
        idCol, vecCol, qIdCol, qVecCol)
      .select(col("cid").cast("long").as("id"), col("sim").as("cos_sim"),
        col("rk").as("vec_rank"))
    lexRanked.join(vecRanked, Seq("id"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(k0) + col("lex_rank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(k0) + col("vec_rank")), lit(0.0)))
      .orderBy(col("rrf").desc, col("id"))
      .limit(topN)
      .select(col("id"), col("rrf"), col("bm25_score"), col("cos_sim"),
        col("lex_rank"), col("vec_rank"))
  }

  // ---------- Product quantization (Jégou/Douze/Schmid, TPAMI 2011:
  // "Product Quantization for Nearest Neighbor Search") ----------

  /** Train PQ codebooks: split the d-dim space into `m` subspaces of d/m
    * dims and k-means each subspace to `ksub` centroids. Training runs at
    * the driver on the same bounded deterministic sample
    * [[kmeansBucketize]] uses (top `trainCap` rows by xxhash64(id) —
    * TakeOrdered, no full sort; cost O(trainCap·ksub·d) regardless of
    * corpus size). Returns codebooks(sub)(code)(subdim). Deterministic:
    * sample order, init (first `ksub` distinct subvectors) and iteration
    * count are all pinned, so repeated builds encode identically. */
  def pqTrain(corpus: DataFrame, m: Int, ksub: Int = 16, iters: Int = 8,
              idCol: String = "vec_id", vecCol: String = "embedding",
              trainCap: Int = 65536): Array[Array[Array[Float]]] = {
    val sample: Array[Array[Float]] = corpus
      .select(col(idCol).as("cid"), col(vecCol).as("cvec"))
      .orderBy(xxhash64(col("cid")), col("cid")).limit(trainCap)
      .select(col("cvec").cast("array<float>"))
      .collect().map(_.getSeq[Float](0).toArray)
    require(sample.nonEmpty, "pqTrain: empty corpus")
    val d = sample.head.length
    require(d % m == 0, s"pqTrain: dim $d not divisible by m=$m")
    val dsub = d / m
    Array.tabulate(m) { s =>
      val sub = sample.map(v => java.util.Arrays.copyOfRange(v, s * dsub, (s + 1) * dsub))
      // init: first ksub DISTINCT subvectors (duplicates would pin two
      // centroids together and waste a code)
      val init = scala.collection.mutable.ArrayBuffer.empty[Array[Float]]
      val seen = scala.collection.mutable.HashSet.empty[Seq[Float]]
      var i = 0
      while (i < sub.length && init.length < ksub) {
        if (seen.add(sub(i).toSeq)) init += sub(i).clone()
        i += 1
      }
      var cents = init.toArray
      def d2(a: Array[Float], b: Array[Float]): Double = {
        var acc = 0.0; var j = 0
        while (j < a.length) { val t = a(j) - b(j); acc += t * t; j += 1 }
        acc
      }
      var it = 0
      while (it < iters) {
        val sums = Array.fill(cents.length)(new Array[Double](dsub))
        val counts = new Array[Long](cents.length)
        sub.foreach { v =>
          var best = 0; var bd = Double.MaxValue; var c = 0
          while (c < cents.length) {
            val dd = d2(v, cents(c)); if (dd < bd) { bd = dd; best = c }; c += 1
          }
          var j = 0
          while (j < dsub) { sums(best)(j) += v(j); j += 1 }
          counts(best) += 1
        }
        cents = cents.zipWithIndex.map { case (prev, c) =>
          if (counts(c) == 0) prev
          else Array.tabulate(dsub)(j => (sums(c)(j) / counts(c)).toFloat)
        }
        it += 1
      }
      cents
    }
  }

  /** The PQ-encode UDF over broadcast codebooks — shared by [[pqEncode]],
    * [[ivfPqIndex]] and [[updatePqIndex]] so already-derived inputs
    * (bucketed corpora, delta assignments) encode in ONE pass instead of
    * re-deriving their lineage for a second projection. */
  private def pqEncoderUdf(spark: org.apache.spark.sql.SparkSession,
                           codebooks: Array[Array[Array[Float]]])
      : org.apache.spark.sql.expressions.UserDefinedFunction = {
    val bc = spark.sparkContext.broadcast(codebooks)
    udf { (v: Seq[Float]) =>
      if (v == null) null
      else {
        val cb = bc.value
        val m = cb.length
        val dsub = cb(0)(0).length
        Array.tabulate(m) { s =>
          var best = 0; var bd = Double.MaxValue; var c = 0
          while (c < cb(s).length) {
            var acc = 0.0; var j = 0
            while (j < dsub) {
              val t = v(s * dsub + j) - cb(s)(c)(j); acc += t * t; j += 1
            }
            if (acc < bd) { bd = acc; best = c }
            c += 1
          }
          best
        }
      }
    }
  }

  /** Encode every corpus vector to `m` codebook indices — d·4 bytes become
    * m small codes (32× at d=64, m=8 vs float32; 8× vs the int8 index).
    * One map-only pass; the codebooks broadcast once per executor via a
    * Spark broadcast variable, never per row. Returns (cid, codes). */
  def pqEncode(corpus: DataFrame, codebooks: Array[Array[Array[Float]]],
               idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val enc = pqEncoderUdf(corpus.sparkSession, codebooks)
    corpus.select(col(idCol).as("cid"),
      enc(col(vecCol).cast("array<float>")).as("codes"))
  }

  /** The m×ksub ADC table for one query: squared L2 from each of the
    * query's sub-vectors to every sub-centroid, flattened row-major. */
  private def adcTable(qv: Array[Float],
                       codebooks: Array[Array[Array[Float]]]): Array[Float] = {
    val m = codebooks.length
    val ksub = codebooks(0).length
    val dsub = codebooks(0)(0).length
    val t = new Array[Float](m * ksub)
    var s = 0
    while (s < m) {
      var c = 0
      while (c < ksub) {
        var acc = 0.0; var j = 0
        while (j < dsub) {
          val dd = qv(s * dsub + j) - codebooks(s)(c)(j); acc += dd * dd; j += 1
        }
        t(s * ksub + c) = acc.toFloat
        c += 1
      }
      s += 1
    }
    t
  }

  /** ADC top-k over PQ codes with exact re-ranking (the standard IVFADC
    * recipe, Jégou 2011 §V): per query the driver precomputes the m×ksub
    * table of squared subspace distances — `m·ksub` floats, broadcast as a
    * column literal — and each code row scores as m table lookups through
    * codegen'd `zip_with`/`aggregate` built-ins: the float corpus is NEVER
    * read during the scan. The ADC top `k·rerank` candidates then join
    * their true vectors (k·rerank rows per query, not the corpus) for an
    * exact L2 re-rank, recovering most of the recall the lossy codes gave
    * up. At 100 TB the scan reads the m-byte codes (≈0.8 TB at m=8) plus
    * k·rerank·d floats — vs 25 TB for the int8 index scan.
    * Output (qid, cid, dist, rk), rk by exact L2 ascending. */
  def pqKnn(codes: DataFrame, codebooks: Array[Array[Array[Float]]],
            corpus: DataFrame, queries: DataFrame, k: Int, rerank: Int = 8,
            idCol: String = "vec_id", vecCol: String = "embedding",
            qIdCol: String = "vec_id", qVecCol: String = "embedding"): DataFrame = {
    val spark = codes.sparkSession
    import spark.implicits._
    val m = codebooks.length
    val ksub = codebooks(0).length
    // per-query ADC tables, driver-built (queries are the small side by
    // definition — the same driver singleton knnMatch uses)
    val qRows: Array[(Long, Array[Float])] = queries
      .select(col(qIdCol).cast("long"), col(qVecCol).cast("array<float>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val tables = qRows.map { case (qid, qv) =>
      (qid, adcTable(qv, codebooks).toSeq)
    }.toSeq.toDF("qid", "qtable")
    // ADC: dist = Σ_s qtable[s·ksub + code_s] — zip_with pairs each code
    // with its subspace index, aggregate sums the lookups (all codegen'd)
    val adc = codes.crossJoin(broadcast(tables))
      .select(col("qid"), col("cid"),
        expr(s"aggregate(zip_with(codes, sequence(0, ${m - 1}), " +
          s"(c, i) -> element_at(qtable, i * $ksub + c + 1)), " +
          "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)").as("adc_dist"))
    val wAdc = Window.partitionBy(col("qid"))
      .orderBy(col("adc_dist"), col("cid"))
    val cands = adc.withColumn("crk", row_number().over(wAdc))
      .filter(col("crk") <= k * rerank)
      .select(col("qid"), col("cid"))
    // exact re-rank: only the candidates' float vectors are read
    val c = corpus.select(col(idCol).as("cid"), col(vecCol).as("cvec"))
    val q = queries.select(col(qIdCol).cast("long").as("qid"),
      col(qVecCol).as("qvec"))
    val exactD = cands.join(c, Seq("cid")).join(broadcast(q), Seq("qid"))
      .select(col("qid"), col("cid"),
        expr("aggregate(zip_with(cvec, qvec, (a, b) -> " +
          "CAST((a - b) * (a - b) AS DOUBLE)), CAST(0.0 AS DOUBLE), " +
          "(acc, x) -> acc + x)").as("dist"))
    val w = Window.partitionBy(col("qid")).orderBy(col("dist"), col("cid"))
    exactD.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("qid"), col("cid"), col("dist"), col("rk"))
  }

  // ---------- stored IVF-PQ (the SQL `knn_match` encoding='pq' path) ----------

  /** PQ-encode an IVF-bucketed corpus — (bucket, cid, pqcodes). The
    * stored twin of [[quantizedIndex]] at m bytes/vector instead of
    * dim bytes: bucket-partitioned parquet prunes the nprobe search to
    * nprobe partitions AT THE SCAN, and each pruned byte is 16× smaller
    * than the float it stands for (m=16, dim=64). */
  def ivfPqIndex(bucketed: DataFrame,
                 codebooks: Array[Array[Array[Float]]]): DataFrame =
    PqCodec(codebooks, residual = false).encode(bucketed, None)

  /** Persist / load the PQ codebooks beside the codes (parquet of
    * (sub, code, vals) — a few KB; the index layout mirrors the int8
    * store: codes/ + centroids/ + codebooks/). */
  def savePqCodebooks(spark: org.apache.spark.sql.SparkSession,
                      codebooks: Array[Array[Array[Float]]],
                      path: String): Unit = {
    import spark.implicits._
    codebooks.zipWithIndex.flatMap { case (sub, s) =>
      sub.zipWithIndex.map { case (cent, c) => (s, c, cent.toSeq) }
    }.toSeq.toDF("sub", "code", "vals")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  def loadPqCodebooks(spark: org.apache.spark.sql.SparkSession,
                      path: String): Array[Array[Array[Float]]] = {
    val rows = ParquetFooter.read(spark, path)
      .select(col("sub"), col("code"), col("vals"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Float](2).toArray))
    val m = rows.map(_._1).max + 1
    Array.tabulate(m) { s =>
      rows.filter(_._1 == s).sortBy(_._2).map(_._3)
    }
  }

  /** [[updateIndex]] on the raw-vector PQ layout. */
  def updatePqIndex(codes: DataFrame, centroids: DataFrame,
                    codebooks: Array[Array[Array[Float]]],
                    removedIds: DataFrame, added: DataFrame,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame =
    updateIndex(PqCodec(codebooks, residual = false),
      codes, centroids, removedIds, added, idCol, vecCol)

  /** [[ivfKnnStored]]'s PQ twin: candidate generation reads ONLY the
    * bucket-pruned m-byte PQ codes, scored by ADC table lookups
    * (codegen'd zip_with/aggregate — the driver-built m×ksub table rides
    * in as a broadcast literal column); the float corpus joins back only
    * for the ADC top `k·rerank` survivors, re-ranked by exact
    * `vector_similarity` = 1/(1+l2²) so ranking matches the int8 route
    * and the exact Dialect fallback. `candidateFilter` semantics are
    * identical to [[ivfKnnStored]] — filter-before-k-selection, applied
    * within the probed buckets, callers widen on shortfall. */
  def ivfPqKnnStored(codes: DataFrame, centroids: DataFrame,
                     codebooks: Array[Array[Array[Float]]],
                     corpus: DataFrame, queries: DataFrame, k: Int,
                     nprobe: Int = 4, rerank: Int = 8,
                     idCol: String = "vec_id", vecCol: String = "embedding",
                     qIdCol: String = "vec_id", qVecCol: String = "embedding",
                     candidateFilter: Option[DataFrame] = None): DataFrame = {
    val spark = codes.sparkSession
    import spark.implicits._
    val m = codebooks.length
    val ksub = codebooks(0).length
    val qRows: Array[(Long, Array[Float])] = queries
      .select(col(qIdCol).cast("long"), col(qVecCol).cast("array<float>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val tables = qRows.map { case (qid, qv) =>
      (qid, adcTable(qv, codebooks).toSeq)
    }.toSeq.toDF("qid", "qtable")
    val q = queries.select(col(qIdCol).cast("long").as("qid"),
      col(qVecCol).as("qvec"))
    val probes = q.crossJoin(broadcast(centroids))
      .withColumn("csim",
        VectorFunctions.vectorSimilarity(col("qvec"), col("centroid")))
      .withColumn("crk", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("csim").desc, col("centroid_id"))))
      .filter(col("crk") <= nprobe)
      .select(col("qid"), col("centroid_id").as("bucket"))
    val probed = codes.join(broadcast(probes), Seq("bucket"))
    val eligible = candidateFilter.fold(probed)(f =>
      probed.join(f.select(col(f.columns.head).as("cid")), Seq("cid"), "left_semi"))
    val adc = eligible.join(broadcast(tables), Seq("qid"))
      .select(col("qid"), col("cid"),
        expr(s"aggregate(zip_with(pqcodes, sequence(0, ${m - 1}), " +
          s"(c, i) -> element_at(qtable, i * $ksub + c + 1)), " +
          "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)").as("adc_dist"))
    val cands = adc.withColumn("ark", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("adc_dist"), col("cid"))))
      .filter(col("ark") <= k * rerank)
      .select(col("qid"), col("cid"))
    cands
      .join(corpus.select(col(idCol).as("cid"), col(vecCol).as("cvec")), Seq("cid"))
      .join(broadcast(q), Seq("qid"))
      .select(col("qid"), col("cid"),
        VectorFunctions.vectorSimilarity(col("cvec"), col("qvec")).as("sim"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("cid"))))
      .filter(col("rk") <= k)
      .select(col("qid"), col("cid"), col("sim"), col("rk"))
  }

  // ---------- residual IVF-PQ (the full IVFADC recipe, Jégou 2011 §V.A) ----------

  /** Per-row residuals r = v − centroid(v) for an IVF-bucketed corpus —
    * the quantity the full IVFADC recipe encodes instead of the raw
    * vector: residuals concentrate around 0 with far less variance than
    * the vectors themselves, so the same m×ksub code budget spends its
    * resolution on the informative part and recall rises at identical
    * index size. Map-only (centroids broadcast, zip_with subtraction);
    * float arithmetic end-to-end so the encoded quantity matches the
    * query-side residual the ADC tables are built from. */
  def pqResiduals(bucketed: DataFrame, centroids: DataFrame): DataFrame =
    bucketed.join(broadcast(centroids),
        col("bucket") === col("centroid_id"))
      .select(col("bucket"), col("cid"),
        zip_with(col("cvec").cast("array<float>"),
          col("centroid").cast("array<float>"), (a, b) => a - b).as("rvec"))

  /** [[pqTrain]] over residuals: one shared codebook set trained on the
    * residual distribution across ALL buckets (Jégou 2011's memory/quality
    * middle ground — per-bucket codebooks would multiply codebook storage
    * by the centroid count for marginal gain). */
  def pqTrainResidual(bucketed: DataFrame, centroids: DataFrame,
                      m: Int, ksub: Int = 16, iters: Int = 8,
                      trainCap: Int = 65536): Array[Array[Array[Float]]] =
    pqTrain(pqResiduals(bucketed, centroids), m = m, ksub = ksub,
      iters = iters, idCol = "cid", vecCol = "rvec", trainCap = trainCap)

  /** [[ivfPqIndex]]'s residual twin: (bucket, cid, pqcodes) where the
    * codes quantize v − centroid(bucket). Same layout, same byte cost. */
  def ivfPqIndexResidual(bucketed: DataFrame, centroids: DataFrame,
                         codebooks: Array[Array[Array[Float]]]): DataFrame =
    PqCodec(codebooks, residual = true).encode(bucketed, Some(centroids))

  /** [[updateIndex]] on the residual PQ layout — identical delta
    * discipline; the added rows encode their residual v − centroid(v)
    * against the fixed centroids AND fixed codebooks. */
  def updatePqIndexResidual(codes: DataFrame, centroids: DataFrame,
                            codebooks: Array[Array[Array[Float]]],
                            removedIds: DataFrame, added: DataFrame,
                            idCol: String = "vec_id",
                            vecCol: String = "embedding"): DataFrame =
    updateIndex(PqCodec(codebooks, residual = true),
      codes, centroids, removedIds, added, idCol, vecCol)

  /** [[ivfPqKnnStored]] over residual codes. The one structural change:
    * ADC tables are per (query, probed bucket) — the table for bucket b
    * quantizes distances of (q − centroid_b) against the codebooks, so
    * `‖q − v‖² ≈ ADC(q − c_b, code(v − c_b))` holds exactly as in the
    * paper. nprobe·m·ksub floats per query, still a driver-built
    * broadcast literal; probe selection runs on the driver over the
    * collected centroid set (bounded — the same rows every other path
    * broadcasts) with the IDENTICAL ordering semantics
    * (vector_similarity desc, centroid_id asc) as the DataFrame probe. */
  def ivfPqKnnStoredResidual(codes: DataFrame, centroids: DataFrame,
                             codebooks: Array[Array[Array[Float]]],
                             corpus: DataFrame, queries: DataFrame, k: Int,
                             nprobe: Int = 4, rerank: Int = 8,
                             idCol: String = "vec_id", vecCol: String = "embedding",
                             qIdCol: String = "vec_id", qVecCol: String = "embedding",
                             candidateFilter: Option[DataFrame] = None): DataFrame = {
    val spark = codes.sparkSession
    import spark.implicits._
    val m = codebooks.length
    val ksub = codebooks(0).length
    val qRows: Array[(Long, Array[Float])] = queries
      .select(col(qIdCol).cast("long"), col(qVecCol).cast("array<float>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val cents: Array[(Long, Array[Float])] = centroids
      .select(col("centroid_id").cast("long"), col("centroid").cast("array<float>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    // driver probe selection — ascending-index double accumulation, then
    // 1/(1+l2²) desc with centroid_id asc: bit-identical ordering to the
    // vectorSimilarity DataFrame probe of the non-residual route
    def vsim(a: Array[Float], b: Array[Float]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length && i < b.length) {
        val t = a(i).toDouble - b(i).toDouble; acc += t * t; i += 1
      }
      1.0 / (1.0 + acc)
    }
    val tables = qRows.flatMap { case (qid, qv) =>
      cents.map { case (b, cv) => (b, cv, vsim(qv, cv)) }
        .sortBy { case (b, _, s) => (-s, b) }
        .take(nprobe)
        .map { case (b, cv, _) =>
          val qr = Array.tabulate(qv.length)(i => qv(i) - cv(i))
          (qid, b, adcTable(qr, codebooks).toSeq)
        }
    }.toSeq.toDF("qid", "bucket", "qtable")
    val probed = codes.join(broadcast(
      tables.select(col("qid"), col("bucket"))), Seq("bucket"))
    val eligible = candidateFilter.fold(probed)(f =>
      probed.join(f.select(col(f.columns.head).as("cid")), Seq("cid"), "left_semi"))
    val adc = eligible.join(broadcast(tables), Seq("qid", "bucket"))
      .select(col("qid"), col("cid"),
        expr(s"aggregate(zip_with(pqcodes, sequence(0, ${m - 1}), " +
          s"(c, i) -> element_at(qtable, i * $ksub + c + 1)), " +
          "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)").as("adc_dist"))
    val cands = adc.withColumn("ark", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("adc_dist"), col("cid"))))
      .filter(col("ark") <= k * rerank)
      .select(col("qid"), col("cid"))
    val q = queries.select(col(qIdCol).cast("long").as("qid"),
      col(qVecCol).as("qvec"))
    cands
      .join(corpus.select(col(idCol).as("cid"), col(vecCol).as("cvec")), Seq("cid"))
      .join(broadcast(q), Seq("qid"))
      .select(col("qid"), col("cid"),
        VectorFunctions.vectorSimilarity(col("cvec"), col("qvec")).as("sim"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("cid"))))
      .filter(col("rk") <= k)
      .select(col("qid"), col("cid"), col("sim"), col("rk"))
  }
}

/** One (centroid, similarity) candidate for the multi-probe assignment. */
final case class CentScore(centroid_id: Long, sim: Double)

/** Keep the `n` best-scoring centroids per group. Buffer is at most `n`
  * entries, `merge` is associative/commutative → Spark runs it
  * ITER_PARTIAL → PARTIAL_FINAL like any built-in aggregate; ties break to
  * the lowest centroid id so assignment is deterministic. */
class TopNCentroids(n: Int)
    extends org.apache.spark.sql.expressions.Aggregator[CentScore, Seq[CentScore], Seq[Long]] {
  /** The exact total order the old `sortBy(c => (-c.sim, c.centroid_id))`
    * used (scala 2.13's default Ordering[Double] is java.lang.Double
    * .compare semantics): descending sim, ties to the LOWEST centroid id.
    * r16: reduce() was a full sort per INPUT ROW and the buffer rode a
    * kryo encoder — the dominant cost of the assignment stage (q221/q217
    * profile). Bounded insertion + the columnar expression encoder keep
    * the buffer ≤ n entries (the documented map-side-combine scale
    * contract) with identical results (keys (sim, cid) are unique per
    * group, so the order — and take(n) — is the same). */
  private def beats(a: CentScore, b: CentScore): Boolean = {
    val s = java.lang.Double.compare(b.sim, a.sim)
    s < 0 || (s == 0 && a.centroid_id < b.centroid_id)
  }
  override def zero: Seq[CentScore] = Nil
  override def reduce(b: Seq[CentScore], a: CentScore): Seq[CentScore] =
    if (b.length == n && beats(b.last, a)) b
    else {
      val (pre, post) = b.span(c => beats(c, a))
      (pre ++ (a +: post)).take(n)
    }
  override def merge(x: Seq[CentScore], y: Seq[CentScore]): Seq[CentScore] =
    y.foldLeft(x)(reduce)
  override def finish(b: Seq[CentScore]): Seq[Long] = b.map(_.centroid_id)
  override def bufferEncoder: org.apache.spark.sql.Encoder[Seq[CentScore]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[CentScore]]()
  override def outputEncoder: org.apache.spark.sql.Encoder[Seq[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()
}
