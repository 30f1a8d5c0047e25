package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.util.GenericArrayData
import graft.functions.TextFunctions
import graft.operators.Dedup

/** Pins the round-16 optimization internals: the pre-shingled verify
  * stages must agree bit-for-bit with the per-pair re-tokenizing kernels
  * they replaced, the q208 merged claim layout must reproduce the old
  * bands+sigs semantics, and the memo-hygiene guards must actually fire.
  * (OPTIMIZATION_r16.md documents the measurements.) */
class OptimizationR16Spec extends SparkTestBase {

  private def jac(a: String, b: String, sh: Int): Double =
    TextFunctions.jaccardSortedLongs(
      new GenericArrayData(TextFunctions.shingleArray(a, sh)),
      new GenericArrayData(TextFunctions.shingleArray(b, sh)))

  test("shingleArray + jaccardSortedLongs == shingleJaccard, incl. edges") {
    val cases = Seq(
      ("the quick brown fox", "the quick brown fox jumps"),
      ("  Mixed   CASE text\nwith lines ", "mixed case text with lines"),
      ("", ""),               // both empty -> 1.0
      ("abc", ""),            // short-vs-empty
      ("ab", "ab"),           // below shingle size -> singleton sets
      ("ab", "ba"),
      ("aaaaaaa", "aaaaaab"), // heavy shingle repetition
      ("totally different words here", "nothing shared at all"))
    for ((a, b) <- cases; sh <- Seq(3, 5)) {
      assert(jac(a, b, sh) == TextFunctions.shingleJaccard(a, b, sh),
        s"mismatch for ($a, $b, $sh)")
    }
    // sorted-distinct contract the merge-count relies on
    val arr = TextFunctions.shingleArray("the quick brown fox the quick", 5)
    assert(arr.toSeq == arr.toSeq.sorted && arr.toSeq.distinct == arr.toSeq)
  }

  test("minhashPairs: pre-shingled verify reproduces exact shingle-Jaccard") {
    val docs = spark.createDataFrame(Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "the quick brown fox leaps over the lazy dog"),
      (4L, "entirely unrelated content about databases"),
      (5L, "the quick brown fox jumps over the lazy cat")))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashPairs(docs, "doc_id", "text",
      threshold = 0.5).collect()
    assert(pairs.nonEmpty)
    val texts = Map(1L -> "the quick brown fox jumps over the lazy dog",
      2L -> "the quick brown fox jumps over the lazy dog",
      3L -> "the quick brown fox leaps over the lazy dog",
      4L -> "entirely unrelated content about databases",
      5L -> "the quick brown fox jumps over the lazy cat")
    pairs.foreach { r =>
      val expected = TextFunctions.shingleJaccard(
        texts(r.getLong(0)), texts(r.getLong(1)), 5)
      assert(r.getDouble(2) == expected,
        s"pair (${r.getLong(0)}, ${r.getLong(1)}) jaccard drifted")
    }
    assert(pairs.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L &&
      r.getDouble(2) == 1.0))
  }

  test("ngramJaccardPairs: sorted-gram merge == per-pair token-set jaccard") {
    val docs = spark.createDataFrame(Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon eta"),
      (3L, "one two three four five six seven"),
      (4L, "alpha beta gamma delta epsilon zeta")))
      .toDF("doc_id", "text")
    val n = 3
    def gramSet(t: String) = TextFunctions.tokenize(t).sliding(n)
      .filter(_.length == n).map(_.mkString(" ")).toSet
    val texts = Map(1L -> "alpha beta gamma delta epsilon zeta",
      2L -> "alpha beta gamma delta epsilon eta",
      3L -> "one two three four five six seven",
      4L -> "alpha beta gamma delta epsilon zeta")
    val rows = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = n,
      threshold = 0.1).collect()
    assert(rows.exists(r => r.getLong(0) == 1L && r.getLong(1) == 4L &&
      r.getDouble(2) == 1.0))
    rows.foreach { r =>
      val (sa, sb) = (gramSet(texts(r.getLong(0))), gramSet(texts(r.getLong(1))))
      val un = (sa ++ sb).size
      val expected = if (un == 0) 1.0 else sa.intersect(sb).size.toDouble / un
      assert(r.getDouble(2) == expected)
    }
  }

  test("q208 claims layout: one write per increment, keys == keyed() hashes") {
    import org.apache.spark.sql.DataFrame
    val state = graft.ArtifactStore.scratchDir("r16claims")
      .toFile.getAbsolutePath
    def batch(ids: Seq[Long]): DataFrame =
      spark.createDataFrame(ids.map(i => (i, s"w${i}_a w${i}_b w${i}_c uniq$i ")))
        .toDF("doc_id", "text")
    val k1 = graft.streaming.DedupStream
      .dedupMinhashIncrement(batch(Seq(1L, 2L)), "doc_id", "text", state)
    assert(k1.count() == 2)
    // ONE state dataset, the merged (id, sig, keys) layout
    val stateDirs = new java.io.File(state).listFiles().filter(_.isDirectory)
    assert(stateDirs.map(_.getName).toSet == Set("claims"))
    val claims = spark.read.parquet(s"$state/claims")
    assert(claims.columns.toSet == Set("id", "sig", "keys"))
    // keys must equal the probe side's xxhash64(pos, bkey) band hashes —
    // otherwise increment 2 would never match history and re-sends survive
    val b2 = spark.createDataFrame(Seq(
      (3L, "w3_a w3_b w3_c uniq3 "),         // fresh -> kept
      (10L, "w1_a w1_b w1_c uniq1 ")))       // exact re-send of id 1 -> dropped
      .toDF("doc_id", "text")
    val k2 = graft.streaming.DedupStream
      .dedupMinhashIncrement(b2, "doc_id", "text", state)
      .collect().map(_.getLong(0)).toSet
    assert(k2 == Set(3L), s"exact re-send must drop against history, got $k2")
  }

  test("cosineFloatsExact mirrors CosineSimilarityExpr bit-for-bit") {
    import graft.functions.VectorFunctions
    val emb = Tables.load(spark, sfDir, "embeddings").limit(40)
    val a = emb.select(col("vec_id").as("ia"), col("embedding").as("va"))
    val b = emb.select(col("vec_id").as("ib"), col("embedding").as("vb"))
    val viaExpr = a.crossJoin(b).filter(col("ia") < col("ib"))
      .select(col("ia"), col("ib"),
        VectorFunctions.cosineNative(col("va"), col("vb")).as("sim"),
        col("va"), col("vb"))
      .collect()
    assert(viaExpr.length > 100)
    viaExpr.foreach { r =>
      val k = VectorFunctions.cosineFloatsExact(
        r.getSeq[Float](3).toArray, r.getSeq[Float](4).toArray)
      assert(k != null && k.doubleValue == r.getDouble(2),
        s"kernel drifted from expression at (${r.getLong(0)}, ${r.getLong(1)})")
    }
    // null contract: mismatch / zero-norm
    assert(VectorFunctions.cosineFloatsExact(Array(1f), Array(1f, 2f)) == null)
    assert(VectorFunctions.cosineFloatsExact(Array(0f, 0f), Array(1f, 2f)) == null)
  }

  test("TopNCentroids bounded insertion == full sortBy((-sim, cid)).take(n)") {
    import graft.operators.{CentScore, TopNCentroids}
    val rnd = new scala.util.Random(42)
    val agg = new TopNCentroids(3)
    for (_ <- 1 to 50) {
      val rows = Seq.fill(20)(CentScore(rnd.nextInt(8).toLong,
        // coarse sims force sim ties so the cid tie-break is exercised
        math.floor(rnd.nextDouble() * 4) / 4.0))
      val viaAgg = rows.foldLeft(agg.zero)(agg.reduce)
      val viaSort = rows.sortBy(c => (-c.sim, c.centroid_id)).take(3)
      assert(agg.finish(viaAgg) == viaSort.map(_.centroid_id))
      // split-and-merge (the PARTIAL -> FINAL path) agrees too
      val (l, r) = rows.splitAt(7)
      val merged = agg.merge(l.foldLeft(agg.zero)(agg.reduce),
        r.foldLeft(agg.zero)(agg.reduce))
      assert(agg.finish(merged) == viaSort.map(_.centroid_id))
    }
  }

  test("TruthMemo: key reuse with different inputs is loud") {
    val emb = Tables.load(spark, sfDir, "embeddings")
    val t1 = graft.queries.QueriesAccess.truthExactPairs(emb, 0.4, "r16spec#fp")
    assert(t1.columns.nonEmpty)
    // same key, same inputs: fine (memo hit)
    graft.queries.QueriesAccess.truthExactPairs(emb, 0.4, "r16spec#fp")
    // same key, different threshold: must throw, not serve stale truth
    intercept[IllegalArgumentException] {
      graft.queries.QueriesAccess.truthExactPairs(emb, 0.5, "r16spec#fp")
    }
    // same key and threshold over another fixture dir (same schema):
    // the leaf scan paths differ, so it must throw too
    val other = Tables.load(spark, sfDir.replace("sf0.001", "sf0.01"), "embeddings")
    intercept[IllegalArgumentException] {
      graft.queries.QueriesAccess.truthExactPairs(other, 0.4, "r16spec#fp")
    }
  }
}
