package graft

import java.nio.file.Files

/** SQL `knn_match` through the router's stored quantized IVF index
  * (reference `expression/scalar/KnnMatch.java:48`,
  * docs/general/dql/vector-search.rst — the reference serves the
  * predicate from the float_vector column's HNSW index; graft's declared
  * twin is `INDEX iv USING VECTOR (col)`). */
class KnnStoredRouteSpec extends SparkTestBase {

  private val query =
    "SELECT id, _score FROM vt WHERE knn_match(emb, [1.0, 0.0], 3) " +
      "ORDER BY _score DESC"

  test("knn_match builds, loads, and delta-patches the stored IVF index") {
    val root = graft.ArtifactStore.scratchDir("graft_knn").toFile.getAbsolutePath
    val r = new StatementRouter(spark, root)
    r.execute(
      """CREATE TABLE vt (id BIGINT PRIMARY KEY, emb FLOAT_VECTOR(2),
        |  INDEX iv USING VECTOR (emb) WITH (centroids = 4, nprobe = 4))"""
        .stripMargin)
    // 40 unit vectors on a ring: distinct well-separated neighborhoods
    val values = (0 until 40).map { i =>
      val a = 2 * math.Pi * i / 40
      f"($i, [${math.cos(a)}%.4f, ${math.sin(a)}%.4f])"
    }.mkString(", ")
    r.execute(s"INSERT INTO vt (id, emb) VALUES $values")

    graft.operators.MatchText.IndexCache.clear()
    val rows = r.execute(query).collect()
    assert(StatementRouter.lastIndexBuild.get() == "full")
    assert(rows.length == 3)
    // nprobe = centroids → exhaustive probe: exact top-3 around (1, 0)
    assert(rows.map(_.getLong(0)).toSet == Set(0L, 1L, 39L))
    assert(rows.head.getLong(0) == 0L, "the exact hit ranks first")
    assert(math.abs(rows.head.getDouble(1) - 1.0) < 1e-9,
      "_score is vector_similarity = 1/(1+l2²)")
    // scores agree with the exact Dialect fallback on the same data
    graft.functions.GraftFunctions.registerAll(spark)
    spark.sql("SELECT * FROM vt").createOrReplaceTempView("vt_plain")
    val exact = spark.sql(Dialect.translate(query.replace("FROM vt ", "FROM vt_plain ")))
      .collect()
    // ids 1 and 39 tie exactly (symmetric ring) — compare order-free
    assert(exact.map(r0 => (r0.getLong(0), math.round(r0.getDouble(1) * 1e6))).sorted.toSeq ==
      rows.map(r0 => (r0.getLong(0), math.round(r0.getDouble(1) * 1e6))).sorted.toSeq)

    // durable: a fresh cache loads the stored codes instead of rebuilding
    graft.operators.MatchText.IndexCache.clear()
    r.execute(query).collect()
    assert(StatementRouter.lastIndexBuild.get() == "loaded")

    // small churn → incremental patch against fixed centroids, and the
    // new vector is searchable
    r.execute("INSERT INTO vt (id, emb) VALUES (100, [0.9999, 0.0001])")
    graft.operators.MatchText.IndexCache.clear()
    val rows2 = r.execute(query).collect()
    assert(StatementRouter.lastIndexBuild.get() == "delta")
    assert(rows2.map(_.getLong(0)).toSet == Set(0L, 100L, 1L))
  }

  test("knn_match without a declared index still answers (exact fallback)") {
    val root = graft.ArtifactStore.scratchDir("graft_knn2").toFile.getAbsolutePath
    val r = new StatementRouter(spark, root)
    r.execute("CREATE TABLE vt2 (id BIGINT PRIMARY KEY, emb FLOAT_VECTOR(2))")
    r.execute("INSERT INTO vt2 (id, emb) VALUES (1, [1.0, 0.0]), (2, [0.0, 1.0])")
    val rows = r.execute(
      "SELECT id FROM vt2 WHERE knn_match(emb, [0.9, 0.1], 1)").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("extra WHERE conjuncts pre-filter THROUGH the stored index") {
    val root = graft.ArtifactStore.scratchDir("graft_knn3").toFile.getAbsolutePath
    val r = new StatementRouter(spark, root)
    r.execute(
      """CREATE TABLE vt3 (id BIGINT PRIMARY KEY, emb FLOAT_VECTOR(2),
        |  INDEX iv USING VECTOR (emb) WITH (centroids = 2, nprobe = 2))"""
        .stripMargin)
    r.execute("INSERT INTO vt3 (id, emb) VALUES " +
      "(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 1.0])")
    StatementRouter.lastIndexBuild.set("")
    StatementRouter.lastKnnRoute.set("")
    val rows = r.execute(
      "SELECT id FROM vt3 WHERE id > 1 AND knn_match(emb, [1.0, 0.0], 1)")
      .collect()
    // pre-filter semantics: k rows from the FILTERED corpus (id=2, not
    // the global nearest id=1), served from the index, not the fallback
    assert(rows.map(_.getLong(0)).toSeq == Seq(2L))
    assert(StatementRouter.lastIndexBuild.get() != "",
      "filtered searches must be served from the stored index")
    assert(StatementRouter.lastKnnRoute.get() == "stored-index-filtered")
    // BETWEEN inside the pre-filter: its AND is not a conjunct boundary
    StatementRouter.lastKnnRoute.set("")
    val rows2 = r.execute(
      "SELECT id FROM vt3 WHERE id BETWEEN 2 AND 3 " +
        "AND knn_match(emb, [1.0, 0.0], 1)").collect()
    assert(rows2.map(_.getLong(0)).toSeq == Seq(2L))
    assert(StatementRouter.lastKnnRoute.get() == "stored-index-filtered")
  }

  test("selective filter matching only unprobed buckets widens the probe") {
    val root = graft.ArtifactStore.scratchDir("graft_knn5").toFile.getAbsolutePath
    val r = new StatementRouter(spark, root)
    // two well-separated clusters, 2 centroids, nprobe = 1: a query near
    // cluster A probes only A's bucket; a filter selecting cluster B rows
    // would find ZERO candidates at the fixed nprobe — the guard re-runs
    // over all buckets so the reference's k matching rows come back
    r.execute(
      """CREATE TABLE vt5 (id BIGINT PRIMARY KEY, emb FLOAT_VECTOR(2),
        |  INDEX iv USING VECTOR (emb) WITH (centroids = 2, nprobe = 1))"""
        .stripMargin)
    r.execute("INSERT INTO vt5 (id, emb) VALUES " +
      "(1, [1.0, 0.0]), (2, [0.98, 0.05]), (3, [0.99, -0.05]), (4, [0.97, 0.0]), " +
      "(11, [-1.0, 0.0]), (12, [-0.9, -0.1]), (13, [-0.95, 0.05]), (14, [-0.85, -0.2])")
    graft.operators.MatchText.IndexCache.clear()
    StatementRouter.lastKnnRoute.set("")
    StatementRouter.lastKnnProbe.set("")
    val rows = r.execute(
      "SELECT id FROM vt5 WHERE id > 10 AND knn_match(emb, [1.0, 0.0], 2) " +
        "ORDER BY _score DESC").collect()
    // nearest to [1,0] among id > 10 by l2: 14 ([-0.85,-0.2]) then 12
    assert(rows.map(_.getLong(0)).toSeq == Seq(14L, 12L))
    assert(StatementRouter.lastKnnRoute.get() == "stored-index-filtered")
    assert(StatementRouter.lastKnnProbe.get() == "widened",
      "a filter matching only unprobed buckets must widen the probe")
    // an unselective filter stays at the declared nprobe
    StatementRouter.lastKnnProbe.set("")
    val rows2 = r.execute(
      "SELECT id FROM vt5 WHERE id < 10 AND knn_match(emb, [1.0, 0.0], 2) " +
        "ORDER BY _score DESC").collect()
    // nearest to [1,0] within cluster A: 1 (exact), then 4 ([0.97,0])
    assert(rows2.map(_.getLong(0)).toSeq == Seq(1L, 4L))
    assert(StatementRouter.lastKnnProbe.get() == "fixed")
    // a filter matching FEWER than k rows, all already returned: an
    // all-buckets re-scan cannot find more — the widen is skipped
    // (pk-equality with k=2 here; the reference returns min(k, |matching|))
    StatementRouter.lastKnnProbe.set("")
    val rows3 = r.execute(
      "SELECT id FROM vt5 WHERE id = 1 AND knn_match(emb, [1.0, 0.0], 2)")
      .collect()
    assert(rows3.map(_.getLong(0)).toSeq == Seq(1L))
    assert(StatementRouter.lastKnnProbe.get() == "exhausted",
      "k > |filter matches| with every match returned must skip the re-scan")
  }

  test("the filtered search materializes once — the hits view is checkpointed") {
    // the recall guard counts the probed search; the hits view must read
    // those SAME materialized rows, not re-run probe + semi-join + rescore
    // (at 100 TB an uncached guard doubles every filtered vector query)
    val root = graft.ArtifactStore.scratchDir("graft_knn8").toFile.getAbsolutePath
    val r = new StatementRouter(spark, root)
    r.execute(
      """CREATE TABLE vt8 (id BIGINT PRIMARY KEY, emb FLOAT_VECTOR(2),
        |  INDEX iv USING VECTOR (emb) WITH (centroids = 2, nprobe = 1))"""
        .stripMargin)
    r.execute("INSERT INTO vt8 (id, emb) VALUES " +
      "(1, [1.0, 0.0]), (2, [0.9, 0.1]), (11, [-1.0, 0.0]), (12, [-0.9, -0.1])")
    def latestHitsLeaves() = {
      val v = spark.catalog.listTables().collect().map(_.name)
        .filter(_.startsWith("graft_knn_hits_"))
        .maxBy(_.stripPrefix("graft_knn_hits_").toLong)
      spark.table(v).queryExecution.optimizedPlan.collectLeaves()
    }
    // fixed-probe path
    r.execute("SELECT id FROM vt8 WHERE id < 10 AND knn_match(emb, [1.0, 0.0], 2)")
      .collect()
    val fixedLeaves = latestHitsLeaves()
    assert(fixedLeaves.nonEmpty &&
      fixedLeaves.forall(_.getClass.getSimpleName == "LogicalRDD"),
      s"fixed-probe hits must be a checkpointed leaf, got " +
        fixedLeaves.map(_.getClass.getSimpleName).mkString(","))
    // widened path (filter matches only the unprobed cluster)
    StatementRouter.lastKnnProbe.set("")
    r.execute("SELECT id FROM vt8 WHERE id > 10 AND knn_match(emb, [1.0, 0.0], 2)")
      .collect()
    assert(StatementRouter.lastKnnProbe.get() == "widened")
    val widenedLeaves = latestHitsLeaves()
    assert(widenedLeaves.nonEmpty &&
      widenedLeaves.forall(_.getClass.getSimpleName == "LogicalRDD"),
      s"widened hits must be a checkpointed leaf, got " +
        widenedLeaves.map(_.getClass.getSimpleName).mkString(","))
  }

  test("a line comment inside a pre-filter conjunct does not corrupt the rewrite") {
    val root = graft.ArtifactStore.scratchDir("graft_knn6").toFile.getAbsolutePath
    val r = new StatementRouter(spark, root)
    r.execute("CREATE TABLE vt6 (id BIGINT PRIMARY KEY, emb FLOAT_VECTOR(2))")
    r.execute("INSERT INTO vt6 (id, emb) VALUES " +
      "(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 1.0])")
    // exact path (no index): the conjunct's `--` comment must be dropped,
    // not embedded where it would comment out the generated closing paren
    val rows = r.execute(
      "SELECT id FROM vt6 WHERE id >= 2 -- keep the tail\n" +
        " AND knn_match(emb, [1.0, 0.0], 1)").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("a filter that fails analysis leaves no temp view behind") {
    val root = graft.ArtifactStore.scratchDir("graft_knn7").toFile.getAbsolutePath
    val r = new StatementRouter(spark, root)
    r.execute(
      """CREATE TABLE vt7 (id BIGINT PRIMARY KEY, emb FLOAT_VECTOR(2),
        |  INDEX iv USING VECTOR (emb) WITH (centroids = 2, nprobe = 2))"""
        .stripMargin)
    r.execute("INSERT INTO vt7 (id, emb) VALUES (1, [1.0, 0.0])")
    val before = spark.catalog.listTables().collect()
      .map(_.name).count(_.startsWith("graft_knn_filter_"))
    intercept[Exception] {
      r.execute("SELECT id FROM vt7 WHERE no_such_col > 1 " +
        "AND knn_match(emb, [1.0, 0.0], 1)").collect()
    }
    val after = spark.catalog.listTables().collect()
      .map(_.name).count(_.startsWith("graft_knn_filter_"))
    assert(after == before, "failed filter analysis must drop its temp view")
  }

  test("encoding = 'pq' stores an IVF-PQ index: build/load/delta + filtered widen") {
    val root = graft.ArtifactStore.scratchDir("graft_knnpq").toFile.getAbsolutePath
    val r = new StatementRouter(spark, root)
    r.execute(
      """CREATE TABLE vpq (id BIGINT PRIMARY KEY, emb FLOAT_VECTOR(8),
        |  INDEX iv USING VECTOR (emb) WITH (centroids = 2, nprobe = 1,
        |    encoding = 'pq', pq_m = 4, pq_ksub = 4))""".stripMargin)
    def v(base: Double, j: Double) =
      s"[${(0 until 8).map(i => if (i % 2 == 0) base else j).mkString(", ")}]"
    r.execute("INSERT INTO vpq (id, emb) VALUES " +
      s"(1, ${v(1.0, 0.0)}), (2, ${v(0.9, 0.1)}), " +
      s"(3, ${v(0.95, -0.05)}), (4, ${v(0.85, 0.0)}), " +
      s"(11, ${v(-1.0, 0.0)}), (12, ${v(-0.9, -0.1)}), " +
      s"(13, ${v(-0.95, 0.05)}), (14, ${v(-0.85, 0.2)})")
    graft.operators.MatchText.IndexCache.clear()
    val q = s"SELECT id, _score FROM vpq WHERE knn_match(emb, ${v(1.0, 0.0)}, 2) " +
      "ORDER BY _score DESC"
    val rows = r.execute(q).collect()
    assert(StatementRouter.lastIndexBuild.get() == "full")
    assert(rows.length == 2 && rows.head.getLong(0) == 1L,
      "the exact self-vector ranks first (re-rank is exact)")
    assert(math.abs(rows.head.getDouble(1) - 1.0) < 1e-9)
    assert(rows.forall(_.getLong(0) <= 4L), "both hits from cluster A")
    // the store carries codes + centroids + codebooks
    assert(new java.io.File(s"$root/vpq/_vecindex/iv").listFiles()
      .head.listFiles().map(_.getName).toSet
      .intersect(Set("codes", "centroids", "codebooks")).size == 3)
    // SHOW CREATE TABLE reproduces the pq clause
    val show = r.execute("SHOW CREATE TABLE vpq").head().getString(0)
    assert(show.contains("encoding = 'pq', pq_m = 4, pq_ksub = 4"), show)
    // durable: a fresh cache loads instead of rebuilding
    graft.operators.MatchText.IndexCache.clear()
    r.execute(q).collect()
    assert(StatementRouter.lastIndexBuild.get() == "loaded")
    // filtered to the unprobed cluster: the guard widens, k matching rows
    StatementRouter.lastKnnProbe.set("")
    val filtered = r.execute(
      s"SELECT id FROM vpq WHERE id > 10 AND knn_match(emb, ${v(1.0, 0.0)}, 2)")
      .collect()
    assert(filtered.length == 2 && filtered.forall(_.getLong(0) > 10L))
    assert(StatementRouter.lastKnnProbe.get() == "widened")
    // small churn → delta against FIXED centroids + codebooks; the new
    // exact-duplicate vector ties into the top-2
    r.execute(s"INSERT INTO vpq (id, emb) VALUES (100, ${v(1.0, 0.0)})")
    graft.operators.MatchText.IndexCache.clear()
    val rows2 = r.execute(q).collect()
    assert(StatementRouter.lastIndexBuild.get() == "delta")
    assert(rows2.map(_.getLong(0)).toSet == Set(1L, 100L),
      s"got ${rows2.map(_.getLong(0)).mkString(",")}")
  }

  test("pq_residual = true stores residual codes: build/load/delta, " +
       "SHOW CREATE round-trip, exact top ranks") {
    val root = graft.ArtifactStore.scratchDir("graft_knnpqr").toFile.getAbsolutePath
    val r = new StatementRouter(spark, root)
    r.execute(
      """CREATE TABLE vpqr (id BIGINT PRIMARY KEY, emb FLOAT_VECTOR(8),
        |  INDEX iv USING VECTOR (emb) WITH (centroids = 2, nprobe = 1,
        |    encoding = 'pq', pq_m = 4, pq_ksub = 4,
        |    pq_residual = true))""".stripMargin)
    def v(base: Double, j: Double) =
      s"[${(0 until 8).map(i => if (i % 2 == 0) base else j).mkString(", ")}]"
    r.execute("INSERT INTO vpqr (id, emb) VALUES " +
      s"(1, ${v(1.0, 0.0)}), (2, ${v(0.9, 0.1)}), " +
      s"(3, ${v(0.95, -0.05)}), (4, ${v(0.85, 0.0)}), " +
      s"(11, ${v(-1.0, 0.0)}), (12, ${v(-0.9, -0.1)}), " +
      s"(13, ${v(-0.95, 0.05)}), (14, ${v(-0.85, 0.2)})")
    graft.operators.MatchText.IndexCache.clear()
    val q = s"SELECT id, _score FROM vpqr WHERE knn_match(emb, ${v(1.0, 0.0)}, 2) " +
      "ORDER BY _score DESC"
    val rows = r.execute(q).collect()
    assert(StatementRouter.lastIndexBuild.get() == "full")
    assert(rows.length == 2 && rows.head.getLong(0) == 1L,
      "the exact self-vector ranks first (re-rank is exact)")
    assert(math.abs(rows.head.getDouble(1) - 1.0) < 1e-9)
    assert(rows.forall(_.getLong(0) <= 4L), "both hits from cluster A")
    // the analyzer slot carries the residual tail and SHOW CREATE
    // round-trips it
    assert(graft.sources.VersionedTable.indexSpecs(spark, s"$root/vpqr")
      .head.analyzer == "vector:2:1:pq:4:4:res")
    val show = r.execute("SHOW CREATE TABLE vpqr").head().getString(0)
    assert(show.contains(
      "encoding = 'pq', pq_m = 4, pq_ksub = 4, pq_residual = true"), show)
    // durable: a fresh cache loads instead of rebuilding
    graft.operators.MatchText.IndexCache.clear()
    r.execute(q).collect()
    assert(StatementRouter.lastIndexBuild.get() == "loaded")
    // delta patch encodes the added row's RESIDUAL against the fixed
    // centroids/codebooks; the exact duplicate ties into the top-2
    r.execute(s"INSERT INTO vpqr (id, emb) VALUES (100, ${v(1.0, 0.0)})")
    graft.operators.MatchText.IndexCache.clear()
    val rows2 = r.execute(q).collect()
    assert(StatementRouter.lastIndexBuild.get() == "delta")
    assert(rows2.map(_.getLong(0)).toSet == Set(1L, 100L),
      s"got ${rows2.map(_.getLong(0)).mkString(",")}")
  }

  test("non-literal query vectors are served from the stored index") {
    val root = graft.ArtifactStore.scratchDir("graft_knn4").toFile.getAbsolutePath
    val r = new StatementRouter(spark, root)
    r.execute(
      """CREATE TABLE vt4 (id BIGINT PRIMARY KEY, emb FLOAT_VECTOR(2),
        |  INDEX iv USING VECTOR (emb) WITH (centroids = 2, nprobe = 2))"""
        .stripMargin)
    r.execute("INSERT INTO vt4 (id, emb) VALUES " +
      "(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 1.0])")
    StatementRouter.lastKnnRoute.set("")
    // scalar subquery picks row 3's vector; nearest to it are 3 then 2
    val rows = r.execute(
      "SELECT id FROM vt4 WHERE knn_match(emb, " +
        "(SELECT v.emb FROM vt4 v WHERE v.id = 3), 2) " +
        "ORDER BY _score DESC").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(3L, 2L))
    assert(StatementRouter.lastKnnRoute.get() == "stored-index")
  }
}

/** The three stored layouts (int8 / PQ / residual PQ) now share ONE
  * assign/encode/delta path (Similarity.VectorCodec + updateIndex): this
  * matrix runs the IDENTICAL fixture, query, and churn scenario through
  * the router on all three layout DDLs and requires bit-identical
  * results at every step — the regression net for layout drift. */
class KnnLayoutMatrixSpec extends SparkTestBase {

  private def v(base: Double, j: Double) =
    s"[${(0 until 8).map(i => if (i % 2 == 0) base else j).mkString(", ")}]"

  private val layouts = Seq(
    "int8" -> "centroids = 2, nprobe = 2",
    "pq"   -> "centroids = 2, nprobe = 2, encoding = 'pq', pq_m = 4, pq_ksub = 4",
    "res"  -> ("centroids = 2, nprobe = 2, encoding = 'pq', pq_m = 4, " +
               "pq_ksub = 4, pq_residual = true"))

  test("the same delta scenario is served identically by all three layouts") {
    val results = layouts.map { case (name, opts) =>
      val root = graft.ArtifactStore
        .scratchDir(s"graft_mx_$name").toFile.getAbsolutePath
      val r = new StatementRouter(spark, root)
      val t = s"mx_$name"
      r.execute(s"""CREATE TABLE $t (id BIGINT PRIMARY KEY,
        |  emb FLOAT_VECTOR(8),
        |  INDEX iv USING VECTOR (emb) WITH ($opts))""".stripMargin)
      r.execute(s"INSERT INTO $t (id, emb) VALUES " +
        s"(1, ${v(1.0, 0.0)}), (2, ${v(0.9, 0.1)}), " +
        s"(3, ${v(0.95, -0.05)}), (4, ${v(0.85, 0.0)}), " +
        s"(11, ${v(-1.0, 0.0)}), (12, ${v(-0.9, -0.1)}), " +
        s"(13, ${v(-0.95, 0.05)}), (14, ${v(-0.85, 0.2)})")
      val q = s"SELECT id, _score FROM $t " +
        s"WHERE knn_match(emb, ${v(1.0, 0.0)}, 3) ORDER BY _score DESC"
      graft.operators.MatchText.IndexCache.clear()
      val full = r.execute(q).collect()
        .map(x => (x.getLong(0), math.round(x.getDouble(1) * 1e6))).toSeq
      assert(StatementRouter.lastIndexBuild.get() == "full", name)
      // identical churn everywhere: drop a top hit, add an exact dup
      r.execute(s"DELETE FROM $t WHERE id = 2")
      r.execute(s"INSERT INTO $t (id, emb) VALUES (100, ${v(1.0, 0.0)})")
      graft.operators.MatchText.IndexCache.clear()
      val patched = r.execute(q).collect()
        .map(x => (x.getLong(0), math.round(x.getDouble(1) * 1e6))).toSeq
      assert(StatementRouter.lastIndexBuild.get() == "delta", name)
      assert(patched.map(_._1).toSet == Set(1L, 100L, 3L), s"$name: $patched")
      (full, patched)
    }
    // nprobe = all buckets + exact re-rank of every candidate ⇒ the
    // layouts must agree EXACTLY, before and after the churn
    assert(results.map(_._1).distinct.size == 1, results.map(_._1).toString)
    assert(results.map(_._2).distinct.size == 1, results.map(_._2).toString)
  }
}

/** Declared-recall stored knn — `WITH (recall = …)` instead of a fixed
  * nprobe (r9 verdict ask #7): the build calibrates recall@10 over a
  * doubling nprobe ladder, persists the curve beside the codes, the
  * route probes with the smallest rung meeting the target, SHOW CREATE
  * round-trips the declaration, and a lax target never probes more
  * buckets than a strict one. */
class KnnAutoNprobeSpec extends SparkTestBase {

  private val ringValues = (0 until 64).map { i =>
    val a = 2 * math.Pi * i / 64
    f"($i, [${math.cos(a)}%.4f, ${math.sin(a)}%.4f])"
  }.mkString(", ")

  test("recall declaration calibrates, persists, resolves, round-trips") {
    val root = graft.ArtifactStore
      .scratchDir("graft_np").toFile.getAbsolutePath
    val r = new StatementRouter(spark, root)
    r.execute(
      """CREATE TABLE va (id BIGINT PRIMARY KEY, emb FLOAT_VECTOR(2),
        |  INDEX iv USING VECTOR (emb)
        |    WITH (centroids = 8, recall = 0.95))""".stripMargin)
    r.execute(s"INSERT INTO va (id, emb) VALUES $ringValues")
    graft.operators.MatchText.IndexCache.clear()
    val q = "SELECT id, _score FROM va WHERE knn_match(emb, [1.0, 0.0], 3) " +
      "ORDER BY _score DESC"
    val rows = r.execute(q).collect()
    assert(rows.length == 3)
    val strict = StatementRouter.lastKnnAutoNprobe.get()
    assert(strict.nonEmpty && strict.toInt >= 1 && strict.toInt <= 8, strict)
    // the calibration curve is durable, beside the codes
    val vdir = new java.io.File(s"$root/va/_vecindex/iv").listFiles().head
    assert(new java.io.File(vdir, "recallcurve").exists())
    // the analyzer slot carries the target; SHOW CREATE round-trips it
    assert(graft.sources.VersionedTable.indexSpecs(spark, s"$root/va")
      .head.analyzer == "vector:8:r95")
    val show = r.execute("SHOW CREATE TABLE va").head().getString(0)
    assert(show.contains("recall = 0.95"), show)
    // resolution is memoized: a second statement re-resolves identically
    r.execute(q).collect()
    assert(StatementRouter.lastKnnAutoNprobe.get() == strict)

    // a lax target on the same corpus resolves to no MORE probes
    r.execute(
      """CREATE TABLE vb (id BIGINT PRIMARY KEY, emb FLOAT_VECTOR(2),
        |  INDEX iv USING VECTOR (emb)
        |    WITH (centroids = 8, recall = 0.25))""".stripMargin)
    r.execute(s"INSERT INTO vb (id, emb) VALUES $ringValues")
    graft.operators.MatchText.IndexCache.clear()
    r.execute(q.replace("FROM va", "FROM vb")).collect()
    val lax = StatementRouter.lastKnnAutoNprobe.get()
    assert(lax.nonEmpty && lax.toInt <= strict.toInt, s"$lax vs $strict")
    // fixed-nprobe indexes leave the slot empty
    StatementRouter.lastKnnAutoNprobe.set("")
    r.execute(
      """CREATE TABLE vc (id BIGINT PRIMARY KEY, emb FLOAT_VECTOR(2),
        |  INDEX iv USING VECTOR (emb)
        |    WITH (centroids = 4, nprobe = 4))""".stripMargin)
    r.execute(s"INSERT INTO vc (id, emb) VALUES $ringValues")
    graft.operators.MatchText.IndexCache.clear()
    r.execute(q.replace("FROM va", "FROM vc")).collect()
    assert(StatementRouter.lastKnnAutoNprobe.get() == "")
  }
}

/** Delta patches must carry the recall-calibration curve forward: the
  * centroids (and codebooks) are fixed under churn, so the curve stays
  * valid and the route must NOT pay a full-corpus truth scan per churn
  * commit. */
class KnnCurveCarrySpec extends SparkTestBase {
  test("churn keeps the curve: copied forward on delta, np still resolves") {
    val root = graft.ArtifactStore
      .scratchDir("graft_cc").toFile.getAbsolutePath
    val r = new StatementRouter(spark, root)
    r.execute(
      """CREATE TABLE vd (id BIGINT PRIMARY KEY, emb FLOAT_VECTOR(2),
        |  INDEX iv USING VECTOR (emb)
        |    WITH (centroids = 4, recall = 0.9))""".stripMargin)
    val values = (0 until 32).map { i =>
      val a = 2 * math.Pi * i / 32
      f"($i, [${math.cos(a)}%.4f, ${math.sin(a)}%.4f])"
    }.mkString(", ")
    r.execute(s"INSERT INTO vd (id, emb) VALUES $values")
    graft.operators.MatchText.IndexCache.clear()
    val q = "SELECT id FROM vd WHERE knn_match(emb, [1.0, 0.0], 3)"
    r.execute(q).collect()
    assert(StatementRouter.lastIndexBuild.get() == "full")
    val idxRoot = new java.io.File(s"$root/vd/_vecindex/iv")
    def curveRows() = {
      val vdir = idxRoot.listFiles()
        .filter(f => new java.io.File(f, "recallcurve").exists()).head
      spark.read.parquet(s"${vdir.getAbsolutePath}/recallcurve")
        .collect().map(x => (x.getInt(0), x.getDouble(1))).sortBy(_._1).toSeq
    }
    val before = curveRows()
    assert(before.nonEmpty)
    // churn → delta patch; the old version dir is pruned but its curve
    // must survive into the new version, byte-for-byte
    r.execute("INSERT INTO vd (id, emb) VALUES (100, [0.7071, 0.7071])")
    graft.operators.MatchText.IndexCache.clear()
    r.execute(q).collect()
    assert(StatementRouter.lastIndexBuild.get() == "delta")
    assert(idxRoot.listFiles().length == 1, "old versions pruned")
    assert(curveRows() == before, "curve copied forward, not rebuilt")
    assert(StatementRouter.lastKnnAutoNprobe.get().nonEmpty)
  }
}

/** The curve copy-forward is STALENESS-BOUNDED (ADVICE r10): calibmeta
  * tracks the corpus size the curve was measured on plus cumulative
  * churn since, and once churn exceeds 20% of that base the next
  * declared-recall query recalibrates instead of trusting a curve
  * whose measured recall may no longer hold. Also pins the
  * `recall_sample` DDL option riding the analyzer slot. */
class KnnCurveStalenessSpec extends SparkTestBase {
  test("small churn carries curve + accounting; past 20% it recalibrates") {
    val root = graft.ArtifactStore
      .scratchDir("graft_cs").toFile.getAbsolutePath
    val r = new StatementRouter(spark, root)
    r.execute(
      """CREATE TABLE vs (id BIGINT PRIMARY KEY, emb FLOAT_VECTOR(2),
        |  INDEX iv USING VECTOR (emb)
        |    WITH (centroids = 4, recall = 0.9, recall_sample = 8))""".stripMargin)
    assert(graft.sources.VersionedTable.indexSpecs(spark, s"$root/vs")
      .head.analyzer == "vector:4:r90s8")
    val values = (0 until 32).map { i =>
      val a = 2 * math.Pi * i / 32
      f"($i, [${math.cos(a)}%.4f, ${math.sin(a)}%.4f])"
    }.mkString(", ")
    r.execute(s"INSERT INTO vs (id, emb) VALUES $values")
    graft.operators.MatchText.IndexCache.clear()
    val q = "SELECT id FROM vs WHERE knn_match(emb, [1.0, 0.0], 3)"
    r.execute(q).collect()
    assert(StatementRouter.lastIndexBuild.get() == "full")
    val idxRoot = new java.io.File(s"$root/vs/_vecindex/iv")
    def meta() = {
      val vdir = idxRoot.listFiles()
        .filter(f => new java.io.File(f, "calibmeta").exists()).head
      val m = spark.read.parquet(s"${vdir.getAbsolutePath}/calibmeta")
        .collect()(0)
      (m.getLong(0), m.getLong(1), m.getInt(2))
    }
    assert(meta() == ((32L, 0L, 8)), meta().toString)
    // +1 row = 3% churn: curve carried forward, churn accounted
    r.execute("INSERT INTO vs (id, emb) VALUES (100, [0.7071, 0.7071])")
    graft.operators.MatchText.IndexCache.clear()
    r.execute(q).collect()
    assert(StatementRouter.lastIndexBuild.get() == "delta")
    assert(meta() == ((32L, 1L, 8)), meta().toString)
    // +8 rows pushes cumulative churn to 9 > 32/5: the stale curve is
    // dropped and the next query pays a fresh calibration on the
    // churned corpus (base_n resets to the current 41 rows, churn to 0)
    val more = (200 until 208).map { i =>
      val a = 2 * math.Pi * (i - 200) / 8 + 0.1
      f"($i, [${math.cos(a)}%.4f, ${math.sin(a)}%.4f])"
    }.mkString(", ")
    r.execute(s"INSERT INTO vs (id, emb) VALUES $more")
    graft.operators.MatchText.IndexCache.clear()
    r.execute(q).collect()
    assert(StatementRouter.lastIndexBuild.get() == "delta")
    assert(meta() == ((41L, 0L, 8)), meta().toString)
    assert(StatementRouter.lastKnnAutoNprobe.get().nonEmpty)
  }
}
