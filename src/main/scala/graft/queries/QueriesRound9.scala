package graft.queries

import graft.Memo
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-9 catalog (q226–):
  *
  *  - q226: ANALYZE histogram gate. The reference's ANALYZE feeds a
  *    per-column HistogramSketch (reference `statistics/
  *    SketchBuilder.java`, surfaced through `pg_stats.histogram_bounds`);
  *    graft computes the same 11 equi-height decile bounds with Spark's
  *    mergeable quantile sketch (`percentile_approx` — partial sketches
  *    merge across partitions, one pass, no extra shuffle: the
  *    scale-correct form of "t-digest merge across partitions"). The
  *    gate RANK-checks every interior bound against the raw column — an
  *    equi-height histogram's i-th bound must sit at rank i/10 (±2pp,
  *    far above the sketch's ≤0.1% rank error but far below a broken
  *    bound) — pins both ends to the exact min/max, and asserts
  *    monotonicity. The oracle replays the verdict grid: every check
  *    must come back TRUE, so a wrong bound hash-fails loudly.
  *  - q227: product-quantization ANN (Jégou/Douze/Schmid, TPAMI 2011) —
  *    PQ codebooks trained on the bounded deterministic sample, the
  *    corpus encoded to m=16 4-bit-equivalent codes (16 bytes vs 256
  *    float bytes), searched by ADC table lookups over codegen'd
  *    zip_with/aggregate built-ins with exact L2 re-ranking of the top
  *    k·8 candidates. The gate is the q66/q70 envelope pattern: exact
  *    recall@10 vs the L2 brute-force truth must clear a floor far
  *    below the measured value, plus deterministic shape facts.
  */
object QueriesRound9 {

  /** Same deterministic 64-dim literal as q209/q210/q215. */
  private val vecLit: String =
    (0 until 64).map(i => ((i % 7) - 3) / 3.0)
      .map(v => f"$v%.6f").mkString("[", ", ", "]")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q226_analyze_histogram" -> ((s, dir) => {
      graft.functions.GraftFunctions.registerAll(s)
      graft.Tables.registerAll(s, dir)
      Memo(s, s"q226#$dir") {
        val rt = graft.ArtifactStore.scratchDir("q226")
          .toFile.getAbsolutePath
        val r0 = new graft.StatementRouter(s, rt)
        r0.execute("CREATE TABLE hist_t (k BIGINT, d DOUBLE PRECISION)")
        r0.execute("""INSERT INTO hist_t
          SELECT c_custkey,
                 CASE WHEN c_custkey % 10 = 0 THEN NULL ELSE c_acctbal END
          FROM customer""")
        r0.execute("ANALYZE")
        rt
      }
      graft.sources.PgCatalog.registerAll(s)
      // rank-gate each stored decile bound against the raw parquet column
      // (exact, independent of the sketch): a bound that drifted from its
      // decile rank, a swapped pair, or an inexact end flips a boolean and
      // hash-fails against the oracle's all-TRUE grid
      s.sql("""
        WITH bounds AS (
          SELECT attname, CAST(i AS BIGINT) AS i, CAST(bv AS DOUBLE) AS bv
          FROM pg_stats
          LATERAL VIEW posexplode(histogram_bounds) t AS i, bv
          WHERE tablename = 'hist_t'
        ),
        raw AS (
          SELECT 'k' AS attname, CAST(c_custkey AS DOUBLE) AS x FROM customer
          UNION ALL
          SELECT 'd', c_acctbal FROM customer WHERE c_custkey % 10 <> 0
        ),
        ranks AS (
          SELECT b.attname, b.i, b.bv,
                 avg(CASE WHEN r.x <= b.bv THEN 1.0 ELSE 0.0 END) AS rk,
                 min(r.x) AS mn, max(r.x) AS mx
          FROM bounds b JOIN raw r ON b.attname = r.attname
          GROUP BY b.attname, b.i, b.bv
        )
        SELECT attname, i,
               CASE WHEN i = 0  THEN bv = mn
                    WHEN i = 10 THEN bv = mx
                    ELSE abs(rk - i / 10.0) <= 0.02 END AS rank_ok,
               coalesce(bv >= lag(bv) OVER
                 (PARTITION BY attname ORDER BY i), true) AS mono_ok
        FROM ranks
        ORDER BY attname, i""")
    }),

    "q227_knn_pq_adc" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      graft.functions.GraftFunctions.registerAll(s)
      val emb = graft.Tables.load(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      // 8 deterministic queries drawn like every other knn fixture
      val q = emb.orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(8)
        .select(col("vec_id"), col("embedding")).localCheckpoint()
      // deterministic training/encoding, built once per (session, dir):
      // bench rep 2 times the SEARCH, not a redundant rebuild
      val (cb, codes) = Memo(s, s"q227#$dir") {
        val cb0 = graft.operators.Similarity.pqTrain(emb, m = 16, ksub = 16)
        (cb0, graft.operators.Similarity.pqEncode(emb, cb0).localCheckpoint())
      }
      val approx = graft.operators.Similarity
        .pqKnn(codes, cb, emb, q, k = 10, rerank = 8)
      // exact L2 truth (same metric as the ADC/re-rank path)
      val c = emb.select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      val qq = q.select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val scored = c.crossJoin(broadcast(qq))
        .select(col("qid"), col("cid"),
          expr("aggregate(zip_with(cvec, qvec, (a, b) -> " +
            "CAST((a - b) * (a - b) AS DOUBLE)), CAST(0.0 AS DOUBLE), " +
            "(acc, x) -> acc + x)").as("dist"))
      val w = Window.partitionBy(col("qid")).orderBy(col("dist"), col("cid"))
      val exact = scored.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 10).select(col("qid"), col("cid"))
      val rec = graft.operators.Similarity.recallAtK(
        approx.select(col("qid"), col("cid")), exact)
      // every query must surface a distance-0 row at rank 1 (itself, or
      // an exact duplicate — the fixture contains near-dups); the
      // re-rank is exact, so a correct pipeline only misses it if ADC
      // dropped every zero-distance candidate from the k·rerank pool
      val selfHits = approx.filter(col("rk") === 1 && col("dist") === 0.0)
        .count()
      import s.implicits._
      Seq((8L, 10L, selfHits, rec >= 0.6))
        .toDF("n_queries", "k", "self_hits", "recall_ok")
    }),

    // SQL `knn_match` through a STORED IVF-PQ index (q215's shape on the
    // `encoding = 'pq'` layout): the filter keeps 19 corpus rows and
    // k·rerank = 40 > 19, so after the recall guard widens the nprobe=1
    // probe, EVERY eligible row is ADC-scored and exact-rescored — the
    // result is exact against the brute-force oracle, not a recall
    // floor. Route and encoding are both require()d, so a silent
    // fall-through to the exact path or the int8 layout fails loudly.
    "q228_knn_pq_filtered_stored" -> ((s, dir) => {
      graft.functions.GraftFunctions.registerAll(s)
      graft.Tables.registerAll(s, dir)
      val root = Memo(s, s"q228#$dir") {
        val rt = graft.ArtifactStore.scratchDir("q228")
          .toFile.getAbsolutePath
        val r0 = new graft.StatementRouter(s, rt)
        r0.execute(
          """CREATE TABLE vstorepq (vec_id BIGINT PRIMARY KEY,
            |  embedding FLOAT_VECTOR(64),
            |  INDEX iv USING VECTOR (embedding)
            |    WITH (centroids = 16, nprobe = 1,
            |          encoding = 'pq', pq_m = 16, pq_ksub = 16))"""
            .stripMargin)
        r0.execute("INSERT INTO vstorepq (vec_id, embedding) " +
          "SELECT vec_id, embedding FROM embeddings")
        rt
      }
      val r = new graft.StatementRouter(s, root)
      graft.StatementRouter.lastKnnRoute.set("")
      val out = r.execute(
        s"""SELECT vec_id, round(_score, 4) AS score FROM vstorepq
           |WHERE vec_id BETWEEN 100 AND 118
           |  AND knn_match(embedding, $vecLit, 5)
           |ORDER BY score DESC, vec_id""".stripMargin)
      require(graft.StatementRouter.lastKnnRoute.get() == "stored-index-filtered",
        s"q228 must be served by the filtered stored-index route, " +
          s"got '${graft.StatementRouter.lastKnnRoute.get()}'")
      val spec = graft.sources.VersionedTable
        .indexSpecs(s, s"$root/vstorepq").head
      require(spec.analyzer == "vector:16:1:pq:16:16",
        s"q228 must run on the PQ layout, got '${spec.analyzer}'")
      out
    }),

    // Corpus-trained bigram-LM perplexity scoring (the CCNet-lineage
    // quality filter, Wenzek et al. 2020) — exact oracle: the add-one
    // bigram model is nothing but grouped counts, so DuckDB replays it
    // verbatim; per-position terms round to 6 decimals and sum as
    // DECIMAL(18,9), so the aggregate is order-independent on both
    // engines.
    "q229_lm_perplexity" -> ((s, dir) => {
      val docs = graft.Tables.load(s, dir, "documents")
      graft.operators.TextAnalysis.lmBigramScore(docs)
        .orderBy(col("doc_id"))
    }),

    // CJKBigramFilter per-script flags (Lucene han/hiragana/katakana/
    // hangul toggles, the ES-shaped `ignored_scripts` +
    // `output_unigrams` options) through CREATE ANALYZER DDL: the
    // "flags" arm ignores katakana+hangul (those runs pass whole, han
    // still bigrams), the "uni" arm emits unigrams beside bigrams.
    // Oracle = golden token lists per fixture word (mechanical substr
    // math, no stemming — hand-derivable, the q218 pattern).
    "q235_cjk_bigram_flags" -> ((s, dir) => {
      import graft.operators.MatchText
      graft.functions.GraftFunctions.registerAll(s)
      graft.Tables.registerAll(s, dir)
      Memo(s, s"q235#$dir") {
        val rt = graft.ArtifactStore.scratchDir("q235")
          .toFile.getAbsolutePath
        val r0 = new graft.StatementRouter(s, rt)
        r0.execute("""CREATE ANALYZER cjk_flags (TOKENIZER standard,
          |  TOKEN_FILTERS (lowercase, cjk_bigram WITH
          |    (ignored_scripts = ['katakana', 'hangul'])))""".stripMargin)
        r0.execute("""CREATE ANALYZER cjk_uni (TOKENIZER standard,
          |  TOKEN_FILTERS (lowercase, cjk_bigram WITH
          |    (output_unigrams = true)))""".stripMargin)
        r0.execute("""CREATE ANALYZER cjk_xs (TOKENIZER standard,
          |  TOKEN_FILTERS (lowercase, cjk_bigram))""".stripMargin)
        r0.execute("""CREATE ANALYZER cjk_hn (TOKENIZER standard,
          |  TOKEN_FILTERS (lowercase, cjk_bigram WITH
          |    (ignored_scripts = ['hiragana', 'katakana', 'hangul'])))"""
          .stripMargin)
        rt
      }
      val c = graft.Tables.load(s, dir, "customer")
        .select(col("c_custkey").as("k"))
      def pick(words: Seq[String], m: Int) =
        element_at(array(words.map(lit): _*), (col("k") % m + 1).cast("int"))
      val w1 = Seq("データ分析", "クラウド計算", "学習モデル", "数据库", "모델학습")
      val w2 = Seq("数据库", "机器学习", "大")
      val f = c.select(lit("flags").as("arm"),
        explode(MatchText.Analyzer.byName("cjk_flags")(pick(w1, 5))).as("term"))
      val u = c.select(lit("uni").as("arm"),
        explode(MatchText.Analyzer.byName("cjk_uni")(pick(w2, 3))).as("term"))
      // cross-script arms (r10 verdict ask #8, investigated against the
      // LUCENE source): CJKBigramFilter buffers adjacent chars of ALL
      // enabled CJK types and bigrams ACROSS han/hiragana/katakana
      // boundaries (TestCJKBigramFilter.testAllScripts expects の学 and
      // 生が for this exact sentence); per-script runs only appear for
      // IGNORED scripts (testHanOnly). Both goldens below are the Lucene
      // test's own expected token lists, so graft's cross-script
      // behavior is pinned as MATCHING Lucene, not an approximation.
      val sent = "多くの学生が試験に落ちた"
      val xs = c.select(lit("xs").as("arm"),
        explode(MatchText.Analyzer.byName("cjk_xs")(lit(sent))).as("term"))
      val hn = c.select(lit("hn").as("arm"),
        explode(MatchText.Analyzer.byName("cjk_hn")(lit(sent))).as("term"))
      f.unionByName(u).unionByName(xs).unionByName(hn)
        .groupBy(col("arm"), col("term"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("arm"), col("term"))
    }),

    // Filtered knn through the stored index on the FIXED-probe path
    // (the q215 counterpart whose fixture provably needs NO widen:
    // nprobe = 16 of 16 centroids probes every bucket, the filter's 19
    // matches are all eligible and ≤ k·rescore = 20, so the guard sees
    // k hits, lastKnnProbe stays "fixed", and the single
    // materialization (coalesce(1).localCheckpoint) is the ONLY ANN
    // pass — this row times exactly the double-execution fix). Exact
    // against the brute-force oracle since every eligible row is
    // float-rescored.
    "q234_knn_filtered_fixed_probe" -> ((s, dir) => {
      graft.functions.GraftFunctions.registerAll(s)
      graft.Tables.registerAll(s, dir)
      val root = Memo(s, s"q234#$dir") {
        val rt = graft.ArtifactStore.scratchDir("q234")
          .toFile.getAbsolutePath
        val r0 = new graft.StatementRouter(s, rt)
        r0.execute(
          """CREATE TABLE vstorefix (vec_id BIGINT PRIMARY KEY,
            |  embedding FLOAT_VECTOR(64),
            |  INDEX iv USING VECTOR (embedding)
            |    WITH (centroids = 16, nprobe = 16))""".stripMargin)
        r0.execute("INSERT INTO vstorefix (vec_id, embedding) " +
          "SELECT vec_id, embedding FROM embeddings")
        rt
      }
      val r = new graft.StatementRouter(s, root)
      graft.StatementRouter.lastKnnRoute.set("")
      graft.StatementRouter.lastKnnProbe.set("")
      val out = r.execute(
        s"""SELECT vec_id, round(_score, 4) AS score FROM vstorefix
           |WHERE vec_id BETWEEN 100 AND 118
           |  AND knn_match(embedding, $vecLit, 5)
           |ORDER BY score DESC, vec_id""".stripMargin)
      require(graft.StatementRouter.lastKnnRoute.get() == "stored-index-filtered",
        s"q234 must be served by the filtered stored-index route, " +
          s"got '${graft.StatementRouter.lastKnnRoute.get()}'")
      require(graft.StatementRouter.lastKnnProbe.get() == "fixed",
        s"q234's all-bucket probe must NOT widen, " +
          s"got '${graft.StatementRouter.lastKnnProbe.get()}'")
      out
    }),

    // SQL `knn_match` through a STORED residual IVF-PQ index
    // (`pq_residual = true` — q228's fixture shape on the ":res"
    // layout): filter keeps 19 rows < k·rerank = 40, so after the
    // recall-guard widen every eligible row is ADC-scored from its
    // per-bucket residual table and exact-rescored — the result is
    // exact against the brute-force oracle. Route, encoding AND the
    // residual tail are require()d, so a silent fall-through to the
    // non-residual layout fails loudly.
    "q233_knn_pq_residual_stored" -> ((s, dir) => {
      graft.functions.GraftFunctions.registerAll(s)
      graft.Tables.registerAll(s, dir)
      val root = Memo(s, s"q233#$dir") {
        val rt = graft.ArtifactStore.scratchDir("q233")
          .toFile.getAbsolutePath
        val r0 = new graft.StatementRouter(s, rt)
        r0.execute(
          """CREATE TABLE vstorepqr (vec_id BIGINT PRIMARY KEY,
            |  embedding FLOAT_VECTOR(64),
            |  INDEX iv USING VECTOR (embedding)
            |    WITH (centroids = 16, nprobe = 1,
            |          encoding = 'pq', pq_m = 16, pq_ksub = 16,
            |          pq_residual = true))""".stripMargin)
        r0.execute("INSERT INTO vstorepqr (vec_id, embedding) " +
          "SELECT vec_id, embedding FROM embeddings")
        rt
      }
      val r = new graft.StatementRouter(s, root)
      graft.StatementRouter.lastKnnRoute.set("")
      val out = r.execute(
        s"""SELECT vec_id, round(_score, 4) AS score FROM vstorepqr
           |WHERE vec_id BETWEEN 100 AND 118
           |  AND knn_match(embedding, $vecLit, 5)
           |ORDER BY score DESC, vec_id""".stripMargin)
      require(graft.StatementRouter.lastKnnRoute.get() == "stored-index-filtered",
        s"q233 must be served by the filtered stored-index route, " +
          s"got '${graft.StatementRouter.lastKnnRoute.get()}'")
      val spec = graft.sources.VersionedTable
        .indexSpecs(s, s"$root/vstorepqr").head
      require(spec.analyzer == "vector:16:1:pq:16:16:res",
        s"q233 must run on the residual PQ layout, got '${spec.analyzer}'")
      out
    }),

    // Residual IVF-PQ — the FULL IVFADC recipe (Jégou 2011 §V.A: encode
    // v − centroid(v), build per-(query, bucket) ADC tables on q − c_b):
    // bucket-pruned probing (nprobe = 8 of 16) over residual codes with
    // exact re-rank. The gate is the q227 envelope: recall@10 vs the
    // exact L2 truth clears a floor, every query surfaces itself at
    // rank 1 (sim = 1.0 through the exact re-rank), shapes pinned.
    "q232_knn_pq_residual" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      graft.functions.GraftFunctions.registerAll(s)
      val emb = graft.Tables.load(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val q = emb.orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(8)
        .select(col("vec_id"), col("embedding")).localCheckpoint()
      // residual-IVFADC fixtures, built once per (session, dir) like q227
      val (cents, cb, codes) = Memo(s, s"q232#$dir") {
        val (bucketed, c0) = graft.operators.Similarity
          .kmeansBucketize(emb, numCentroids = 16, iters = 2)
        val cb0 = graft.operators.Similarity
          .pqTrainResidual(bucketed, c0, m = 16, ksub = 16)
        val codes0 = graft.operators.Similarity
          .ivfPqIndexResidual(bucketed, c0, cb0).localCheckpoint()
        (c0.localCheckpoint(), cb0, codes0)
      }
      val approx = graft.operators.Similarity.ivfPqKnnStoredResidual(
        codes, cents, cb, emb, q, k = 10, nprobe = 8, rerank = 8)
      // exact truth: same vector_similarity ordering as the re-rank
      val c = emb.select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      val qq = q.select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("sim").desc, col("cid"))
      val exact = c.crossJoin(broadcast(qq))
        .select(col("qid"), col("cid"),
          graft.functions.VectorFunctions
            .vectorSimilarity(col("cvec"), col("qvec")).as("sim"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 10).select(col("qid"), col("cid"))
      val rec = graft.operators.Similarity.recallAtK(
        approx.select(col("qid"), col("cid")), exact)
      val selfHits = approx.filter(col("rk") === 1 && col("sim") === 1.0)
        .count()
      import s.implicits._
      Seq((8L, 10L, selfHits, rec >= 0.6))
        .toDF("n_queries", "k", "self_hits", "recall_ok")
    }),

    // DSIR-style data selection (Xie et al. 2023): target = the corpus's
    // English documents, raw pool = everything else; the 20 raw documents
    // whose unigram distribution looks most target-like win. The add-one
    // unigram models are grouped counts, so DuckDB replays them verbatim;
    // ordering happens on the exact DECIMAL sum, and the rank-20/21
    // boundary margin is ≥ 7e-4 at every fixture scale (checked), so the
    // selected set is engine-independent.
    "q230_dsir_selection" -> ((s, dir) => {
      val docs = graft.Tables.load(s, dir, "documents")
      graft.operators.TextAnalysis.dsirScore(docs, col("lang") === "en")
        .orderBy(col("log_weight").desc, col("doc_id"))
        .limit(20)
        .select(col("doc_id"), col("n_toks"),
          round(col("log_weight").cast("double"), 4).as("logw"))
    }),

    // SemDeDup cluster-blocked semantic dedup. The gate pins centroids to
    // the 16 lowest-vec_id embeddings (deterministic, so the oracle
    // replays assignment exactly); tau = 0.4 matches the q135 fixture
    // threshold and prunes 19/11/174 rows at sf0.001/0.01/0.1. Margin
    // audit (both engines compute in double): min |round(cos,6) − tau|
    // ≥ 1e-5 and min argmin runner-up gap ≥ 9e-6 — both far above
    // cross-engine ulp noise, so every verdict bit is stable.
    "q231_semdedup" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val emb = graft.Tables.load(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val cent = emb.orderBy(col("vec_id")).limit(16)
        .withColumn("cidx",
          row_number().over(Window.orderBy(col("vec_id"))) - 1)
        .select(col("cidx"), col("embedding").as("cvec"))
      graft.operators.Similarity.semDedup(emb, cent, tau = 0.4)
        .orderBy(col("vec_id"))
    })
  )

  val oracles: Map[String, String] = Map(
    // the verdict grid is deterministic: 2 numeric columns × 11 bounds,
    // every check TRUE — computed Spark-side against raw parquet (the
    // q206/q220 envelope pattern)
    "q226_analyze_histogram" ->
      """SELECT a.attname, CAST(i.i AS BIGINT) AS i,
        |       TRUE AS rank_ok, TRUE AS mono_ok
        |FROM (VALUES ('d'), ('k')) a(attname)
        |CROSS JOIN generate_series(0, 10) i(i)
        |ORDER BY attname, i""".stripMargin,

    // deterministic facts + the recall envelope, computed Spark-side
    // against the exact L2 truth (the q66/q70 sketch-gate pattern)
    "q227_knn_pq_adc" ->
      """SELECT CAST(8 AS BIGINT) AS n_queries, CAST(10 AS BIGINT) AS k,
        |       CAST(8 AS BIGINT) AS self_hits, TRUE AS recall_ok"""
        .stripMargin,

    // q215's exact brute-force oracle verbatim — the PQ layout must
    // return the identical filtered top-5 (widen + full exact re-rank
    // of the 19 eligible rows make the route exact by construction)
    "q228_knn_pq_filtered_stored" ->
      s"""SELECT vec_id,
         |       round(1.0 / (1.0 + list_distance(embedding, $vecLit) ^ 2), 4)
         |         AS score
         |FROM embeddings
         |WHERE vec_id BETWEEN 100 AND 118
         |ORDER BY 1.0 / (1.0 + list_distance(embedding, $vecLit) ^ 2) DESC,
         |         vec_id
         |LIMIT 5""".stripMargin,

    // golden token lists per fixture word (mechanical bigram math,
    // hand-derived — the q218 pattern): katakana/hangul runs pass whole
    // in the flags arm, the uni arm adds per-char unigrams
    "q235_cjk_bigram_flags" ->
      """WITH ks AS (SELECT c_custkey AS k FROM customer),
        |f AS (SELECT (['データ分析','クラウド計算','学習モデル','数据库','모델학습'])[CAST(k % 5 + 1 AS INT)] AS w FROM ks),
        |ft AS (SELECT unnest(CASE w
        |  WHEN 'データ分析' THEN ['データ','分析']
        |  WHEN 'クラウド計算' THEN ['クラウド','計算']
        |  WHEN '学習モデル' THEN ['学習','モデル']
        |  WHEN '数据库' THEN ['数据','据库']
        |  ELSE ['모델학습'] END) AS term FROM f),
        |u AS (SELECT (['数据库','机器学习','大'])[CAST(k % 3 + 1 AS INT)] AS w FROM ks),
        |ut AS (SELECT unnest(CASE w
        |  WHEN '数据库' THEN ['数据','据库','数','据','库']
        |  WHEN '机器学习' THEN ['机器','器学','学习','机','器','学','习']
        |  ELSE ['大'] END) AS term FROM u),
        |xt AS (SELECT unnest(['多く','くの','の学','学生','生が','が試',
        |                      '試験','験に','に落','落ち','ちた']) AS term
        |       FROM ks),
        |ht AS (SELECT unnest(['多','く','の','学生','が','試験','に',
        |                      '落','ち','た']) AS term FROM ks),
        |terms AS (SELECT 'flags' AS arm, term FROM ft
        |          UNION ALL SELECT 'uni', term FROM ut
        |          UNION ALL SELECT 'xs', term FROM xt
        |          UNION ALL SELECT 'hn', term FROM ht)
        |SELECT arm, term, count(*) AS n FROM terms
        |GROUP BY arm, term ORDER BY arm, term""".stripMargin,

    // exact: every eligible row probed and float-rescored, so the
    // fixed-probe path returns the brute-force filtered top-5
    "q234_knn_filtered_fixed_probe" ->
      s"""SELECT vec_id,
         |       round(1.0 / (1.0 + list_distance(embedding, $vecLit) ^ 2), 4)
         |         AS score
         |FROM embeddings
         |WHERE vec_id BETWEEN 100 AND 118
         |ORDER BY 1.0 / (1.0 + list_distance(embedding, $vecLit) ^ 2) DESC,
         |         vec_id
         |LIMIT 5""".stripMargin,

    // q228's exact brute-force oracle verbatim — the residual layout
    // must return the identical filtered top-5 (widen + full exact
    // re-rank of the 19 eligible rows make the route exact by
    // construction, independent of ADC quality)
    "q233_knn_pq_residual_stored" ->
      s"""SELECT vec_id,
         |       round(1.0 / (1.0 + list_distance(embedding, $vecLit) ^ 2), 4)
         |         AS score
         |FROM embeddings
         |WHERE vec_id BETWEEN 100 AND 118
         |ORDER BY 1.0 / (1.0 + list_distance(embedding, $vecLit) ^ 2) DESC,
         |         vec_id
         |LIMIT 5""".stripMargin,

    // deterministic facts + the recall envelope (the q227 pattern); the
    // residual pipeline is deterministic end-to-end (pinned sample,
    // init, iters, probe order), so the row is stable per fixture
    "q232_knn_pq_residual" ->
      """SELECT CAST(8 AS BIGINT) AS n_queries, CAST(10 AS BIGINT) AS k,
        |       CAST(8 AS BIGINT) AS self_hits, TRUE AS recall_ok"""
        .stripMargin,

    "q230_dsir_selection" ->
      """WITH docs AS (
        |  SELECT doc_id, lang,
        |         list_filter(string_split_regex(lower(text), '[^a-z]+'),
        |                     t -> t <> '')[1:64] AS toks
        |  FROM documents
        |),
        |tok AS (SELECT doc_id, lang, t FROM docs, unnest(toks) AS s(t)),
        |ct AS (SELECT t, count(*) AS n FROM tok WHERE lang = 'en' GROUP BY 1),
        |cr AS (SELECT t, count(*) AS n FROM tok GROUP BY 1),
        |tot AS (SELECT (SELECT count(*) FROM tok WHERE lang = 'en') AS nt,
        |               (SELECT count(*) FROM tok) AS nr,
        |               (SELECT count(DISTINCT t) FROM tok) AS v),
        |scored AS (
        |  SELECT k.doc_id,
        |         CAST(round(ln((coalesce(ct.n, 0) + 1.0) / (tot.nt + tot.v))
        |                  - ln((cr.n + 1.0) / (tot.nr + tot.v)), 6)
        |              AS DECIMAL(18,9)) AS w
        |  FROM tok k LEFT JOIN ct USING (t) JOIN cr USING (t) CROSS JOIN tot
        |  WHERE k.lang <> 'en'
        |)
        |SELECT doc_id, count(*) AS n_toks,
        |       round(CAST(sum(w) AS DOUBLE), 4) AS logw
        |FROM scored GROUP BY doc_id
        |ORDER BY sum(w) DESC, doc_id LIMIT 20""".stripMargin,

    "q231_semdedup" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |),
        |cent AS (
        |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cidx, v AS cv
        |  FROM (SELECT * FROM e ORDER BY vec_id LIMIT 16)
        |),
        |asg AS (
        |  SELECT vec_id, v, cidx
        |  FROM e CROSS JOIN cent
        |  QUALIFY row_number() OVER (PARTITION BY vec_id
        |    ORDER BY list_distance(v, cv), cidx) = 1
        |),
        |pairs AS (
        |  SELECT b.vec_id AS ib,
        |         round(list_cosine_similarity(a.v, b.v), 6) AS cos
        |  FROM asg a JOIN asg b ON a.cidx = b.cidx AND a.vec_id < b.vec_id
        |)
        |SELECT e.vec_id, asg.cidx AS cluster,
        |       NOT EXISTS (SELECT 1 FROM pairs p
        |                   WHERE p.ib = e.vec_id AND p.cos >= 0.4) AS kept
        |FROM e JOIN asg USING (vec_id) ORDER BY e.vec_id""".stripMargin,

    "q229_lm_perplexity" ->
      """WITH docs AS (
        |  SELECT doc_id,
        |         list_filter(string_split_regex(lower(text), '[^a-z]+'),
        |                     t -> t <> '')[1:64] AS toks
        |  FROM documents
        |),
        |bi AS (
        |  SELECT doc_id, toks[i] AS prev, toks[i + 1] AS cur
        |  FROM docs, unnest(range(1, 64)) AS u(i)
        |  WHERE i <= len(toks) - 1
        |),
        |c2 AS (SELECT prev, cur, count(*) AS n2 FROM bi GROUP BY 1, 2),
        |c1 AS (SELECT prev, count(*) AS n1 FROM bi GROUP BY 1),
        |v AS (SELECT count(DISTINCT t) AS vsz FROM docs, unnest(toks) AS s(t)),
        |scored AS (
        |  SELECT b.doc_id,
        |         CAST(round(-ln((n2 + 1.0) / (n1 + (SELECT vsz FROM v))), 6)
        |              AS DECIMAL(18,9)) AS nll
        |  FROM bi b JOIN c2 USING (prev, cur) JOIN c1 USING (prev)
        |)
        |SELECT doc_id, count(*) AS n_bigrams,
        |       round(CAST(avg(nll) AS DOUBLE), 4) AS avg_nll
        |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin
  )
}
