package graft.queries

import graft.Memo
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-7 catalog (q215–q225):
  *
  *  - q215: filtered `knn_match` through the stored quantized IVF index
  *    (reference `expression/scalar/KnnMatch.java:48` +
  *    `lucene/LuceneQueryBuilder.java` — Lucene runs filtered kNN over
  *    the pre-filter's docset, so k MATCHING rows come back). The index
  *    declares nprobe = 1 against 16 centroids and the filter keeps 19
  *    corpus rows — at a fixed single-bucket probe an unguarded
  *    implementation returns fewer than k = 5 rows, so the exact
  *    filtered oracle catches it; [[graft.StatementRouter]]'s recall
  *    guard re-runs the code scan over all buckets when the filtered
  *    search comes up short. 19 < k·rescoreFactor = 20 keeps every
  *    eligible row in the float-rescored survivor set — exact, not a
  *    recall floor.
  *  - q216: a subquery-valued (non-literal) query vector served from the
  *    stored route — evaluated once on the driver, then searched like a
  *    literal; exhaustive probing pins the exact oracle. Both knn
  *    closures `require` the observed route, so a silent fall-through to
  *    the exact path fails the correctness gate loudly.
  *  - q217/q221: the old q67 split — full ground-truth verification dump
  *    vs operator-timed one-row summary.
  *  - q218: the CJK bigram analyzer; q225: Thai dictionary segmentation.
  *  - q219: LIVE foreign-table JDBC scan against embedded Derby.
  *  - q220: sampled ANALYZE most-common-values scaling gate.
  *  - q222/q223: the wave-4 language analyzers over golden-stem oracles.
  *  - q224: exact repeated-substring dedup statistics (Lee et al. 2022).
  */
object QueriesRound7 {

  /** Same deterministic 64-dim literal as q209/q210. */
  private val vecLit: String =
    (0 until 64).map(i => ((i % 7) - 3) / 3.0)
      .map(v => f"$v%.6f").mkString("[", ", ", "]")

  private def vstore(s: SparkSession, dir: String, key: String,
                     table: String, nprobe: Int): graft.StatementRouter = {
    graft.functions.GraftFunctions.registerAll(s)
    graft.Tables.registerAll(s, dir)
    val root = Memo(s, s"$key#$dir") {
      val rt = graft.ArtifactStore.scratchDir(s"$key")
        .toFile.getAbsolutePath
      val r0 = new graft.StatementRouter(s, rt)
      r0.execute(
        s"""CREATE TABLE $table (vec_id BIGINT PRIMARY KEY,
           |  embedding FLOAT_VECTOR(64),
           |  INDEX iv USING VECTOR (embedding)
           |    WITH (centroids = 16, nprobe = $nprobe))""".stripMargin)
      r0.execute(s"INSERT INTO $table (vec_id, embedding) " +
        "SELECT vec_id, embedding FROM embeddings")
      rt
    }
    new graft.StatementRouter(s, root)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q215_knn_filtered_stored" -> ((s, dir) => {
      val r = vstore(s, dir, "q215", "vstoref", nprobe = 1)
      graft.StatementRouter.lastKnnRoute.set("")
      val out = r.execute(
        s"""SELECT vec_id, round(_score, 4) AS score FROM vstoref
           |WHERE vec_id BETWEEN 100 AND 118
           |  AND knn_match(embedding, $vecLit, 5)
           |ORDER BY score DESC, vec_id""".stripMargin)
      require(graft.StatementRouter.lastKnnRoute.get() == "stored-index-filtered",
        s"q215 must be served by the filtered stored-index route, " +
          s"got '${graft.StatementRouter.lastKnnRoute.get()}'")
      out
    }),

    // The VERIFICATION row split out of q67 (which now times the
    // operator alone): the full exact all-pairs ground truth with sims,
    // each truth pair annotated with the operator's aggregate recall
    // floor — the O(n²) truth materialization is this entry's cost by
    // design, shared with q67/q135 through QueriesPipeline.TruthMemo's
    // per-session parquet memo.
    "q217_embedding_neardup_pairs" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val emb = graft.Tables.load(s, dir, "embeddings")
      val found = graft.operators.Similarity
        .embeddingNearDupPairs(emb, threshold = 0.4, nprobe = 4)
        .select(col("id_a"), col("id_b"), lit(1).as("hit"))
      val truth = QueriesPipeline.TruthMemo.exactPairs(emb, 0.4, s"q67truth#$dir")
      val w = Window.partitionBy()
      truth.join(found, Seq("id_a", "id_b"), "left")
        .select(col("id_a"), col("id_b"), round(col("sim"), 6).as("sim"),
          (sum(coalesce(col("hit"), lit(0))).over(w) >=
            count(lit(1)).over(w) * 0.6).as("recall_ok"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // CJK analyzer (reference bundles Lucene's CJKAnalyzer,
    // docs/general/ddl/fulltext-indices.rst builtin list): standard
    // tokenize + lowercase + CJK-run bigrams (lone ideograph stays a
    // unigram) + English-ish stop set. Vocabulary is script-pure per
    // word so the oracle replays the bigram chain generically with
    // substr over generate_series.
    "q218_cjk_analyzer" -> ((s, dir) => {
      import graft.operators.MatchText
      val c = graft.Tables.load(s, dir, "customer")
        .select(col("c_custkey").as("k"))
      def pick(words: Seq[String], m: Int) =
        element_at(array(words.map(lit): _*), (col("k") % m + 1).cast("int"))
      val v1 = Seq("数据库", "机器学习", "神经网络", "分布式",
        "数据分析", "计算引擎", "大数据")
      val v2 = Seq("データ", "がくしゅう", "エンジン", "모델", "학습")
      val v3 = Seq("the", "spark", "大")
      c.select(explode(MatchText.Analyzer.byName("cjk")(
          concat_ws(" ", pick(v1, 7), pick(v2, 5), pick(v3, 3)))).as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("n"))
        .orderBy(col("term"))
    }),

    // Live FDW JDBC scan (reference fdw/JdbcForeignDataWrapper.java,
    // fdw/JdbcBatchIterator.java): an EMBEDDED Derby database (pure-JVM,
    // in-process — the offline stand-in for a remote Postgres) is loaded
    // with the nation table over JDBC, declared via CREATE SERVER /
    // CREATE FOREIGN TABLE, and queried through the router joined with a
    // parquet-backed table. The scan is Spark's JDBC source — per-query
    // live read with predicate pushdown, strictly more than the
    // reference's single-connection iterator.
    "q219_fdw_jdbc" -> ((s, dir) => {
      graft.functions.GraftFunctions.registerAll(s)
      graft.Tables.registerAll(s, dir)
      val root = Memo(s, s"q219#$dir") {
        val rt = graft.ArtifactStore.scratchDir("q219")
          .toFile.getAbsolutePath
        // keep derby.log out of the working directory
        System.setProperty("derby.system.home", rt)
        val url = s"jdbc:derby:$rt/fdwdb;create=true"
        graft.Tables.load(s, dir, "nation")
          .write.format("jdbc").option("url", url)
          .option("dbtable", "NATION_REMOTE").save()
        val r0 = new graft.StatementRouter(s, rt)
        r0.execute(s"CREATE SERVER IF NOT EXISTS derby_srv " +
          s"FOREIGN DATA WRAPPER jdbc OPTIONS (url '$url')")
        r0.execute("CREATE FOREIGN TABLE IF NOT EXISTS nation_remote " +
          "(n_nationkey BIGINT, n_name TEXT, n_regionkey BIGINT) " +
          "SERVER derby_srv OPTIONS (table_name 'NATION_REMOTE')")
        rt
      }
      val r = new graft.StatementRouter(s, root)
      r.execute(
        """SELECT r.r_name, count(*) AS nations,
          |       min(f.n_name) AS first_nation
          |FROM nation_remote f JOIN region r
          |  ON f.n_regionkey = r.r_regionkey
          |WHERE f.n_nationkey >= 5
          |GROUP BY r.r_name ORDER BY r.r_name""".stripMargin)
    }),

    // Sampled ANALYZE MCVs (sibling of q206): the cap is forced far
    // below the table size, so the most-common-values pass runs on the
    // seed-pinned Bernoulli sample and stored frequencies are
    // count-in-sample / sample-size. The gate checks the SCALING: a
    // ~50% 'HEAVY' value must come back as the top MCV with a frequency
    // near 0.5 — an implementation that divided sample counts by the
    // full row count would report ~0.1 and hash-fail; the minor values
    // (~10% each) gate the envelope from below, and the MCV list is
    // complete (6 distinct values survive any plausible sample).
    "q220_analyze_mcv_sampled" -> ((s, dir) => {
      graft.functions.GraftFunctions.registerAll(s)
      graft.Tables.registerAll(s, dir)
      Memo(s, s"q220#$dir") {
        val rt = graft.ArtifactStore.scratchDir("q220")
          .toFile.getAbsolutePath
        val r0 = new graft.StatementRouter(s, rt)
        r0.execute("CREATE TABLE mcv_t (k BIGINT, seg TEXT)")
        r0.execute("""INSERT INTO mcv_t
          SELECT c_custkey,
                 CASE WHEN c_custkey % 2 = 0 THEN 'HEAVY' ELSE c_mktsegment END
          FROM customer""")
        s.conf.set("graft.analyze.mcv_sample_cap", "300")
        try r0.execute("ANALYZE")
        finally s.conf.unset("graft.analyze.mcv_sample_cap")
        rt
      }
      graft.sources.PgCatalog.registerAll(s)
      s.sql("""
        SELECT attname,
               element_at(most_common_vals, 1) AS top_val,
               element_at(most_common_freqs, 1) BETWEEN 0.35 AND 0.65
                 AS top_freq_ok,
               size(most_common_vals) AS n_mcv,
               forall(slice(most_common_freqs, 2, 5),
                      f -> f BETWEEN 0.04 AND 0.20) AS minor_freqs_ok
        FROM pg_stats WHERE tablename = 'mcv_t' AND attname = 'seg'""")
    }),

"q222_language_analyzers4" -> ((s, dir) => {
      import graft.operators.MatchText
      val c = graft.Tables.load(s, dir, "customer")
        .select(col("c_custkey").as("k"))
      def pick(words: Seq[String], m: Int) =
        element_at(array(words.map(lit): _*), (col("k") % m + 1).cast("int"))
      def arm(lang: String, analyzer: String,
              v1: Seq[String], v2: Seq[String], v3: Seq[String]) =
        c.select(lit(lang).as("lang"),
          explode(MatchText.Analyzer.byName(analyzer)(
            concat_ws(" ", pick(v1, 7), pick(v2, 5), pick(v3, 3)))).as("term"))
      val ar = arm("ar", "arabic",
        Seq("الكتاب", "والكتب", "المدرسة", "الكبيرة", "مدرسون", "كتابها", "البيت"),
        Seq("في", "مكتبة", "العلوم", "منازل", "الطلاب"),
        Seq("جامعة", "من", "الصغير"))
      val tr = arm("tr", "turkish",
        Seq("kitapları", "evlerinde", "arabalar", "okullarda", "öğrenciler", "şehirlerden", "kapıları"),
        Seq("ve", "kitaplar", "evler", "sokakta", "günü"),
        Seq("okul", "bir", "şehir"))
      val el = arm("el", "greek",
        Seq("βιβλία", "πόλεων", "μεγάλα", "θάλασσες", "άνθρωποι", "δρόμου", "παιδιά"),
        Seq("και", "σπίτια", "νύχτες", "ημέρας", "χρόνια"),
        Seq("πόλη", "τα", "φώτα"))
      val hi = arm("hi", "hindi",
        Seq("लड़कों", "किताबें", "स्कूलों", "रातों", "दिनों", "सड़कें", "घरों"),
        Seq("और", "लड़कियां", "कहानियां", "आंखें", "बातें"),
        Seq("शहर", "है", "घर"))
      ar.union(tr.union(el.union(hi)))
        .groupBy(col("lang"), col("term")).agg(count(lit(1)).as("n"))
        .orderBy(col("lang"), col("term"))
    }),

    "q223_language_analyzers5" -> ((s, dir) => {
      import graft.operators.MatchText
      val c = graft.Tables.load(s, dir, "customer")
        .select(col("c_custkey").as("k"))
      def pick(words: Seq[String], m: Int) =
        element_at(array(words.map(lit): _*), (col("k") % m + 1).cast("int"))
      def arm(lang: String, analyzer: String,
              v1: Seq[String], v2: Seq[String], v3: Seq[String]) =
        c.select(lit(lang).as("lang"),
          explode(MatchText.Analyzer.byName(analyzer)(
            concat_ws(" ", pick(v1, 7), pick(v2, 5), pick(v3, 3)))).as("term"))
      val cs = arm("cs", "czech",
        Seq("knihy", "domech", "velkých", "městech", "ulicemi", "zahradami", "stolové"),
        Seq("a", "okna", "pole", "ruky", "lesy"),
        Seq("dům", "je", "noc"))
      val hu = arm("hu", "hungarian",
        Seq("házakban", "könyveket", "kertekben", "napokat", "emberek", "városok", "ablakot"),
        Seq("és", "madarak", "fákat", "házat", "kertek"),
        Seq("nap", "nem", "út"))
      val id = arm("id", "indonesian",
        Seq("membaca", "pekerjaan", "makanan", "bukunya", "ditulis", "terbesar", "mengajar"),
        Seq("dan", "belajar", "rumahnya", "minuman", "jalanan"),
        Seq("kota", "yang", "pasar"))
      val ro = arm("ro", "romanian",
        Seq("cărțile", "orașelor", "copiii", "străzile", "caselor", "drumuri", "fetele"),
        Seq("și", "nopțile", "zilele", "cartea", "anii"),
        Seq("oraș", "din", "sat"))
      cs.union(hu.union(id.union(ro)))
        .groupBy(col("lang"), col("term")).agg(count(lit(1)).as("n"))
        .orderBy(col("lang"), col("term"))
    }),

    // Exact repeated-substring statistics (Lee et al. 2022 exact-substring
    // dedup, arXiv:2107.06499): k-token grams hashed, corpus-frequency
    // counted, per-document duplication ratios. The fixture plants
    // duplicates: every 5th document gains a verbatim shifted-id twin, so
    // those pairs report dup_ratio 1.0 while natural text discriminates.
    // DuckDB replays the gram expansion literally (list_slice over a
    // position series), so the hash-path operator is pinned against a
    // no-hash oracle — a 64-bit gram collision would hash-fail here.
    "q224_substring_dedup" -> ((s, dir) => {
      val d = graft.Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      val mixed = d.unionByName(d.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 10000000L).as("doc_id"), col("text")))
      graft.operators.Dedup.repeatedGramStats(mixed, "doc_id", "text", k = 8)
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))
    }),

    // Thai dictionary segmentation (reference bundles Lucene's
    // ThaiAnalyzer; the platform BreakIterator carries the same
    // ICU-derived dictionary): unspaced Thai phrases segment into words,
    // stop-filtered. Golden-term oracle — each phrase's segmentation is
    // vetted and replayed as a literal list, so a dictionary or
    // boundary regression hash-fails.
    "q225_thai_analyzer" -> ((s, dir) => {
      import graft.operators.MatchText
      val c = graft.Tables.load(s, dir, "customer")
        .select(col("c_custkey").as("k"))
      def pick(words: Seq[String], m: Int) =
        element_at(array(words.map(lit): _*), (col("k") % m + 1).cast("int"))
      val v1 = Seq("หนังสือเล่มนี้ดีมาก", "เมืองใหญ่ในประเทศไทย", "อาหารอร่อยที่ตลาด", "นักเรียนอ่านหนังสือ", "แม่น้ำไหลผ่านหมู่บ้าน", "รถไฟฟ้าในกรุงเทพ", "ทะเลสวยงามมาก")
      val v2 = Seq("ดอกไม้สีแดง", "ภาษาไทยสนุก", "เด็กเล่นฟุตบอล", "ฝนตกหนักวันนี้", "ร้านกาแฟเปิดเช้า")
      val v3 = Seq("ตลาดน้ำ", "วัดเก่าแก่", "ข้าวผัดกุ้ง")
      c.select(explode(MatchText.Analyzer.byName("thai")(
          concat_ws(" ", pick(v1, 7), pick(v2, 5), pick(v3, 3)))).as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("n"))
        .orderBy(col("term"))
    }),

    "q216_knn_subquery_vector" -> ((s, dir) => {
      val r = vstore(s, dir, "q216", "vstoreq", nprobe = 16)
      graft.StatementRouter.lastKnnRoute.set("")
      val out = r.execute(
        """SELECT vec_id, round(_score, 4) AS score FROM vstoreq
          |WHERE knn_match(embedding,
          |  (SELECT e.embedding FROM embeddings e WHERE e.vec_id = 7), 5)
          |ORDER BY score DESC, vec_id""".stripMargin)
      require(graft.StatementRouter.lastKnnRoute.get() == "stored-index",
        s"q216 must be served by the stored-index route, " +
          s"got '${graft.StatementRouter.lastKnnRoute.get()}'")
      out
    })
  )

  val oracles: Map[String, String] = Map(
    // exact filtered top-k: selection ordered by full-precision score
    // (the engine selects on unrounded similarity), projection rounded
    "q215_knn_filtered_stored" ->
      s"""SELECT vec_id,
         |       round(1.0 / (1.0 + list_distance(embedding, $vecLit) ^ 2), 4)
         |         AS score
         |FROM embeddings
         |WHERE vec_id BETWEEN 100 AND 118
         |ORDER BY 1.0 / (1.0 + list_distance(embedding, $vecLit) ^ 2) DESC,
         |         vec_id
         |LIMIT 5""".stripMargin,

    "q217_embedding_neardup_pairs" ->
      """SELECT id_a, id_b, round(sim, 6) AS sim, TRUE AS recall_ok FROM (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |         list_cosine_similarity(a.embedding::DOUBLE[],
        |                                b.embedding::DOUBLE[]) AS sim
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
        |WHERE sim >= 0.4 ORDER BY id_a, id_b""".stripMargin,

    // replays the cjk chain literally: picks by key modulo, CJK words
    // (full-match on the bigrammed script class) expand to overlapping
    // bigrams via substr over generate_series, a lone CJK char passes
    // as a unigram, latin lowers + drops the stop word
    "q218_cjk_analyzer" ->
      """WITH ks AS (SELECT c_custkey AS k FROM customer),
        |picked AS (SELECT t FROM ks, LATERAL (VALUES
        |  ((['数据库','机器学习','神经网络','分布式','数据分析','计算引擎','大数据'])[CAST(k % 7 + 1 AS INT)]),
        |  ((['データ','がくしゅう','エンジン','모델','학습'])[CAST(k % 5 + 1 AS INT)]),
        |  ((['the','spark','大'])[CAST(k % 3 + 1 AS INT)])) AS v(t)),
        |cjk AS (SELECT t FROM picked WHERE regexp_full_match(t,
        |  '[\x{3040}-\x{30FF}\x{3400}-\x{4DBF}\x{4E00}-\x{9FFF}\x{AC00}-\x{D7AF}]+')),
        |terms AS (
        |  SELECT substr(t, CAST(i AS INT), 2) AS term
        |  FROM cjk, (SELECT unnest([1, 2, 3, 4, 5, 6]) AS i) g
        |  WHERE len(t) >= 2 AND i <= len(t) - 1
        |  UNION ALL
        |  SELECT t AS term FROM cjk WHERE len(t) = 1
        |  UNION ALL
        |  SELECT lower(t) AS term FROM picked WHERE t NOT IN (SELECT t FROM cjk)
        |    AND lower(t) <> 'the')
        |SELECT term, count(*) AS n FROM terms GROUP BY term ORDER BY term"""
        .stripMargin,

    // the foreign side holds exactly the nation rows, so DuckDB replays
    // the join over the same parquet fixtures
    "q219_fdw_jdbc" ->
      """SELECT r.r_name, count(*) AS nations, min(n.n_name) AS first_nation
        |FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
        |WHERE n.n_nationkey >= 5
        |GROUP BY r.r_name ORDER BY r.r_name""".stripMargin,

    // envelopes computed Spark-side (the q66/q70 sketch pattern); the
    // oracle pins the deterministic facts
    "q220_analyze_mcv_sampled" ->
      """SELECT 'seg' AS attname, 'HEAVY' AS top_val, TRUE AS top_freq_ok,
        |       6 AS n_mcv, TRUE AS minor_freqs_ok""".stripMargin,

"q222_language_analyzers4" ->
      """WITH ks AS (SELECT c_custkey AS k FROM customer),
|ar_t AS (SELECT t FROM ks, LATERAL (VALUES
|  ((['الكتاب','والكتب','المدرسة','الكبيرة','مدرسون','كتابها','البيت'])[CAST(k % 7 + 1 AS INT)]),
|  ((['في','مكتبة','العلوم','منازل','الطلاب'])[CAST(k % 5 + 1 AS INT)]),
|  ((['جامعة','من','الصغير'])[CAST(k % 3 + 1 AS INT)])) AS v(t)),
|ar AS (SELECT 'ar' AS lang, CASE t WHEN 'الكتاب' THEN 'كتاب' WHEN 'والكتب' THEN 'كتب' WHEN 'المدرسة' THEN 'مدرس' WHEN 'الكبيرة' THEN 'كبير' WHEN 'مدرسون' THEN 'مدرس' WHEN 'كتابها' THEN 'كتاب' WHEN 'البيت' THEN 'بيت' WHEN 'مكتبة' THEN 'مكتب' WHEN 'العلوم' THEN 'علوم' WHEN 'منازل' THEN 'منازل' WHEN 'الطلاب' THEN 'طلاب' WHEN 'جامعة' THEN 'جامع' WHEN 'الصغير' THEN 'صغير' END AS term FROM ar_t),
|tr_t AS (SELECT t FROM ks, LATERAL (VALUES
|  ((['kitapları','evlerinde','arabalar','okullarda','öğrenciler','şehirlerden','kapıları'])[CAST(k % 7 + 1 AS INT)]),
|  ((['ve','kitaplar','evler','sokakta','günü'])[CAST(k % 5 + 1 AS INT)]),
|  ((['okul','bir','şehir'])[CAST(k % 3 + 1 AS INT)])) AS v(t)),
|tr AS (SELECT 'tr' AS lang, CASE t WHEN 'kitapları' THEN 'kitap' WHEN 'evlerinde' THEN 'ev' WHEN 'arabalar' THEN 'araba' WHEN 'okullarda' THEN 'okul' WHEN 'öğrenciler' THEN 'öğrenci' WHEN 'şehirlerden' THEN 'şehir' WHEN 'kapıları' THEN 'kapı' WHEN 'kitaplar' THEN 'kitap' WHEN 'evler' THEN 'ev' WHEN 'sokakta' THEN 'sokak' WHEN 'günü' THEN 'gün' WHEN 'okul' THEN 'okul' WHEN 'şehir' THEN 'şehir' END AS term FROM tr_t),
|el_t AS (SELECT t FROM ks, LATERAL (VALUES
|  ((['βιβλία','πόλεων','μεγάλα','θάλασσες','άνθρωποι','δρόμου','παιδιά'])[CAST(k % 7 + 1 AS INT)]),
|  ((['και','σπίτια','νύχτες','ημέρας','χρόνια'])[CAST(k % 5 + 1 AS INT)]),
|  ((['πόλη','τα','φώτα'])[CAST(k % 3 + 1 AS INT)])) AS v(t)),
|el AS (SELECT 'el' AS lang, CASE t WHEN 'βιβλία' THEN 'βιβλί' WHEN 'πόλεων' THEN 'πόλε' WHEN 'μεγάλα' THEN 'μεγάλ' WHEN 'θάλασσες' THEN 'θάλασσ' WHEN 'άνθρωποι' THEN 'άνθρωπ' WHEN 'δρόμου' THEN 'δρόμ' WHEN 'παιδιά' THEN 'παιδιά' WHEN 'σπίτια' THEN 'σπίτι' WHEN 'νύχτες' THEN 'νύχτ' WHEN 'ημέρας' THEN 'ημέρ' WHEN 'χρόνια' THEN 'χρόνι' WHEN 'πόλη' THEN 'πόλ' WHEN 'φώτα' THEN 'φώτ' END AS term FROM el_t),
|hi_t AS (SELECT t FROM ks, LATERAL (VALUES
|  ((['लड़कों','किताबें','स्कूलों','रातों','दिनों','सड़कें','घरों'])[CAST(k % 7 + 1 AS INT)]),
|  ((['और','लड़कियां','कहानियां','आंखें','बातें'])[CAST(k % 5 + 1 AS INT)]),
|  ((['शहर','है','घर'])[CAST(k % 3 + 1 AS INT)])) AS v(t)),
|hi AS (SELECT 'hi' AS lang, CASE t WHEN 'लड़कों' THEN 'लड़क' WHEN 'किताबें' THEN 'किताब' WHEN 'स्कूलों' THEN 'स्कूल' WHEN 'रातों' THEN 'रात' WHEN 'दिनों' THEN 'दिन' WHEN 'सड़कें' THEN 'सड़क' WHEN 'घरों' THEN 'घर' WHEN 'लड़कियां' THEN 'लड़किय' WHEN 'कहानियां' THEN 'कहानिय' WHEN 'आंखें' THEN 'आंख' WHEN 'बातें' THEN 'बात' WHEN 'शहर' THEN 'शहर' WHEN 'घर' THEN 'घर' END AS term FROM hi_t),
|allt AS (SELECT * FROM ar UNION ALL SELECT * FROM tr UNION ALL SELECT * FROM el UNION ALL SELECT * FROM hi)
|SELECT lang, term, count(*) AS n FROM allt WHERE term IS NOT NULL
|GROUP BY lang, term ORDER BY lang, term""".stripMargin,

    "q223_language_analyzers5" ->
      """WITH ks AS (SELECT c_custkey AS k FROM customer),
|cs_t AS (SELECT t FROM ks, LATERAL (VALUES
|  ((['knihy','domech','velkých','městech','ulicemi','zahradami','stolové'])[CAST(k % 7 + 1 AS INT)]),
|  ((['a','okna','pole','ruky','lesy'])[CAST(k % 5 + 1 AS INT)]),
|  ((['dům','je','noc'])[CAST(k % 3 + 1 AS INT)])) AS v(t)),
|cs AS (SELECT 'cs' AS lang, CASE t WHEN 'knihy' THEN 'knih' WHEN 'domech' THEN 'dom' WHEN 'velkých' THEN 'velk' WHEN 'městech' THEN 'měst' WHEN 'ulicemi' THEN 'ulic' WHEN 'zahradami' THEN 'zahrad' WHEN 'stolové' THEN 'stol' WHEN 'okna' THEN 'okn' WHEN 'pole' THEN 'pol' WHEN 'ruky' THEN 'ruk' WHEN 'lesy' THEN 'les' WHEN 'dům' THEN 'dům' WHEN 'noc' THEN 'noc' END AS term FROM cs_t),
|hu_t AS (SELECT t FROM ks, LATERAL (VALUES
|  ((['házakban','könyveket','kertekben','napokat','emberek','városok','ablakot'])[CAST(k % 7 + 1 AS INT)]),
|  ((['és','madarak','fákat','házat','kertek'])[CAST(k % 5 + 1 AS INT)]),
|  ((['nap','nem','út'])[CAST(k % 3 + 1 AS INT)])) AS v(t)),
|hu AS (SELECT 'hu' AS lang, CASE t WHEN 'házakban' THEN 'házak' WHEN 'könyveket' THEN 'könyv' WHEN 'kertekben' THEN 'kert' WHEN 'napokat' THEN 'nap' WHEN 'emberek' THEN 'ember' WHEN 'városok' THEN 'város' WHEN 'ablakot' THEN 'ablak' WHEN 'madarak' THEN 'madar' WHEN 'fákat' THEN 'fák' WHEN 'házat' THEN 'ház' WHEN 'kertek' THEN 'kert' WHEN 'nap' THEN 'nap' WHEN 'út' THEN 'út' END AS term FROM hu_t),
|id_t AS (SELECT t FROM ks, LATERAL (VALUES
|  ((['membaca','pekerjaan','makanan','bukunya','ditulis','terbesar','mengajar'])[CAST(k % 7 + 1 AS INT)]),
|  ((['dan','belajar','rumahnya','minuman','jalanan'])[CAST(k % 5 + 1 AS INT)]),
|  ((['kota','yang','pasar'])[CAST(k % 3 + 1 AS INT)])) AS v(t)),
|id AS (SELECT 'id' AS lang, CASE t WHEN 'membaca' THEN 'baca' WHEN 'pekerjaan' THEN 'kerja' WHEN 'makanan' THEN 'makan' WHEN 'bukunya' THEN 'buku' WHEN 'ditulis' THEN 'tulis' WHEN 'terbesar' THEN 'besar' WHEN 'mengajar' THEN 'ajar' WHEN 'belajar' THEN 'belajar' WHEN 'rumahnya' THEN 'rumah' WHEN 'minuman' THEN 'minum' WHEN 'jalanan' THEN 'jalan' WHEN 'kota' THEN 'kota' WHEN 'pasar' THEN 'pasar' END AS term FROM id_t),
|ro_t AS (SELECT t FROM ks, LATERAL (VALUES
|  ((['cărțile','orașelor','copiii','străzile','caselor','drumuri','fetele'])[CAST(k % 7 + 1 AS INT)]),
|  ((['și','nopțile','zilele','cartea','anii'])[CAST(k % 5 + 1 AS INT)]),
|  ((['oraș','din','sat'])[CAST(k % 3 + 1 AS INT)])) AS v(t)),
|ro AS (SELECT 'ro' AS lang, CASE t WHEN 'cărțile' THEN 'cărți' WHEN 'orașelor' THEN 'oraș' WHEN 'copiii' THEN 'copi' WHEN 'străzile' THEN 'străzi' WHEN 'caselor' THEN 'cas' WHEN 'drumuri' THEN 'drum' WHEN 'fetele' THEN 'fet' WHEN 'nopțile' THEN 'nopți' WHEN 'zilele' THEN 'zil' WHEN 'cartea' THEN 'cart' WHEN 'anii' THEN 'an' WHEN 'oraș' THEN 'oraș' WHEN 'sat' THEN 'sat' END AS term FROM ro_t),
|allt AS (SELECT * FROM cs UNION ALL SELECT * FROM hu UNION ALL SELECT * FROM id UNION ALL SELECT * FROM ro)
|SELECT lang, term, count(*) AS n FROM allt WHERE term IS NOT NULL
|GROUP BY lang, term ORDER BY lang, term""".stripMargin,

    "q224_substring_dedup" ->
      """WITH d AS (SELECT doc_id, text FROM documents
        |           UNION ALL
        |           SELECT doc_id + 10000000, text FROM documents
        |           WHERE doc_id % 5 = 0),
        |toks AS (SELECT doc_id,
        |                list_filter(string_split_regex(text, '\s+'),
        |                            x -> x <> '') AS t
        |         FROM d),
        |grams AS (
        |  SELECT doc_id,
        |         array_to_string(list_slice(t, CAST(i AS INT),
        |                                    CAST(i + 7 AS INT)), ' ') AS g
        |  FROM toks, (SELECT unnest(range(1, 4001)) AS i) idx
        |  WHERE len(t) >= 8 AND i <= len(t) - 7),
        |freq AS (SELECT g, count(*) AS n FROM grams GROUP BY g),
        |per_doc AS (
        |  SELECT doc_id, count(*) AS n_grams,
        |         sum(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS n_dup_grams
        |  FROM grams JOIN freq USING (g) GROUP BY doc_id)
        |SELECT d.doc_id,
        |       CAST(coalesce(p.n_grams, 0) AS BIGINT) AS n_grams,
        |       CAST(coalesce(p.n_dup_grams, 0) AS BIGINT) AS n_dup_grams,
        |       CASE WHEN coalesce(p.n_grams, 0) = 0 THEN NULL
        |            ELSE round(p.n_dup_grams * 1.0 / p.n_grams, 4)
        |       END AS dup_ratio
        |FROM d LEFT JOIN per_doc p USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    "q225_thai_analyzer" ->
      """WITH ks AS (SELECT c_custkey AS k FROM customer),
        |picked AS (SELECT t FROM ks, LATERAL (VALUES
        |  ((['หนังสือเล่มนี้ดีมาก','เมืองใหญ่ในประเทศไทย','อาหารอร่อยที่ตลาด','นักเรียนอ่านหนังสือ','แม่น้ำไหลผ่านหมู่บ้าน','รถไฟฟ้าในกรุงเทพ','ทะเลสวยงามมาก'])[CAST(k % 7 + 1 AS INT)]),
        |  ((['ดอกไม้สีแดง','ภาษาไทยสนุก','เด็กเล่นฟุตบอล','ฝนตกหนักวันนี้','ร้านกาแฟเปิดเช้า'])[CAST(k % 5 + 1 AS INT)]),
        |  ((['ตลาดน้ำ','วัดเก่าแก่','ข้าวผัดกุ้ง'])[CAST(k % 3 + 1 AS INT)])) AS v(t)),
        |terms AS (SELECT unnest(CASE t WHEN 'หนังสือเล่มนี้ดีมาก' THEN ['หนังสือ','เล่ม','ดี','มาก'] WHEN 'เมืองใหญ่ในประเทศไทย' THEN ['เมือง','ใหญ่','ประเทศ','ไทย'] WHEN 'อาหารอร่อยที่ตลาด' THEN ['อาหาร','อร่อย','ตลาด'] WHEN 'นักเรียนอ่านหนังสือ' THEN ['นักเรียน','อ่าน','หนังสือ'] WHEN 'แม่น้ำไหลผ่านหมู่บ้าน' THEN ['แม่น้ำ','ไหล','ผ่าน','หมู่','บ้าน'] WHEN 'รถไฟฟ้าในกรุงเทพ' THEN ['รถไฟฟ้า','กรุงเทพ'] WHEN 'ทะเลสวยงามมาก' THEN ['ทะเล','สวย','งาม','มาก'] WHEN 'ดอกไม้สีแดง' THEN ['ดอกไม้','สี','แดง'] WHEN 'ภาษาไทยสนุก' THEN ['ภาษา','ไทย','สนุก'] WHEN 'เด็กเล่นฟุตบอล' THEN ['เด็ก','เล่น','ฟุตบอล'] WHEN 'ฝนตกหนักวันนี้' THEN ['ฝน','ตกหนัก','วัน'] WHEN 'ร้านกาแฟเปิดเช้า' THEN ['ร้าน','กาแฟ','เปิด','เช้า'] WHEN 'ตลาดน้ำ' THEN ['ตลาดน้ำ'] WHEN 'วัดเก่าแก่' THEN ['วัด','เก่า','แก่'] WHEN 'ข้าวผัดกุ้ง' THEN ['ข้าว','ผัด','กุ้ง'] END) AS term FROM picked)
        |SELECT term, count(*) AS n FROM terms
        |GROUP BY term ORDER BY term""".stripMargin,

    "q216_knn_subquery_vector" ->
      """SELECT e.vec_id,
        |       round(1.0 / (1.0 + list_distance(e.embedding, q.embedding) ^ 2), 4)
        |         AS score
        |FROM embeddings e,
        |     (SELECT embedding FROM embeddings WHERE vec_id = 7) q
        |ORDER BY 1.0 / (1.0 + list_distance(e.embedding, q.embedding) ^ 2) DESC,
        |         e.vec_id
        |LIMIT 5""".stripMargin
  )
}
