package graft.queries

import graft.{Memo, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-5 catalog: the SQL `knn_match` predicate surface (reference
  * `expression/scalar/KnnMatch.java:48`, docs/general/dql/vector-search
  * .rst) — the reference's headline vector query
  * `SELECT … WHERE knn_match(vec, [..], k) ORDER BY _score` — through
  * both plans graft gives it:
  *
  *  - q209: the exact Dialect lowering (TakeOrderedAndProject top-k over
  *    `vector_similarity` = 1/(1+l2²), the reference's EUCLIDEAN
  *    float_vector default) on a plain registered table;
  *  - q210: the stored-index route — a router table declaring
  *    `INDEX iv USING VECTOR (embedding)` serves the same statement from
  *    a durable int8-quantized IVF index (bucket-partitioned codes,
  *    float rescore), [[graft.StatementRouter.routeKnnStored]]. Probing
  *    is exhaustive here (nprobe = centroids) so the result is pinned to
  *    the same exact top-k oracle as q209 — the hash gates the whole
  *    index pipeline (quantize → store → load → probe → rescore), not a
  *    recall floor.
  */
object QueriesRound5 {
  private def T(s: SparkSession, dir: String, n: String) = Tables.load(s, dir, n)


  /** Deterministic 64-dim query vector, literal in both the Spark SQL and
    * the DuckDB oracle (values in [-1, 1], no float32 surprises). */
  private val vecLit: String =
    (0 until 64).map(i => ((i % 7) - 3) / 3.0)
      .map(v => f"$v%.6f").mkString("[", ", ", "]")

  private val knnSelect =
    s"SELECT vec_id, round(_score, 4) AS score FROM %s " +
      s"WHERE knn_match(embedding, $vecLit, 5) ORDER BY score DESC, vec_id"

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q209_knn_match_sql" -> ((s, dir) => {
      graft.functions.GraftFunctions.registerAll(s)
      graft.Tables.registerAll(s, dir)
      s.sql(graft.Dialect.translate(knnSelect.format("embeddings")))
    }),

    // CREATE FUNCTION bodies OUTSIDE the codegen-translatable subset run
    // through the step-bounded interpreter fallback
    // (functions/JsInterp.scala; reference JavaScriptLanguage.java:28 runs
    // arbitrary JS on GraalVM): a while-loop popcount and a
    // data-dependent-bound for-loop, both integer-exact so DuckDB replays
    // them closed-form (bit_count; n(n+1)/2).
    "q211_js_udf_interp" -> ((s, dir) => {
      graft.functions.GraftFunctions.registerAll(s)
      graft.Tables.registerAll(s, dir)
      val rt = Memo(s, s"q211#$dir")(
        graft.ArtifactStore.scratchDir("q211")
          .toFile.getAbsolutePath)
      val r = new graft.StatementRouter(s, rt)
      r.execute(
        """CREATE OR REPLACE FUNCTION js_popcount(bigint) RETURNS integer
          |LANGUAGE JAVASCRIPT AS 'function js_popcount(n) {
          |  var c = 0;
          |  while (n > 0) { c += n % 2; n = Math.floor(n / 2); }
          |  return c;
          |}'""".stripMargin)
      r.execute(
        """CREATE OR REPLACE FUNCTION js_sumto(bigint) RETURNS integer
          |LANGUAGE JAVASCRIPT AS 'function js_sumto(n) {
          |  var s = 0;
          |  for (var i = 1; i <= n; i++) { s += i; }
          |  return s;
          |}'""".stripMargin)
      s.sql("""
        SELECT c_custkey,
               js_popcount(c_custkey) AS pc,
               js_sumto(c_custkey % 97) AS st
        FROM customer ORDER BY c_custkey""")
    }),

    // Round-5 language analyzers (italian/portuguese/dutch/russian —
    // extending q204's de/fr/es battery; reference bundles Lucene's full
    // language set, fulltext-indices.rst): vocabulary picked by key
    // modulo, stop filter, plural-class light stemming — every chain step
    // replayed literally by the oracle, including the Cyrillic arms.
    "q212_language_analyzers2" -> ((s, dir) => {
      import graft.operators.MatchText
      val c = T(s, dir, "customer").select(col("c_custkey").as("k"))
      def pick(words: Seq[String], m: Int) =
        element_at(array(words.map(lit): _*), (col("k") % m + 1).cast("int"))
      def arm(lang: String, analyzer: String,
              v1: Seq[String], v2: Seq[String], v3: Seq[String]) =
        c.select(lit(lang).as("lang"),
          explode(MatchText.Analyzer.byName(analyzer)(
            concat_ws(" ", pick(v1, 7), pick(v2, 5), pick(v3, 3)))).as("term"))
      val it = arm("it", "italian",
        Seq("libri", "case", "gatti", "fiori", "serie", "notti", "strade"),
        Seq("e", "mani", "giorni", "il", "porte"),
        Seq("belle", "non", "idee"))
      val pt = arm("pt", "portuguese",
        Seq("corações", "animais", "casas", "flores", "livros", "cidades", "jardins"),
        Seq("e", "dias", "para", "noites", "portas"),
        Seq("bons", "não", "muito"))
      val nl = arm("nl", "dutch",
        Seq("huizen", "katten", "boeken", "straten", "dagen", "bloemen", "steden"),
        Seq("en", "tuinen", "voor", "nachten", "handen"),
        Seq("mooie", "niet", "huis"))
      val ru = arm("ru", "russian",
        Seq("книги", "дома", "коты", "цветов", "улицы", "ночами", "руками"),
        Seq("и", "сады", "для", "дни", "окна"),
        Seq("красивые", "не", "годы"))
      it.union(pt).union(nl).union(ru)
        .groupBy(col("lang"), col("term")).agg(count(lit(1)).as("n"))
        .orderBy(col("lang"), col("term"))
    }),

    // Third language-analyzer wave: swedish/norwegian/danish share the
    // North-Germanic plural/definite endings (one nordic stemmer, three
    // stop sets); finnish gets the productive locative/case endings —
    // a coarse approximation of agglutinative morphology, documented as
    // such. Same oracle-replay stance as q204/q212.
    "q213_language_analyzers3" -> ((s, dir) => {
      import graft.operators.MatchText
      val c = T(s, dir, "customer").select(col("c_custkey").as("k"))
      def pick(words: Seq[String], m: Int) =
        element_at(array(words.map(lit): _*), (col("k") % m + 1).cast("int"))
      def arm(lang: String, analyzer: String,
              v1: Seq[String], v2: Seq[String], v3: Seq[String]) =
        c.select(lit(lang).as("lang"),
          explode(MatchText.Analyzer.byName(analyzer)(
            concat_ws(" ", pick(v1, 7), pick(v2, 5), pick(v3, 3)))).as("term"))
      val sv = arm("sv", "swedish",
        Seq("hästarna", "böckerna", "husen", "bilar", "flickor", "dagarna", "nätterna"),
        Seq("och", "träden", "på", "katter", "blommor"),
        Seq("vackra", "inte", "barnen"))
      val no = arm("no", "norwegian",
        Seq("hestene", "bøkene", "husene", "bilene", "dagene", "kattene", "blomstene"),
        Seq("og", "fuglene", "ikke", "fjellene", "gatene"),
        Seq("fine", "på", "dyrene"))
      val da = arm("da", "danish",
        Seq("hestene", "bøgerne", "husene", "bilerne", "dagene", "kattene", "gaderne"),
        Seq("og", "træerne", "ikke", "markerne", "blomsterne"),
        Seq("fine", "på", "børnene"))
      val fi = arm("fi", "finnish",
        Seq("taloissa", "kirjat", "kissat", "kukissa", "päivinä", "kaupungissa", "kadulla"),
        Seq("ja", "puissa", "ei", "öisin", "ikkunat"),
        Seq("kauniit", "on", "vuodet"))
      sv.union(no).union(da).union(fi)
        .groupBy(col("lang"), col("term")).agg(count(lit(1)).as("n"))
        .orderBy(col("lang"), col("term"))
    }),

    // array_position at the reference's exact semantics
    // (ArrayPositionFunction.java:80-115): absent → NULL (not Spark's 0),
    // NULL target matches NULL elements, optional 1-based start with
    // out-of-range → NULL; plus the array_min/array_max/ascii/reverse
    // scalar tail. The arrays are constructed in SQL, so the oracle
    // replays every position closed-form.
    "q214_array_position" -> ((s, dir) => {
      graft.functions.GraftFunctions.registerAll(s)
      graft.Tables.registerAll(s, dir)
      s.sql("""
        SELECT c_custkey,
               array_position(arr, '1') AS p_first,
               array_position(arr, '1', 2) AS p_from2,
               array_position(arr, '9') AS p_absent,
               array_position(arr, CAST(NULL AS STRING)) AS p_null,
               array_position(arr, '1', 9) AS p_oob,
               array_min(nums) AS amin,
               array_max(nums) AS amax,
               ascii(c_mktsegment) AS a1,
               reverse(c_mktsegment) AS rev
        FROM (SELECT c_custkey, c_mktsegment,
                array(CAST(c_custkey % 3 AS STRING),
                      CAST(c_custkey % 5 AS STRING),
                      '1', CAST(NULL AS STRING)) AS arr,
                array(c_custkey % 7, c_custkey % 3, c_custkey % 5) AS nums
              FROM customer)
        ORDER BY c_custkey""")
    }),

    "q210_knn_stored" -> ((s, dir) => {
      graft.functions.GraftFunctions.registerAll(s)
      graft.Tables.registerAll(s, dir)
      val root = Memo(s, s"q210#$dir") {
        val rt = graft.ArtifactStore.scratchDir("q210")
          .toFile.getAbsolutePath
        val r0 = new graft.StatementRouter(s, rt)
        r0.execute(
          """CREATE TABLE vstore (vec_id BIGINT PRIMARY KEY,
            |  embedding FLOAT_VECTOR(64),
            |  INDEX iv USING VECTOR (embedding)
            |    WITH (centroids = 16, nprobe = 16))""".stripMargin)
        r0.execute("INSERT INTO vstore (vec_id, embedding) " +
          "SELECT vec_id, embedding FROM embeddings")
        rt
      }
      val r = new graft.StatementRouter(s, root)
      r.execute(knnSelect.format("vstore"))
    })
  )

  val oracles: Map[String, String] = {
    val exactTopK =
      s"""SELECT vec_id,
         |       round(1.0 / (1.0 + list_distance(embedding, $vecLit) ^ 2), 4)
         |         AS score
         |FROM embeddings ORDER BY score DESC, vec_id LIMIT 5""".stripMargin
    Map(
      "q209_knn_match_sql" -> exactTopK,
      // exhaustive probing (nprobe = centroids) + float rescore make the
      // stored-index route exact — same brute-force oracle
      "q210_knn_stored" -> exactTopK,
      // replays each chain literally: vocabulary by key modulo, stop
      // filter, plural-class stemming CASE arms (incl. Cyrillic)
      "q212_language_analyzers2" ->
        """WITH ks AS (SELECT c_custkey AS k FROM customer),
          |it_t AS (SELECT t FROM ks, LATERAL (VALUES
          |  ((['libri','case','gatti','fiori','serie','notti','strade'])[CAST(k % 7 + 1 AS INT)]),
          |  ((['e','mani','giorni','il','porte'])[CAST(k % 5 + 1 AS INT)]),
          |  ((['belle','non','idee'])[CAST(k % 3 + 1 AS INT)])) AS v(t)
          |  WHERE t NOT IN ('e', 'il', 'non')),
          |it AS (SELECT 'it' AS lang,
          |  CASE WHEN len(t) > 4 AND right(t, 2) = 'ie' THEN substr(t, 1, len(t) - 2)
          |       WHEN len(t) > 3 AND right(t, 1) IN ('i', 'e') THEN substr(t, 1, len(t) - 1)
          |       ELSE t END AS term FROM it_t),
          |pt_t AS (SELECT t FROM ks, LATERAL (VALUES
          |  ((['corações','animais','casas','flores','livros','cidades','jardins'])[CAST(k % 7 + 1 AS INT)]),
          |  ((['e','dias','para','noites','portas'])[CAST(k % 5 + 1 AS INT)]),
          |  ((['bons','não','muito'])[CAST(k % 3 + 1 AS INT)])) AS v(t)
          |  WHERE t NOT IN ('e', 'para', 'não', 'muito')),
          |pt AS (SELECT 'pt' AS lang,
          |  CASE WHEN len(t) > 5 AND right(t, 3) IN ('ões', 'ães')
          |         THEN substr(t, 1, len(t) - 3) || 'ão'
          |       WHEN len(t) > 5 AND right(t, 3) = 'ais'
          |         THEN substr(t, 1, len(t) - 3) || 'al'
          |       WHEN len(t) > 3 AND right(t, 1) = 's' THEN substr(t, 1, len(t) - 1)
          |       ELSE t END AS term FROM pt_t),
          |nl_t AS (SELECT t FROM ks, LATERAL (VALUES
          |  ((['huizen','katten','boeken','straten','dagen','bloemen','steden'])[CAST(k % 7 + 1 AS INT)]),
          |  ((['en','tuinen','voor','nachten','handen'])[CAST(k % 5 + 1 AS INT)]),
          |  ((['mooie','niet','huis'])[CAST(k % 3 + 1 AS INT)])) AS v(t)
          |  WHERE t NOT IN ('en', 'voor', 'niet')),
          |nl AS (SELECT 'nl' AS lang,
          |  CASE WHEN len(t) > 4 AND right(t, 2) = 'en' THEN substr(t, 1, len(t) - 2)
          |       WHEN len(t) > 3 AND right(t, 1) IN ('s', 'e') THEN substr(t, 1, len(t) - 1)
          |       ELSE t END AS term FROM nl_t),
          |ru_t AS (SELECT t FROM ks, LATERAL (VALUES
          |  ((['книги','дома','коты','цветов','улицы','ночами','руками'])[CAST(k % 7 + 1 AS INT)]),
          |  ((['и','сады','для','дни','окна'])[CAST(k % 5 + 1 AS INT)]),
          |  ((['красивые','не','годы'])[CAST(k % 3 + 1 AS INT)])) AS v(t)
          |  WHERE t NOT IN ('и', 'для', 'не')),
          |ru AS (SELECT 'ru' AS lang,
          |  CASE WHEN len(t) > 5 AND right(t, 3) IN
          |         ('ами', 'ями', 'ого', 'его', 'ыми', 'ими')
          |         THEN substr(t, 1, len(t) - 3)
          |       WHEN len(t) > 4 AND right(t, 2) IN
          |         ('ов', 'ев', 'ие', 'ые', 'ой', 'ей', 'ах', 'ях', 'ам', 'ям',
          |          'ом', 'ем', 'ть', 'ет', 'ют', 'ла', 'ло', 'ли')
          |         THEN substr(t, 1, len(t) - 2)
          |       WHEN len(t) > 3 AND right(t, 1) IN
          |         ('а', 'я', 'ы', 'и', 'о', 'е', 'ь', 'й', 'у', 'ю')
          |         THEN substr(t, 1, len(t) - 1)
          |       ELSE t END AS term FROM ru_t),
          |allt AS (SELECT * FROM it UNION ALL SELECT * FROM pt
          |         UNION ALL SELECT * FROM nl UNION ALL SELECT * FROM ru)
          |SELECT lang, term, count(*) AS n FROM allt
          |GROUP BY lang, term ORDER BY lang, term""".stripMargin,

      // replays the nordic + finnish chains literally (one shared
      // North-Germanic CASE, three stop sets; finnish locative endings)
      "q213_language_analyzers3" ->
        """WITH ks AS (SELECT c_custkey AS k FROM customer),
          |nordic AS (SELECT lang, t FROM (
          |  SELECT 'sv' AS lang, t FROM ks, LATERAL (VALUES
          |    ((['hästarna','böckerna','husen','bilar','flickor','dagarna','nätterna'])[CAST(k % 7 + 1 AS INT)]),
          |    ((['och','träden','på','katter','blommor'])[CAST(k % 5 + 1 AS INT)]),
          |    ((['vackra','inte','barnen'])[CAST(k % 3 + 1 AS INT)])) AS v(t)
          |  WHERE t NOT IN ('och', 'på', 'inte')
          |  UNION ALL
          |  SELECT 'no', t FROM ks, LATERAL (VALUES
          |    ((['hestene','bøkene','husene','bilene','dagene','kattene','blomstene'])[CAST(k % 7 + 1 AS INT)]),
          |    ((['og','fuglene','ikke','fjellene','gatene'])[CAST(k % 5 + 1 AS INT)]),
          |    ((['fine','på','dyrene'])[CAST(k % 3 + 1 AS INT)])) AS v(t)
          |  WHERE t NOT IN ('og', 'ikke', 'på')
          |  UNION ALL
          |  SELECT 'da', t FROM ks, LATERAL (VALUES
          |    ((['hestene','bøgerne','husene','bilerne','dagene','kattene','gaderne'])[CAST(k % 7 + 1 AS INT)]),
          |    ((['og','træerne','ikke','markerne','blomsterne'])[CAST(k % 5 + 1 AS INT)]),
          |    ((['fine','på','børnene'])[CAST(k % 3 + 1 AS INT)])) AS v(t)
          |  WHERE t NOT IN ('og', 'ikke', 'på'))),
          |ngd AS (SELECT lang,
          |  CASE WHEN len(t) > 6 AND right(t, 4) IN ('erne','erna','arna','orna')
          |         THEN substr(t, 1, len(t) - 4)
          |       WHEN len(t) > 5 AND right(t, 3) IN ('ene','ens')
          |         THEN substr(t, 1, len(t) - 3)
          |       WHEN len(t) > 4 AND right(t, 2) IN ('er','ar','or','en','et')
          |         THEN substr(t, 1, len(t) - 2)
          |       WHEN len(t) > 3 AND right(t, 1) IN ('e','n')
          |         THEN substr(t, 1, len(t) - 1)
          |       ELSE t END AS term FROM nordic),
          |fi_t AS (SELECT t FROM ks, LATERAL (VALUES
          |  ((['taloissa','kirjat','kissat','kukissa','päivinä','kaupungissa','kadulla'])[CAST(k % 7 + 1 AS INT)]),
          |  ((['ja','puissa','ei','öisin','ikkunat'])[CAST(k % 5 + 1 AS INT)]),
          |  ((['kauniit','on','vuodet'])[CAST(k % 3 + 1 AS INT)])) AS v(t)
          |  WHERE t NOT IN ('ja', 'ei', 'on')),
          |fi AS (SELECT 'fi' AS lang,
          |  CASE WHEN len(t) > 5 AND right(t, 3) IN
          |         ('ssa','ssä','sta','stä','lla','llä','lta','ltä','lle','ksi','ina','inä')
          |         THEN substr(t, 1, len(t) - 3)
          |       WHEN len(t) > 4 AND right(t, 2) IN ('na','nä','ta','tä','en','in')
          |         THEN substr(t, 1, len(t) - 2)
          |       WHEN len(t) > 3 AND right(t, 1) IN ('t','n')
          |         THEN substr(t, 1, len(t) - 1)
          |       ELSE t END AS term FROM fi_t),
          |allt AS (SELECT * FROM ngd UNION ALL SELECT * FROM fi)
          |SELECT lang, term, count(*) AS n FROM allt
          |GROUP BY lang, term ORDER BY lang, term""".stripMargin,

      // positions replay arithmetically from the constructed array shape
      // [k%3, k%5, '1', NULL]
      "q214_array_position" ->
        """SELECT c_custkey,
          |  CASE WHEN c_custkey % 3 = 1 THEN 1
          |       WHEN c_custkey % 5 = 1 THEN 2 ELSE 3 END AS p_first,
          |  CASE WHEN c_custkey % 5 = 1 THEN 2 ELSE 3 END AS p_from2,
          |  CAST(NULL AS INT) AS p_absent,
          |  4 AS p_null,
          |  CAST(NULL AS INT) AS p_oob,
          |  least(c_custkey % 7, c_custkey % 3, c_custkey % 5) AS amin,
          |  greatest(c_custkey % 7, c_custkey % 3, c_custkey % 5) AS amax,
          |  ascii(c_mktsegment) AS a1,
          |  reverse(c_mktsegment) AS rev
          |FROM customer ORDER BY c_custkey""".stripMargin,

      // closed-form replay of the interpreted loops: popcount = bit_count,
      // sum(1..n) = n(n+1)/2
      "q211_js_udf_interp" ->
        """SELECT c_custkey,
          |       CAST(bit_count(c_custkey) AS INT) AS pc,
          |       CAST((c_custkey % 97) * (c_custkey % 97 + 1) / 2 AS INT) AS st
          |FROM customer ORDER BY c_custkey""".stripMargin
    )
  }
}
