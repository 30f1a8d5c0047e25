package graft.queries

import graft.Tables
import graft.operators.{MatchText, Quantified}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-2 coverage batch: quantified subquery comparisons (`> ANY`,
  * `= ALL`, … — reference `operator/any/AnyOperators.java`,
  * `operator/all/AllOperator.java`), multi-column MATCH with boosts
  * (`MatchPredicate.java:85`), CrateDB-shaped `parse_url`
  * (`scalar/ParseURLFunction.java:50`) and `regexp_matches` first-match
  * groups (`tablefunctions/MatchesFunction.java`).
  */
object QueriesFunctions5 {
  private def T(s: SparkSession, dir: String, n: String) = Tables.load(s, dir, n)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ANY over subqueries with NULL elements, NULL lhs, and an empty
    // subquery — the full 3VL surface, oracle'd by DuckDB's native ANY.
    "q101_quantified_any" -> ((s, dir) => {
      val orders = T(s, dir, "orders")
      val sub = orders.filter(col("o_totalprice") > 90000)
        .select(when(col("o_orderkey") % 5 === 0, lit(null).cast("double"))
          .otherwise(col("o_totalprice")).as("v"))
      val subEmpty = orders.filter(col("o_totalprice") < 0)
        .select(col("o_totalprice").as("v"))
      val base = T(s, dir, "customer").select(col("c_custkey"),
        when(col("c_custkey") % 11 === 0, lit(null).cast("double"))
          .otherwise(col("c_acctbal")).as("bal"))
      // batched: one summary scan serves all three comparisons on `sub`
      val batched = Quantified.comparisons(base, sub, Seq(
        Quantified.Spec(col("bal") * 20, ">", "any", "gt_any"),
        Quantified.Spec(col("bal") * 20, "<", "any", "lt_any"),
        Quantified.Spec(col("bal") * 20, "!=", "any", "ne_any")))
      Quantified.anyComparison(batched, col("bal"), ">", subEmpty, "gt_any_empty")
        .orderBy(col("c_custkey"))
    }),

    // ALL over subqueries (De Morgan duals) + membership `= ANY` on strings.
    "q102_quantified_all" -> ((s, dir) => {
      val orders = T(s, dir, "orders")
      val sub = orders.filter(col("o_totalprice") > 90000)
        .select(when(col("o_orderkey") % 5 === 0, lit(null).cast("double"))
          .otherwise(col("o_totalprice")).as("v"))
      val subEmpty = orders.filter(col("o_totalprice") < 0)
        .select(col("o_totalprice").as("v"))
      val segs = T(s, dir, "customer").filter(col("c_custkey") < 100)
        .select(col("c_mktsegment").as("v"))
      val base = T(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment"),
        when(col("c_custkey") % 11 === 0, lit(null).cast("double"))
          .otherwise(col("c_acctbal")).as("bal"))
      val a = Quantified.comparisons(base, sub, Seq(
        Quantified.Spec(col("bal") * 20, ">", "all", "gt_all")))
      // != ALL is NOT IN — membership, so it takes the join path
      val b = Quantified.allComparison(a, col("bal"), "!=", sub, "ne_all")
      val c = Quantified.allComparison(b, col("bal"), "<", subEmpty, "lt_all_empty")
      Quantified.anyComparison(c, col("c_mktsegment"), "=", segs, "seg_eq_any")
        .orderBy(col("c_custkey"))
    }),

    // Multi-column MATCH with per-field boosts, most_fields combination —
    // the weighted BM25 formula is replayed verbatim in the DuckDB oracle.
    "q103_match_multicol" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
        .select(col("doc_id"),
          array_join(slice(split(col("text"), " "), 1, 5), " ").as("title"),
          col("text").as("body"))
      val idx = MatchText.IndexCache.cached(s, s"$dir#q103_fielded")(
        MatchText.buildFieldedIndex(docs, "doc_id", Seq("title", "body")))
      MatchText.searchFielded(idx, "spark filter window",
          boosts = Map("title" -> 2.0), matchType = "most_fields", topN = 20)
        .select(col("doc_id"), round(col("score"), 6).as("score"))
    }),

    // CrateDB-shaped parse_url: one OBJECT column in the reference; emitted
    // here as its scalar fields so the result stays hash-comparable.
    "q104_parse_url" -> ((s, dir) => {
      val url = concat(lit("https://user"), col("c_custkey") % 7,
        lit(":pw@example"), col("c_custkey") % 13, lit(".com:"),
        (lit(8000) + col("c_custkey") % 100).cast("string"),
        lit("/api/v"), col("c_custkey") % 3, lit("/items?k="),
        col("c_custkey") % 5, lit("&m=1#frag"), col("c_custkey") % 2)
      T(s, dir, "customer").select(
        col("c_custkey"), url.as("url"),
        parse_url(url, lit("PROTOCOL")).as("scheme"),
        parse_url(url, lit("USERINFO")).as("userinfo"),
        parse_url(url, lit("HOST")).as("hostname"),
        regexp_extract(parse_url(url, lit("AUTHORITY")), ":(\\d+)$", 1)
          .cast("int").as("port"),
        parse_url(url, lit("PATH")).as("path"),
        parse_url(url, lit("QUERY")).as("query"),
        parse_url(url, lit("REF")).as("fragment"),
        parse_url(url, lit("QUERY"), lit("k")).cast("int").as("param_k"))
        .orderBy(col("c_custkey"))
    }),

    // Custom fulltext analyzer (english: stopwords + light stemming,
    // reference `CreateAnalyzerStatementAnalyzer.java`): the query terms are
    // analyzed with the same chain, so 'sparks filters windows' stems to the
    // same terms the index holds. Oracle replays the chain in DuckDB SQL.
    "q106_analyzer_search" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val idx = MatchText.IndexCache.cached(s, s"$dir#q106_english")(
        MatchText.buildIndex(docs, "doc_id", "text", MatchText.Analyzer.english))
      MatchText.search(idx, "sparks filters windows", topN = 20)
        .select(col("doc_id"), round(col("score"), 6).as("score"), col("terms_hit"))
    }),

    // Byte-level length functions on multibyte text (reference
    // `scalar/string/LengthFunction.java`: char_length vs octet_length vs
    // bit_length differ on non-ASCII).
    "q107_length_funcs" -> ((s, dir) => {
      val txt = concat(col("n_name"), lit("é→"), col("n_name"))
      T(s, dir, "nation").select(
        col("n_nationkey"),
        length(txt).as("n_chars"),
        octet_length(txt).as("n_bytes"),
        bit_length(txt).as("n_bits"))
        .orderBy(col("n_nationkey"))
    }),

    // IP as an ordered type (IpType.java sorts numerically, so '9.x' <
    // '10.x' unlike string order): rank events by the numeric ip key.
    "q108_ip_order" -> ((s, dir) => {
      import graft.functions.GeoNetFunctions
      val ip = concat((col("event_id") % 250 + 1).cast("string"), lit("."),
        (col("user_id") % 256).cast("string"), lit(".0."),
        (col("event_id") % 100).cast("string"))
      T(s, dir, "events").filter(col("event_id") < 500)
        .select(col("event_id"), ip.as("ip"))
        .select(col("event_id"), col("ip"),
          GeoNetFunctions.ipOrderKey(col("ip")).as("ip_num"))
        .orderBy(col("ip_num"), col("event_id"))
        .limit(200)
    }),

    // PG to_char + MySQL date_format templates over the same timestamps,
    // both translated at plan time to Spark's native date_format.
    "q109_date_templates" -> ((s, dir) => {
      import graft.functions.TimeFunctions
      val ts = col("o_orderdate").cast("timestamp")
      T(s, dir, "orders").select(
        col("o_orderkey"),
        TimeFunctions.toChar(ts, "YYYY-MM-DD HH24:MI").as("pg_fmt"),
        TimeFunctions.dateFormatMySql(ts, "%Y-%m").as("mysql_ym"),
        TimeFunctions.toChar(ts, "DD Mon YYYY").as("pg_mon"))
        .orderBy(col("o_orderkey"))
    }),

    // As-of join (latest right row at or before each left timestamp) as a
    // single window pass — DuckDB's native ASOF JOIN is the oracle.
    "q111_asof_join" -> ((s, dir) => {
      val ev = T(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("ts").cast("timestamp").as("ts"))
      // sparse "tier changes" stream: every 20th event sets the user's tier;
      // ts made unique per (user, ts) so the match is well-defined
      val tiers = ev.filter(col("event_id") % 20 === 0)
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id") % 7).as("tier"))
      graft.operators.Temporal.asofJoin(ev, tiers, Seq("user_id"), "ts", Seq("tier"))
        .select(col("event_id"), col("tier"))
        .orderBy(col("event_id"))
    }),

    // Distance join via grid blocking (block → equi-join → haversine
    // verify); the oracle is the brute-force cross join, feasible at sf0.01.
    "q112_geo_radius_join" -> ((s, dir) => {
      val cust = T(s, dir, "customer").select(col("c_custkey"),
        array((col("c_custkey") % 180 - 90).cast("double") + 0.5,
          (col("c_custkey") % 120 - 60).cast("double") + 0.5).as("pt"))
      val supp = T(s, dir, "supplier").select(col("s_suppkey"),
        array((col("s_suppkey") * 37 % 180 - 90).cast("double") + 0.25,
          (col("s_suppkey") * 53 % 120 - 60).cast("double") + 0.25).as("pt"))
      // fixtures span ±60° lat → cell ≥ 1000/111/cos(60°) ≈ 18°
      val cp = graft.operators.SpatialJoin.radiusJoinAudited(cust, supp,
        radiusKm = 1000.0, "c_custkey", "pt", "s_suppkey", "pt",
        cellDeg = 18.1)
      // no-silent-miss fact (VERDICT r11 ask #6): zero points in the
      // grid's two documented coverage-caveat zones (antimeridian seam,
      // polar caps) — the brute-force oracle equality below is therefore
      // a COMPLETE-coverage proof, not coincidence
      val fact = cp.drops.select(
        (col("seam_pts") === 0L && col("polar_pts") === 0L)
          .as("grid_covers_all"))
      cp.pairs.crossJoin(fact)
        .orderBy(col("c_custkey"), col("s_suppkey"))
    }),

    // OBJECT/map surface: constructor, merge (`||`/ObjectMergeFunction),
    // object_keys, subscript — serialized via to_json for the comparator.
    "q129_object_map" -> ((s, dir) => {
      T(s, dir, "nation").select(
        col("n_nationkey"),
        to_json(map(lit("key"), col("n_nationkey"), lit("region"), col("n_regionkey")))
          .as("obj"),
        to_json(map_concat(map(lit("a"), col("n_nationkey")), map(lit("b"), lit(7L))))
          .as("merged"),
        to_json(map_keys(map(lit("x"), col("n_nationkey"), lit("y"), col("n_regionkey"))))
          .as("keys"),
        element_at(map(lit("k"), col("n_name")), "k").as("subscript"))
        .orderBy(col("n_nationkey"))
    }),

    // Correlated NOT EXISTS with an inequality correlate — the decorrelation
    // case beyond plain key-equality anti joins (q14/q99).
    "q128_not_exists_range" -> ((s, dir) => {
      graft.Tables.registerAll(s, dir)
      s.sql("""
        SELECT o_orderpriority, count(*) AS n_quick
        FROM orders o
        WHERE NOT EXISTS (
          SELECT 1 FROM lineitem l
          WHERE l.l_orderkey = o.o_orderkey
            AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAYS)
        GROUP BY o_orderpriority ORDER BY o_orderpriority""")
    }),

    // TPC-H Q4 shape: aggregation over a correlated-EXISTS semi join.
    "q126_tpch_q4ish" -> ((s, dir) => {
      graft.Tables.registerAll(s, dir)
      s.sql("""
        SELECT o_orderpriority, count(*) AS order_count
        FROM orders
        WHERE o_orderdate >= DATE'1995-01-01' AND o_orderdate < DATE'1995-07-01'
          AND EXISTS (SELECT 1 FROM lineitem
                      WHERE l_orderkey = o_orderkey AND l_quantity > 45)
        GROUP BY o_orderpriority ORDER BY o_orderpriority""")
    }),

    // TPC-H Q3 shape: 3-way join, revenue aggregation, top-10.
    "q127_tpch_q3ish" -> ((s, dir) => {
      graft.Tables.registerAll(s, dir)
      s.sql("""
        SELECT l_orderkey,
               CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
               o_orderdate
        FROM customer JOIN orders ON c_custkey = o_custkey
                      JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING' AND o_orderdate < DATE'1995-03-15'
        GROUP BY l_orderkey, o_orderdate
        ORDER BY revenue DESC, l_orderkey LIMIT 10""")
    }),

    // Null-safe equality join (ON a.k IS NOT DISTINCT FROM b.k): NULL keys
    // match each other — Catalyst plans EqualNullSafe as a hash join, not a
    // nested loop.
    "q125_null_safe_join" -> ((s, dir) => {
      graft.Tables.registerAll(s, dir)
      s.sql("""
        SELECT a.k, count(*) AS n
        FROM (SELECT CASE WHEN c_custkey % 10 = 0 THEN NULL
                          ELSE c_nationkey END AS k FROM customer) a
        JOIN (SELECT CASE WHEN n_nationkey % 5 = 0 THEN NULL
                          ELSE n_nationkey END AS k FROM nation) b
          ON a.k IS NOT DISTINCT FROM b.k
        GROUP BY a.k ORDER BY a.k NULLS FIRST""")
    }),

    // width_bucket histogram (reference `scalar/WidthBucketFunction.java`):
    // equi-width bucketing of account balances into a 10-bin histogram.
    "q124_width_bucket" -> ((s, dir) => {
      graft.Tables.registerAll(s, dir)
      s.sql("""
        SELECT bucket, count(*) AS n
        FROM (SELECT width_bucket(c_acctbal, -1000.0, 10000.0, 10) AS bucket
              FROM customer)
        GROUP BY bucket ORDER BY bucket""")
    }),

    // String pad/trim family (TrimFunctions/PadFunctions in the reference
    // scalar pack): lpad/rpad, character-set trims, left/right, repeat.
    "q123_pad_trim" -> ((s, dir) => {
      graft.Tables.registerAll(s, dir)
      s.sql("""
        SELECT n_nationkey,
               lpad(n_name, 12, '.') AS pad_l,
               rpad(n_name, 12, '.') AS pad_r,
               trim(BOTH 'AEIOU' FROM n_name) AS trimmed,
               ltrim(n_name, 'AEIOU') AS ltrimmed,
               left(n_name, 3) AS l3,
               right(n_name, 3) AS r3,
               repeat(left(n_name, 2), 3) AS rep
        FROM nation ORDER BY n_nationkey""")
    }),

    // Fuzzy join: customers linked to deterministically-corrupted copies at
    // edit distance ≤ 1 via gram blocking; brute-force levenshtein oracle.
    "q122_fuzzy_join" -> ((s, dir) => {
      val cust = T(s, dir, "customer").filter(col("c_custkey") <= 300)
        .select(col("c_custkey"), col("c_name"))
      val corrupted = cust.select((col("c_custkey") + 1000000L).as("cid"),
        concat(expr("substring(c_name, 1, length(c_name) - 1)"),
          expr("char(97 + c_custkey % 26)")).as("cname"))
      graft.operators.FuzzyJoin.pairs(cust, "c_custkey", "c_name",
          corrupted, "cid", "cname", maxDist = 1)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // JOIN USING (coalesced join column appears once) and NATURAL JOIN
    // (implicit common-column equi-join) — both SQL-standard forms the
    // reference accepts.
    "q121_join_using" -> ((s, dir) => {
      graft.Tables.registerAll(s, dir)
      s.sql("""
        SELECT n_nationkey, r.r_name, counts.n_cust
        FROM (SELECT n_nationkey, n_regionkey AS r_regionkey FROM nation) n
        JOIN region r USING (r_regionkey)
        JOIN (SELECT c_nationkey AS n_nationkey, count(*) AS n_cust
              FROM customer GROUP BY c_nationkey) counts USING (n_nationkey)
        ORDER BY n_nationkey""")
    }),

    // Multiset set operations (INTERSECT ALL / EXCEPT ALL preserve
    // duplicate counts — the bag semantics PG/CrateDB define).
    "q119_setops_all" -> ((s, dir) => {
      graft.Tables.registerAll(s, dir)
      s.sql("""
        SELECT 'intersect' AS op, x FROM (
          SELECT c_nationkey AS x FROM customer WHERE c_custkey <= 60
          INTERSECT ALL
          SELECT c_nationkey FROM customer WHERE c_custkey > 30 AND c_custkey <= 90)
        UNION ALL
        SELECT 'except', x FROM (
          SELECT c_nationkey AS x FROM customer WHERE c_custkey <= 60
          EXCEPT ALL
          SELECT c_nationkey FROM customer WHERE c_custkey > 30 AND c_custkey <= 90)
        ORDER BY op, x""")
    }),

    // Outer unnest: rows with empty arrays survive with a NULL element
    // (LEFT JOIN LATERAL unnest semantics; Spark explode_outer).
    "q120_explode_outer" -> ((s, dir) => {
      T(s, dir, "documents").filter(col("doc_id") < 200)
        .select(col("doc_id"),
          filter(split(col("text"), " "), t => length(t) > 12).as("arr"))
        .select(col("doc_id"), explode_outer(col("arr")).as("tok"))
        .orderBy(col("doc_id"), col("tok"))
    }),

    // Relational reshaping: UNPIVOT (wide→long) and PIVOT (long→wide) —
    // native Catalyst Unpivot/Expand operators, not manual CASE stacks.
    // floor-scaled cents, not round(,2): round() half-point behavior
    // differs between engines on doubles (the q88 class of bug); floor of
    // the identical double is engine-independent.
    "q117_unpivot" -> ((s, dir) => {
      graft.Tables.registerAll(s, dir)
      s.sql("""
        SELECT c_nationkey, metric, val FROM (
          SELECT c_nationkey,
                 CAST(floor(avg(c_acctbal) * 100) AS BIGINT) AS avg_cents,
                 CAST(floor(min(c_acctbal) * 100) AS BIGINT) AS min_cents,
                 CAST(floor(max(c_acctbal) * 100) AS BIGINT) AS max_cents
          FROM customer GROUP BY c_nationkey)
        UNPIVOT (val FOR metric IN (avg_cents, min_cents, max_cents))
        ORDER BY c_nationkey, metric""")
    }),

    "q118_pivot" -> ((s, dir) => {
      graft.Tables.registerAll(s, dir)
      s.sql("""
        SELECT o_orderpriority,
               coalesce(F, 0) AS n_f, coalesce(O, 0) AS n_o, coalesce(P, 0) AS n_p
        FROM (SELECT o_orderpriority, o_orderstatus FROM orders)
        PIVOT (count(*) FOR o_orderstatus IN ('F', 'O', 'P'))
        ORDER BY o_orderpriority""")
    }),

    // Time-series gap filling: hourly grid per user + last-observation-
    // carried-forward over the gaps (the TSDB resample/locf pattern the
    // reference serves with time-bucketed GROUP BYs + client-side fill).
    "q116_gap_fill" -> ((s, dir) => {
      graft.Tables.registerAll(s, dir)
      s.sql("""
        WITH bounds AS (
          SELECT date_trunc('hour', min(CAST(ts AS TIMESTAMP))) AS t0,
                 date_trunc('hour', max(CAST(ts AS TIMESTAMP))) AS t1
          FROM events WHERE user_id < 3),
        users AS (SELECT DISTINCT user_id FROM events WHERE user_id < 3),
        grid AS (
          SELECT user_id, explode(sequence(t0, t1, interval 1 hour)) AS h
          FROM users CROSS JOIN bounds),
        obs AS (
          SELECT user_id, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
                 round(avg(value), 6) AS v
          FROM events WHERE user_id < 3 GROUP BY 1, 2)
        SELECT g.user_id, g.h,
               last_value(o.v) IGNORE NULLS OVER (
                 PARTITION BY g.user_id ORDER BY g.h
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled,
               (o.v IS NULL) AS was_gap
        FROM grid g LEFT JOIN obs o ON g.user_id = o.user_id AND g.h = o.h
        ORDER BY g.user_id, g.h""")
    }),

    // generate_series over dates with an interval step (reference
    // `tablefunctions/GenerateSeries.java` timestamp overloads; q53 covers
    // the numeric form).
    "q115_series_ts" -> ((s, dir) => {
      graft.Tables.registerAll(s, dir)
      s.sql("""
        SELECT n_nationkey, CAST(d AS DATE) AS d
        FROM (SELECT n_nationkey,
                     explode(sequence(DATE'2024-01-01',
                       date_add(DATE'2024-01-01', CAST(n_nationkey % 3 + 2 AS INT)),
                       interval 1 day)) AS d
              FROM nation)
        ORDER BY n_nationkey, d""")
    }),

    // Statistical aggregates round 2: exact median/percentile, correlation,
    // covariance, linear regression, bool_and/bool_or (reference
    // `aggregation/impl/` corr/covar/regr pack).
    "q114_stats_agg2" -> ((s, dir) => {
      graft.Tables.registerAll(s, dir)
      s.sql("""
        SELECT c_nationkey,
               round(median(c_acctbal), 4) AS med_bal,
               round(percentile(c_acctbal, 0.25), 4) AS p25,
               round(corr(c_acctbal, CAST(c_custkey % 100 AS DOUBLE)), 4) AS corr_k,
               round(covar_pop(c_acctbal, CAST(c_custkey % 100 AS DOUBLE)), 2) AS cov_k,
               round(regr_slope(c_acctbal, CAST(c_custkey % 100 AS DOUBLE)), 4) AS slope_k,
               bool_and(c_acctbal > -1000) AS all_above,
               bool_or(c_acctbal > 9900) AS any_rich
        FROM customer GROUP BY c_nationkey ORDER BY c_nationkey""")
    }),

    // Array long tail part 2 (ArrayFunctions in the reference scalar pack):
    // position, remove, compact (null-strip), slice, reverse, flatten.
    "q113_array_funcs2" -> ((s, dir) => {
      val arr = sequence(lit(1L), (col("p_size") % 6 + 3).cast("long"))
      val withNull = concat(arr, array(lit(null).cast("long")), arr)
      T(s, dir, "part").select(
        col("p_partkey"),
        array_position(withNull, 7L).as("pos7"),
        to_json(array_remove(arr, 2L)).as("no2"),
        to_json(array_compact(withNull)).as("compacted"),
        to_json(slice(arr, 2, 3)).as("sliced"),
        to_json(reverse(arr)).as("rev"),
        to_json(flatten(array(arr, arr))).as("flat"))
        .orderBy(col("p_partkey"))
    }),

    // CBO-fed join: catalog tables ANALYZE'd first (TableStatsService.java
    // analogue), so joinReorder/broadcast decisions run on real stats.
    "q110_cbo_join" -> ((s, dir) => {
      graft.Tables.registerAllWithStats(s, dir)
      s.sql("""
        SELECT r_name, o_orderpriority, count(*) AS n_orders
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name, o_orderpriority
        ORDER BY r_name, o_orderpriority""")
    }),

    // regexp_matches first-match capture groups (no 'g' flag): an array of
    // group values, or NULL when the pattern does not match.
    "q105_regexp_matches" -> ((s, dir) => {
      val pat = "([a-z]+)#(\\d+)"
      val src = T(s, dir, "customer")
        .select(col("c_custkey"), lower(col("c_name")).as("nm"))
      src.select(
        col("c_custkey"),
        when(col("nm").rlike(pat),
          to_json(array(regexp_extract(col("nm"), pat, 1),
            regexp_extract(col("nm"), pat, 2)))).as("groups"),
        regexp_count(col("nm"), lit("0")).as("n_zero"))
        .orderBy(col("c_custkey"))
    })
  )

  private val anySubSql =
    """SELECT CASE WHEN o_orderkey % 5 = 0 THEN NULL ELSE o_totalprice END
       FROM orders WHERE o_totalprice > 90000"""
  private val emptySubSql = "SELECT o_totalprice FROM orders WHERE o_totalprice < 0"

  val oracles: Map[String, String] = Map(
    "q101_quantified_any" ->
      s"""SELECT c_custkey, bal,
                 bal * 20 > ANY ($anySubSql) AS gt_any,
                 bal * 20 < ANY ($anySubSql) AS lt_any,
                 bal * 20 != ANY ($anySubSql) AS ne_any,
                 bal > ANY ($emptySubSql) AS gt_any_empty
          FROM (SELECT c_custkey,
                       CASE WHEN c_custkey % 11 = 0 THEN NULL ELSE c_acctbal END AS bal
                FROM customer)
          ORDER BY c_custkey""",
    "q102_quantified_all" ->
      s"""SELECT c_custkey, c_mktsegment, bal,
                 bal * 20 > ALL ($anySubSql) AS gt_all,
                 bal != ALL ($anySubSql) AS ne_all,
                 bal < ALL ($emptySubSql) AS lt_all_empty,
                 c_mktsegment = ANY (SELECT c_mktsegment FROM customer WHERE c_custkey < 100) AS seg_eq_any
          FROM (SELECT c_custkey, c_mktsegment,
                       CASE WHEN c_custkey % 11 = 0 THEN NULL ELSE c_acctbal END AS bal
                FROM customer)
          ORDER BY c_custkey""",
    "q103_match_multicol" ->
      """SELECT doc_id, round(score, 6) AS score FROM (
           WITH src AS (
             SELECT doc_id,
                    array_to_string(list_slice(string_split(text, ' '), 1, 5), ' ') AS title,
                    text AS body
             FROM documents),
           fields AS (
             SELECT doc_id, 'title' AS field, title AS txt FROM src
             UNION ALL SELECT doc_id, 'body', body FROM src),
           idx AS (
             SELECT field, term, doc_id, count(*) AS tf FROM (
               SELECT field, doc_id,
                      unnest(list_filter(string_split_regex(lower(txt), '[^a-z0-9]+'),
                                         x -> len(x) > 0)) AS term
               FROM fields)
             GROUP BY field, term, doc_id),
           dl AS (SELECT field, doc_id, CAST(sum(tf) AS DOUBLE) AS dl
                  FROM idx GROUP BY field, doc_id),
           stats AS (SELECT field, CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl
                     FROM dl GROUP BY field),
           dfreq AS (SELECT field, term, count(*) AS df FROM idx GROUP BY field, term),
           perfield AS (
             SELECT i.field, i.doc_id,
                    sum(ln(1.0 + (st.n - d.df + 0.5) / (d.df + 0.5))
                        * i.tf * (1.2 + 1) /
                        (i.tf + 1.2 * ((1.0 - 0.75) + 0.75 * dl.dl / st.avgdl))) AS fscore
             FROM idx i
             JOIN dfreq d ON i.field = d.field AND i.term = d.term
             JOIN dl ON i.field = dl.field AND i.doc_id = dl.doc_id
             JOIN stats st ON i.field = st.field
             WHERE i.term IN ('spark', 'filter', 'window')
             GROUP BY i.field, i.doc_id)
           SELECT doc_id,
                  sum(fscore * CASE field WHEN 'title' THEN 2.0 ELSE 1.0 END) AS score
           FROM perfield GROUP BY doc_id
           ORDER BY score DESC, doc_id LIMIT 20)""",
    "q104_parse_url" ->
      """SELECT c_custkey, url,
                regexp_extract(url, '^([a-z]+)://', 1) AS scheme,
                regexp_extract(url, '://([^@/]+)@', 1) AS userinfo,
                regexp_extract(url, '@([^:/]+)', 1) AS hostname,
                CAST(regexp_extract(url, ':(\d+)/', 1) AS INT) AS port,
                regexp_extract(url, ':\d+(/[^?#]*)', 1) AS path,
                regexp_extract(url, '\?([^#]*)', 1) AS query,
                regexp_extract(url, '#(.*)$', 1) AS fragment,
                CAST(regexp_extract(url, '[?&]k=([^&#]*)', 1) AS INT) AS param_k
         FROM (SELECT c_custkey,
                      'https://user' || (c_custkey % 7) || ':pw@example' || (c_custkey % 13)
                      || '.com:' || (8000 + c_custkey % 100) || '/api/v' || (c_custkey % 3)
                      || '/items?k=' || (c_custkey % 5) || '&m=1#frag' || (c_custkey % 2) AS url
               FROM customer)
         ORDER BY c_custkey""",
    "q106_analyzer_search" ->
      """SELECT doc_id, round(score, 6) AS score, terms_hit FROM (
           WITH toks AS (
             SELECT doc_id, list_transform(
               list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                 x -> len(x) > 0 AND NOT list_contains(
                   ['a','an','and','are','as','at','be','but','by','for','if',
                    'in','into','is','it','no','not','of','on','or','such','that',
                    'the','their','then','there','these','they','this','to','was',
                    'will','with'], x)),
               t -> CASE WHEN t LIKE '%sses' THEN substr(t, 1, len(t) - 2)
                         WHEN t LIKE '%ies' THEN substr(t, 1, len(t) - 2)
                         WHEN t LIKE '%ss' OR t LIKE '%us' OR t LIKE '%is' THEN t
                         WHEN t LIKE '%s' AND len(t) > 2 THEN substr(t, 1, len(t) - 1)
                         ELSE t END) AS ts
             FROM documents),
           idx AS (SELECT term, doc_id, count(*) AS tf
                   FROM (SELECT doc_id, unnest(ts) AS term FROM toks)
                   GROUP BY term, doc_id),
           dfreq AS (SELECT term, count(*) AS df FROM idx GROUP BY term),
           nd AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n FROM idx)
           SELECT i.doc_id, sum(i.tf * ln((nd.n + 1.0) / (d.df + 1.0))) AS score,
                  count(*) AS terms_hit
           FROM idx i JOIN dfreq d ON i.term = d.term, nd
           WHERE i.term IN ('spark', 'filter', 'window')
           GROUP BY i.doc_id
           ORDER BY score DESC, i.doc_id LIMIT 20)""",
    "q107_length_funcs" ->
      """SELECT n_nationkey,
                length(txt) AS n_chars,
                octet_length(encode(txt)) AS n_bytes,
                bit_length(txt) AS n_bits
         FROM (SELECT n_nationkey, n_name || 'é→' || n_name AS txt FROM nation)
         ORDER BY n_nationkey""",
    "q108_ip_order" ->
      """SELECT event_id, ip,
                CAST(split_part(ip, '.', 1) AS BIGINT) * 16777216
                + CAST(split_part(ip, '.', 2) AS BIGINT) * 65536
                + CAST(split_part(ip, '.', 3) AS BIGINT) * 256
                + CAST(split_part(ip, '.', 4) AS BIGINT) AS ip_num
         FROM (SELECT event_id,
                      (event_id % 250 + 1) || '.' || (user_id % 256) || '.0.'
                        || (event_id % 100) AS ip
               FROM events WHERE event_id < 500)
         ORDER BY ip_num, event_id LIMIT 200""",
    "q109_date_templates" ->
      """SELECT o_orderkey,
                strftime(o_orderdate, '%Y-%m-%d %H:%M') AS pg_fmt,
                strftime(o_orderdate, '%Y-%m') AS mysql_ym,
                strftime(o_orderdate, '%d %b %Y') AS pg_mon
         FROM orders ORDER BY o_orderkey""",
    "q111_asof_join" ->
      """SELECT l.event_id, r.tier
         FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events) l
         ASOF LEFT JOIN (
           SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, max(event_id % 7) AS tier
           FROM events WHERE event_id % 20 = 0
           GROUP BY user_id, CAST(ts AS TIMESTAMP)
         ) r ON l.user_id = r.user_id AND l.ts >= r.ts
         ORDER BY l.event_id""",
    "q112_geo_radius_join" ->
      """SELECT c_custkey, s_suppkey, round(dist_km, 4) AS dist_km,
                TRUE AS grid_covers_all FROM (
           SELECT c.c_custkey, s.s_suppkey,
                  2 * 6371.0088 * asin(least(1.0, sqrt(
                    pow(sin(radians(s.lat - c.lat) / 2), 2)
                    + cos(radians(c.lat)) * cos(radians(s.lat))
                      * pow(sin(radians(s.lon - c.lon) / 2), 2)))) AS dist_km
           FROM (SELECT c_custkey,
                        CAST(c_custkey % 180 - 90 AS DOUBLE) + 0.5 AS lon,
                        CAST(c_custkey % 120 - 60 AS DOUBLE) + 0.5 AS lat
                 FROM customer) c
           CROSS JOIN (SELECT s_suppkey,
                              CAST(s_suppkey * 37 % 180 - 90 AS DOUBLE) + 0.25 AS lon,
                              CAST(s_suppkey * 53 % 120 - 60 AS DOUBLE) + 0.25 AS lat
                       FROM supplier) s)
         WHERE dist_km <= 1000.0
         ORDER BY c_custkey, s_suppkey""",
    "q129_object_map" ->
      """SELECT n_nationkey,
                CAST(to_json(MAP {'key': n_nationkey, 'region': n_regionkey}) AS VARCHAR) AS obj,
                CAST(to_json(map_concat(MAP {'a': n_nationkey}, MAP {'b': 7})) AS VARCHAR) AS merged,
                CAST(to_json(map_keys(MAP {'x': n_nationkey, 'y': n_regionkey})) AS VARCHAR) AS keys,
                ((MAP {'k': n_name})['k'])[1] AS subscript
         FROM nation ORDER BY n_nationkey""",
    "q128_not_exists_range" ->
      """SELECT o_orderpriority, count(*) AS n_quick
         FROM orders o
         WHERE NOT EXISTS (
           SELECT 1 FROM lineitem l
           WHERE l.l_orderkey = o.o_orderkey
             AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "q126_tpch_q4ish" ->
      """SELECT o_orderpriority, count(*) AS order_count
         FROM orders
         WHERE o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1995-07-01'
           AND EXISTS (SELECT 1 FROM lineitem
                       WHERE l_orderkey = o_orderkey AND l_quantity > 45)
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "q127_tpch_q3ish" ->
      """SELECT l_orderkey,
                CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
                o_orderdate
         FROM customer JOIN orders ON c_custkey = o_custkey
                       JOIN lineitem ON l_orderkey = o_orderkey
         WHERE c_mktsegment = 'BUILDING' AND o_orderdate < DATE '1995-03-15'
         GROUP BY l_orderkey, o_orderdate
         ORDER BY revenue DESC, l_orderkey LIMIT 10""",
    "q125_null_safe_join" ->
      """SELECT a.k, count(*) AS n
         FROM (SELECT CASE WHEN c_custkey % 10 = 0 THEN NULL
                           ELSE c_nationkey END AS k FROM customer) a
         JOIN (SELECT CASE WHEN n_nationkey % 5 = 0 THEN NULL
                           ELSE n_nationkey END AS k FROM nation) b
           ON a.k IS NOT DISTINCT FROM b.k
         GROUP BY a.k ORDER BY a.k NULLS FIRST""",
    "q124_width_bucket" ->
      """SELECT bucket, count(*) AS n
         FROM (SELECT CASE WHEN c_acctbal < -1000.0 THEN 0
                           WHEN c_acctbal >= 10000.0 THEN 11
                           ELSE CAST(floor((c_acctbal - (-1000.0)) / 11000.0 * 10) AS BIGINT) + 1
                      END AS bucket
               FROM customer)
         GROUP BY bucket ORDER BY bucket""",
    "q123_pad_trim" ->
      """SELECT n_nationkey,
                lpad(n_name, 12, '.') AS pad_l,
                rpad(n_name, 12, '.') AS pad_r,
                trim(n_name, 'AEIOU') AS trimmed,
                ltrim(n_name, 'AEIOU') AS ltrimmed,
                left(n_name, 3) AS l3,
                right(n_name, 3) AS r3,
                repeat(left(n_name, 2), 3) AS rep
         FROM nation ORDER BY n_nationkey""",
    "q122_fuzzy_join" ->
      """WITH cust AS (SELECT c_custkey, c_name FROM customer WHERE c_custkey <= 300),
         corr AS (SELECT c_custkey + 1000000 AS cid,
                         substring(c_name, 1, length(c_name) - 1)
                           || chr(97 + CAST(c_custkey % 26 AS INT)) AS cname
                  FROM customer WHERE c_custkey <= 300)
         SELECT c.c_custkey AS id_a, corr.cid AS id_b,
                levenshtein(c.c_name, corr.cname) AS dist
         FROM cust c CROSS JOIN corr
         WHERE levenshtein(c.c_name, corr.cname) <= 1
         ORDER BY id_a, id_b""",
    "q121_join_using" ->
      """SELECT n_nationkey, r.r_name, counts.n_cust
         FROM (SELECT n_nationkey, n_regionkey AS r_regionkey FROM nation) n
         JOIN region r USING (r_regionkey)
         JOIN (SELECT c_nationkey AS n_nationkey, count(*) AS n_cust
               FROM customer GROUP BY c_nationkey) counts USING (n_nationkey)
         ORDER BY n_nationkey""",
    "q119_setops_all" ->
      """SELECT 'intersect' AS op, x FROM (
           SELECT c_nationkey AS x FROM customer WHERE c_custkey <= 60
           INTERSECT ALL
           SELECT c_nationkey FROM customer WHERE c_custkey > 30 AND c_custkey <= 90)
         UNION ALL
         SELECT 'except', x FROM (
           SELECT c_nationkey AS x FROM customer WHERE c_custkey <= 60
           EXCEPT ALL
           SELECT c_nationkey FROM customer WHERE c_custkey > 30 AND c_custkey <= 90)
         ORDER BY op, x""",
    "q120_explode_outer" ->
      """WITH base AS (
           SELECT doc_id, list_filter(string_split(text, ' '), t -> length(t) > 12) AS arr
           FROM documents WHERE doc_id < 200),
         ex AS (SELECT doc_id, unnest(arr) AS tok FROM base)
         SELECT b.doc_id, ex.tok
         FROM base b LEFT JOIN ex ON b.doc_id = ex.doc_id
         ORDER BY b.doc_id, ex.tok""",
    "q117_unpivot" ->
      """SELECT c_nationkey, metric, val FROM (
           SELECT c_nationkey,
                  CAST(floor(avg(c_acctbal) * 100) AS BIGINT) AS avg_cents,
                  CAST(floor(min(c_acctbal) * 100) AS BIGINT) AS min_cents,
                  CAST(floor(max(c_acctbal) * 100) AS BIGINT) AS max_cents
           FROM customer GROUP BY c_nationkey)
         UNPIVOT (val FOR metric IN (avg_cents, min_cents, max_cents))
         ORDER BY c_nationkey, metric""",
    "q118_pivot" ->
      """SELECT o_orderpriority,
                coalesce(F, 0) AS n_f, coalesce(O, 0) AS n_o, coalesce(P, 0) AS n_p
         FROM (SELECT o_orderpriority, o_orderstatus FROM orders)
         PIVOT (count(*) FOR o_orderstatus IN ('F', 'O', 'P'))
         ORDER BY o_orderpriority""",
    "q116_gap_fill" ->
      """WITH bounds AS (
           SELECT date_trunc('hour', min(CAST(ts AS TIMESTAMP))) AS t0,
                  date_trunc('hour', max(CAST(ts AS TIMESTAMP))) AS t1
           FROM events WHERE user_id < 3),
         users AS (SELECT DISTINCT user_id FROM events WHERE user_id < 3),
         grid AS (
           SELECT user_id, unnest(generate_series(b.t0, b.t1, INTERVAL 1 HOUR)) AS h
           FROM users, bounds b),
         obs AS (
           SELECT user_id, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
                  round(avg(value), 6) AS v
           FROM events WHERE user_id < 3 GROUP BY 1, 2)
         SELECT g.user_id, g.h,
                last_value(o.v IGNORE NULLS) OVER (
                  PARTITION BY g.user_id ORDER BY g.h
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled,
                (o.v IS NULL) AS was_gap
         FROM grid g LEFT JOIN obs o ON g.user_id = o.user_id AND g.h = o.h
         ORDER BY g.user_id, g.h""",
    "q115_series_ts" ->
      """SELECT n_nationkey, CAST(d AS DATE) AS d
         FROM (SELECT n_nationkey,
                      CAST(unnest(generate_series(DATE '2024-01-01',
                        DATE '2024-01-01' + CAST(n_nationkey % 3 + 2 AS INT),
                        INTERVAL 1 DAY)) AS DATE) AS d
               FROM nation)
         ORDER BY n_nationkey, d""",
    "q114_stats_agg2" ->
      """SELECT c_nationkey,
                round(median(c_acctbal), 4) AS med_bal,
                round(quantile_cont(c_acctbal, 0.25), 4) AS p25,
                round(corr(c_acctbal, CAST(c_custkey % 100 AS DOUBLE)), 4) AS corr_k,
                round(covar_pop(c_acctbal, CAST(c_custkey % 100 AS DOUBLE)), 2) AS cov_k,
                round(regr_slope(c_acctbal, CAST(c_custkey % 100 AS DOUBLE)), 4) AS slope_k,
                bool_and(c_acctbal > -1000) AS all_above,
                bool_or(c_acctbal > 9900) AS any_rich
         FROM customer GROUP BY c_nationkey ORDER BY c_nationkey""",
    "q113_array_funcs2" ->
      """SELECT p_partkey,
                nullif(list_position(with_null, 7), 0) AS pos7,
                CAST(to_json(list_filter(arr, x -> x != 2)) AS VARCHAR) AS no2,
                CAST(to_json(list_filter(with_null, x -> x IS NOT NULL)) AS VARCHAR) AS compacted,
                CAST(to_json(arr[2:4]) AS VARCHAR) AS sliced,
                CAST(to_json(list_reverse(arr)) AS VARCHAR) AS rev,
                CAST(to_json(flatten([arr, arr])) AS VARCHAR) AS flat
         FROM (SELECT p_partkey, arr, arr || [NULL] || arr AS with_null
               FROM (SELECT p_partkey,
                            generate_series(CAST(1 AS BIGINT), p_size % 6 + 3) AS arr
                     FROM part))
         ORDER BY p_partkey""",
    "q110_cbo_join" ->
      """SELECT r_name, o_orderpriority, count(*) AS n_orders
         FROM orders
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name, o_orderpriority
         ORDER BY r_name, o_orderpriority""",
    "q105_regexp_matches" ->
      """SELECT c_custkey,
                CASE WHEN regexp_matches(nm, '([a-z]+)#(\d+)')
                     THEN CAST(to_json([regexp_extract(nm, '([a-z]+)#(\d+)', 1),
                                        regexp_extract(nm, '([a-z]+)#(\d+)', 2)]) AS VARCHAR)
                END AS groups,
                length(nm) - length(replace(nm, '0', '')) AS n_zero
         FROM (SELECT c_custkey, lower(c_name) AS nm FROM customer)
         ORDER BY c_custkey"""
  )
}
