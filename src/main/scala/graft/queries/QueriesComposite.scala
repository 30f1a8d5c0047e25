package graft.queries

import graft.Tables
import graft.operators.{Dedup, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Composite / end-to-end queries: the full training-data curation pipeline
  * as one plan, plus remaining frame/predicate parity items.
  */
object QueriesComposite {
  private def T(s: SparkSession, dir: String, n: String) = Tables.load(s, dir, n)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    /** C4/Gopher-style curation in one declarative plan: language filter →
      * quality threshold → exact dedup → near-dup removal → stats. Each
      * stage is one of the verified operators; the composition stays a
      * single Catalyst plan (no materialization between stages). */
    "q93_curation_pipeline" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val scored = docs
        .withColumn("quality", TextAnalysis.qualityScore(col("text")))
        .withColumn("n_tokens", TextAnalysis.tokenCount(col("text")))
        .filter(col("quality") >= 0.5 && col("n_tokens") >= 10)
      val exactDeduped = Dedup.exact(scored, "doc_id", Seq("text"))
      val cleaned = Dedup.minhashDedup(exactDeduped, "doc_id", "text", threshold = 0.9)
      cleaned.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"),
          round(avg(col("quality")), 4).as("avg_quality"))
        .orderBy(col("lang"))
    }),

    "q94_range_interval_frame" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("""
        SELECT event_id, user_id,
               count(*) OVER (PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW) AS n_last_hour
        FROM events ORDER BY event_id""")
    }),

    "q96_match_bm25" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val index = graft.operators.MatchText.IndexCache.cached(s, s"$dir#default")(
        graft.operators.MatchText.buildIndex(docs, "doc_id", "text"))
      graft.operators.MatchText.searchBM25(index, "spark filter window", topN = 20)
        .select(col("doc_id"), round(col("score"), 6).as("score"), col("terms_hit"))
    }),

    "q97_lateral_join" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("""
        SELECT n_name, l.top_bal, l.n_rich FROM nation,
        LATERAL (SELECT max(c_acctbal) AS top_bal,
                        count(CASE WHEN c_acctbal > 9000 THEN 1 END) AS n_rich
                 FROM customer WHERE c_nationkey = n_nationkey) l
        ORDER BY n_name""")
    }),

    "q98_ignore_nulls" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("""
        SELECT o_orderkey,
               lag(v) IGNORE NULLS OVER (ORDER BY o_orderkey) AS prev_v,
               last_value(v) IGNORE NULLS OVER (ORDER BY o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_v
        FROM (SELECT o_orderkey,
                     CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice END AS v FROM orders)
        ORDER BY o_orderkey""")
    }),

    // NOT IN over a subquery containing NULL is three-valued-logic's classic
    // trap: the predicate can never be TRUE, so zero rows — verified to agree
    // with DuckDB (and a sibling query shows the NOT EXISTS rewrite differs).
    "q99_not_in_nulls" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("""
        SELECT count(*) AS n_not_in,
               (SELECT count(*) FROM customer c
                WHERE NOT EXISTS (SELECT 1 FROM orders o
                                  WHERE nullif(o.o_custkey, 7) = c.c_custkey)) AS n_not_exists
        FROM customer
        WHERE c_custkey NOT IN (SELECT nullif(o_custkey, 7) FROM orders)""")
    }),

    "q100_having" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("""
        SELECT o_custkey, count(*) AS n, CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
        FROM orders GROUP BY o_custkey
        HAVING count(*) >= 12 AND sum(CAST(o_totalprice AS DECIMAL(18,2))) > 2000000
        ORDER BY o_custkey""")
    }),

    "q95_like_escape" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("""
        SELECT c_custkey, masked,
               masked LIKE '%!_00%' ESCAPE '!' AS has_u00,
               masked LIKE 'Customer!_%' ESCAPE '!' AS is_customer
        FROM (SELECT c_custkey, replace(c_name, '#', '_') AS masked FROM customer)
        ORDER BY c_custkey""")
    })
  )

  val oracles: Map[String, String] = Map(
    // Full pipeline replay: quality formula (q60's oracle), token counts
    // (q58's), exact dedup (q57's), then the near-dup stage replayed as the
    // EXACT 5-shingle Jaccard ≥ 0.9 loser set (minhashDedup post-verifies
    // with exact Jaccard, and q62's oracle already proved LSH recall is 1.0
    // on this corpus), and the final per-language rollup.
    "q93_curation_pipeline" ->
      """WITH feats AS (
        |  SELECT doc_id, lang, text,
        |         CAST(len(list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)) AS DOUBLE) AS ntok,
        |         CAST(length(text) AS DOUBLE) AS nchar,
        |         CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE) AS npunct,
        |         CAST(length(regexp_replace(text, '[^\p{L}]', '', 'g')) AS DOUBLE) AS nalpha
        |  FROM documents),
        |scored AS (
        |  SELECT doc_id, lang, text, CAST(ntok AS INT) AS n_tokens,
        |         round(least(ntok / 50.0, 1.0) * 0.4
        |         + (CASE WHEN (CASE WHEN ntok > 0 THEN (nchar - ntok + 1) / ntok ELSE 0.0 END)
        |                 BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.3 END) * 0.2
        |         + (CASE WHEN (CASE WHEN nchar > 0 THEN npunct / nchar ELSE 1.0 END) < 0.2
        |                 THEN 1.0 ELSE 0.4 END) * 0.2
        |         + (CASE WHEN nchar > 0 THEN nalpha / nchar ELSE 0.0 END) * 0.2, 6) AS quality
        |  FROM feats),
        |filtered AS (SELECT * FROM scored WHERE quality >= 0.5 AND n_tokens >= 10),
        |ex AS (SELECT * FROM (
        |         SELECT *, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        |         FROM filtered) WHERE rn = 1),
        |docs2 AS (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm FROM ex),
        |grams AS (SELECT DISTINCT doc_id,
        |                 CASE WHEN len(norm) < 5 THEN norm
        |                      ELSE substring(norm, CAST(u AS INT), 5) END AS g
        |          FROM docs2, unnest(range(1, greatest(len(norm) - 3, 2))) t(u)
        |          WHERE len(norm) > 0),
        |sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY 1),
        |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
        |          FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2),
        |losers AS (SELECT DISTINCT id_b FROM inter
        |           JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
        |           WHERE CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) >= 0.9),
        |cleaned AS (SELECT * FROM ex WHERE doc_id NOT IN (SELECT id_b FROM losers))
        |SELECT lang, count(*) AS n_docs,
        |       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        |       round(avg(quality), 4) AS avg_quality
        |FROM cleaned GROUP BY lang ORDER BY lang""".stripMargin,
    "q94_range_interval_frame" ->
      """SELECT event_id, user_id,
                count(*) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP)
                  RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW) AS n_last_hour
         FROM events ORDER BY event_id""",
    "q96_match_bm25" ->
      """SELECT doc_id, round(score, 6) AS score, terms_hit FROM (
           WITH idx AS (
             SELECT term, doc_id, count(*) AS tf FROM (
               SELECT doc_id,
                      unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                         x -> len(x) > 0)) AS term
               FROM documents)
             GROUP BY term, doc_id),
           dl AS (SELECT doc_id, CAST(sum(tf) AS DOUBLE) AS dl FROM idx GROUP BY doc_id),
           stats AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM dl),
           dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM idx GROUP BY term)
           SELECT i.doc_id,
                  sum(ln(1.0 + (stats.n - d.df + 0.5) / (d.df + 0.5))
                      * i.tf * (1.2 + 1) /
                      (i.tf + 1.2 * ((1.0 - 0.75) + 0.75 * dl.dl / stats.avgdl))) AS score,
                  count(*) AS terms_hit
           FROM idx i JOIN dfreq d ON i.term = d.term
           JOIN dl ON i.doc_id = dl.doc_id, stats
           WHERE i.term IN ('spark', 'filter', 'window')
           GROUP BY i.doc_id
           ORDER BY score DESC, i.doc_id LIMIT 20)""",

    "q97_lateral_join" ->
      """SELECT n_name, l.top_bal, l.n_rich FROM nation,
         LATERAL (SELECT max(c_acctbal) AS top_bal,
                         count(CASE WHEN c_acctbal > 9000 THEN 1 END) AS n_rich
                  FROM customer WHERE c_nationkey = n_nationkey) l
         ORDER BY n_name""",
    "q98_ignore_nulls" ->
      """SELECT o_orderkey,
                lag(v IGNORE NULLS) OVER (ORDER BY o_orderkey) AS prev_v,
                last_value(v IGNORE NULLS) OVER (ORDER BY o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_v
         FROM (SELECT o_orderkey,
                      CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice END AS v FROM orders)
         ORDER BY o_orderkey""",
    "q99_not_in_nulls" ->
      """SELECT count(*) AS n_not_in,
                (SELECT count(*) FROM customer c
                 WHERE NOT EXISTS (SELECT 1 FROM orders o
                                   WHERE nullif(o.o_custkey, 7) = c.c_custkey)) AS n_not_exists
         FROM customer
         WHERE c_custkey NOT IN (SELECT nullif(o_custkey, 7) FROM orders)""",
    "q100_having" ->
      """SELECT o_custkey, count(*) AS n, CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
         FROM orders GROUP BY o_custkey
         HAVING count(*) >= 12 AND sum(CAST(o_totalprice AS DECIMAL(18,2))) > 2000000
         ORDER BY o_custkey""",
    "q95_like_escape" ->
      """SELECT c_custkey, masked,
                masked LIKE '%!_00%' ESCAPE '!' AS has_u00,
                masked LIKE 'Customer!_%' ESCAPE '!' AS is_customer
         FROM (SELECT c_custkey, replace(c_name, '#', '_') AS masked FROM customer)
         ORDER BY c_custkey"""
  )
}
