package graft.queries

import graft.Memo
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-15 catalog (q280-): VERDICT r14 asks.
  *
  *  - q280: the CLUSTERED BY shuffle-free PLAN fact, split out of
  *    q276's data row (ask #3, the q266/q267 stage-localizing
  *    pattern). q276 now hashes integer-exact data only; this probe
  *    hashes ONLY the plan boolean, with the plan-shaping confs pinned
  *    entry-locally so the audited plan is deterministic across
  *    harnesses (AQE off, broadcast off — without the pin, a driver
  *    box with a different broadcast threshold or warehouse state
  *    could legitimately flip the physical strategy and red the row
  *    for a non-reason).
  *  - q281: the IVF recall ground-truth audit, split out of q66's
  *    TIMED row (ask #4). q66 accreted the exact brute-force recall
  *    check + crossJoin into its bench path (2.11× its r01 baseline in
  *    the driver sweep); the audit is a CORRECTNESS contract, not a
  *    throughput one, so it moves to this sibling — still hash-gated
  *    every round — and q66's bench row measures the IVF probe alone
  *    again, comparable to its r01 workload.
  */
object QueriesRound15 {

  /** Pin SQL confs for the duration of `f`, restoring previous values
    * (unset keys restored to unset). */
  private def withConfs[T](s: SparkSession, kvs: (String, String)*)(f: => T): T = {
    val prev = kvs.map { case (k, _) => k -> s.conf.getOption(k) }
    kvs.foreach { case (k, v) => s.conf.set(k, v) }
    try f finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None)    => s.conf.unset(k)
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // CLUSTERED BY plan probe: both sides bucketed on the join key →
    // join + partial-key aggregate must plan with ZERO shuffle
    // exchanges. The hashed row is ONLY that boolean; a re-shuffle
    // regression (bucketing metadata lost, scan not reporting
    // HashPartitioning, aggregate not reusing the join distribution)
    // flips it to FALSE and fails the gate with nothing else in the
    // row to suspect. Confs pinned: AQE and auto-broadcast OFF so the
    // examined physical plan is the static sort-merge-on-bucketed-scan
    // plan on every harness.
    "q280_clustered_plan_probe" -> ((s, dir) => {
      import graft.sources.Bucketing
      // build-once bucketed tables, q276's pattern (dir-tagged names so
      // different-sf runs in one JVM never collide); the probed PLAN is
      // re-derived per rep — the fact under test
      // collision-resistant hex dir tag + (session, dir) memo key — the
      // q276 hygiene fix (ADVICE r15 / VERDICT r15 #4), same rationale
      val tag = java.lang.Long.toHexString(
        graft.functions.TextFunctions.fnv1a64(dir))
      val (ot, ct) = (s"q280_orders_b_$tag", s"q280_cust_b_$tag")
      Memo(s, s"q280#$dir") {
        val orders = graft.Tables.load(s, dir, "orders")
          .select(col("o_custkey"), col("o_orderkey"),
            expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("price_cents"))
        val cust = graft.Tables.load(s, dir, "customer")
          .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
        for (t <- Seq(ot, ct)) {
          s.sql(s"DROP TABLE IF EXISTS $t")
          val p = new org.apache.hadoop.fs.Path(
            s.conf.get("spark.sql.warehouse.dir") + s"/$t")
          val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
          if (fs.exists(p)) fs.delete(p, true)
        }
        Bucketing.writeBucketed(orders, ot, 8, Seq("o_custkey"))
        Bucketing.writeBucketed(cust, ct, 8, Seq("o_custkey"))
        "built"
      }
      val shuffleFree = withConfs(s,
        "spark.sql.adaptive.enabled" -> "false",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        val agg = Bucketing.table(s, ot)
          .join(Bucketing.table(s, ct), Seq("o_custkey"))
          .groupBy(col("o_custkey"), col("c_mktsegment"))
          .agg(count(lit(1)).as("n_orders"),
            sum(col("price_cents")).as("total_cents"))
        Bucketing.isShuffleFree(agg)
      }
      s.range(1).select(lit(shuffleFree).as("shuffle_free"))
    }),

    // IVF recall ground-truth audit (q66's contract, own row): the
    // bucketized corpus + probed top-k must return exactly k per query
    // AND clear the measured recall@5 floor vs the exact brute-force
    // top-5. Floor 0.7, not 0.9: the fixture embeddings are
    // isotropic-random (no cluster structure), so recall here is a
    // property of the data — the measured-not-assumed contract is the
    // honest analogue of the reference's HNSW (KnnMatch.java:48). The
    // exact side is 10 queries × corpus — bounded, but it belongs in
    // an audit row, not inside the operator's bench row.
    "q281_knn_ivf_recall" -> ((s, dir) => {
      import graft.operators.Similarity
      val emb = graft.Tables.load(s, dir, "embeddings")
      val qs = emb.filter(col("vec_id") < 10)
      val (bucketed, centroids) =
        Similarity.kmeansBucketize(emb, numCentroids = 16, iters = 2)
      val approx = Similarity.ivfKnn(bucketed, centroids, qs, k = 5, nprobe = 8)
      val hits = approx.select(col("qid"), col("cid"), lit(1).as("hit"))
      // shared per-session exact-top-5 memo (same corpus/queries as q185's
      // audit side — one materialization serves both)
      val rec = QueriesPipeline.TruthMemo
        .exactKnn(emb, qs, 5, s"knnlt10#$dir")
        .join(hits, Seq("qid", "cid"), "left")
        .agg((sum(coalesce(col("hit"), lit(0))) >=
          count(lit(1)) * 0.7).as("recall_ok"))
      approx.groupBy(col("qid"))
        .agg(count(lit(1)).as("n_results"))
        .crossJoin(rec)
        .select(col("qid"), col("n_results"), col("recall_ok"))
        .orderBy(col("qid"))
    }),

    // The reference array-family CONTRACTS through the SQL surface
    // (reference suites ported in ArrayNullContractConformanceSpec;
    // this row drives the same semantics over table data, per-row):
    // null array args are EMPTY for append/prepend/cat/unique
    // (ArrayAppendFunctionTest `array_append(null,1)` → [1]),
    // array_unique has the 2-array union-dedup overload,
    // array_difference KEEPS duplicates (per-element subtract-set —
    // not Spark's deduping array_except), array_overlap is
    // Collections.disjoint (strict-null on array args). Every seventh
    // part gets a NULL `b` array so the null arms are exercised on
    // real rows. Hashed row is bridge-safe: JSON strings + a nullable
    // boolean, no raw arrays (the r14 q270 lesson, gated in
    // EntrySmokeSpec). Map-only at any scale — pure per-row scalars.
    "q282_array_contracts" -> ((s, dir) => {
      graft.functions.GraftFunctions.registerAll(s)
      graft.Tables.registerAll(s, dir)
      graft.Engine.sql(s,
        """SELECT p_partkey,
          |  to_json(array_cat(a, b)) AS cat_j,
          |  to_json(array_append(b, sz)) AS app_j,
          |  to_json(array_prepend(sz, b)) AS prep_j,
          |  to_json(array_sort(array_unique(a, b))) AS uniq_j,
          |  to_json(array_difference(a, b)) AS diff_j,
          |  array_overlap(a, b) AS ovl
          |FROM (
          |  SELECT p_partkey, sz,
          |    array(sz, sz + 1, p_partkey % 5) AS a,
          |    CASE WHEN p_partkey % 7 = 0 THEN NULL
          |         ELSE array(sz * 2, p_partkey % 3) END AS b
          |  FROM (SELECT p_partkey, CAST(p_size AS BIGINT) AS sz
          |        FROM part)
          |)""".stripMargin)
        .orderBy(col("p_partkey"))
    }),

    // The full PG to_char template engine through the SQL surface
    // (PGDateTimeTemplates port, reference suites in
    // ToCharConformanceSpec): ISO rendering, PG fixed-width day/month
    // name padding (pad, never truncate), TH ordinal suffixes with the
    // 11/12/13 cases, quoted literals, quarter/century/ISO-week
    // tokens. DuckDB re-derives every arm natively (strftime + string
    // arithmetic). Map-only per-row scalar — constant at any scale.
    "q283_pg_to_char" -> ((s, dir) => {
      graft.functions.GraftFunctions.registerAll(s)
      graft.Tables.registerAll(s, dir)
      graft.Engine.sql(s,
        """SELECT o_orderkey,
          |  to_char(ts, 'YYYY-MM-DD HH24:MI') AS iso,
          |  to_char(ts, 'Day') AS day_padded,
          |  to_char(ts, 'DDth "of" Month') AS ord_day,
          |  to_char(ts, 'Q-CC-IW') AS qcw
          |FROM (SELECT o_orderkey, CAST(o_orderdate AS TIMESTAMP) AS ts
          |      FROM orders WHERE o_orderkey < 2000)
          |ORDER BY o_orderkey""".stripMargin)
    })
  )

  val oracles: Map[String, String] = Map(

    // the probe's contract IS the constant: bucketed-both-sides join +
    // aggregate plans shuffle-free
    "q280_clustered_plan_probe" ->
      "SELECT TRUE AS shuffle_free",

    // k results per query, recall floor cleared — replayed as the
    // constants the ANN contract guarantees
    "q281_knn_ivf_recall" ->
      """SELECT vec_id AS qid, CAST(5 AS BIGINT) AS n_results,
        |       TRUE AS recall_ok
        |FROM embeddings WHERE vec_id < 10 ORDER BY qid""".stripMargin,

    // DuckDB re-derives the reference contracts natively: COALESCE
    // spells null-array-as-empty, list_filter keeps duplicates (the
    // reference's per-element subtract-set), list_sort+list_distinct
    // mirrors the sorted union-dedup, strict-null overlap via CASE
    "q282_array_contracts" ->
      """WITH base AS (
        |  SELECT p_partkey, CAST(p_size AS BIGINT) AS sz FROM part
        |), arrs AS (
        |  SELECT p_partkey, sz,
        |    [sz, sz + 1, p_partkey % 5] AS a,
        |    CASE WHEN p_partkey % 7 = 0 THEN NULL
        |         ELSE [sz * 2, p_partkey % 3] END AS b
        |  FROM base
        |)
        |SELECT p_partkey,
        |  to_json(list_concat(COALESCE(a, []), COALESCE(b, [])))::VARCHAR AS cat_j,
        |  to_json(list_append(COALESCE(b, []), sz))::VARCHAR AS app_j,
        |  to_json(list_prepend(sz, COALESCE(b, [])))::VARCHAR AS prep_j,
        |  to_json(list_sort(list_distinct(
        |    list_concat(COALESCE(a, []), COALESCE(b, [])))))::VARCHAR AS uniq_j,
        |  to_json(list_filter(a, x -> NOT list_contains(COALESCE(b, []), x)))::VARCHAR AS diff_j,
        |  CASE WHEN b IS NULL THEN NULL
        |       ELSE len(list_filter(a, x -> list_contains(b, x))) > 0 END AS ovl
        |FROM arrs ORDER BY p_partkey""".stripMargin,

    // strftime + string arithmetic re-derive the PG templates: Day/Month
    // pad-to-width-never-truncate, DD ordinal suffix (day <= 31 so the
    // 11-13 window needs no mod-100), century as ((y-1)/100)+1, ISO week
    "q283_pg_to_char" ->
      """WITH t AS (
        |  SELECT o_orderkey, CAST(o_orderdate AS TIMESTAMP) AS ts,
        |         EXTRACT(day FROM o_orderdate) AS dd,
        |         EXTRACT(year FROM o_orderdate) AS yy
        |  FROM orders WHERE o_orderkey < 2000
        |)
        |SELECT o_orderkey,
        |  strftime(ts, '%Y-%m-%d %H:%M') AS iso,
        |  dayname(ts) || repeat(' ',
        |    GREATEST(8 - length(dayname(ts)), 0)) AS day_padded,
        |  lpad(CAST(dd AS VARCHAR), 2, '0') ||
        |    CASE WHEN dd IN (11, 12, 13) THEN 'th'
        |         WHEN dd % 10 = 1 THEN 'st'
        |         WHEN dd % 10 = 2 THEN 'nd'
        |         WHEN dd % 10 = 3 THEN 'rd'
        |         ELSE 'th' END ||
        |    ' of ' || monthname(ts) || repeat(' ',
        |      GREATEST(7 - length(monthname(ts)), 0)) AS ord_day,
        |  CAST(EXTRACT(quarter FROM ts) AS VARCHAR) || '-' ||
        |    CAST(((yy - 1) // 100) + 1 AS VARCHAR) || '-' ||
        |    lpad(CAST(weekofyear(ts) AS VARCHAR), 2, '0') AS qcw
        |FROM t ORDER BY o_orderkey""".stripMargin
  )
}
