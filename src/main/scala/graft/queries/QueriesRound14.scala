package graft.queries

import graft.Memo
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-14 catalog (q266-): VERDICT r13 asks.
  *
  *  - q266/q267: stage-localizing FORENSIC PROBES for the q248
  *    classifier pipeline (VERDICT r13 ask #2). q248 has been the one
  *    driver-gate red for three rounds while the identical tree is
  *    green against local DuckDB; the remaining suspects are the
  *    driver's oracle-engine build and its result bridging. These two
  *    entries decompose the pipeline so a future red names its stage:
  *      q266 exercises ONLY tokenize → filter → slice → distinct
  *           (per-doc token COUNT, pure INT);
  *      q267 adds ONLY the md5-prefix bucket hash (per-doc SUM of
  *           bucket ids, pure BIGINT).
  *    If q248 reds again: q266 red ⇒ tokenization/regex bridging;
  *    q266 green + q267 red ⇒ the md5/hex-cast bucket hash;
  *    both green + q248 red ⇒ the weight-sum/row-shape bridging.
  *    Both are map-only (a groupBy only in the oracle's replay) and
  *    scale-free: one pass over `text`, no shuffle beyond the sort.
  */
object QueriesRound14 {

  /** Streaming entries size the state store to the fixture: each
    * shuffle partition materializes its own state-store instance per
    * stateful operator, so 32 partitions cost ~4× the setup of 8 on a
    * 20k-row fixture (measured: the stream-stream join drops 8 → 3.3 s
    * warm). At 100 TB the same knob goes UP with the key cardinality —
    * partition count tracks state volume, not a constant. The session
    * value is restored afterwards. */
  private def withStatePartitions[T](s: SparkSession, n: Int)(f: => T): T = {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", n.toString)
    try f finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** Stream-source fixture memo: the streaming entries replay the events
    * fixture through a REAL file stream, which needs the rows on disk as
    * a stream source first. That copy is test plumbing, not the streaming
    * operator under test — writing it once per (session, entry, dir) is
    * the same indexing-vs-query separation q187/q246 use (bench rep 2
    * times the stream, not the fixture copy). Input is deterministic, so
    * reusing the files changes no result row. */
  private def streamSource(s: SparkSession, key: String,
      rows: DataFrame): String =
    Memo(s, key) {
      val src = graft.ArtifactStore.scratchDir(key.takeWhile(_ != '#'))
        .toFile.getAbsolutePath
      rows.write.mode("overwrite").parquet(src)
      src
    }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q266_token_count_probe" -> ((s, dir) => {
      import graft.operators.QualityClassifier
      graft.Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          size(QualityClassifier.tokenColumn(col("text"))).as("n_toks"))
        .orderBy(col("doc_id"))
    }),

    "q267_bucket_sum_probe" -> ((s, dir) => {
      import graft.operators.QualityClassifier
      val toks = QualityClassifier.tokenColumn(col("text"))
      val z = aggregate(toks, lit(0L),
        (acc, t) => acc + QualityClassifier.bucketColumn(t).cast("long"))
      graft.Tables.load(s, dir, "documents")
        .select(col("doc_id"), z.as("bucket_sum"))
        .orderBy(col("doc_id"))
    }),

    // Reference string-edge semantics (TrimFunctionTest /
    // StringPaddingFunctionTest / TranslateFunctionTest), driver-gated
    // through the SQL surface so the Dialect's lpad/rpad routing to the
    // graft twins is part of what's hashed. Pad arms include the edges
    // Spark's builtins and DuckDB both get wrong ('yes',5,'' → 'yes';
    // DuckDB raises "Insufficient padding") — those replay as goldens,
    // trim/translate re-derive natively in DuckDB.
    "q268_string_pad_trim" -> ((s, dir) => {
      graft.functions.GraftFunctions.registerAll(s)
      graft.Tables.registerAll(s, dir)
      graft.Engine.sql(s,
        """SELECT CAST(doc_id % 4 AS INT) AS arm,
          |  CASE CAST(doc_id % 4 AS INT)
          |    WHEN 0 THEN trim(BOTH 'ab' FROM 'abcabcababab')
          |    WHEN 1 THEN trim(LEADING 'ab' FROM 'abcabcababab')
          |    WHEN 2 THEN trim(TRAILING 'ab' FROM 'abcabcababab')
          |    ELSE trim(BOTH 'abc' FROM 'aaabbbcccbbbaaa') END AS tb,
          |  CASE CAST(doc_id % 4 AS INT)
          |    WHEN 0 THEN lpad('', 5, 'yes')
          |    WHEN 1 THEN lpad('yes', 1, 'yes')
          |    WHEN 2 THEN lpad('yes', 5, '')
          |    ELSE lpad('yes', 0, 'x') END AS lp,
          |  CASE CAST(doc_id % 4 AS INT)
          |    WHEN 0 THEN rpad('', 5, 'yes')
          |    WHEN 1 THEN rpad('yes', 5, 'ab')
          |    WHEN 2 THEN rpad('yes', 2, '')
          |    ELSE rpad('yes', 5) END AS rp,
          |  CASE CAST(doc_id % 4 AS INT)
          |    WHEN 0 THEN translate('Crate', 'Ct', 'Dk')
          |    WHEN 1 THEN translate('Crate', 'rCe', 'c')
          |    WHEN 2 THEN translate('Crate', 'CtC', 'Dk')
          |    ELSE translate('Crate', 're', '') END AS tr
          |FROM documents""".stripMargin)
        .groupBy(col("arm"), col("tb"), col("lp"), col("rp"), col("tr"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("arm"))
    }),

    // The reference's regex-match operators `~` / `~*` / `!~`
    // (RegexpMatchOperatorTest ported arm-for-arm), driver-gated
    // through the operator SPELLINGS the Dialect rewrites: full-string
    // anchored match, Lucene RegExp syntax (numeric interval <m-n>,
    // complement ~x) unless the pattern carries PCRE features, and the
    // case-insensitive java.util.regex variant. Golden replay — DuckDB
    // re-derives nothing here (its regexp_matches is a different
    // dialect); the goldens are pinned against the reference suite in
    // StringEdgeReferenceConformanceSpec.
    "q269_regexp_match_op" -> ((s, dir) => {
      graft.functions.GraftFunctions.registerAll(s)
      graft.Tables.registerAll(s, dir)
      graft.Engine.sql(s,
        """SELECT CAST(doc_id % 10 AS INT) AS arm,
          |  (CASE CAST(doc_id % 10 AS INT)
          |     WHEN 0 THEN 'foo bar' ~ '([A-Z][^ ]+ ?){2}'
          |     WHEN 1 THEN 'Foo Bar' ~ '([A-Z][^ ]+ ?){2}'
          |     WHEN 2 THEN '1000 $' ~ '(<1-9999>) $|€'
          |     WHEN 3 THEN '10000 $' ~ '(<1-9999>) $|€'
          |     WHEN 4 THEN '' ~ ''
          |     WHEN 5 THEN 'This is not foo bar' ~ '~(This is foo bar)'
          |     WHEN 6 THEN 'abc' ~ 'a~bc'
          |     WHEN 7 THEN 'abc' ~ 'b'
          |     WHEN 8 THEN 'foo123' ~ 'foo\d+'
          |     ELSE 'AbC' ~* 'a.c' END) AS m,
          |  (CASE CAST(doc_id % 10 AS INT)
          |     WHEN 0 THEN 'abc' !~ 'b'
          |     ELSE '100 €' ~ '<10-101> €|$' END) AS m2
          |FROM documents""".stripMargin)
        .groupBy(col("arm"), col("m"), col("m2"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("arm"))
    }),

    // The reference's array_set, BOTH overloads (ArraySetFunctionTest
    // ported; the r14 native expression replaces a bigint-only UDF):
    // vector set / append / NULL-pad past the end, empty-updates
    // identity, both-null identity, scalar form with a null value.
    // DuckDB re-derives every arm with its own list primitives. The
    // hashed row carries the array SERIALIZED as compact JSON on both
    // sides (Spark to_json / DuckDB to_json::VARCHAR render
    // ARRAY<BIGINT> identically, nulls as `null`) — the r14 driver run
    // proved its result bridge cannot hash a raw ARRAY column
    // (`unhashable type: numpy.ndarray`), and EntrySmokeSpec now gates
    // the whole catalog against complex-typed output columns.
    "q270_array_set" -> ((s, dir) => {
      graft.functions.GraftFunctions.registerAll(s)
      graft.Tables.registerAll(s, dir)
      graft.Engine.sql(s,
        """SELECT CAST(doc_id % 7 AS INT) AS arm,
          |  to_json(CASE CAST(doc_id % 7 AS INT)
          |    WHEN 0 THEN array_set(array(1L,2L,3L), array(3), array(-1L))
          |    WHEN 1 THEN array_set(array(1L,2L,3L), array(4), array(-1L))
          |    WHEN 2 THEN array_set(array(1L,2L,3L), array(5), array(-1L))
          |    WHEN 3 THEN array_set(array(1L,2L,3L),
          |                          array(1, 3), array(7L, 9L))
          |    WHEN 4 THEN array_set(array(1L,2L,3L), NULL, NULL)
          |    WHEN 5 THEN array_set(array(10L,20L,30L), 2, 99L)
          |    ELSE array_set(array(1L,2L), 1, CAST(NULL AS BIGINT)) END)
          |    AS a
          |FROM documents""".stripMargin)
        .groupBy(col("arm"), col("a"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("arm"))
    }),

    // The reference's regexp scalar family through the SQL surface:
    // regexp_replace replaces the FIRST match unless 'g' (the Dialect
    // routes the name — Spark's native always replaces all), the PG
    // regexp_instr position contract (start/N/endoption/flags/subexpr),
    // regexp_count from a 1-based start. DuckDB natively replays the
    // replace arms (it is PG-compatible here); instr/count arms are
    // goldens pinned against the reference suite in
    // StringEdgeReferenceConformanceSpec.
    "q271_regexp_scalars" -> ((s, dir) => {
      graft.functions.GraftFunctions.registerAll(s)
      graft.Tables.registerAll(s, dir)
      graft.Engine.sql(s,
        """SELECT CAST(doc_id % 5 AS INT) AS arm,
          |  CASE CAST(doc_id % 5 AS INT)
          |    WHEN 0 THEN regexp_replace('foobarbequebaz', 'ba', 'Crate')
          |    WHEN 1 THEN regexp_replace('foobarbequebaz', 'ba', 'Crate', 'g')
          |    WHEN 2 THEN regexp_replace('st. cloud', '[^a-z]', '', 'g')
          |    WHEN 3 THEN regexp_replace('foobarbequebaz',
          |                               '(ba).*(ba)', 'First$1Second$2')
          |    ELSE regexp_replace('foobarbequebaz', 'crate', 'crate') END
          |    AS repl,
          |  CASE CAST(doc_id % 5 AS INT)
          |    WHEN 0 THEN regexp_instr('foobarbequebaz', 'b..')
          |    WHEN 1 THEN regexp_instr('foobarbequebaz', 'b..', 1, 2)
          |    WHEN 2 THEN regexp_instr('foobarbequebaz', 'b..', 10, 1, 1)
          |    WHEN 3 THEN regexp_instr('foobarbequebaz', 'B..', 10, 1, 1, 'i')
          |    ELSE regexp_instr('foobarbequebaz', 'crate') END AS pos,
          |  CASE CAST(doc_id % 5 AS INT)
          |    WHEN 0 THEN regexp_count('foobarbequebaz', 'ba(?:r|z)')
          |    WHEN 1 THEN regexp_count('aaaa', 'a{2}')
          |    WHEN 2 THEN regexp_count('abcabc', 'abc', 2)
          |    WHEN 3 THEN regexp_count('aaaa', 'aa', 2)
          |    ELSE regexp_count('abc', 'a', 5) END AS cnt
          |FROM documents""".stripMargin)
        .groupBy(col("arm"), col("repl"), col("pos"), col("cnt"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("arm"))
    }),

    // The reference's 3-arg date_trunc (DateTruncFunctionTest:
    // truncation happens on the WALL CLOCK of the given zone, the
    // result is the corresponding instant). Asia/Kolkata (+05:30, no
    // DST in the data range) exercises a half-hour offset — its 'hour'
    // truncation lands on :30 UTC boundaries, which no UTC-side
    // truncation can produce. DuckDB re-derives every arm with PURE
    // EPOCH ARITHMETIC (fixed offset), no timezone machinery shared.
    "q272_date_trunc_tz" -> ((s, dir) => {
      graft.functions.GraftFunctions.registerAll(s)
      graft.Tables.registerAll(s, dir)
      graft.Engine.sql(s,
        """SELECT event_id,
          |       unix_millis(CAST(date_trunc('day', ts)
          |         AS TIMESTAMP)) AS d_utc,
          |       unix_millis(CAST(date_trunc('day', 'Asia/Kolkata', ts)
          |         AS TIMESTAMP)) AS d_ist,
          |       unix_millis(CAST(date_trunc('hour', 'Asia/Kolkata', ts)
          |         AS TIMESTAMP)) AS h_ist,
          |       unix_millis(CAST(date_trunc('month', 'Asia/Kolkata', ts)
          |         AS TIMESTAMP)) AS m_ist
          |FROM events ORDER BY event_id LIMIT 500""".stripMargin)
    }),

    // SURVEY §2.9 stragglers — the two pg-compat table functions:
    //  - _pg_expandarray (q274's sibling arm here): (x, n) rows via a
    //    Catalyst Generator, NULL input → no rows;
    //  - pg_get_keywords(): the keyword vocabulary served as a view
    //    (the Dialect drops the call parens), data derived from the
    //    reference's PUBLIC grammar by tools/gen_pg_keywords.py. The
    //    entry hash-gates a pinned word subset + the R/U counts, so a
    //    membership or classification drift fails the gate.
    "q273_pg_keywords" -> ((s, dir) => {
      graft.functions.GraftFunctions.registerAll(s)
      graft.Tables.registerAll(s, dir)
      // only the keywords view is needed — registerAll would rebuild
      // all 32 pg_catalog relations per invocation (~2 s of plan cost)
      graft.sources.PgCatalog.pgGetKeywords(s)
        .createOrReplaceTempView("pg_get_keywords")
      graft.Engine.sql(s,
        """SELECT k.word, k.catcode, k.catdesc, t.n_total, t.n_reserved
          |FROM pg_get_keywords() k
          |CROSS JOIN (SELECT CAST(count(*) AS INT) AS n_total,
          |                   CAST(sum(CASE WHEN catcode = 'R'
          |                            THEN 1 ELSE 0 END) AS INT)
          |                     AS n_reserved
          |            FROM pg_get_keywords()) t
          |WHERE k.word IN ('select', 'from', 'between', 'analyzer',
          |                 'char_filters', 'order', 'limit', 'user',
          |                 'current_date', 'absolute')
          |ORDER BY k.word""".stripMargin)
    }),

    "q274_pg_expandarray" -> ((s, dir) => {
      graft.functions.GraftFunctions.registerAll(s)
      graft.Tables.registerAll(s, dir)
      graft.Engine.sql(s,
        """SELECT doc_id, x, n
          |FROM (SELECT doc_id,
          |             information_schema._pg_expandarray(
          |               array(lang, 'tail', CAST(doc_id % 3 AS STRING)))
          |      FROM documents)
          |ORDER BY doc_id, n""".stripMargin)
    }),

    // COPY TO → COPY FROM round-trip, DRIVER-GATED (upgrades §2.2's
    // COPY rows from Spec-only): customer slices export to gzip CSV and
    // json-lines, re-import through the RETURN SUMMARY channel, and the
    // hashed row zips BOTH legs per key with the summary facts (files
    // seen > 0, zero errors) — the files are the vehicle, IDENTITY is
    // the assertion, so the oracle re-derives everything from the
    // parquet table and constants with no filesystem access. acctbal
    // travels as BIGINT CENTS (the proven q248 integer-exact recipe:
    // no DECIMAL-from-double in a hashed row, and the text round-trip
    // carries an exact integer string). Directory paths — not globs —
    // go to the readers: Spark reads every data file in the dir either
    // way, and the glob spelling logged spurious analysis-time
    // FileNotFoundException noise (VERDICT r14 what's-wrong #4).
    "q275_copy_roundtrip" -> ((s, dir) => {
      import org.apache.spark.sql.types._
      import graft.sources.CopyOps
      val root = graft.ArtifactStore.scratchDir("q275")
        .toFile.getAbsolutePath
      val cust = graft.Tables.load(s, dir, "customer")
        .filter(col("c_custkey") <= 500)
        .select(col("c_custkey"), col("c_name"),
          expr("CAST(round(c_acctbal * 100) AS BIGINT)").as("bal_cents"),
          col("c_mktsegment"))
      val schema = StructType(Seq(
        StructField("c_custkey", LongType), StructField("c_name", StringType),
        StructField("bal_cents", LongType),
        StructField("c_mktsegment", StringType)))
      CopyOps.copyToCsv(cust, s"$root/csv", gzip = true)
      CopyOps.copyToJson(cust, s"$root/json")
      val (csvGood, csvSum) = CopyOps.copyFromCsv(s, schema, header = true,
        s"$root/csv")
      val (jsonGood, jsonSum) = CopyOps.copyFromJson(s, schema,
        s"$root/json")
      def facts(sm: org.apache.spark.sql.DataFrame) = sm.agg(
        (count(lit(1)) > 0).as("f"),
        (coalesce(sum(col("error_count")), lit(0L)) === 0).as("e"))
      val cf = facts(csvSum).select(col("f").as("csv_files_ok"),
        col("e").as("csv_no_errors"))
      val jf = facts(jsonSum).select(col("f").as("json_files_ok"),
        col("e").as("json_no_errors"))
      csvGood.alias("c")
        .join(jsonGood.alias("j"), Seq("c_custkey"))
        .select(col("c_custkey"), col("c.c_name").as("name_csv"),
          col("c.bal_cents").as("bal_cents_csv"),
          col("j.c_name").as("name_json"),
          col("j.bal_cents").as("bal_cents_json"),
          col("c.c_mktsegment").as("seg_csv"))
        .crossJoin(cf).crossJoin(jf)
        .orderBy(col("c_custkey"))
    }),

    // CLUSTERED BY, DRIVER-GATED (upgrades §2.2's bucketing row from
    // Spec-only): both sides bucketed on the join key → the join plans
    // WITHOUT a shuffle exchange. This entry hashes the DATA result
    // only, integer-exact (BIGINT cents per row before SUM — the q248
    // recipe; no DECIMAL-from-double in the hashed row); the
    // shuffle-free PLAN fact lives in its own conf-pinned sibling probe
    // (q280_clustered_plan_probe, QueriesRound15) so a driver red
    // localizes to data-bridging vs plan-flip independently — the
    // q266/q267 forensic pattern. At 100 TB this is the
    // one-time-write/no-repeat-shuffle strategy for the dominant
    // repeated join.
    "q276_clustered_join" -> ((s, dir) => {
      import graft.sources.Bucketing
      // the bucketed tables are the INDEX this entry's join strategy
      // reads — built once per (session, dir) like every other stored-index
      // entry (q187/q246: construction separated from query cost, the
      // reference's own indexing model); rep 2 times the shuffle-free
      // join. Table names carry a dir tag so sf0.001 tests and the
      // sf0.1 bench never collide in one JVM's shared warehouse.
      // hex of a 64-bit FNV over the full dir: collision-resistant and
      // [0-9a-f]-only (the old math.abs(hashCode) tag could go negative
      // at Int.MinValue and collide across dirs — ADVICE r15); a second
      // session in one JVM rebuilds into its own catalog (VERDICT r15 #4)
      val tag = java.lang.Long.toHexString(
        graft.functions.TextFunctions.fnv1a64(dir))
      val (ot, ct) = (s"q276_orders_b_$tag", s"q276_cust_b_$tag")
      Memo(s, s"q276#$dir") {
        val orders = graft.Tables.load(s, dir, "orders")
          .select(col("o_custkey"), col("o_orderkey"),
            expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("price_cents"))
        val cust = graft.Tables.load(s, dir, "customer")
          .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
        // the warehouse DIRECTORY outlives the in-memory catalog across
        // JVMs — saveAsTable(overwrite) only drops what the catalog
        // knows, so clear both the entry and any orphaned location first
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
      val joined = Bucketing.table(s, ot)
        .join(Bucketing.table(s, ct), Seq("o_custkey"))
      joined.groupBy(col("o_custkey"), col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("price_cents")).as("total_cents"))
        .orderBy(col("o_custkey"))
    }),

    // STRUCTURED STREAMING, DRIVER-GATED (upgrades §2.11 from
    // Spec-only): the events fixture replays through a REAL watermarked
    // file stream — readStream → tumbling window agg → memory sink,
    // complete mode, run to quiescence — and the final state hashes
    // against DuckDB's batch replay. Deterministic because the input is
    // finite and complete-mode state is input-order-independent; each
    // value becomes BIGINT CENTS BEFORE aggregation (the q248
    // integer-exact recipe — an order-independent integer sum, no
    // DECIMAL-from-double in the hashed row). The same incremental
    // plan is what a 100 TB/day pipeline runs continuously; trigger
    // cadence is the only difference.
    "q277_streaming_tumbling" -> ((s, dir) => {
      val events = graft.Tables.load(s, dir, "events")
        .select(col("event_id"), col("ts"), col("event_type"), col("value"))
      val src = streamSource(s, s"q277src#$dir", events)
      val stream = s.readStream.schema(events.schema).parquet(src)
      val agg = stream.withWatermark("ts", "2 hours")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(round(value * 100) AS BIGINT)"))
            .as("sum_value_cents"))
        .select(unix_millis(col("window.start")).as("bin_ms"),
          col("event_type"), col("n"), col("sum_value_cents"))
      val sink = s"q277_sink_${math.abs(src.hashCode)}"
      withStatePartitions(s, 8) {
        val q = agg.writeStream.format("memory").queryName(sink)
          .outputMode("complete").start()
        try q.processAllAvailable() finally q.stop()
      }
      s.table(sink).orderBy(col("bin_ms"), col("event_type"))
    }),

    // Streaming SESSIONIZATION, driver-gated: session_window with a
    // 30-minute gap over a real watermarked stream, final state hashed
    // against DuckDB's ISLANDS replay (lag + cumulative break-sum —
    // the classic batch formulation; a session ends when the next
    // event is >= gap away, and the window end is last-event + gap,
    // exactly Spark's session_window contract). The state-store merge
    // path this exercises is the 100 TB continuous-sessionization
    // plan.
    "q278_streaming_sessions" -> ((s, dir) => {
      val events = graft.Tables.load(s, dir, "events")
        .filter(col("user_id") <= 200)
        .select(col("ts"), col("user_id"))
      val src = streamSource(s, s"q278src#$dir", events)
      val stream = s.readStream.schema(events.schema).parquet(src)
      val agg = stream.withWatermark("ts", "2 hours")
        .groupBy(session_window(col("ts"), "30 minutes").as("sess"),
          col("user_id"))
        .agg(count(lit(1)).as("n"))
        .select(col("user_id"),
          unix_millis(col("sess.start")).as("start_ms"),
          unix_millis(col("sess.end")).as("end_ms"), col("n"))
      val sink = s"q278_sink_${math.abs(src.hashCode)}"
      withStatePartitions(s, 8) {
        val q = agg.writeStream.format("memory").queryName(sink)
          .outputMode("complete").start()
        try q.processAllAvailable() finally q.stop()
      }
      s.table(sink).orderBy(col("user_id"), col("start_ms"))
    }),

    // STREAM–STREAM interval join, driver-gated: every click matched
    // to same-user views in the preceding hour, BOTH sides real
    // watermarked streams (the watermark bounds the join state — the
    // canonical stream-join footgun at 100 TB/day); on a finite input
    // every match emits, so the result set hashes against DuckDB's
    // batch inequality join.
    "q279_streaming_interval_join" -> ((s, dir) => {
      val events = graft.Tables.load(s, dir, "events")
        .filter(col("user_id") <= 300)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"))
      val src = streamSource(s, s"q279src#$dir", events)
      def side(t: String) = s.readStream.schema(events.schema).parquet(src)
        .filter(col("event_type") === t)
      val joined = graft.streaming.EventsStream.intervalJoin(
        side("view"), side("click"), horizon = "1 hour",
        watermark = "30 minutes")
      val sink = s"q279_sink_${math.abs(src.hashCode)}"
      withStatePartitions(s, 8) {
        val q = joined
          .select(col("user_id"), col("click_id"), col("view_id"),
            unix_millis(col("c_ts")).as("c_ms"),
            unix_millis(col("v_ts")).as("v_ms"))
          .writeStream.format("memory").queryName(sink)
          .outputMode("append").start()
        try q.processAllAvailable() finally q.stop()
      }
      s.table(sink).orderBy(col("user_id"), col("click_id"), col("view_id"))
    })
  )

  val oracles: Map[String, String] = Map(

    // the q248 oracle's own tokenization sub-pipeline, verbatim
    "q266_token_count_probe" ->
      """SELECT doc_id,
        |       CAST(COALESCE(len(list_distinct(list_filter(
        |         string_split_regex(lower(text), '[^a-z]+'),
        |         t -> t <> '')[1:64])), 0) AS INT) AS n_toks
        |FROM documents ORDER BY doc_id""".stripMargin,

    // the q248 oracle's bucket-hash sub-pipeline over the same tokens,
    // summing the BUCKET IDS themselves (no weights): a multiset
    // fingerprint of the md5-prefix hash in pure BIGINT
    "q267_bucket_sum_probe" ->
      """WITH d AS (
        |  SELECT doc_id,
        |         list_distinct(list_filter(
        |           string_split_regex(lower(text), '[^a-z]+'),
        |           t -> t <> '')[1:64]) AS toks
        |  FROM documents),
        |tok AS (SELECT doc_id, unnest(toks) AS t FROM d),
        |s AS (
        |  SELECT doc_id,
        |         CAST(SUM(CAST('0x' || substr(md5(t), 1, 15) AS BIGINT)
        |                  % 1024) AS BIGINT) AS bucket_sum
        |  FROM tok GROUP BY doc_id)
        |SELECT d.doc_id, CAST(COALESCE(s.bucket_sum, 0) AS BIGINT)
        |         AS bucket_sum
        |FROM d LEFT JOIN s ON d.doc_id = s.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    // trim/translate re-derive natively (DuckDB agrees with the
    // reference on set-trims and first-wins translate); the pad columns
    // are goldens (DuckDB lpad raises "Insufficient padding" on the
    // empty-fill arm the reference defines as identity)
    "q268_string_pad_trim" ->
      """WITH d AS (SELECT CAST(doc_id % 4 AS INT) AS arm FROM documents),
        |g AS (
        |  SELECT arm,
        |    CASE arm WHEN 0 THEN trim('abcabcababab', 'ab')
        |             WHEN 1 THEN ltrim('abcabcababab', 'ab')
        |             WHEN 2 THEN rtrim('abcabcababab', 'ab')
        |             ELSE trim('aaabbbcccbbbaaa', 'abc') END AS tb,
        |    CASE arm WHEN 0 THEN 'yesye' WHEN 1 THEN 'y'
        |             WHEN 2 THEN 'yes' ELSE '' END AS lp,
        |    CASE arm WHEN 0 THEN 'yesye' WHEN 1 THEN 'yesab'
        |             WHEN 2 THEN 'ye' ELSE 'yes  ' END AS rp,
        |    CASE arm WHEN 0 THEN translate('Crate', 'Ct', 'Dk')
        |             WHEN 1 THEN translate('Crate', 'rCe', 'c')
        |             WHEN 2 THEN translate('Crate', 'CtC', 'Dk')
        |             ELSE translate('Crate', 're', '') END AS tr
        |  FROM (SELECT DISTINCT arm FROM d))
        |SELECT d.arm, g.tb, g.lp, g.rp, g.tr, count(*) AS n
        |FROM d JOIN g ON d.arm = g.arm
        |GROUP BY d.arm, g.tb, g.lp, g.rp, g.tr
        |ORDER BY d.arm""".stripMargin,

    // golden replay of the reference suite's verdicts (pinned against
    // RegexpMatchOperatorTest in StringEdgeReferenceConformanceSpec)
    "q269_regexp_match_op" ->
      """WITH d AS (SELECT CAST(doc_id % 10 AS INT) AS arm FROM documents),
        |g(arm, m, m2) AS (VALUES
        |  (0, FALSE, TRUE),  -- lowercase fails [A-Z]; NOT(full 'b')
        |  (1, TRUE,  TRUE),  -- Foo Bar matches; interval 100 in 10..101
        |  (2, TRUE,  TRUE),  -- 1000 in <1-9999>
        |  (3, FALSE, TRUE),  -- 10000 out of range
        |  (4, TRUE,  TRUE),  -- '' ~ ''
        |  (5, TRUE,  TRUE),  -- complement admits the non-equal string
        |  (6, FALSE, TRUE),  -- '~' is an operator, not a literal
        |  (7, FALSE, TRUE),  -- FULL match: 'abc' !~= 'b'
        |  (8, TRUE,  TRUE),  -- PCRE branch via \d
        |  (9, TRUE,  TRUE))  -- ~* case-insensitive
        |SELECT d.arm, g.m, g.m2, count(*) AS n
        |FROM d JOIN g ON d.arm = g.arm
        |GROUP BY d.arm, g.m, g.m2
        |ORDER BY d.arm""".stripMargin,

    // DuckDB replays each arm with its own list values (1-based set,
    // append, NULL padding), serialized to the same compact JSON text
    // Spark's to_json renders — the hashed row is pure VARCHAR
    "q270_array_set" ->
      """WITH d AS (SELECT CAST(doc_id % 7 AS INT) AS arm FROM documents),
        |g(arm, a) AS (VALUES
        |  (0, [1, 2, -1]::BIGINT[]),
        |  (1, [1, 2, 3, -1]::BIGINT[]),
        |  (2, [1, 2, 3, NULL, -1]::BIGINT[]),
        |  (3, [7, 2, 9]::BIGINT[]),
        |  (4, [1, 2, 3]::BIGINT[]),
        |  (5, [10, 99, 30]::BIGINT[]),
        |  (6, [NULL, 2]::BIGINT[]))
        |SELECT d.arm, to_json(g.a)::VARCHAR AS a, count(*) AS n
        |FROM d JOIN g ON d.arm = g.arm
        |GROUP BY d.arm, to_json(g.a)::VARCHAR
        |ORDER BY d.arm""".stripMargin,

    // replace arms re-derive natively (DuckDB regexp_replace is
    // PG-compatible: first match unless 'g'); instr/count are goldens
    "q271_regexp_scalars" ->
      """WITH d AS (SELECT CAST(doc_id % 5 AS INT) AS arm FROM documents),
        |g AS (
        |  SELECT arm,
        |    CASE arm
        |      WHEN 0 THEN regexp_replace('foobarbequebaz', 'ba', 'Crate')
        |      WHEN 1 THEN regexp_replace('foobarbequebaz', 'ba', 'Crate', 'g')
        |      WHEN 2 THEN regexp_replace('st. cloud', '[^a-z]', '', 'g')
        |      WHEN 3 THEN regexp_replace('foobarbequebaz',
        |                                 '(ba).*(ba)', 'First\1Second\2')
        |      ELSE regexp_replace('foobarbequebaz', 'crate', 'crate') END
        |      AS repl,
        |    CASE arm WHEN 0 THEN 4 WHEN 1 THEN 7 WHEN 2 THEN 15
        |             WHEN 3 THEN 15 ELSE 0 END AS pos,
        |    CASE arm WHEN 0 THEN 2 WHEN 1 THEN 2 WHEN 2 THEN 1
        |             WHEN 3 THEN 1 ELSE 0 END AS cnt
        |  FROM (SELECT DISTINCT arm FROM d))
        |SELECT d.arm, g.repl, CAST(g.pos AS INT) AS pos,
        |       CAST(g.cnt AS INT) AS cnt, count(*) AS n
        |FROM d JOIN g ON d.arm = g.arm
        |GROUP BY d.arm, g.repl, g.pos, g.cnt
        |ORDER BY d.arm""".stripMargin,

    // pure epoch arithmetic for the fixed-period units (+05:30 =
    // 19 800 000 ms), DuckDB's own calendar trunc on the shifted WALL
    // time for the month arm — no timezone machinery shared with graft
    "q272_date_trunc_tz" ->
      """SELECT event_id,
        |       (epoch_ms(ts) // 86400000) * 86400000 AS d_utc,
        |       ((epoch_ms(ts) + 19800000) // 86400000) * 86400000
        |         - 19800000 AS d_ist,
        |       ((epoch_ms(ts) + 19800000) // 3600000) * 3600000
        |         - 19800000 AS h_ist,
        |       epoch_ms(date_trunc('month',
        |         make_timestamp((epoch_ms(ts) + 19800000) * 1000)))
        |         - 19800000 AS m_ist
        |FROM events ORDER BY event_id LIMIT 500""".stripMargin,

    // golden replay of the pinned keyword subset + the vocabulary
    // counts (291 words / 96 reserved — derived from the reference's
    // public grammar + Identifiers.reserved(); a regeneration changes
    // these goldens loudly. current_schema is 'U': bare it parses to
    // FunctionCall and is not in RESERVED_FUNCTIONS — ADVICE r15)
    "q273_pg_keywords" ->
      """SELECT word, catcode, catdesc,
        |       CAST(291 AS INT) AS n_total, CAST(96 AS INT) AS n_reserved
        |FROM (VALUES
        |  ('absolute', 'U', 'unreserved'), ('analyzer', 'U', 'unreserved'),
        |  ('between', 'R', 'reserved'), ('char_filters', 'U', 'unreserved'),
        |  ('current_date', 'R', 'reserved'), ('from', 'R', 'reserved'),
        |  ('limit', 'R', 'reserved'), ('order', 'R', 'reserved'),
        |  ('select', 'R', 'reserved'), ('user', 'R', 'reserved'))
        |  g(word, catcode, catdesc)
        |ORDER BY word""".stripMargin,

    // positional zip of unnest + generate_series re-derives (x, n)
    "q274_pg_expandarray" ->
      """SELECT doc_id,
        |       unnest([lang, 'tail', CAST(doc_id % 3 AS VARCHAR)]) AS x,
        |       unnest(generate_series(1, 3)) AS n
        |FROM documents ORDER BY doc_id, n""".stripMargin,

    // IDENTITY replay: both legs must equal the source slice; the
    // summary facts are constants by the zero-error contract. acctbal
    // re-derives as BIGINT cents — IEEE double × 100 then
    // half-away-from-zero round, identical arithmetic on both engines
    "q275_copy_roundtrip" ->
      """SELECT c_custkey,
        |       c_name AS name_csv,
        |       CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents_csv,
        |       c_name AS name_json,
        |       CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents_json,
        |       c_mktsegment AS seg_csv,
        |       TRUE AS csv_files_ok, TRUE AS csv_no_errors,
        |       TRUE AS json_files_ok, TRUE AS json_no_errors
        |FROM customer WHERE c_custkey <= 500
        |ORDER BY c_custkey""".stripMargin,

    // plain join+group replay, integer-exact: per-row BIGINT cents
    // before SUM on both sides (the shuffle-free plan fact moved to
    // its own probe, q280)
    "q276_clustered_join" ->
      """SELECT o_custkey, c_mktsegment,
        |       count(*) AS n_orders,
        |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |            AS BIGINT) AS total_cents
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY o_custkey, c_mktsegment
        |ORDER BY o_custkey""".stripMargin,

    // batch replay of the streaming query's final state: hour-truncate
    // by epoch arithmetic, integer-exact cent sums
    "q277_streaming_tumbling" ->
      """SELECT (epoch_ms(ts) // 3600000) * 3600000 AS bin_ms,
        |       event_type, count(*) AS n,
        |       CAST(sum(CAST(round(value * 100) AS BIGINT))
        |            AS BIGINT) AS sum_value_cents
        |FROM events
        |GROUP BY bin_ms, event_type
        |ORDER BY bin_ms, event_type""".stripMargin,

    // islands replay: break when the gap to the previous event is
    // >= 30 min (Spark's session end is exclusive), session id =
    // cumulative break count, end = last event + gap
    "q278_streaming_sessions" ->
      """WITH e AS (
        |  SELECT user_id, epoch_ms(ts) AS ms FROM events
        |  WHERE user_id <= 200),
        |b AS (
        |  SELECT user_id, ms,
        |         CASE WHEN lag(ms) OVER w IS NULL
        |                OR ms - lag(ms) OVER w >= 1800000
        |              THEN 1 ELSE 0 END AS brk
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ms)),
        |g AS (
        |  SELECT user_id, ms,
        |         sum(brk) OVER (PARTITION BY user_id ORDER BY ms
        |                        ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM b)
        |SELECT user_id, min(ms) AS start_ms,
        |       max(ms) + 1800000 AS end_ms, count(*) AS n
        |FROM g GROUP BY user_id, sid
        |ORDER BY user_id, start_ms""".stripMargin,

    // batch inequality join: view within the hour BEFORE the click,
    // inclusive both ends (v_ts <= c_ts AND v_ts >= c_ts - 1h)
    "q279_streaming_interval_join" ->
      """WITH c AS (
        |  SELECT user_id, event_id AS click_id, epoch_ms(ts) AS c_ms
        |  FROM events WHERE event_type = 'click' AND user_id <= 300),
        |v AS (
        |  SELECT user_id, event_id AS view_id, epoch_ms(ts) AS v_ms
        |  FROM events WHERE event_type = 'view' AND user_id <= 300)
        |SELECT c.user_id, c.click_id, v.view_id, c.c_ms, v.v_ms
        |FROM c JOIN v ON c.user_id = v.user_id
        |  AND v.v_ms <= c.c_ms AND v.v_ms >= c.c_ms - 3600000
        |ORDER BY c.user_id, c.click_id, v.view_id""".stripMargin
  )
}
