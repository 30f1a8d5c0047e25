package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Structured Streaming extension (SURVEY.md §2.11 — the reference has no
  * streaming; ingest there is INSERT/COPY + `REFRESH TABLE`). This module is
  * the strict-superset path: the `events` fixture served as a stream with
  * event-time semantics.
  *
  * Scale notes: all three transforms are incremental, watermark-bounded
  * state machines — state per key is O(open windows), late data beyond the
  * watermark is dropped deterministically, and the same code runs on a
  * file/kafka source unchanged (the transforms only see a streaming
  * DataFrame).
  */
object EventsStream {

  /** Streaming upsert sink into a [[graft.sources.VersionedTable]]: every
    * micro-batch MERGEs into the latest snapshot and publishes ONE atomic
    * version — the streaming analogue of the reference's INSERT-on-conflict
    * ingest path, with readers isolated from in-flight batches. With a
    * replayable source + checkpoint, a replayed epoch re-applies the same
    * deterministic merge, so the table converges (idempotent upsert). */
  def upsertStream(stream: DataFrame, path: String, keys: Seq[String],
                   checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("update")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val b = batch.persist()
        try {
          if (!b.isEmpty) {
            if (graft.sources.VersionedTable.latestVersion(spark, path).isEmpty)
              graft.sources.VersionedTable.commit(spark, path, b)
            else
              graft.sources.VersionedTable.transact(spark, path,
                cur => graft.sources.Dml.upsertReplace(cur, b, keys))
          }
        } finally b.unpersist()
        ()
      }
      .start()

  /** Tumbling-window event counts ≈ the batch `date_bin` aggregation
    * (`QueriesFunctions.q49_date_bin`), expressed incrementally. */
  def tumblingCounts(events: DataFrame, window: String = "15 minutes",
                     watermark: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value")).as("sum_value"))
      .select(col("window.start").as("bin"), col("event_type"), col("n"), col("sum_value"))

  /** Streaming exactly-once dedup by key via `flatMapGroupsWithState` —
    * the custom-state API for semantics the built-in operators can't
    * express. Emits each key's row the first time it is seen; state is one
    * boolean per key. At production scale, bound state with an event-time
    * timeout tied to the watermark (processing-time timeouts interact badly
    * with test harness clocks, so the demo keeps NoTimeout). */
  def dedupeStream(events: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                   keyCol: String = "event_id"): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import org.apache.spark.sql.Row
    val spark = events.sparkSession
    val enc = org.apache.spark.sql.catalyst.encoders.ExpressionEncoder(events.schema)
    implicit val rowEnc: org.apache.spark.sql.Encoder[Row] = enc
    implicit val longEnc = org.apache.spark.sql.Encoders.scalaLong
    implicit val boolEnc = org.apache.spark.sql.Encoders.scalaBoolean
    implicit val tupleEnc = org.apache.spark.sql.Encoders.tuple(longEnc, enc)
    events
      .groupByKey((r: Row) => r.getAs[Long](keyCol))
      .flatMapGroupsWithState[Boolean, Row](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_: Long, rows: Iterator[Row], state: GroupState[Boolean]) =>
          if (state.exists) Iterator.empty
          else {
            state.update(true)
            rows.toSeq.headOption.iterator
          }
      }
  }

  /** Session windows with a 30-minute inactivity gap — the streaming
    * equivalent of the batch sessionization query (q74). */
  def sessionize(events: DataFrame, gap: String = "30 minutes",
                 watermark: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap).as("session"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("session.start").as("session_start"),
        col("session.end").as("session_end"),
        col("user_id"), col("n_events"), col("sum_value"))

  /** Stream–stream time-interval join: each `clicks` row matched to the
    * `views` row of the same user within the preceding `horizon`. Both
    * sides carry watermarks so Spark bounds the join state — without the
    * interval condition the state store grows unboundedly (the canonical
    * stream-join footgun at scale). */
  def intervalJoin(views: DataFrame, clicks: DataFrame,
                   horizon: String = "1 hour",
                   watermark: String = "30 minutes"): DataFrame = {
    val v = views.select(col("user_id").as("v_user"), col("ts").as("v_ts"),
        col("event_id").as("view_id"))
      .withWatermark("v_ts", watermark)
    val c = clicks.select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("click_id"))
      .withWatermark("c_ts", watermark)
    c.join(v,
      col("c_user") === col("v_user") &&
        col("v_ts") <= col("c_ts") &&
        col("v_ts") >= col("c_ts") - expr(s"INTERVAL $horizon"),
      "inner")
      .select(col("c_user").as("user_id"), col("click_id"), col("view_id"),
        col("c_ts"), col("v_ts"))
  }
}

/** Streaming document-quality metrics (round-4: the incremental path for
  * the Gopher/MassiveText repetition rules — ARCHITECTURE round-3
  * candidate #3).
  *
  * The design observation that makes this trivially incremental: one ROW
  * is one DOCUMENT, so every per-document repetition metric is a
  * stateless row-local transform — no state store, no watermark, no
  * cross-row aggregation. Only corpus-level summaries (reject rates per
  * ingestion window) need a stateful layer, and that is ONE watermarked
  * windowed aggregation — append-safe.
  *
  * [[docRepetitionMetrics]] emits values IDENTICAL to the batch
  * `TextAnalysis.repetitionStats` (StreamRepetitionSpec proves parity):
  * the batch path's (doc, gram) groupBy exists only because pure-SQL
  * higher-order functions can't build count maps; the per-document
  * semantics are the same.
  */
object DocsStream {
  import org.apache.spark.sql.SparkSession

  /** Register the row-local bigram-share kernel (same tokens as
    * `TextAnalysis.tokens` / the fulltext default analyzer). r16: the
    * kernel moved to `TextFunctions.topBigramShare` behind the codegen'd
    * `TopBigramShareExpr`, shared with the batch `repetitionStats`
    * (identical values by construction — one kernel); registration
    * delegates to the function pack. */
  def registerAll(spark: SparkSession): Unit =
    graft.functions.GraftFunctions.registerAll(spark)

  /** Stateless per-document repetition metrics — safe on ANY streaming
    * DataFrame (no state, no watermark requirement). All input columns
    * pass through, so event-time survives for a downstream window. */
  def docRepetitionMetrics(df: DataFrame, textCol: String): DataFrame = {
    registerAll(df.sparkSession)
    val lines = filter(split(col(textCol), "\n"), l => length(trim(l)) > 0)
    df
      .withColumn("n_lines", size(lines))
      .withColumn("dup_line_frac",
        when(size(lines) > 0,
          lit(1.0) - size(array_distinct(lines)).cast("double") / size(lines))
          .otherwise(0.0))
      .withColumn("top_bigram_share",
        call_udf("graft_top_bigram_share", col(textCol)))
  }

  /** Windowed Gopher-reject rate: per event-time window, the count and
    * fraction of documents whose repetition metrics breach the thresholds.
    * One watermarked stateful aggregation — bounded state, append output. */
  def windowedRejectRate(stream: DataFrame, textCol: String,
                         tsCol: String, windowLen: String,
                         dupLineMax: Double = 0.3,
                         bigramShareMax: Double = 0.2): DataFrame =
    docRepetitionMetrics(stream.withWatermark(tsCol, "10 minutes"), textCol)
      .groupBy(window(col(tsCol), windowLen))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("dup_line_frac") > dupLineMax ||
          col("top_bigram_share") > bigramShareMax, 1).otherwise(0)).as("n_rejected"))
      .select(col("window.start").as("win_start"), col("n_docs"),
        col("n_rejected"),
        (col("n_rejected").cast("double") / col("n_docs")).as("reject_rate"))
}

/** Streaming deduplication (round-4): the incremental twin of
  * `operators/Dedup.exact` and the URL-canonical crawl dedup of
  * `operators/UrlNormalize` — the two dedup stages a streaming ingest
  * pipeline runs BEFORE documents reach expensive processing.
  *
  * State is bounded by the watermark: `dropDuplicatesWithinWatermark`
  * keeps one state row per distinct key seen inside the lateness horizon
  * and expires it afterwards — the only sound contract for an unbounded
  * stream (a global-history dedup is a batch job by definition; run
  * `Dedup.exact` over the compacted table for that). Keys are the REAL
  * columns, like the batch path partitions on hash + real columns: a
  * 64-bit-hash-only state key would silently drop a colliding distinct
  * document (batch Dedup.exact's scaladoc records the same reasoning).
  */
object DedupStream {
  import org.apache.spark.sql.SparkSession

  /** Keep the first-arriving row per distinct `cols` within the
    * watermark horizon. Append-mode safe. */
  def dedupExactStream(stream: DataFrame, tsCol: String, cols: Seq[String],
                       within: String = "10 minutes"): DataFrame =
    stream.withWatermark(tsCol, within)
      .dropDuplicatesWithinWatermark(cols)

  /** Crawl-frontier URL dedup: canonicalize (scheme/host case, www.,
    * default ports, tracking params, fragment, param order — the CCNet/
    * RefinedWeb key) then keep the first row per canonical URL. The
    * canonical form is added as `canon_url` so downstream stages join on
    * the collapsed key. */
  def dedupUrlStream(stream: DataFrame, urlCol: String, tsCol: String,
                     within: String = "10 minutes"): DataFrame = {
    graft.operators.UrlNormalize.registerAll(stream.sparkSession)
    stream
      .withColumn("canon_url", call_udf("normalize_url", col(urlCol)))
      .withWatermark(tsCol, within)
      .dropDuplicatesWithinWatermark(Seq("canon_url"))
  }

  /** One increment of corpus-history NEAR-dup dedup — the MinHash twin of
    * the exact streams above, for daily crawl deltas and `foreachBatch`
    * micro-batches alike. A row is dropped when an LSH band collision
    * against a previously KEPT document confirms at signature-estimated
    * Jaccard ≥ `threshold` (the unbiased MinHash estimator — the batch
    * operator's exact shingle-Jaccard needs both texts, which history
    * state deliberately does not retain); survivors then pass the exact
    * intra-increment [[graft.operators.Dedup.minhashDedup]] and claim
    * their bands in the durable store.
    *
    * State layout under `stateDir` — the scale contract:
    *   claims/ (id BIGINT, sig ARRAY<BIGINT>, keys ARRAY<BIGINT>)
    * ONE row per kept document: its signature plus its `bands` LSH band
    * keys, so state grows with KEPT documents, never with stream length
    * or text bytes, and each increment commits ONE write action (the
    * r15-verdict merge of the former bands/ + sigs/ pair of claims —
    * per-increment action count halves, and the keys derive from the
    * already-computed signature instead of a second full text pass).
    * The collision path still joins band keys first (8-byte keys after
    * the explode), fetching signatures only for colliding claimants. */
  def dedupMinhashIncrement(batch: DataFrame, idCol: String, textCol: String,
                            stateDir: String, numHashes: Int = 128,
                            bands: Int = 16, shingleSize: Int = 5,
                            threshold: Double = 0.7): DataFrame = {
    val spark = batch.sparkSession
    graft.functions.GraftFunctions.registerAll(spark)
    val fs = new org.apache.hadoop.fs.Path(stateDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def keyed(df: DataFrame): DataFrame = df
      .select(col(idCol).cast("long").as("id"),
        posexplode(call_function("graft_minhash_bands",
          col(textCol), lit(shingleSize), lit(numHashes), lit(bands)))
          .as(Seq("pos", "bkey")))
      .select(col("id"), xxhash64(col("pos"), col("bkey")).as("key"))
    def sigs(df: DataFrame): DataFrame = df
      .select(col(idCol).cast("long").as("id"),
        graft.functions.TextFunctions.minhash(col(textCol), shingleSize, numHashes)
          .as("sig"))

    val claimsPath = s"$stateDir/claims"
    val hasState = fs.exists(new org.apache.hadoop.fs.Path(claimsPath))
    val afterHistory =
      if (!hasState) batch
      else {
        val claims = graft.sources.ParquetFooter.read(spark, claimsPath)
        val claimedBands = claims
          .select(explode(col("keys")).as("key"), col("id").as("claimant"))
        val claimedSigs = claims
          .select(col("id").as("claimant"), col("sig").as("csig"))
        val est = aggregate(
          zip_with(col("sig"), col("csig"),
            (a, b) => when(a === b, 1).otherwise(0)),
          lit(0), (acc, x) => acc + x).cast("double") / numHashes
        val dupIds = keyed(batch)
          .join(claimedBands, Seq("key"))
          .select(col("id"), col("claimant")).distinct()
          .join(sigs(batch), Seq("id"))
          .join(claimedSigs, Seq("claimant"))
          .filter(est >= threshold)
          .select(col("id").as(idCol)).distinct()
        batch.join(dupIds, batch(idCol).cast("long") === dupIds(idCol), "left_anti")
      }
    val kept = graft.operators.Dedup.minhashDedup(
      afterHistory, idCol, textCol, numHashes, bands, shingleSize, threshold)
      .localCheckpoint() // the claim write below must not re-plan the dedup
    // ONE claim write per increment (r15 verdict ask #2 — the former
    // bands/ + sigs/ pair of write actions merged): band keys derive from
    // the already-computed signature (TextFunctions.bandKeys — the same
    // kernel graft_minhash_bands ends with), and the final key hash
    // replays keyed()'s xxhash64(pos, bkey) with transform's element
    // index standing in for posexplode's pos (both IntegerType, so the
    // hashes agree bit-for-bit). A checkpoint-free single-action variant
    // (claims write as the only materialization, kept replayed as a
    // parquet semi-join) measured SLOWER (4.1 s vs 3.3 same-window) —
    // the noop replay of two AQE joins per rep cost more than the
    // checkpoint saved; see OPTIMIZATION_r16.md.
    val bandKeysUdf = udf((sig: Seq[Long], b: Int) =>
      graft.functions.TextFunctions.bandKeys(sig.toArray, b))
    sigs(kept)
      .withColumn("keys",
        transform(bandKeysUdf(col("sig"), lit(bands)),
          (x, i) => xxhash64(i, x)))
      .write.mode("append").parquet(claimsPath)
    kept
  }

  /** [[dedupMinhashIncrement]] as a streaming sink: every micro-batch is
    * deduplicated against the full kept history, then handed to `process`.
    * foreachBatch is the sound shape for history-scale state — the state
    * is a table, not executor memory, so it survives restarts and is
    * shared by later batch jobs. */
  def minhashDedupStream(stream: DataFrame, idCol: String, textCol: String,
                         stateDir: String, checkpoint: String,
                         numHashes: Int = 128, bands: Int = 16,
                         shingleSize: Int = 5, threshold: Double = 0.7)
                        (process: DataFrame => Unit):
      org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        process(dedupMinhashIncrement(batch, idCol, textCol, stateDir,
          numHashes, bands, shingleSize, threshold))
      }
      .start()
}
