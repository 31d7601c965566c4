package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.sources.CloudWatchLogs

/** Structured Streaming face of the engine (SURVEY §2.1 st1–st3).
  *
  * The reference's long-poll loop over shard iterators
  * (kinesis_logs_reader.py:99-106) becomes a streaming source +
  * incremental query: the runtime owns offsets/retries/backpressure,
  * and the same narrow parse chain as the batch Reader runs per
  * micro-batch. With a real Kinesis connector the `records` stream
  * would come from `readStream.format(...)`; everything downstream is
  * source-agnostic.
  */
object LogStream {

  /** Streaming variant of Reader.readLogs (no global sort/limit —
    * those are not stream semantics; use watermarks + windows).
    */
  def parse(records: DataFrame, dataCol: String = "data"): DataFrame =
    records
      .withColumn("_payload",
        graft.functions.opaque(CloudWatchLogs.decodePayload(col(dataCol))))
      .where(col("_payload.messageType") === CloudWatchLogs.DataMessage)
      .select(explode(col("_payload.logEvents")).as("_logEvent"))
      .select(
        col("_logEvent.id").as("log_id"),
        col("_logEvent.timestamp").as("timestamp_ms"),
        col("_logEvent.message").as("message"),
        col("_logEvent.extractedFields").as("fields"))

  /** Event-time tumbling-window counts with a watermark bounding
    * state retention.
    */
  def windowedCounts(flat: DataFrame, windowDur: String, watermarkDelay: String): DataFrame =
    flat
      .withColumn("event_time", timestamp_millis(col("timestamp_ms")))
      .withWatermark("event_time", watermarkDelay)
      .groupBy(window(col("event_time"), windowDur))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w_start"), col("n"))

  /** Streaming heavy hitters: per-tumbling-window approx_top_k of a
    * key column. The frequent-items sketch is a mergeable aggregate
    * buffer, so per-window streaming state is ONE bounded sketch
    * (`maxItemsTracked` entries), not a count map over the key
    * cardinality — with the watermark bounding live windows, state is
    * O(windows × sketch size) however many distinct keys the stream
    * carries. The rank cut happens deterministically OUTSIDE the
    * sketch: the estimate is drained in full (capacity items) and
    * sorted (count desc, item asc) before slicing `k`, so below
    * capacity — where sketch counts are exact — output is the exact
    * top-k with stable tie order; above capacity it degrades to the
    * sketch's documented error bound.
    */
  def windowedTopK(
      flat: DataFrame, key: Column, windowDur: String, watermarkDelay: String,
      k: Int, maxItemsTracked: Int = 4096): DataFrame =
    flat
      .withColumn("event_time", timestamp_millis(col("timestamp_ms")))
      .withWatermark("event_time", watermarkDelay)
      .groupBy(window(col("event_time"), windowDur))
      .agg(call_function(
        "approx_top_k", key, lit(maxItemsTracked), lit(maxItemsTracked)).as("tk"))
      .select(
        col("window.start").as("w_start"),
        posexplode(slice(array_sort(col("tk"), (l, r) =>
          when(l("count") > r("count"), -1).when(l("count") < r("count"), 1)
            .when(l("item") < r("item"), -1).when(l("item") > r("item"), 1)
            .otherwise(0)), 1, k)).as(Seq("pos", "e")))
      .select(
        col("w_start"), (col("pos") + 1).cast("long").as("rank"),
        col("e.item").as("item"), col("e.count").as("n"))

  /** Declarative gap sessions via the built-in `session_window`
    * aggregate — the Catalyst-native twin of the
    * flatMapGroupsWithState sessionizer ([[sessionize]]): the state
    * store merges overlapping session windows per key, sessions
    * close (and emit, in append mode) when the watermark passes
    * their end. Window end = last event + gap by definition of
    * session_window, so `end - gap` recovers the last event time.
    * Prefer this form when per-session logic is pure aggregation —
    * it stays inside whole-stage codegen and needs no user state
    * class; drop to flatMapGroupsWithState only for custom
    * state/timeout semantics (st3/st8).
    */
  def sessionWindowCounts(
      flat: DataFrame, key: Column, gapDur: String, watermarkDelay: String): DataFrame =
    flat
      .withColumn("event_time", timestamp_millis(col("timestamp_ms")))
      .withColumn("k", key)
      .withWatermark("event_time", watermarkDelay)
      .groupBy(col("k"), session_window(col("event_time"), gapDur))
      .agg(count(lit(1)).as("n_events"))
      .select(
        col("k"),
        unix_millis(col("session_window.start")).as("start_ms"),
        unix_millis(col("session_window.end")).as("end_ms"),
        col("n_events"))

  /** Streaming windowed quantiles: a per-tumbling-window
    * approx_percentile sketch over a numeric column. Like st14's
    * top-k, the aggregation buffer is ONE mergeable quantile summary
    * per window (size bounded by `accuracy`), not the window's
    * values — streaming state is O(live windows × summary size),
    * independent of row count or value cardinality. Below the
    * summary's compression threshold every sample is retained, so
    * the emitted quantiles equal the batch percentile_approx of the
    * same data exactly (spec st16); beyond it the documented
    * rank-error bound (1/accuracy) applies.
    */
  def windowedQuantiles(
      flat: DataFrame, value: Column, windowDur: String, watermarkDelay: String,
      percentiles: Seq[Double], accuracy: Int = 10000): DataFrame =
    flat
      .withColumn("event_time", timestamp_millis(col("timestamp_ms")))
      .withColumn("v", value.cast("double"))
      .withWatermark("event_time", watermarkDelay)
      .groupBy(window(col("event_time"), windowDur))
      .agg(percentile_approx(
        col("v"), array(percentiles.map(lit(_)): _*), lit(accuracy)).as("qs"))
      .select(col("window.start").as("w_start"), col("qs"))

  /** Streaming exactly-once on re-delivered records: drop duplicate
    * log ids within the watermark horizon. Kinesis get_records is
    * at-least-once (the reference re-polls shard iterators and can
    * replay on resharding); state is bounded by the watermark instead
    * of an ever-growing seen-set.
    */
  def dedupe(flat: DataFrame, watermarkDelay: String): DataFrame =
    flat
      .withColumn("event_time", timestamp_millis(col("timestamp_ms")))
      .withWatermark("event_time", watermarkDelay)
      .dropDuplicatesWithinWatermark("log_id")

  /** Stream-static enrichment: join the parsed stream to a static
    * dimension snapshot. The dim is broadcast per micro-batch — no
    * stream-side shuffle, no state.
    */
  def enrich(flat: DataFrame, dim: DataFrame, usingColumns: Seq[String]): DataFrame =
    flat.join(broadcast(dim), usingColumns, "left")

  /** Cross-boundary exact dedup: drop stream records whose content
    * fingerprint already exists in a historical corpus, then drop
    * intra-stream repeats — the streaming face of d1 for continuous
    * ingest into an already-deduplicated lake.
    *
    * The history side is a static relation keyed by fingerprint
    * (md5 of normalized text, same key as [[graft.operators.Dedup.exact]]),
    * joined stream-static as left-outer + null-filter (Spark does not
    * plan stream-static left_anti). Only fingerprints cross the join —
    * never document bodies. Intra-stream uniqueness uses
    * `dropDuplicatesWithinWatermark`, so state stays bounded by the
    * watermark horizon instead of growing with stream lifetime; the
    * already-in-history case never enters that state store at all.
    */
  def dedupeAgainstHistory(
      stream: DataFrame, historyFps: DataFrame, fpCol: String,
      eventTimeCol: String, watermarkDelay: String): DataFrame = {
    val hist = historyFps.select(col(fpCol).as("_hist_fp")).distinct()
    stream
      .withWatermark(eventTimeCol, watermarkDelay)
      .join(hist, col(fpCol) === col("_hist_fp"), "left_outer")
      .where(col("_hist_fp").isNull)
      .drop("_hist_fp")
      .dropDuplicatesWithinWatermark(fpCol)
  }

  /** Streaming benchmark decontamination (st19): flag stream docs
    * sharing any word-3-gram shingle with a static held-out set — the
    * streaming face of d9's bloom path for continuous ingest. The
    * bench set is folded ONCE, at stream definition, into a bloom
    * sketch (Spark's BloomFilterAggregate over xxhash64 of each
    * distinct shingle, ~1.2 bytes/item); each micro-batch then runs a
    * pure map-side `exists(shingles, might_contain)` — no join, no
    * state, no shuffle, so throughput is scan-bound however large the
    * bench set grows.
    *
    * Unlike batch d9 there is no exact verify join (that would need
    * the bench strings shuffled against every batch), so `contaminated`
    * is CONSERVATIVE: false positives at the sketch's fpp (vanishing
    * when `estimatedShingles` overshoots the true count), never false
    * negatives. Route flagged docs to a quarantine sink and re-check
    * them in batch with d6/d9 — the pipeline shape this is for.
    */
  def decontaminate(
      stream: DataFrame, textCol: String,
      bench: DataFrame, benchTextCol: String,
      estimatedShingles: Long = 1L << 20): DataFrame = {
    import graft.functions.{TextFunctions => T}
    graft.GraftSession.ensureRegistered(stream.sparkSession)
    // one driver-side fold at definition time: streaming queries
    // cannot re-plan a scalar subquery per batch, and the sketch is
    // the distilled STATIC side — small (bits), immutable, broadcast
    // with the task closure like any literal
    val sketch: Array[Byte] = bench
      .select(explode(T.wordShingles(T.tokens(col(benchTextCol)))).as("s"))
      .distinct()
      .agg(expr(s"graft_bloom_agg(xxhash64(s), ${estimatedShingles}L)").as("bf"))
      .head().getAs[Array[Byte]]("bf")
    if (sketch == null) // empty bench: nothing can be contaminated
      stream.withColumn("contaminated", lit(false))
    else stream.withColumn("contaminated",
      exists(T.wordShingles(T.tokens(col(textCol))),
        s => call_function("graft_might_contain", lit(sketch), xxhash64(s))))
  }

  /** Watermarked stream-stream interval join: left rows meet right
    * rows with the same `key` whose event time falls in
    * [left - lookback, left]. Both sides carry watermarks, so join
    * state is bounded: Spark evicts right-side state older than
    * `watermark + lookback` — the stream twin of RangeJoin.bandJoin
    * with an equi key.
    */
  def joinWithin(
      left: DataFrame, right: DataFrame, key: String,
      lookbackMs: Long, watermarkDelay: String): DataFrame = {
    val l = left
      .withColumn("l_time", timestamp_millis(col("timestamp_ms")))
      .withWatermark("l_time", watermarkDelay)
    val r = right
      .select(col(key), col("timestamp_ms").as("r_ts_ms"))
      .withColumn("r_time", timestamp_millis(col("r_ts_ms")))
      .withWatermark("r_time", watermarkDelay)
    l.join(r,
      l(key) === r(key) &&
        col("r_time") >= col("l_time") - expr(s"INTERVAL $lookbackMs MILLISECONDS") &&
        col("r_time") <= col("l_time"))
      .drop(r(key))
  }

  /** Left-outer variant of [[joinWithin]]: unmatched left rows emit
    * null-padded once the watermark passes their last possible match
    * time — the streaming twin of a batch left join. State stays
    * bounded exactly as in the inner form; the time bounds on BOTH
    * event-time columns are what make outer emission (equivalently,
    * state eviction with a verdict) decidable. Rows younger than the
    * final watermark remain in state, matching the unbounded-stream
    * contract.
    */
  def joinWithinOuter(
      left: DataFrame, right: DataFrame, key: String,
      lookbackMs: Long, watermarkDelay: String): DataFrame = {
    val l = left
      .withColumn("l_time", timestamp_millis(col("timestamp_ms")))
      .withWatermark("l_time", watermarkDelay)
    val r = right
      .select(col(key), col("timestamp_ms").as("r_ts_ms"))
      .withColumn("r_time", timestamp_millis(col("r_ts_ms")))
      .withWatermark("r_time", watermarkDelay)
    l.join(r,
      l(key) === r(key) &&
        col("r_time") >= col("l_time") - expr(s"INTERVAL $lookbackMs MILLISECONDS") &&
        col("r_time") <= col("l_time"),
      "left_outer")
      .drop(r(key))
  }

  /** One-shot drain: run the streaming pipeline with
    * Trigger.AvailableNow — process everything the source has at
    * start, then terminate on its own. The Spark twin of the
    * reference reader's terminate-when-caught-up loop (it stops when
    * every shard reports MillisBehindLatest == 0,
    * kinesis_logs_reader.py:99-106); here "caught up" is the source's
    * available-offsets snapshot, checkpointed across restarts.
    * `configure` attaches the sink; returns true iff the query
    * stopped by itself within `timeoutMs`.
    */
  def drainAvailable[T](
      ds: Dataset[T],
      configure: DataStreamWriter[T] => DataStreamWriter[T],
      timeoutMs: Long = 300000L): Boolean = {
    val q = configure(ds.writeStream.trigger(Trigger.AvailableNow())).start()
    try q.awaitTermination(timeoutMs)
    finally if (q.isActive) q.stop()
  }

  /** Attach to a record directory at the stream TAIL — the twin of
    * the reference's default LATEST iterator (no start_time ⇒ only
    * records that land after attach are read;
    * kinesis_logs_reader.py:60-68). File-source realization: snapshot
    * the file names present at attach time and exclude them from the
    * stream — exact (name-based, no mtime races). A native Kinesis
    * connector expresses the same as startingPosition=LATEST for
    * free; with the file source the excluded files are still listed
    * and row-group-pruned, so this is tail *semantics*, not a seek —
    * acceptable because the snapshot is the backlog at attach, not
    * the stream's lifetime history.
    *
    * The exclusion is a stream-static anti-join (left-outer against
    * the broadcast snapshot + null filter — Spark does not support
    * stream-static left_anti directly), NOT an `isin` over file-name
    * literals: a 100k-file backlog would otherwise become a
    * 100k-literal In expression in every micro-batch's plan.
    */
  def attachLatest(
      spark: SparkSession, path: String, schema: StructType): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val existing: Seq[String] =
      if (fs.exists(p)) fs.listStatus(p).filter(_.isFile).map(_.getPath.getName).toSeq
      else Seq.empty
    val base = spark.readStream.schema(schema).parquet(path)
    if (existing.isEmpty) base
    else {
      import spark.implicits._
      val snapshot = broadcast(existing.toDF("_snapshot_file"))
      base
        .withColumn("_file", substring_index(input_file_name(), "/", -1))
        .join(snapshot, col("_file") === col("_snapshot_file"), "left_outer")
        .where(col("_snapshot_file").isNull)
        .drop("_file", "_snapshot_file")
    }
  }

  /** The one streaming sink: run `writer` on every micro-batch of
    * `stream` (foreachBatch) with progress checkpointed at
    * `checkpoint`. foreachBatch is at-least-once — a restart between
    * the write and the offset commit re-delivers the batch under the
    * same id — so every writer must make a replay harmless: the
    * `…BatchWriter`s below by batch-id-partitioned overwrite or an
    * atomic batch marker, the lake gates by content (a fully-landed
    * batch re-gates to zero admits against the index it extended).
    * Output mode is Spark's default append: the sinks consume
    * stateless streams, for which update ≡ append.
    *
    * The lake gates and the CDC merge need no wrapper of their own;
    * the writer calls them on the batch, e.g. st35:
    * {{{
    * LogStream.startBatchSink(docs, ckpt) { (batch, _) =>
    *   Dedup.indexedIngest(batch.sparkSession, dataPath, indexPath, batch, "text", "doc_id")
    * }
    * }}}
    * and likewise st38 `Dedup.lineGatedIngest`, st36
    * `BinaryOps.chunkGatedIngest`, st40 `BinaryOps.frameGatedIngest`,
    * st43 `Similarity.embedGatedIngest` (each commits nothing on an
    * empty batch; replay and crash-window semantics as documented on
    * [[graft.operators.Dedup.indexedIngest]]), and the streaming CDC
    * apply `ParquetLake.mergeManifested`, content-idempotent on replay.
    */
  def startBatchSink(stream: DataFrame, checkpoint: String)(
      writer: (DataFrame, Long) => Unit): StreamingQuery =
    stream.writeStream
      .foreachBatch(writer)
      .option("checkpointLocation", checkpoint)
      .start()

  /** Batch writer for [[startIdempotentSink]]: batch `id` lands in a
    * `batch_id=id` partition under dynamic partition overwrite, so a
    * REPLAYED batch overwrites its own previous output instead of
    * appending duplicates. Exactly-once by idempotence, the standard
    * foreachBatch pattern for sinks without transactional commit.
    * Dynamic mode is a per-write option, so the caller's session conf
    * (static by default) stays untouched.
    */
  def idempotentBatchWriter(path: String): (DataFrame, Long) => Unit =
    (batch: DataFrame, id: Long) =>
      batch.withColumn("batch_id", lit(id))
        .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id").parquet(path)

  /** Start a stream into an idempotent batch-partitioned parquet
    * sink (see [[idempotentBatchWriter]]).
    */
  def startIdempotentSink(
      flat: DataFrame, path: String, checkpoint: String): StreamingQuery =
    startBatchSink(flat, checkpoint)(idempotentBatchWriter(path))

  /** Batch body for [[startMatviewSink]], factored out so specs can
    * drive replay directly: land the micro-batch in the manifested
    * lake, then bring the lk45 matview up to the new head (the
    * refresh takes the INCREMENTAL path — the batch's own files are
    * the whole manifest diff, so per-batch rollup cost ∝ batch, never
    * lake size). Replay idempotence comes from a `stream_batch`
    * marker committed ATOMICALLY with the append in the manifest
    * header: a re-delivered batch (foreachBatch is at-least-once)
    * finds a retained manifest already carrying its id and appends
    * nothing — no crash window between data and marker, unlike the
    * two-commit index-gated sinks. Single-ingest-writer like all lake
    * sinks; the marker scan is the retained-manifest listing
    * (driver-side, bounded by vacuum retention — retention must
    * cover at least the sink's restart gap, the st22 vacuum caveat).
    *
    * The marker is NAMESPACED by `sinkId` (`stream_batch_<sinkId>`,
    * derived from the checkpoint path in [[startMatviewSink]]): batch
    * ids restart at 0 with a fresh checkpoint, so an un-namespaced
    * high-water check against a lake whose markers came from an older
    * checkpoint would silently skip every new batch — data loss with
    * no error. A NEW checkpoint location gets a new namespace and
    * appends from scratch; DELETING and recreating a checkpoint at
    * the SAME path reuses the namespace and is therefore not
    * supported against a non-empty lake (start a fresh lake or a
    * fresh checkpoint path instead).
    */
  def matviewBatchWriter(
      dataPath: String, name: String, keys: Seq[String],
      measures: Seq[String], partCol: Option[String],
      sinkId: String = "default")
      : (DataFrame, Long) => Unit =
    (batch: DataFrame, id: Long) => {
      if (!batch.isEmpty) {
        val spark = batch.sparkSession
        import graft.sources.ParquetLake
        val marker = s"stream_batch_$sinkId"
        // Also honor the pre-namespacing legacy key: a checkpoint that
        // started before markers were namespaced resumes against a
        // lake whose high-water mark lives under plain `stream_batch`;
        // ignoring it would re-append the at-least-once replayed last
        // micro-batch — exactly the duplication this marker exists to
        // prevent. Taking the max of both keys is safe: the legacy key
        // was written by a single un-namespaced sink, so its ids share
        // this checkpoint's numbering (a FRESH checkpoint against a
        // legacy lake is the already-unsupported delete-and-recreate
        // case documented above).
        val landed = ParquetLake.manifestLog(spark, dataPath).map(_._1)
          .flatMap { v =>
            val hs = ParquetLake.manifestHeaders(spark, dataPath, Some(v))
            hs.get(marker).toSeq ++ hs.get("stream_batch").toSeq
          }.map(_.toLong)
        if (!landed.exists(_ >= id)) {
          val stage = s"st39_$id"
          ParquetLake.stageAppend(spark, dataPath, batch, stage, partCol)
          ParquetLake.publishStaged(spark, dataPath, stage,
            headers = Map(marker -> id.toString))
        }
        ParquetLake.matviewRefresh(spark, dataPath, name, keys, measures)
        ()
      }
    }

  /** st39: continuous lake ingest with a LIVE rollup — lk45's
    * incremental matview maintained per micro-batch, so the
    * corpus-wide count/sum/min/max report (token mass per source,
    * revenue per type, ...) is always current WITHOUT a nightly
    * full-scan job: each batch pays one append commit plus a
    * group-sized merge over exactly its own files. Readers get the
    * rollup from [[graft.sources.ParquetLake.matviewRead]] — never
    * touching the fact data — with the reflected lake version pinned
    * for staleness probes. Replay/crash semantics documented on
    * [[matviewBatchWriter]] (atomic batch marker — strictly stronger
    * than the index-gated sinks' two-commit window).
    */
  def startMatviewSink(
      rows: DataFrame, dataPath: String, name: String, keys: Seq[String],
      measures: Seq[String], checkpoint: String,
      partCol: Option[String] = None): StreamingQuery =
    startBatchSink(rows, checkpoint)(matviewBatchWriter(
      dataPath, name, keys, measures, partCol, matviewSinkId(checkpoint)))

  /** Deterministic per-checkpoint marker namespace for
    * [[matviewBatchWriter]]: the same checkpoint path resumes its own
    * `stream_batch_<id>` line; a different checkpoint path starts a
    * fresh namespace (and therefore appends from batch 0 without
    * being masked by an older sink's high-water marks).
    */
  def matviewSinkId(checkpoint: String): String =
    java.util.UUID.nameUUIDFromBytes(
      checkpoint.getBytes("UTF-8")).toString.take(8)

  /** st24: streaming quality-gate admission — every incoming document
    * is scored by the ROW-LOCAL Gopher flags
    * ([[graft.functions.TextFunctions.qualityFlags]]: no explode, no
    * shuffle, pure codegen'd array expressions — a map-only pass per
    * micro-batch) and routed to the pass or quarantine sink. Both
    * routes are [[idempotentBatchWriter]]s, so a replayed batch id
    * rewrites both partitions with the same rows. The flags flatten
    * onto quarantine rows so triage sees WHICH rule rejected each
    * doc; pass rows keep the input schema for the training pipeline.
    * Batch-vs-stream flag parity with t17 is spec-pinned (TextOpsSpec
    * / StreamingSpec).
    */
  def qualityGateBatchWriter(
      textCol: String, passPath: String, quarantinePath: String)
      : (DataFrame, Long) => Unit =
    (batch: DataFrame, id: Long) => {
      // scoring is map-only, so computing it once per route is
      // cheaper than caching the scored batch
      val scored = batch.withColumn("__q",
        graft.functions.TextFunctions.qualityFlags(col(textCol)))
      idempotentBatchWriter(passPath)(
        scored.where(col("__q.pass") === 1L).drop("__q"), id)
      idempotentBatchWriter(quarantinePath)(
        scored.where(col("__q.pass") =!= 1L)
          .select(col("*"), col("__q.*")).drop("__q"), id)
    }

  /** st37: streaming image-admission gate — every incoming blob's
    * container header is sniffed by the native
    * [[graft.functions.imageMeta]] expression (format + pixel dims
    * from header bytes only — map-only, no decode, no shuffle, cost
    * independent of payload size) and routed: parseable images whose
    * dimensions fall inside [minDim, maxDim] admit; everything else
    * (non-image bytes, truncated containers, out-of-range dims) goes
    * to the reject sink with its sniffed metadata flattened on for
    * triage. The m11 parser's never-throw contract is what makes this
    * safe as a FRONT gate: one corrupt blob must not kill the ingest
    * query. Exactly-once via two [[idempotentBatchWriter]] routes,
    * same as the text quality gate st24.
    */
  def imageGateBatchWriter(
      binCol: String, passPath: String, rejectPath: String,
      minDim: Int = 1, maxDim: Int = 1 << 20)
      : (DataFrame, Long) => Unit =
    (batch: DataFrame, id: Long) => {
      val sniffed = batch.withColumn("__m",
        graft.functions.imageMeta(col(binCol)))
      val ok = col("__m.format") =!= "raw" &&
        col("__m.width").isNotNull && col("__m.height").isNotNull &&
        col("__m.width").between(minDim, maxDim) &&
        col("__m.height").between(minDim, maxDim)
      idempotentBatchWriter(passPath)(
        sniffed.where(ok)
          .withColumn("format", col("__m.format"))
          .withColumn("width", col("__m.width"))
          .withColumn("height", col("__m.height"))
          .drop("__m"), id)
      idempotentBatchWriter(rejectPath)(
        sniffed.where(!ok).select(col("*"), col("__m.*")).drop("__m"), id)
    }

  /** st28: streaming PII scrub at the ingest gate — every incoming
    * row's text column is rewritten through the SAME row-local
    * expression the batch pipeline uses
    * ([[graft.functions.TextFunctions.piiScrub]]: emails and IPv4
    * literals → placeholders), with per-row match counts kept as
    * audit columns. Stateless and map-only per micro-batch (no
    * shuffle, no state store — cost bounded by row text length), so a
    * doc scrubs byte-identically whether it arrives by batch (t8),
    * stream, or replay — which is what lets the privacy audit reason
    * about ONE transform instead of two. Scrubbing at ingest matters
    * at 100 TB: PII that reaches the lake is copied into every
    * downstream snapshot, shard export, and checkpoint; here it never
    * lands. Exactly-once from [[idempotentBatchWriter]] (st12).
    */
  def piiScrubBatchWriter(textCol: String, outPath: String)
      : (DataFrame, Long) => Unit =
    (batch: DataFrame, id: Long) =>
      idempotentBatchWriter(outPath)(batch
        .withColumn("__p", graft.functions.TextFunctions.piiScrub(col(textCol)))
        .withColumn(textCol, col("__p.scrubbed"))
        .withColumn("n_emails", col("__p.n_emails"))
        .withColumn("n_ips", col("__p.n_ips"))
        .drop("__p"), id)

  /** st21: streaming enrichment against a VERSIONED dimension — each
    * micro-batch broadcast-joins the manifested lake's snapshot that
    * is CURRENT when the batch processes (re-resolved per batch), and
    * stamps the dim version it used. This is the feature-store /
    * slowly-changing-dimension shape: a long-running ingest picks up
    * dimension refreshes (published as manifest commits by a
    * concurrent batch job, atomically — lk15/lk19) without restart,
    * and every output row records which snapshot enriched it, so any
    * row is replayable bit-exactly with readManifested(version).
    *
    * The dim read per batch is manifest-gated (never a torn
    * mid-maintenance directory listing) and broadcast-joined
    * (dim-sized). Exactly-once inherits [[idempotentBatchWriter]]. */
  def enrichManifestedBatchWriter(
      dimLake: String, usingColumns: Seq[String], outPath: String)
      : (DataFrame, Long) => Unit =
    (batch: DataFrame, id: Long) =>
      if (!batch.isEmpty) {
        val spark = batch.sparkSession
        val log = graft.sources.ParquetLake.manifestLog(spark, dimLake)
        require(log.nonEmpty, s"no committed manifest under $dimLake")
        val v = log.last._1
        val dim = graft.sources.ParquetLake.readManifested(spark, dimLake, Some(v))
        val enriched = batch.join(broadcast(dim), usingColumns, "left")
          .withColumn("dim_version", lit(v))
        idempotentBatchWriter(outPath)(enriched, id)
      }

  /** st22: read-side stream-static enrichment against a PINNED
    * manifested-lake snapshot — the plain-streaming-query twin of
    * st21's per-batch foreachBatch refresh, usable anywhere a
    * DataFrame transform is (downstream aggregations, watermarks,
    * any sink).
    *
    * Snapshot-pinning semantics: the dim snapshot is resolved ONCE,
    * here, at plan time — readManifested fixes the exact file set of
    * `version` (latest committed if None), so every micro-batch for
    * the query's lifetime joins the SAME snapshot. A concurrent lake
    * commit is therefore fully invisible to a running query (never
    * torn, never half-old-half-new within or across batches), and
    * upgrading is an atomic restart: stop, call again (re-resolving
    * latest), start. Pick this when per-row reproducibility across a
    * run matters more than freshness; pick st21 when each batch must
    * see the newest published dim. The stamped `dim_version` makes
    * the pin auditable per row either way.
    *
    * The dim side is broadcast (dim-sized by contract, like st21);
    * vacuum retention must cover the longest-running query's
    * lifetime, or pin the version with a manifest tag (lk22) so
    * maintenance cannot age out files a live query still reads.
    */
  def enrichManifestedPinned(
      stream: DataFrame, dimLake: String, usingColumns: Seq[String],
      version: Option[Int] = None): DataFrame = {
    val spark = stream.sparkSession
    val log = graft.sources.ParquetLake.manifestLog(spark, dimLake)
    require(log.nonEmpty, s"no committed manifest under $dimLake")
    val v = version.getOrElse(log.last._1)
    val dim = graft.sources.ParquetLake.readManifested(spark, dimLake, Some(v))
    stream.join(broadcast(dim), usingColumns, "left")
      .withColumn("dim_version", lit(v))
  }

  /** st23: streaming consumption of the lake's row-level change feed —
    * CDC-as-a-source, the consumer side of [[graft.sources.ParquetLake
    * .changeFeed]]. Each micro-batch of a ticking stream (a rate
    * source, or the ingest stream itself) advances a cursor over the
    * lake's committed manifest versions: for every version newer than
    * the cursor, the row-level feed from its retained predecessor is
    * computed (churn-bounded — only files added/removed by that
    * commit are scanned) and written to `outPath/version=<v>/`,
    * stamped `_commit_version`. The tick batch's rows are not read.
    *
    * The cursor IS the sink: a version counts as consumed when its
    * directory holds a `_SUCCESS` marker, so restarts (or a crash
    * mid-write) resume exactly where the output left off and re-emit
    * atomically — per-version overwrite makes redelivery idempotent,
    * the same contract as [[idempotentBatchWriter]] with the manifest
    * version as the batch id. The FIRST retained version is the
    * baseline snapshot and is not emitted as inserts; downstream
    * bootstraps from `readManifested(firstVersion)` and then follows
    * the feed — together they reconstruct every retained snapshot.
    * Vacuum retention must cover the consumer's lag (lk22 tags pin
    * versions a slow consumer still needs).
    */
  def changeFeedBatchWriter(
      lakeDir: String, keyCols: Seq[String], outPath: String)
      : (DataFrame, Long) => Unit =
    (batch: DataFrame, _: Long) => {
      val spark = batch.sparkSession
      val versions = graft.sources.ParquetLake.manifestLog(spark, lakeDir).map(_._1)
      if (versions.nonEmpty) {
        val out = new org.apache.hadoop.fs.Path(outPath)
        val fs = out.getFileSystem(spark.sessionState.newHadoopConf())
        val done =
          if (!fs.exists(out)) Seq.empty
          else fs.listStatus(out).toSeq
            .filter(s => s.isDirectory && s.getPath.getName.startsWith("version=") &&
              fs.exists(new org.apache.hadoop.fs.Path(s.getPath, "_SUCCESS")))
            .map(_.getPath.getName.stripPrefix("version=").toInt)
        val cursor = if (done.isEmpty) versions.head else done.max
        versions.sliding(2).foreach {
          case Seq(prev, v) if v > cursor =>
            graft.sources.ParquetLake.changeFeed(spark, lakeDir, prev, keyCols, Some(v))
              .withColumn("_commit_version", lit(v))
              .write.mode("overwrite").parquet(s"$outPath/version=$v")
          case _ => ()
        }
      }
    }

  case class AsOfIn(userId: Long, tsNs: Long, side: Int, id: Long)
  case class LatestRight(tsNs: Long, id: Long)
  case class AsOfOut(userId: Long, tsNs: Long, eventId: Long, lastRightId: Option[Long])

  case class ValueIn(userId: Long, tsNs: Long, value: Double)
  case class KmvIn(key: String, element: Long)
  case class KmvState(hashes: Array[Long])
  case class KmvOut(key: String, nKept: Int, estDistinct: Double, exact: Boolean)
  case class EwmaIn(userId: Long, tsMs: Long, eventId: Long, value: Double)
  case class EwmaState(t0: Long, lastTs: Long, acc: Double, n: Long)
  case class EwmaOut(userId: Long, lastTsMs: Long, nEvents: Long, score: Double)
  case class TransIn(userId: Long, tsNs: Long, eventId: Long, eventType: String)
  case class TransState(lastType: String)
  case class TransOut(userId: Long, fromType: String, toType: String)
  case class DriftIn(label: Int, vec: Array[Float])
  case class DriftState(sum: Array[Double], n: Long)
  case class DriftOut(label: Int, n: Long, centroidCos: Double, drifted: Boolean)
  case class FfillIn(
      userId: Long, tsMs: Long, eventId: Long, value: Double,
      heartbeat: Boolean)
  case class FfillState(
      bNext: Long, hasVal: Boolean, value: Double,
      hasCur: Boolean, curT: Long, curId: Long, curVal: Double)
  case class FfillOut(
      userId: Long, gridMs: Long, valueFfill: java.lang.Double)
  case class FunnelIn(userId: Long, tsNs: Long, eventType: String)
  case class FunnelState(t0: Long, converted: Boolean)
  case class FunnelOut(userId: Long, dayIdx: Long, converted: Boolean)
  case class TrendIn(key: String, tsMs: Long, value: Double)
  case class TrendState(n: Long, mx: Double, my: Double, m2x: Double, m2y: Double, cxy: Double)
  case class TrendOut(key: String, n: Long, slope: Double, interceptAtEpoch: Double, r2: Double)
  case class WelfordState(n: Long, mean: Double, m2: Double)
  case class AnomalyOut(
      userId: Long, tsNs: Long, value: Double, nSeen: Long,
      zscore: Double, anomalous: Boolean)

  case class EventIn(userId: Long, tsNs: Long)
  case class SessionOut(userId: Long, startMs: Long, endMs: Long, nEvents: Long)
  case class OpenSession(startNs: Long, endNs: Long, n: Long)
  case class TimedEventIn(userId: Long, tsNs: Long, eventTime: java.sql.Timestamp)

  /** Merge a batch of event times into gap-delimited sessions,
    * folding in the open session carried in state. Standard interval
    * sweep over items ordered by start: an item within `gapNs` of the
    * current interval extends it with endNs = max(end, t) and
    * startNs = min(start, t) — an out-of-order event admitted by the
    * watermark can therefore never move a session end BACKWARDS, and
    * an event earlier than (start - gap) forms its own, separately
    * emitted, session. Returns merged intervals in time order; the
    * last one is the open tail.
    */
  private def mergeSessions(
      times: Array[Long], open: Option[OpenSession], gapNs: Long): Seq[OpenSession] = {
    val items = (times.map(t => OpenSession(t, t, 1)) ++ open.toSeq)
      .sortBy(iv => (iv.startNs, iv.endNs))
    val out = scala.collection.mutable.ArrayBuffer.empty[OpenSession]
    items.foreach { iv =>
      out.lastOption match {
        case Some(c) if iv.startNs <= c.endNs + gapNs =>
          out(out.length - 1) =
            OpenSession(c.startNs, math.max(c.endNs, iv.endNs), c.n + iv.n)
        case _ => out += iv
      }
    }
    out.toSeq
  }

  /** Like [[sessionize]] but with event-time expiry: a session idle
    * past the watermark is emitted and its state removed, instead of
    * the open tail lingering per user forever. This is the
    * production-correct variant — state size is bounded by *active*
    * users, and every session is eventually emitted exactly once.
    * Input must carry `withWatermark` on `eventTime`.
    */
  def sessionizeExpiring(events: Dataset[TimedEventIn], gapNs: Long): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val gapMs = gapNs / 1000000L
    events
      .groupByKey(_.userId)
      .flatMapGroupsWithState[OpenSession, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, it: Iterator[TimedEventIn], state: GroupState[OpenSession]) =>
          if (state.hasTimedOut) {
            val expired = state.getOption.map(s =>
              SessionOut(uid, s.startNs / 1000000L, s.endNs / 1000000L, s.n)).iterator
            state.remove()
            expired
          } else {
            val merged = mergeSessions(
              it.map(_.tsNs).toArray.sorted, state.getOption, gapNs)
            val closed = merged.dropRight(1).map(s =>
              SessionOut(uid, s.startNs / 1000000L, s.endNs / 1000000L, s.n))
            merged.lastOption.foreach { s =>
              state.update(s)
              // expire once the watermark passes the session's gap
              // horizon (must be set strictly beyond current watermark)
              state.setTimeoutTimestamp(
                math.max(s.endNs / 1000000L + gapMs, state.getCurrentWatermarkMs + 1))
            }
            closed.iterator
          }
      }
  }

  case class IntervalIn(
      userId: Long, startMs: Long, endMs: Long,
      eventTime: java.sql.Timestamp)
  case class IslandOut(
      userId: Long, coverStartMs: Long, coverEndMs: Long, nIntervals: Long)
  case class OpenIsland(startMs: Long, endMs: Long, n: Long)
  case class OpenIslands(islands: Seq[OpenIsland])

  /** st29: streaming interval-union islands — batch q51's stateful
    * twin. Each event carries its OWN varying-length interval
    * [startMs, endMs); overlapping intervals per key coalesce into
    * coverage islands, which fixed-gap sessionization cannot express
    * (a short interval inside a long one must not split the island —
    * the merge needs the island's running max end, and that is
    * exactly what the state carries per island). An island is emitted
    * only once its end falls BELOW the current watermark: `eventTime`
    * is the interval's start, so an island is extendable only by an
    * event whose start ≤ island end, and once the watermark passes
    * the island's end every such event is late-dropped — emission at
    * `endMs < watermark` is exact, not heuristic. Islands whose end
    * is still at/above the watermark stay in state EVEN IF a later
    * disjoint island has opened behind them (emitting the earlier one
    * immediately would diverge from batch when an admissible
    * straddling interval later bridges the two), so the state is a
    * LIST of open islands — bounded by the number of disjoint islands
    * inside one watermark delay, not by stream length. The event-time
    * timeout at the earliest open end+1 drains the tail. Interval
    * union is order-insensitive, so out-of-order arrivals within the
    * watermark land in the same islands the batch window computes.
    */
  def intervalUnionExpiring(iv: Dataset[IntervalIn]): Dataset[IslandOut] = {
    import iv.sparkSession.implicits._
    // split islands into (emittable-now, still-open) against the
    // watermark, then persist/emit: shared by the data and timeout
    // paths so both apply the identical closing rule
    def settle(uid: Long, islands: Seq[OpenIsland],
        state: GroupState[OpenIslands]): Iterator[IslandOut] = {
      val wm = state.getCurrentWatermarkMs
      val (closed, open) = islands.partition(_.endMs < wm)
      if (open.isEmpty) state.remove()
      else {
        state.update(OpenIslands(open))
        state.setTimeoutTimestamp(
          math.max(open.map(_.endMs).min + 1, wm + 1))
      }
      closed.map(s => IslandOut(uid, s.startMs, s.endMs, s.n)).iterator
    }
    iv.groupByKey(_.userId)
      .flatMapGroupsWithState[OpenIslands, IslandOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, it: Iterator[IntervalIn], state: GroupState[OpenIslands]) =>
          if (state.hasTimedOut) {
            val held = state.getOption.map(_.islands).getOrElse(Nil)
            settle(uid, held, state)
          } else {
            val items =
              (it.map(e => OpenIsland(e.startMs, e.endMs, 1L)).toSeq ++
                state.getOption.map(_.islands).getOrElse(Nil))
                .sortBy(s => (s.startMs, s.endMs))
            val out = scala.collection.mutable.ArrayBuffer.empty[OpenIsland]
            items.foreach { s =>
              out.lastOption match {
                case Some(c) if s.startMs <= c.endMs =>
                  out(out.length - 1) =
                    OpenIsland(c.startMs, math.max(c.endMs, s.endMs), c.n + s.n)
                case _ => out += s
              }
            }
            settle(uid, out.toSeq, state)
          }
      }
  }

  /** Stateful gap sessionization: closed sessions are emitted, the
    * open tail lives in group state (bounded per key). The streaming
    * twin of the batch q8_sessionize window query.
    */
  def sessionize(events: Dataset[EventIn], gapNs: Long): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.userId)
      .flatMapGroupsWithState[OpenSession, SessionOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[EventIn], state: GroupState[OpenSession]) =>
          val merged = mergeSessions(
            it.map(_.tsNs).toArray.sorted, state.getOption, gapNs)
          val closed = merged.dropRight(1).map(s =>
            SessionOut(uid, s.startNs / 1000000L, s.endNs / 1000000L, s.n))
          merged.lastOption.foreach(state.update)
          closed.iterator
      }
  }

  /** st27: streaming deterministic mixture sampling — the continuous
    * face of the batch t7 gate: each row keeps iff its id's md5
    * bucket (0–99) falls under `keepPct` (any per-row expression —
    * per-source weights, quality-tiered rates). Stateless and
    * map-side: no RNG, no state store, no shuffle — a doc meets the
    * same fate in a batch job, a streaming gate, or a replay, which
    * is what makes downstream mixture ratios reproducible when the
    * same corpus arrives through different paths.
    */
  def mixtureSample(df: DataFrame, idCol: String, keepPct: Column): DataFrame =
    df.where(
      conv(substring(md5(col(idCol).cast("string")), 1, 7), 16, 10)
        .cast("long") % 100 < keepPct)

  /** st26: streaming as-of enrichment — the stateful latest-value
    * join, q13's streaming twin: probe events (side 1) and reference
    * updates (side 0) arrive as ONE keyed stream, each key's state is
    * the single latest reference row seen, and every probe emits with
    * the reference value current as of its time (equal timestamps:
    * reference first, ties to the max id — exactly
    * AsOfJoin.lastBefore's reduction). The feature-store lookup shape:
    * state per key is O(1) — one (ts, id) pair — not a buffered
    * window of history, so total state is bounded by the keyspace the
    * way st5's broadcast dim never is by a CHANGING dimension.
    *
    * Determinism contract (st25's): batch-local event-time sort,
    * batches in arrival order — exact replay under per-key
    * time-ordered delivery, and running the SAME operator on the
    * static union is the batch twin (the spec pins it to
    * q13_asof_join's output row-for-row).
    */
  def streamAsOf(events: Dataset[AsOfIn]): Dataset[AsOfOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.userId)
      .flatMapGroupsWithState[LatestRight, AsOfOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[AsOfIn], state: GroupState[LatestRight]) =>
          var cur = state.getOption.orNull
          val out = scala.collection.mutable.ArrayBuffer.empty[AsOfOut]
          // reference (side 0) sorts before probes at equal ts →
          // inclusive as-of; equal-ts references resolve to max id
          it.toArray.sortBy(e => (e.tsNs, e.side, e.id)).foreach { e =>
            if (e.side == 0) {
              if (cur == null || e.tsNs > cur.tsNs ||
                  (e.tsNs == cur.tsNs && e.id >= cur.id))
                cur = LatestRight(e.tsNs, e.id)
            } else {
              out += AsOfOut(uid, e.tsNs, e.id, Option(cur).map(_.id))
            }
          }
          if (cur != null) state.update(cur)
          out.iterator
      }
  }

  /** st25: streaming per-key anomaly gate — online z-score flags via
    * Welford's one-pass mean/variance recurrence (Welford 1962; the
    * numerically-stable update Knuth TAOCP vol. 2 popularized). The
    * metric-QC admission check a continuous ingest runs on a value
    * column: each point is scored against its key's running
    * statistics BEFORE it folds in (a spike never dampens its own
    * flag), flagged when |z| ≥ `zThreshold` after a `minSeen` warmup.
    *
    * Scale shape: state per key is THREE numbers (n, mean, M2) — the
    * per-key state is O(1) in stream length, total state O(distinct
    * keys), and the only shuffle is the groupByKey on the key. No
    * window buffering, no value history.
    *
    * Determinism contract: the fold order is event order as
    * delivered (batch-local tsNs sort, batches in arrival order), so
    * replay is exact when per-key delivery is time-ordered across
    * batches — the ingest-gate shape. Running the SAME operator on a
    * static Dataset gives the exact batch twin (one "batch", one
    * sorted fold), which the spec pins streaming output against.
    */
  def anomalyFlags(
      events: Dataset[ValueIn], zThreshold: Double = 3.0,
      minSeen: Long = 10): Dataset[AnomalyOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.userId)
      .flatMapGroupsWithState[WelfordState, AnomalyOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[ValueIn], state: GroupState[WelfordState]) =>
          var st = state.getOption.getOrElse(WelfordState(0L, 0.0, 0.0))
          val out = it.toArray.sortBy(_.tsNs).map { e =>
            val sd = if (st.n >= 2) math.sqrt(st.m2 / (st.n - 1)) else 0.0
            val z = if (st.n >= minSeen && sd > 0) (e.value - st.mean) / sd else 0.0
            val flagged = st.n >= minSeen && sd > 0 && math.abs(z) >= zThreshold
            val n1 = st.n + 1
            val d = e.value - st.mean
            val mean1 = st.mean + d / n1
            st = WelfordState(n1, mean1, st.m2 + d * (e.value - mean1))
            AnomalyOut(uid, e.tsNs, e.value, st.n, z, flagged)
          }
          state.update(st)
          out.iterator
      }
  }

  /** st30: streaming KMV (bottom-k) distinct-count estimator — the
    * streaming twin of the batch `a9_kmv_distinct` row, sharing its
    * hash arithmetic (52-bit md5 prefix of the element's decimal
    * string) and estimate ((k-1)/u_k once k values are held; exact
    * below that). State per key is the ≤ k smallest DISTINCT hashes:
    * O(k) longs bounded for any stream length — against
    * dropDuplicates-based exact counting whose state grows without
    * bound with the distinct domain. Because min-k of a set is
    * ORDER-FREE, the final estimate is independent of batch
    * boundaries and arrival order: replaying the same rows in any
    * batching lands on the same state, and the last per-key emission
    * equals the batch operator's answer exactly (spec-pinned against
    * a9's oracle arithmetic). Emits each key's current estimate once
    * per micro-batch that delivered elements for it (Append mode).
    */
  def streamKmv(elements: Dataset[KmvIn], k: Int = 64): Dataset[KmvOut] = {
    import elements.sparkSession.implicits._
    elements
      .groupByKey(_.key)
      .flatMapGroupsWithState[KmvState, KmvOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: String, it: Iterator[KmvIn], state: GroupState[KmvState]) =>
          val cur = state.getOption.map(_.hashes).getOrElse(Array.empty[Long])
          val incoming = it.map(e => kmvHash52(e.element)).toArray
          val merged = (cur ++ incoming).distinct.sorted.take(k)
          state.update(KmvState(merged))
          Iterator.single(
            if (merged.length < k)
              KmvOut(key, merged.length, merged.length.toDouble, exact = true)
            else
              KmvOut(key, k,
                (k - 1).toDouble / (merged(k - 1).toDouble / 4503599627370496.0),
                exact = false))
      }
  }

  /** st31: streaming time-decayed EWMA activity score — q53's
    * stateful twin. State per key is FOUR numbers (t0, last ts, the
    * factored accumulator, count): the state carries the SAME
    * factored form as the batch window sum (acc = Σ v_j
    * e^{λ(t_j−t0)}, score = acc·e^{−λ(t_i−t0)}) rather than the
    * textbook recurrence s_i = s_{i-1}·e^{−λΔt} + v_i, because the
    * factored form's additions happen in the same order with the
    * same operands as q53's running window sum — making
    * streaming-vs-batch parity BIT-EXACT, not just
    * close-after-rounding. t0 (the key's first event) bounds the
    * exponent by the key's own time span, exactly as in batch.
    * Emits each key's score as of its latest event once per
    * delivering micro-batch; per-key time-ordered delivery across
    * batches is the replay contract (st25/st26's).
    */
  def streamEwma(
      events: Dataset[EwmaIn], halfLifeMs: Double = 7.0 * 86400000.0): Dataset[EwmaOut] = {
    import events.sparkSession.implicits._
    val ln2 = math.log(2.0)
    events
      .groupByKey(_.userId)
      .flatMapGroupsWithState[EwmaState, EwmaOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[EwmaIn], state: GroupState[EwmaState]) =>
          val batch = it.toArray.sortBy(e => (e.tsMs, e.eventId))
          var st = state.getOption.getOrElse(
            EwmaState(batch.head.tsMs, batch.head.tsMs, 0.0, 0L))
          batch.foreach { e =>
            st = EwmaState(st.t0, e.tsMs,
              st.acc + e.value * math.exp(ln2 * (e.tsMs - st.t0) / halfLifeMs),
              st.n + 1)
          }
          state.update(st)
          Iterator.single(EwmaOut(uid, st.lastTs, st.n,
            st.acc * math.exp(-ln2 * (st.lastTs - st.t0) / halfLifeMs)))
      }
  }

  /** st42: streaming time-bounded conversion funnel — q57's stateful
    * twin, and the live form of the attribution window: per-key state
    * is TWO scalars (the first click's ts, a converted latch). A user
    * emits an "entered" row the moment their first click lands
    * (keyed to the click's day — live funnel population) and at most
    * one "converted" row when the first purchase falls strictly
    * inside (t0, t0 + window] — so the conversion dashboard updates
    * within a micro-batch of the purchase, hours before the nightly
    * batch q57 would see it. Pure integer comparisons, so
    * streaming-vs-batch parity is exact: grouping the emitted rows by
    * day reproduces q57's (n_users, n_converted) identically.
    * Equal-timestamp purchases are excluded on both sides (strict >);
    * per-key time-ordered delivery across batches is the replay
    * contract (st25/st26/st31's).
    */
  def streamFunnel(
      events: Dataset[FunnelIn],
      windowNs: Long = 3600L * 1000 * 1000 * 1000): Dataset[FunnelOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.userId)
      .flatMapGroupsWithState[FunnelState, FunnelOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[FunnelIn], state: GroupState[FunnelState]) =>
          var st = state.getOption.getOrElse(FunnelState(-1L, converted = false))
          val out = scala.collection.mutable.ArrayBuffer.empty[FunnelOut]
          it.toArray.sortBy(_.tsNs).foreach { e =>
            if (e.eventType == "click" && st.t0 < 0) {
              st = st.copy(t0 = e.tsNs)
              out += FunnelOut(uid, e.tsNs / 86400000000000L, converted = false)
            } else if (e.eventType == "purchase" && st.t0 >= 0 &&
                !st.converted && e.tsNs > st.t0 && e.tsNs <= st.t0 + windowNs) {
              st = st.copy(converted = true)
              out += FunnelOut(uid, st.t0 / 86400000000000L, converted = true)
            }
          }
          state.update(st)
          out.iterator
      }
  }

  /** st41: streaming resample/forward-fill — q56's stateful twin.
    * Per-key state is three small scalars plus the open same-ms run:
    * the next unemitted grid bucket, the last FOLDED value (the
    * forward-fill carry), and the (ts, max event_id, value) of the
    * current millisecond's run — q56 collapses same-ms events with
    * max_by(value, event_id) BEFORE the fill, so the run must stay
    * open until time moves past it. A grid bucket b (grid time
    * b·step) emits exactly when an arrival proves no further input
    * can have ts ≤ b·step — i.e. the first event with ts > b·step —
    * carrying the value as of b·step (null before the key's first
    * event lands, exactly q56's unaligned-first-bucket null). The
    * fill itself does no arithmetic (it carries a value), so
    * streaming-vs-batch parity is bit-exact by construction.
    *
    * `heartbeat = true` rows are pure punctuation: they advance
    * emission (flushing every bucket with b·step < ts) without
    * contributing a value — the stream-side stand-in for "the day is
    * over" that a batch job gets for free from max(ts). To close a
    * key at exactly q56's last bucket, send its heartbeat at
    * (max_ts div step + 1)·step. A heartbeat arriving BEFORE a key's
    * first data row is ignored (no grid origin exists yet to flush
    * against — honoring it would pin the origin to the heartbeat's
    * bucket and emit null buckets q56 never produces). Per-key
    * time-ordered delivery across batches is the replay contract
    * (st25/st26/st31's).
    */
  def streamFfill(
      events: Dataset[FfillIn], stepMs: Long = 86400000L): Dataset[FfillOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.userId)
      .flatMapGroupsWithState[FfillState, FfillOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[FfillIn], state: GroupState[FfillState]) =>
          val batch = it.toArray.sortBy(e => (e.tsMs, e.eventId))
          val out = scala.collection.mutable.ArrayBuffer.empty[FfillOut]
          var st = state.getOption.orNull
          // Heartbeats before a key's grid origin exists are dropped:
          // a heartbeat arriving as the FIRST row would pin the origin
          // to ITS bucket, making later real events emit null-filled
          // buckets batch q56 never produces. Punctuation before data
          // is a no-op — there is nothing to flush yet. (batch is
          // time-sorted, so dropWhile removes exactly the heartbeats
          // preceding the first data row; with existing state nothing
          // is dropped.)
          val rows = if (st == null) batch.dropWhile(_.heartbeat) else batch
          rows.foreach { e =>
            if (st == null) {
              // first arrival pins the grid origin: bucket(min ts)
              st = FfillState(e.tsMs / stepMs, hasVal = false, 0.0,
                hasCur = false, 0L, 0L, 0.0)
            }
            // fold the open same-ms run once time moves past it; any
            // bucket whose grid time precedes the run sees the value
            // WITHOUT it (ts ≤ grid time is the fill predicate)
            if (st.hasCur && st.curT < e.tsMs) {
              var b = st.bNext
              while (b * stepMs < st.curT) {
                out += FfillOut(uid, b * stepMs,
                  if (st.hasVal) st.value else null)
                b += 1
              }
              st = FfillState(b, hasVal = true, st.curVal,
                hasCur = false, 0L, 0L, 0.0)
            }
            // buckets strictly below the arrival are final: emit them
            // with the carry (which now includes any run at their ts)
            var b = st.bNext
            while (b * stepMs < e.tsMs) {
              out += FfillOut(uid, b * stepMs,
                if (st.hasVal) st.value else null)
              b += 1
            }
            st = st.copy(bNext = b)
            if (!e.heartbeat) {
              // open/extend the same-ms run (max_by(value, event_id))
              st =
                if (st.hasCur && st.curT == e.tsMs) {
                  if (e.eventId > st.curId)
                    st.copy(curId = e.eventId, curVal = e.value)
                  else st
                } else st.copy(hasCur = true, curT = e.tsMs,
                  curId = e.eventId, curVal = e.value)
            }
          }
          if (st != null) state.update(st)
          out.iterator
      }
  }

  /** st32: streaming event-type transition tracker — q54's stateful
    * twin. State per key is ONE string (the last event type seen);
    * each arriving event emits its (from, to) transition, so the
    * downstream matrix is a plain streaming aggregation of the
    * emitted pairs. The spec pins the aggregated counts to the batch
    * q54 row exactly. Per-key time-ordered delivery across batches
    * is the replay contract (st25/st26's); within a batch events are
    * folded in (tsNs, eventId) order.
    */
  def streamTransitions(events: Dataset[TransIn]): Dataset[TransOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.userId)
      .flatMapGroupsWithState[TransState, TransOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[TransIn], state: GroupState[TransState]) =>
          var last = state.getOption.map(_.lastType).orNull
          val out = scala.collection.mutable.ArrayBuffer.empty[TransOut]
          it.toArray.sortBy(e => (e.tsNs, e.eventId)).foreach { e =>
            if (last != null) out += TransOut(uid, last, e.eventType)
            last = e.eventType
          }
          if (last != null) state.update(TransState(last))
          out.iterator
      }
  }

  /** st33: streaming embedding-drift gate — s16's online face: each
    * arriving vector folds into its label's RUNNING centroid sum
    * (state = one dim-length double array + count per label, O(dim)
    * regardless of stream length), and each delivering micro-batch
    * emits the cosine between the running centroid and a PINNED
    * per-label reference centroid (computed batch-side from a
    * trusted slice — label-count-sized, so a driver map is the right
    * carrier). `drifted` trips when the cosine falls below `minCos`
    * after `minSeen` vectors — the alarm that stops an
    * embedding-model change or poisoned shard from training before
    * the nightly batch report would catch it. Cosine is
    * scale-invariant, so sums are compared directly and the division
    * by n never happens.
    */
  def streamDrift(
      vecs: Dataset[DriftIn], reference: Map[Int, Array[Double]],
      minCos: Double = 0.8, minSeen: Long = 10): Dataset[DriftOut] = {
    import vecs.sparkSession.implicits._
    vecs
      .groupByKey(_.label)
      .flatMapGroupsWithState[DriftState, DriftOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (label: Int, it: Iterator[DriftIn], state: GroupState[DriftState]) =>
          var st = state.getOption.orNull
          it.foreach { e =>
            if (st == null) st = DriftState(new Array[Double](e.vec.length), 0L)
            var i = 0
            while (i < e.vec.length) { st.sum(i) += e.vec(i); i += 1 }
            st = DriftState(st.sum, st.n + 1)
          }
          state.update(st)
          val cos = reference.get(label).map { ref =>
            var dot = 0.0; var na = 0.0; var nb = 0.0
            var i = 0
            while (i < math.min(ref.length, st.sum.length)) {
              dot += ref(i) * st.sum(i); na += ref(i) * ref(i)
              nb += st.sum(i) * st.sum(i); i += 1
            }
            dot / (math.sqrt(na) * math.sqrt(nb))
          }.getOrElse(Double.NaN)
          Iterator.single(DriftOut(label, st.n, cos,
            st.n >= minSeen && !cos.isNaN && cos < minCos))
      }
  }

  /** st34: streaming OLS trend fit — q55's stateful twin. State per
    * key is SIX numbers (n, mean_x, mean_y, M2_x, M2_y, C_xy),
    * updated by the same Welford-style centered recurrences the
    * batch covar_pop/var_pop aggregates use — numerically stable for
    * any stream length, O(1) state. Each delivering micro-batch
    * emits the key's current slope/intercept/R²; the spec pins
    * finals to the oracle-checked batch row to 4 dp (bit-exactness
    * is not claimed: the batch aggregate merges partial moments in
    * partition order, the stream folds sequentially — same centered
    * algebra, different association). x is days since q55's pinned
    * epoch.
    */
  def streamTrend(points: Dataset[TrendIn]): Dataset[TrendOut] = {
    import points.sparkSession.implicits._
    val epochMs = 1704067200000L
    points
      .groupByKey(_.key)
      .flatMapGroupsWithState[TrendState, TrendOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: String, it: Iterator[TrendIn], state: GroupState[TrendState]) =>
          var st = state.getOption.getOrElse(
            TrendState(0L, 0.0, 0.0, 0.0, 0.0, 0.0))
          it.foreach { e =>
            val x = (e.tsMs - epochMs).toDouble / 86400000.0
            val n1 = st.n + 1
            val dx = x - st.mx
            val mx1 = st.mx + dx / n1
            val dy = e.value - st.my
            val my1 = st.my + dy / n1
            st = TrendState(n1, mx1, my1,
              st.m2x + dx * (x - mx1),
              st.m2y + dy * (e.value - my1),
              st.cxy + dx * (e.value - my1))
          }
          state.update(st)
          val slope = st.cxy / st.m2x
          Iterator.single(TrendOut(key, st.n, slope,
            st.my - slope * st.mx,
            math.pow(st.cxy / (math.sqrt(st.m2x) * math.sqrt(st.m2y)), 2)))
      }
  }

  /** The a9 hash: first 13 hex digits (52 bits — double-exact) of
    * md5 over the element's decimal string, identical to Spark SQL's
    * `conv(substring(md5(cast(e as string)), 1, 13), 16, 10)` and
    * DuckDB's `('0x' || substr(md5(e::VARCHAR), 1, 13))::BIGINT`.
    */
  private[streaming] def kmvHash52(element: Long): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(element.toString.getBytes("UTF-8"))
      .take(7).map(b => f"$b%02x").mkString
    java.lang.Long.parseLong(hex.substring(0, 13), 16)
  }

  /** st20: continuous ANN — a stream of query vectors probed against
    * a STATIC LSH-bucketed corpus (the online face of s2's index; an
    * embedding-service lookup stream, a near-dup gate on ingest).
    *
    * Scale shape: the corpus is bucketed ONCE by the same
    * deterministic hyperplanes as the batch operator; each query
    * explodes to its own bucket + single-bit multiprobes, so it
    * scores ~(nP+1)/2^nP of the corpus, map-side. Per-query top-k is
    * a windowed graft_topk bounded-heap aggregate with a watermark —
    * state per open window is ≤ k rows per query, and rows append
    * exactly when the watermark closes the window. Same emitted
    * schema as the batch lshKnn, plus `w_start`.
    *
    * Two index-join modes, chosen by `broadcastIndex`:
    *   - `true` (default): the whole (id, vec, bucket) index is
    *     broadcast into every micro-batch — zero stream-side shuffle,
    *     right whenever the index fits executor memory (the online
    *     embedding-service gate it models). WRONG for a corpus-scale
    *     index: a 100 TB corpus's index is far past broadcast range
    *     and the hint becomes a driver OOM, so
    *   - `false`: a shuffled stream-static equi-join on `bucket`.
    *     Each micro-batch shuffles only that batch's exploded probes
    *     plus the matched index partitions; the static side's
    *     bucketing is computed once and pinned via localCheckpoint.
    *     Fat buckets (clustered corpora) salt exactly like the batch
    *     knnJoin: the ≤ N/saltThreshold fat-bucket set — broadcast-
    *     class BY CONSTRUCTION, unlike the index — salts index rows
    *     deterministically (`n_id mod salts`) and replicates only the
    *     probes of fat buckets, so one hot bucket's quadratic score
    *     work spreads over `salts` tasks instead of one.
    *
    * `queries`: streaming (q_id, q_vec, event_time columns named by
    * the params). Self-matches (q_id == corpus id) are excluded,
    * mirroring the batch operator.
    */
  def streamKnn(
      queries: DataFrame, corpus: DataFrame, vecCol: String, idCol: String,
      k: Int, numPlanes: Int = 4, dim: Int = 64,
      windowDur: String = "1 hour", watermarkDelay: String = "10 minutes",
      eventTimeCol: String = "event_time", broadcastIndex: Boolean = true,
      salts: Int = 16, saltThreshold: Int = 1024): DataFrame = {
    import graft.operators.Similarity.{bucketOf, hyperplanes}
    import graft.functions.{cosine, topk}
    val planes = hyperplanes(numPlanes, dim)
    val index = corpus
      .select(col(idCol).as("n_id"), col(vecCol).as("n_vec"))
      .withColumn("bucket", bucketOf(col("n_vec"), planes))
    val probeBase = queries
      .withWatermark(eventTimeCol, watermarkDelay)
      .select(col(eventTimeCol), col("q_id"), col("q_vec"),
        explode(array(bucketOf(col("q_vec"), planes) +:
          (0 until numPlanes).map(b =>
            bucketOf(col("q_vec"), planes).bitwiseXOR(lit(1 << b))): _*)).as("probe"))
    val joined =
      if (broadcastIndex) probeBase.join(broadcast(index), col("probe") === col("bucket"))
      else {
        // static side pinned once across micro-batches; fat-bucket
        // detection + salting mirrors Similarity.knnJoin:166-188
        val idx = index.localCheckpoint(eager = true)
        val fat = idx.groupBy("bucket").agg(count(lit(1)).as("bn"))
          .where(col("bn") > saltThreshold)
          .select(col("bucket").as("f_bucket"))
          .localCheckpoint(eager = true)
        val data = idx
          .join(broadcast(fat), col("bucket") === col("f_bucket"), "left")
          .withColumn("d_salt",
            when(col("f_bucket").isNotNull, pmod(col("n_id"), lit(salts)))
              .otherwise(lit(0)))
          .drop("f_bucket")
        val probes = probeBase
          .join(broadcast(fat), col("probe") === col("f_bucket"), "left")
          .withColumn("p_salt", explode(
            when(col("f_bucket").isNotNull, sequence(lit(0), lit(salts - 1)))
              .otherwise(array(lit(0)))))
          .drop("f_bucket")
        probes.join(data,
          col("probe") === col("bucket") && col("p_salt") === col("d_salt"))
      }
    val probed = joined
      .where(col("n_id") =!= col("q_id"))
      .select(col(eventTimeCol), col("q_id"),
        cosine(col("q_vec"), col("n_vec")).as("cos_exact"), col("n_id"))
    probed
      .groupBy(window(col(eventTimeCol), windowDur), col("q_id"))
      .agg(topk(col("cos_exact"), col("n_id"), k).as("tk"))
      .select(col("window.start").as("w_start"), col("q_id"),
        posexplode(col("tk")).as(Seq("pos", "e")))
      .select(col("w_start"), col("q_id"),
        (col("pos") + 1).cast("long").as("rank"),
        col("e.id").as("neighbor_id"),
        round(col("e.score"), 4).as("cos_sim"))
  }

  /** st44: continuous MIH kNN — a stream of query vectors served from
    * the STATIC persisted band index (st20's integer twin: the online
    * near-dup-lookup shape for an embedding store at ingest time,
    * probing the same `mihIndexBuild`/`mihIndexLoad` relation lk47's
    * gate maintains). The whole search is integer-exact, so streamed
    * results are bit-identical to batch [[graft.operators.Similarity
    * .mihKnn]] over the same window — spec-pinned, not approximate.
    *
    * Scale shape mirrors st20's two index-join modes:
    *   - `broadcastIndex = true`: the (n_id, n_sig, band, bv) index
    *     broadcasts into every micro-batch — zero stream-side
    *     shuffle; right for a service-sized index (signatures are
    *     16 B/vector ×nBands, ~128× smaller than the float corpus).
    *   - `false`: a shuffled stream-static equi-join on (band, bv);
    *     each micro-batch shuffles only its own nBands·|Q| exploded
    *     band probes plus the matched index partitions; the static
    *     side is pinned once via localCheckpoint.
    *
    * A corpus vector shares up to nBands bands with a query, so the
    * band join emits duplicate (q, n) pairs; they are deduped with a
    * watermark-scoped dropDuplicates BEFORE the bounded heap (the
    * streaming face of batch mihKnnWith's `.distinct()` — duplicate
    * heap entries would evict genuinely distinct neighbors). The
    * dedup key is (window, q_id, q_sig, n_id) — the WINDOW, not the
    * raw event time, so a query id repeated at distinct event times
    * within one window still collapses to one heap entry per
    * neighbor, exactly as batch's per-(q_id, q_sig, n_id, n_sig)
    * distinct does over the window's rows (q_sig in the key keeps
    * the degenerate same-id-different-vector input at batch parity
    * too: both probes survive, as they do in batch). The window
    * column inherits the event-time watermark metadata, so dedup
    * state expires with the watermark like the aggregation's. The
    * per-(window, query) top-k is the graft_topk bounded heap on the
    * negated distance: ≤ k rows of state per open (window, query).
    *
    * `index` columns are bound BY NAME (n_id, n_sig, band, bv), so a
    * reordered parquet read-back cannot silently swap them.
    */
  def streamMihKnn(
      queries: DataFrame, index: DataFrame, k: Int,
      dim: Int = 64, bandBits: Int = 8,
      windowDur: String = "1 hour", watermarkDelay: String = "10 minutes",
      eventTimeCol: String = "event_time",
      broadcastIndex: Boolean = true): DataFrame = {
    import graft.operators.Similarity.{bandVals, signSig}
    import graft.functions.{hamming, topk}
    val idx = index.select(col("n_id"), col("n_sig"), col("band"), col("bv"))
    val probes = queries
      .withWatermark(eventTimeCol, watermarkDelay)
      .select(col(eventTimeCol), col("q_id"), signSig(col("q_vec"), dim).as("q_sig"))
      .select(col(eventTimeCol), col("q_id"), col("q_sig"),
        posexplode(bandVals(col("q_sig"), dim, bandBits)).as(Seq("qband", "qbv")))
    val cond = col("band") === col("qband") && col("bv") === col("qbv") &&
      col("n_id") =!= col("q_id")
    val joined =
      if (broadcastIndex) probes.join(broadcast(idx), cond)
      else probes.join(idx.localCheckpoint(eager = true), cond)
    joined
      .select(window(col(eventTimeCol), windowDur).as("window"),
        col("q_id"), col("q_sig"), col("n_id"), col("n_sig"))
      .dropDuplicates(Seq("window", "q_id", "q_sig", "n_id"))
      .select(col("window"), col("q_id"),
        (-hamming(col("q_sig"), col("n_sig"))).cast("double").as("neg_hd"),
        col("n_id"))
      .groupBy(col("window"), col("q_id"))
      .agg(topk(col("neg_hd"), col("n_id"), k).as("tk"))
      .select(col("window.start").as("w_start"), col("q_id"),
        posexplode(col("tk")).as(Seq("pos", "e")))
      .select(col("w_start"), col("q_id"),
        (col("pos") + 1).cast("long").as("rank"),
        col("e.id").as("neighbor_id"),
        (-col("e.score")).cast("long").as("hamming"))
  }
}
