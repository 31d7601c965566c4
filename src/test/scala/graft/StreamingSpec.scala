package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.queries.events
import graft.sources.CloudWatchLogs
import graft.streaming.LogStream

/** st1–st3: the streaming face, driven synchronously off parquet
  * file sources (finite streams) with memory sinks.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  /** Gzipped CWL payloads written to a temp parquet dir (one payload
    * per event batch of 100), read back as a file stream.
    */
  private lazy val payloadDir: String = {
    GraftSession.ensureRegistered(spark)
    val dir = Files.createTempDirectory("graft_stream").toString
    events(spark, sf)
      .select(
        expr("event_id div 100").as("batch"),
        struct(
          col("event_id").cast("string").as("id"),
          col("ts_ms").as("timestamp"),
          lit("").as("message"),
          map(lit("event_type"), col("event_type"),
            lit("user_id"), col("user_id").cast("string")).as("extractedFields")).as("ev"))
      .groupBy("batch")
      .agg(collect_list("ev").as("logEvents"))
      .select(CloudWatchLogs.encodePayload(
        lit(CloudWatchLogs.DataMessage), col("logEvents")).as("data"))
      .write.mode("overwrite").parquet(dir)
    dir
  }

  /** Runs `body` with streaming state on the RocksDB provider — the
    * 100 TB configuration (state off-heap on local disk, no
    * executor-heap ceiling). The conf is what
    * `GraftSession.builder(rocksdbStateStore = true)` sets; the
    * provider-metrics smoke test below proves the conf takes effect
    * for queries started under it. Stateful specs run under BOTH
    * providers via this helper (the `(rocksdb)` twins).
    */
  private def withRocksDb(body: => Unit): Unit = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, GraftSession.RocksDbProvider)
    try body finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("st1: streaming parse of gzipped CWL payloads") {
    val stream = spark.readStream
      .schema(StructType(Seq(StructField("data", BinaryType))))
      .parquet(payloadDir)
    val q = LogStream.parse(stream).writeStream
      .format("memory").queryName("st1_out").outputMode("append").start()
    try { q.processAllAvailable() } finally q.stop()
    val n = spark.table("st1_out").count()
    assert(n === events(spark, sf).count())
  }

  test("st2: watermarked tumbling-window counts match batch grouping") {
    val stream = spark.readStream
      .schema(StructType(Seq(StructField("data", BinaryType))))
      .parquet(payloadDir)
    val q = LogStream.windowedCounts(LogStream.parse(stream), "1 hour", "10 minutes")
      .writeStream.format("memory").queryName("st2_out").outputMode("complete").start()
    try { q.processAllAvailable() } finally q.stop()
    val streamed = spark.table("st2_out")
      .select(unix_millis(col("w_start")).as("w"), col("n")).as[(Long, Long)].collect().toMap
    val batch = events(spark, sf)
      .groupBy((expr("ts_ms div 3600000") * 3600000L).as("w"))
      .agg(count(lit(1)).as("n")).as[(Long, Long)].collect().toMap
    assert(streamed === batch)
  }

  test("st14: streaming windowed heavy hitters match exact batch top-k") {
    val stream = spark.readStream
      .schema(StructType(Seq(StructField("data", BinaryType))))
      .parquet(payloadDir)
    val q = LogStream.windowedTopK(
        LogStream.parse(stream), col("fields")("user_id"), "1 hour", "10 minutes", k = 3)
      .writeStream.format("memory").queryName("st14_out").outputMode("complete").start()
    try { q.processAllAvailable() } finally q.stop()
    val streamed = spark.table("st14_out")
      .select(unix_millis(col("w_start")).as("w"), col("rank"), col("item"), col("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3))).toSet
    // exact batch ground truth with the same deterministic tie order;
    // per-window distinct users sit far below sketch capacity, so the
    // streaming sketch counts are exact
    val wB = org.apache.spark.sql.expressions.Window
      .partitionBy("w").orderBy(col("n").desc, col("item"))
    val batch = events(spark, sf)
      .groupBy(
        (expr("ts_ms div 3600000") * 3600000L).as("w"),
        col("user_id").cast("string").as("item"))
      .agg(count(lit(1)).as("n"))
      .withColumn("rank", row_number().over(wB).cast("long"))
      .where(col("rank") <= 3)
      .collect().map(r => (r.getAs[Long]("w"), r.getAs[Long]("rank"),
        r.getAs[String]("item"), r.getAs[Long]("n"))).toSet
    assert(streamed.nonEmpty)
    assert(streamed === batch)
  }

  test("st16: streaming windowed quantiles match batch percentile_approx exactly") {
    val stream = spark.readStream
      .schema(StructType(Seq(StructField("data", BinaryType))))
      .parquet(payloadDir)
    val q = LogStream.windowedQuantiles(
        LogStream.parse(stream), col("fields")("user_id"),
        "1 hour", "10 minutes", Seq(0.5, 0.9, 0.99))
      .writeStream.format("memory").queryName("st16_out").outputMode("complete").start()
    try { q.processAllAvailable() } finally q.stop()
    val streamed = spark.table("st16_out")
      .select(unix_millis(col("w_start")).as("w"), col("qs"))
      .as[(Long, Seq[Double])].collect().toMap
    // same sketch below its compression threshold retains every
    // sample → streaming ≡ batch, element for element
    val batch = events(spark, sf)
      .groupBy((expr("ts_ms div 3600000") * 3600000L).as("w"))
      .agg(percentile_approx(col("user_id").cast("double"),
        array(lit(0.5), lit(0.9), lit(0.99)), lit(10000)).as("qs"))
      .as[(Long, Seq[Double])].collect().toMap
    assert(streamed === batch)
  }

  test("st4: dropDuplicatesWithinWatermark restores exactly-once on re-delivery") {
    // simulate Kinesis at-least-once: the same payload files delivered twice
    val dir = Files.createTempDirectory("graft_stream_redeliver").toString
    val payloads = spark.read.parquet(payloadDir)
    payloads.write.mode("overwrite").parquet(dir)
    payloads.write.mode("append").parquet(dir)
    val stream = spark.readStream
      .schema(StructType(Seq(StructField("data", BinaryType))))
      .parquet(dir)
    val q = LogStream.dedupe(LogStream.parse(stream), "1 hour")
      .writeStream.format("memory").queryName("st4_out").outputMode("append").start()
    try { q.processAllAvailable() } finally q.stop()
    val expected = events(spark, sf).count()
    assert(spark.read.parquet(dir).count() === spark.read.parquet(payloadDir).count() * 2)
    assert(spark.table("st4_out").count() === expected)
  }

  private def st13Body(tag: String): Unit = {
    // corpus of 500 docs: the first half is already in history; the
    // stream delivers every doc TWICE (at-least-once redelivery)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"),
        timestamp_millis(col("doc_id") * 1000).as("event_time"),
        md5(trim(regexp_replace(lower(col("text")), "\\s+", " "))).as("fp"))
    val history = docs.where(col("doc_id") < 250).select("fp")
    val dir = Files.createTempDirectory("graft_stream_hist").toString
    docs.write.mode("overwrite").parquet(dir)
    docs.write.mode("append").parquet(dir)
    val stream = spark.readStream
      .schema(docs.schema).parquet(dir)
    val out = LogStream.dedupeAgainstHistory(stream, history, "fp", "event_time", "1 hour")
    val q = out.writeStream.format("memory").queryName(s"st13_out$tag")
      .outputMode("append").start()
    try { q.processAllAvailable() } finally q.stop()
    val got = spark.table(s"st13_out$tag")
    // exactly the unseen fingerprints, exactly once each (a doc ≥ 250
    // whose text also appears below 250 counts as already-known)
    val expected = docs.where(col("doc_id") >= 250)
      .select("fp").distinct()
      .join(history.distinct(), Seq("fp"), "left_anti").count()
    assert(got.count() === expected)
    assert(got.select("fp").distinct().count() === expected)
    assert(got.join(history, "fp").count() === 0)
  }

  test("st13: streaming dedup against a historical corpus drops known + repeated docs") {
    st13Body("")
  }

  test("st13 (rocksdb): history dedup under the RocksDB state store") {
    withRocksDb(st13Body("_rdb"))
  }

  test("st5: stream-static broadcast enrichment joins every record, no state") {
    val stream = spark.readStream
      .schema(StructType(Seq(StructField("data", BinaryType))))
      .parquet(payloadDir)
    val dim = Seq(("click", 1.0), ("view", 0.1), ("purchase", 10.0), ("signup", 5.0), ("error", 0.0))
      .toDF("event_type", "weight")
    val flat = LogStream.parse(stream)
      .withColumn("event_type", col("fields")("event_type"))
    val q = LogStream.enrich(flat, dim, Seq("event_type"))
      .writeStream.format("memory").queryName("st5_out").outputMode("append").start()
    try { q.processAllAvailable() } finally q.stop()
    val out = spark.table("st5_out")
    assert(out.count() === events(spark, sf).count())
    assert(out.where(col("weight").isNull).count() === 0)
    val clicks = out.where(col("event_type") === "click")
    assert(clicks.where(col("weight") === 1.0).count() === clicks.count())
  }

  private def st6Body(tag: String): Unit = {
    val stream = spark.readStream
      .schema(StructType(Seq(StructField("data", BinaryType))))
      .parquet(payloadDir)
    def side(et: String) = LogStream.parse(stream)
      .withColumn("event_type", col("fields")("event_type"))
      .withColumn("user_id", col("fields")("user_id").cast("long"))
      .where(col("event_type") === et)
      .select("log_id", "user_id", "timestamp_ms")
    val q = LogStream.joinWithin(side("error"), side("click"), "user_id",
      lookbackMs = 3600000L, watermarkDelay = "10 minutes")
      .writeStream.format("memory").queryName(s"st6_out$tag").outputMode("append").start()
    try { q.processAllAvailable() } finally q.stop()

    val ev = events(spark, sf)
    val be = ev.where(col("event_type") === "error").select(col("user_id"), col("ts_ms"))
    val bc = ev.where(col("event_type") === "click")
      .select(col("user_id").as("u2"), col("ts_ms").as("c_ms"))
    val expected = be.join(bc,
      col("user_id") === col("u2") &&
        col("c_ms") >= col("ts_ms") - 3600000L && col("c_ms") <= col("ts_ms")).count()
    assert(expected > 0)
    assert(spark.table(s"st6_out$tag").count() === expected)
  }

  test("st6: watermarked stream-stream interval join matches the batch join") {
    st6Body("")
  }

  test("st6 (rocksdb): interval join under the RocksDB state store") {
    withRocksDb(st6Body("_rdb"))
  }

  private def st17Body(tag: String): Unit = {
    val stream = spark.readStream
      .schema(StructType(Seq(StructField("data", BinaryType))))
      .parquet(payloadDir)
    def side(et: String) = LogStream.parse(stream)
      .withColumn("event_type", col("fields")("event_type"))
      .withColumn("user_id", col("fields")("user_id").cast("long"))
      .where(col("event_type") === et)
      .select("log_id", "user_id", "timestamp_ms")
    val q = LogStream.joinWithinOuter(side("error"), side("click"), "user_id",
      lookbackMs = 3600000L, watermarkDelay = "10 minutes")
      .writeStream.format("memory").queryName(s"st17_out$tag").outputMode("append").start()
    try { q.processAllAvailable() } finally q.stop()

    val ev = events(spark, sf)
    val be = ev.where(col("event_type") === "error")
      .select(col("event_id").cast("string").as("b_id"), col("user_id"), col("ts_ms"))
    val bc = ev.where(col("event_type") === "click")
      .select(col("user_id").as("u2"), col("ts_ms").as("c_ms"))
    // matched rows are identical to the inner join
    val out = spark.table(s"st17_out$tag")
    val innerExpected = be.join(bc,
      col("user_id") === col("u2") &&
        col("c_ms") >= col("ts_ms") - 3600000L && col("c_ms") <= col("ts_ms")).count()
    assert(out.where(col("r_ts_ms").isNotNull).count() === innerExpected)
    // null-padded rows: a subset of the batch non-matches, and
    // complete for everything safely below the final watermark
    val unmatched = be.join(bc,
      col("user_id") === col("u2") &&
        col("c_ms") >= col("ts_ms") - 3600000L && col("c_ms") <= col("ts_ms"), "left_anti")
    val streamedNulls = out.where(col("r_ts_ms").isNull)
      .select(col("log_id")).collect().map(_.getString(0)).toSet
    val unmatchedAll = unmatched.select("b_id").collect().map(_.getString(0)).toSet
    assert(streamedNulls.subsetOf(unmatchedAll),
      s"${(streamedNulls -- unmatchedAll).take(5)} not in batch non-matches")
    // the final watermark is min over the two sides' max event times
    // (each side watermarks AFTER its type filter), minus the delay;
    // an unmatched row strictly below it must have been emitted —
    // and the side's own max row can never be (the watermark cannot
    // pass it), which is the correct unbounded-stream contract
    val maxErr = be.agg(max("ts_ms")).head().getLong(0)
    val maxClk = bc.agg(max("c_ms")).head().getLong(0)
    val wm = math.min(maxErr, maxClk) - 600000L
    val mustEmit = unmatched.where(col("ts_ms") < wm - 60000L)
      .select("b_id").collect().map(_.getString(0)).toSet
    assert(mustEmit.subsetOf(streamedNulls),
      s"missing ${(mustEmit -- streamedNulls).take(5)}")
    assert(streamedNulls.nonEmpty)
  }

  test("st17: left-outer interval join emits null-padded rows exactly for watermark-expired non-matches") {
    st17Body("")
  }

  test("st17 (rocksdb): left-outer interval join under the RocksDB state store") {
    withRocksDb(st17Body("_rdb"))
  }

  test("st7: stream writes land in the partitioned lake and read back pruned") {
    val stream = spark.readStream
      .schema(StructType(Seq(StructField("data", BinaryType))))
      .parquet(payloadDir)
    val lakeDir = Files.createTempDirectory("graft_stream_lake").toString
    val ckpt = Files.createTempDirectory("graft_stream_ckpt").toString
    val q = LogStream.parse(stream)
      .withColumn("p_date",
        to_date(timestamp_millis(col("timestamp_ms"))).cast("string"))
      .writeStream.format("parquet")
      .option("path", lakeDir).option("checkpointLocation", ckpt)
      .partitionBy("p_date")
      .outputMode("append").start()
    try { q.processAllAvailable() } finally q.stop()
    assert(spark.read.parquet(lakeDir).count() === events(spark, sf).count())
    val dirs = new java.io.File(lakeDir).listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("p_date="))
    assert(dirs.length > 1)
  }

  test("st24: quality gate routes every doc by the row-local flags, pass/fail partition the corpus") {
    val docsDir = Files.createTempDirectory("graft_qgate_in").toString
    // plant a guaranteed-fail doc so the quarantine route is exercised
    // even if every corpus doc passes
    spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text")
      .unionByName(Seq((900001L, "tiny")).toDF("doc_id", "text"))
      .write.mode("overwrite").parquet(docsDir)
    val passDir = Files.createTempDirectory("graft_qgate_pass").toString
    val quarDir = Files.createTempDirectory("graft_qgate_quar").toString
    val ckpt = Files.createTempDirectory("graft_qgate_ckpt").toString
    val stream = spark.readStream
      .schema(StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType))))
      .parquet(docsDir)
    val q = LogStream.startBatchSink(stream, ckpt)(
      LogStream.qualityGateBatchWriter("text", passDir, quarDir))
    try { q.processAllAvailable() } finally q.stop()
    // expected routing from the batch flags on the same input
    val flags = spark.read.parquet(docsDir)
      .select(col("doc_id"),
        graft.functions.TextFunctions.qualityFlags(col("text")).as("q"))
      .localCheckpoint()
    val expPass = flags.where(col("q.pass") === 1L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val expQuar = flags.where(col("q.pass") =!= 1L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(expQuar.contains(900001L))
    val gotPass = spark.read.parquet(passDir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val gotQuar = spark.read.parquet(quarDir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(gotPass === expPass)
    assert(gotQuar === expQuar)
    // pass rows keep the input schema (+ the idempotence partition);
    // quarantine rows carry the per-rule flags for triage
    assert(spark.read.parquet(passDir).columns.toSet ===
      Set("doc_id", "text", "batch_id"))
    assert(Set("n_tok", "r_len", "r_wlen", "r_stop", "r_rep", "pass")
      .subsetOf(spark.read.parquet(quarDir).columns.toSet))
  }

  test("st24: the two-route quality-gate writer is idempotent on a replayed batch") {
    val passDir = Files.createTempDirectory("graft_qgate_rp_pass").toString
    val quarDir = Files.createTempDirectory("graft_qgate_rp_quar").toString
    val batch = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text")
      .unionByName(Seq((900001L, "tiny")).toDF("doc_id", "text"))
    val writer = LogStream.qualityGateBatchWriter("text", passDir, quarDir)
    def rows(dir: String): Seq[String] =
      spark.read.parquet(dir).collect().map(_.toString).toSeq.sorted
    writer(batch, 7L)
    val (pass1, quar1) = (rows(passDir), rows(quarDir))
    assert(pass1.nonEmpty && quar1.nonEmpty)
    assert(pass1.size + quar1.size === batch.count())
    // at-least-once redelivery: same batch, same id
    writer(batch, 7L)
    assert(rows(passDir) === pass1)
    assert(rows(quarDir) === quar1)
  }

  test("st37: streaming image gate admits in-range parseable containers, rejects raw/truncated/oversized") {
    def render(w: Int, h: Int, fmt: String): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      (0 until h).foreach(y => (0 until w).foreach(x =>
        img.getRaster.setSample(x, y, 0, (x + y) & 0xff)))
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, fmt, bos)
      bos.toByteArray
    }
    val inDir = Files.createTempDirectory("graft_imgate_in").toString
    val rows = Seq[(Long, Array[Byte])](
      (1L, render(10, 6, "png")),
      (2L, render(3, 3, "jpeg")),
      (3L, render(8, 2, "gif")),
      (4L, render(5, 5, "bmp")),
      (5L, render(200, 4, "png")), // width beyond maxDim → reject
      (6L, "not an image at all".getBytes("UTF-8")), // raw → reject
      (7L, render(10, 6, "png").take(12))) // truncated → reject
    rows.toDF("img_id", "payload").write.mode("overwrite").parquet(inDir)
    val passDir = Files.createTempDirectory("graft_imgate_pass").toString
    val rejDir = Files.createTempDirectory("graft_imgate_rej").toString
    val ckpt = Files.createTempDirectory("graft_imgate_ckpt").toString
    val stream = spark.readStream
      .schema(StructType(Seq(
        StructField("img_id", LongType), StructField("payload", BinaryType))))
      .parquet(inDir)
    val q = LogStream.startBatchSink(stream, ckpt)(LogStream.imageGateBatchWriter(
      "payload", passDir, rejDir, minDim = 1, maxDim = 100))
    try { q.processAllAvailable() } finally q.stop()
    val gotPass = spark.read.parquet(passDir)
      .select("img_id", "format", "width", "height")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getInt(3))).toSet
    assert(gotPass === Set(
      (1L, "png", 10, 6), (2L, "jpeg", 3, 3), (3L, "gif", 8, 2), (4L, "bmp", 5, 5)))
    val gotRej = spark.read.parquet(rejDir)
      .select("img_id").collect().map(_.getLong(0)).toSet
    assert(gotRej === Set(5L, 6L, 7L))
    // reject rows carry the sniffed metadata for triage
    assert(Set("format", "width", "height")
      .subsetOf(spark.read.parquet(rejDir).columns.toSet))
  }

  test("st28: streaming PII scrub matches the batch transform byte-for-byte across micro-batches") {
    import graft.functions.TextFunctions
    val inDir = Files.createTempDirectory("graft_pii_in").toString
    val injected = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"),
        concat(col("text"), lit(" mail user"), col("doc_id"),
          lit("@example.com from 10."), pmod(col("doc_id"), lit(256)),
          lit(".0.1 ok")).as("text"))
    // two files → two micro-batches under maxFilesPerTrigger=1
    injected.where(pmod(col("doc_id"), lit(2)) === 0)
      .coalesce(1).write.mode("overwrite").parquet(inDir)
    injected.where(pmod(col("doc_id"), lit(2)) === 1)
      .coalesce(1).write.mode("append").parquet(inDir)
    val outDir = Files.createTempDirectory("graft_pii_out").toString
    val ckpt = Files.createTempDirectory("graft_pii_ckpt").toString
    val stream = spark.readStream
      .schema(StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType))))
      .option("maxFilesPerTrigger", 1)
      .parquet(inDir)
    val q = LogStream.startBatchSink(stream, ckpt)(
      LogStream.piiScrubBatchWriter("text", outDir))
    try { q.processAllAvailable() } finally q.stop()
    val got = spark.read.parquet(outDir)
    assert(got.select("batch_id").distinct().count() >= 2)
    // row-for-row parity with the batch-side transform (t8's shape)
    val exp = injected
      .withColumn("p", TextFunctions.piiScrub(col("text")))
      .select(col("doc_id"), col("p.scrubbed").as("text"),
        col("p.n_emails").as("n_emails"), col("p.n_ips").as("n_ips"))
      .collect().map(_.toString).sorted.toSeq
    assert(got.select("doc_id", "text", "n_emails", "n_ips")
      .collect().map(_.toString).sorted.toSeq === exp)
    // every row carried planted PII in, and none survives the gate
    assert(got.agg(min("n_emails")).head().getLong(0) >= 1)
    assert(got.agg(min("n_ips")).head().getLong(0) >= 1)
    assert(got.where(col("text").rlike(TextFunctions.EmailRe)
      || col("text").rlike(TextFunctions.Ipv4Re)).count() === 0)
  }

  private def st8Body(tag: String): Unit = {
    import org.apache.spark.sql.{Dataset, SaveMode}
    val dir = Files.createTempDirectory("graft_stream_expire").toString
    val t0 = 1704067200000L // 2024-01-01 00:00:00 UTC, millis
    def write(rows: Seq[(Long, Long)], mode: SaveMode): Unit =
      rows.toDF("userId", "tsMs")
        .select(col("userId"), (col("tsMs") * 1000000L).as("tsNs"),
          timestamp_millis(col("tsMs")).as("eventTime"))
        .write.mode(mode).parquet(dir)
    // batch 1: three users, two events each inside one session
    write((1L to 3L).flatMap(u => Seq((u, t0 + u * 1000), (u, t0 + u * 1000 + 60000))),
      SaveMode.Overwrite)
    val in: Dataset[LogStream.TimedEventIn] = spark.readStream
      .schema(StructType(Seq(
        StructField("userId", LongType), StructField("tsNs", LongType),
        StructField("eventTime", TimestampType))))
      .parquet(dir)
      .withWatermark("eventTime", "1 second")
      .as[LogStream.TimedEventIn]
    val q = LogStream.sessionizeExpiring(in, gapNs = 1800L * 1000 * 1000 * 1000)
      .writeStream.format("memory").queryName(s"st8_out$tag").outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table(s"st8_out$tag").count() === 0) // all sessions still open
      // late traffic advances the watermark far past every open session
      write(Seq((99L, t0 + 36000000L)), SaveMode.Append)
      q.processAllAvailable()
      write(Seq((98L, t0 + 72000000L)), SaveMode.Append)
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table(s"st8_out$tag")
      .select(col("userId"), col("nEvents")).as[(Long, Long)].collect().toMap
    (1L to 3L).foreach(u => assert(out.get(u).contains(2L), s"user $u: $out"))
  }

  private def st29Body(tag: String): Unit = {
    import org.apache.spark.sql.{Dataset, SaveMode}
    import org.apache.spark.sql.expressions.Window
    val dir = Files.createTempDirectory("graft_stream_islands").toString
    // real events, value-derived varying intervals — q51's exact shape
    val src = events(spark, sf).where(col("user_id") < 20)
      .select(col("user_id").as("userId"),
        col("ts_ms").as("startMs"),
        (col("ts_ms") + floor(col("value") * 600000).cast("long")).as("endMs"),
        col("event_id"))
      .localCheckpoint()
    def toIn(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      df.select(col("userId"), col("startMs"), col("endMs"),
        timestamp_millis(col("startMs")).as("eventTime"))
    // two batches split at a mid-range instant (a later batch may not
    // carry events older than the first batch's watermark — that's
    // the stream contract, not a test artifact; islands spanning the
    // split exercise the cross-batch state carry), then two
    // watermark-advancing sentinels
    val splitMs = src.agg(min("startMs")).head().getLong(0) + 18L * 86400000L
    toIn(src.where(col("startMs") < splitMs)).write.mode(SaveMode.Overwrite).parquet(dir)
    val in: Dataset[LogStream.IntervalIn] = spark.readStream
      .schema(StructType(Seq(
        StructField("userId", LongType), StructField("startMs", LongType),
        StructField("endMs", LongType), StructField("eventTime", TimestampType))))
      .parquet(dir)
      .withWatermark("eventTime", "1 second")
      .as[LogStream.IntervalIn]
    val q = LogStream.intervalUnionExpiring(in)
      .writeStream.format("memory").queryName(s"st29_out$tag").outputMode("append").start()
    try {
      q.processAllAvailable()
      toIn(src.where(col("startMs") >= splitMs)).write.mode(SaveMode.Append).parquet(dir)
      q.processAllAvailable()
      // two successive sentinel batches push the watermark far past
      // every island's end, firing the event-time timeouts
      val far = src.agg(max("endMs")).head().getLong(0) + 1000000000L
      Seq(far, far + 7200000L).foreach { f =>
        toIn(Seq((99999L, f, f + 1L)).toDF("userId", "startMs", "endMs"))
          .write.mode(SaveMode.Append).parquet(dir)
        q.processAllAvailable()
      }
    } finally q.stop()
    val got = spark.table(s"st29_out$tag")
      .where(col("userId") < 20)
      .select("userId", "coverStartMs", "coverEndMs", "nIntervals")
      .collect().map(_.toString).sorted.toSeq
    // batch ground truth: q51's running-max window sweep on the same rows
    val w = Window.partitionBy("userId").orderBy("startMs", "endMs", "event_id")
    val prevEnd = max(col("endMs")).over(w.rowsBetween(Window.unboundedPreceding, -1))
    val expected = src
      .withColumn("ni", when(prevEnd.isNull || col("startMs") > prevEnd, 1L).otherwise(0L))
      .withColumn("isl", sum(col("ni")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("userId", "isl")
      .agg(min("startMs").as("coverStartMs"), max("endMs").as("coverEndMs"),
        count(lit(1)).as("nIntervals"))
      .select("userId", "coverStartMs", "coverEndMs", "nIntervals")
      .collect().map(_.toString).sorted.toSeq
    assert(got.nonEmpty)
    assert(got === expected)
  }

  test("st8: event-time timeout expires idle sessions exactly once") {
    st8Body("")
  }

  test("st29: streaming interval-union islands equal the batch q51 sweep on closed islands") {
    st29Body("")
  }

  test("st29 (rocksdb): interval-union islands under the RocksDB state store") {
    withRocksDb(st29Body("_rdb"))
  }

  test("st29: closed island above the watermark is held for a later admissible bridge") {
    // adversarial batch split: batch 1 leaves island [0,600s) closed
    // (a later disjoint island opened behind it) but its end is still
    // >= the watermark; batch 2 delivers an admissible straddler that
    // bridges both. Batch ground truth is ONE island — an impl that
    // emits every non-last island per micro-batch emits two.
    import org.apache.spark.sql.{Dataset, SaveMode}
    val dir = Files.createTempDirectory("graft_stream_bridge").toString
    def write(rows: Seq[(Long, Long, Long)], mode: SaveMode): Unit =
      rows.toDF("userId", "startMs", "endMs")
        .withColumn("eventTime", timestamp_millis(col("startMs")))
        .write.mode(mode).parquet(dir)
    // batch 1: [1000s,1600s) and [1605s,1606s) — disjoint; watermark
    // after the batch = 1605000 - 10000 = 1595000, so the first
    // island's end (1600000) is NOT yet below it. (Events at exactly
    // the watermark are late-dropped — every probe here is strictly
    // above it.)
    write(Seq((1L, 1000000L, 1600000L), (1L, 1605000L, 1606000L)), SaveMode.Overwrite)
    val in: Dataset[LogStream.IntervalIn] = spark.readStream
      .schema(StructType(Seq(
        StructField("userId", LongType), StructField("startMs", LongType),
        StructField("endMs", LongType), StructField("eventTime", TimestampType))))
      .parquet(dir)
      .withWatermark("eventTime", "10 seconds")
      .as[LogStream.IntervalIn]
    val q = LogStream.intervalUnionExpiring(in)
      .writeStream.format("memory").queryName("st29_bridge").outputMode("append").start()
    try {
      q.processAllAvailable()
      // batch 2: admissible straddler (eventTime 1596000 > watermark
      // 1595000) bridging island 1's end into island 2
      write(Seq((1L, 1596000L, 1650000L)), SaveMode.Append)
      q.processAllAvailable()
      // sentinels: push the watermark far past every end twice so the
      // event-time timeout fires and drains the held island
      Seq(2000000000L, 2000600000L).foreach { f =>
        write(Seq((999L, f, f + 1L)), SaveMode.Append)
        q.processAllAvailable()
      }
    } finally q.stop()
    val got = spark.table("st29_bridge").where(col("userId") === 1L)
      .select("coverStartMs", "coverEndMs", "nIntervals")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === Seq((1000000L, 1650000L, 3L)))
  }

  test("st8 (rocksdb): event-time session expiry under the RocksDB state store") {
    withRocksDb(st8Body("_rdb"))
  }

  test("stateful sessionization is provider-agnostic: same output under RocksDB state store") {
    import org.apache.spark.sql.{Dataset, SaveMode}
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, GraftSession.RocksDbProvider)
    try {
      val dir = Files.createTempDirectory("graft_stream_rocksdb").toString
      val t0 = 1704067200000L
      def write(rows: Seq[(Long, Long)], mode: SaveMode): Unit =
        rows.toDF("userId", "tsMs")
          .select(col("userId"), (col("tsMs") * 1000000L).as("tsNs"),
            timestamp_millis(col("tsMs")).as("eventTime"))
          .write.mode(mode).parquet(dir)
      write((1L to 3L).flatMap(u => Seq((u, t0 + u * 1000), (u, t0 + u * 1000 + 60000))),
        SaveMode.Overwrite)
      val in: Dataset[LogStream.TimedEventIn] = spark.readStream
        .schema(StructType(Seq(
          StructField("userId", LongType), StructField("tsNs", LongType),
          StructField("eventTime", TimestampType))))
        .parquet(dir)
        .withWatermark("eventTime", "1 second")
        .as[LogStream.TimedEventIn]
      val q = LogStream.sessionizeExpiring(in, gapNs = 1800L * 1000 * 1000 * 1000)
        .writeStream.format("memory").queryName("rocksdb_out").outputMode("append").start()
      try {
        q.processAllAvailable()
        // assert the provider actually in USE, not just the conf we
        // asked for: RocksDB's custom state metrics appear in progress
        assert(q.lastProgress.json.contains("rocksdb"),
          s"no rocksdb metrics in ${q.lastProgress.json.take(400)}")
        write(Seq((99L, t0 + 36000000L)), SaveMode.Append)
        q.processAllAvailable()
        write(Seq((98L, t0 + 72000000L)), SaveMode.Append)
        q.processAllAvailable()
      } finally q.stop()
      val out = spark.table("rocksdb_out")
        .select(col("userId"), col("nEvents")).as[(Long, Long)].collect().toMap
      (1L to 3L).foreach(u => assert(out.get(u).contains(2L), s"user $u: $out"))
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  private def st20Body(tag: String, broadcastIndex: Boolean = true,
      saltThreshold: Int = 1024): Unit = {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    // a stream of query vectors: every 5th corpus vector, all inside
    // one window hour
    val t0 = 1704067200000L
    val qBatch = emb.where(col("vec_id") % 5 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val dir = Files.createTempDirectory("graft_stream_knn").toString
    qBatch.withColumn("event_time", timestamp_millis(lit(t0) + col("q_id")))
      .write.mode("overwrite").parquet(dir)
    val qStream = spark.readStream
      .schema(StructType(Seq(
        StructField("q_id", LongType),
        StructField("q_vec", ArrayType(FloatType)),
        StructField("event_time", TimestampType))))
      .parquet(dir)
    val q = LogStream.streamKnn(qStream, emb, "embedding", "vec_id", k = 5,
        broadcastIndex = broadcastIndex, saltThreshold = saltThreshold)
      .writeStream.format("memory").queryName(s"st20_out$tag").outputMode("complete").start()
    try { q.processAllAvailable() } finally q.stop()
    val streamed = spark.table(s"st20_out$tag")
      .select("q_id", "rank", "neighbor_id", "cos_sim")
      .collect().map(_.toString).sorted.toSeq
    val batch = graft.operators.Similarity.lshKnn(emb, "embedding", "vec_id", qBatch, k = 5)
      .select("q_id", "rank", "neighbor_id", "cos_sim")
      .collect().map(_.toString).sorted.toSeq
    assert(streamed.nonEmpty)
    assert(streamed === batch)
  }

  test("st20: streaming ANN against the static LSH index matches batch lshKnn") {
    st20Body("")
  }

  test("st20 (rocksdb): streaming ANN under the RocksDB state store") {
    withRocksDb(st20Body("_rdb"))
  }

  test("st20: the non-broadcast stream-static join path matches batch lshKnn") {
    st20Body("_nb", broadcastIndex = false)
  }

  test("st20: non-broadcast path with fat-bucket salting forced matches batch lshKnn") {
    // saltThreshold below any bucket's population → every bucket
    // salts; the pair set (and so the result) must be unchanged
    st20Body("_nbsalt", broadcastIndex = false, saltThreshold = 2)
  }

  test("st20 (rocksdb): non-broadcast path under the RocksDB state store") {
    withRocksDb(st20Body("_nbrdb", broadcastIndex = false))
  }

  private def st44Body(tag: String, broadcastIndex: Boolean = true): Unit = {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val t0 = 1704067200000L
    val qBatch = emb.where(col("vec_id") % 5 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    // ≥2 micro-batches: the query set split into two files, one file
    // per trigger — the index join and the windowed heap must agree
    // with batch no matter how the queries arrive
    val dir = Files.createTempDirectory("graft_stream_mih").toString
    val timed = qBatch.withColumn("event_time", timestamp_millis(lit(t0) + col("q_id")))
    timed.where(col("q_id") % 2 === 0).coalesce(1).write.parquet(s"$dir/f0")
    timed.where(col("q_id") % 2 =!= 0).coalesce(1).write.parquet(s"$dir/f1")
    val qStream = spark.readStream
      .schema(StructType(Seq(
        StructField("q_id", LongType),
        StructField("q_vec", ArrayType(FloatType)),
        StructField("event_time", TimestampType))))
      .option("maxFilesPerTrigger", 1)
      .option("recursiveFileLookup", "true")
      .parquet(dir)
    val index = graft.operators.Similarity.mihIndexBuild(emb, "embedding", "vec_id")
    val q = LogStream.streamMihKnn(qStream, index, k = 5,
        broadcastIndex = broadcastIndex)
      .writeStream.format("memory").queryName(s"st44_out$tag")
      .outputMode("complete").start()
    try { q.processAllAvailable() } finally q.stop()
    val streamed = spark.table(s"st44_out$tag")
      .select("q_id", "rank", "neighbor_id", "hamming")
      .collect().map(_.toString).sorted.toSeq
    // integer-exact parity: streamed ≡ batch mihKnn, bit for bit
    val batch = graft.operators.Similarity.mihKnn(emb, "embedding", "vec_id", qBatch, k = 5)
      .select("q_id", "rank", "neighbor_id", "hamming")
      .collect().map(_.toString).sorted.toSeq
    assert(streamed.nonEmpty)
    assert(streamed === batch)
  }

  test("st44: streaming MIH kNN from the static band index matches batch mihKnn across 2 micro-batches") {
    st44Body("")
  }

  test("st44: the shuffled band equi-join path matches batch mihKnn") {
    st44Body("_nb", broadcastIndex = false)
  }

  test("st44 (rocksdb): streaming MIH kNN under the RocksDB state store") {
    withRocksDb(st44Body("_rdb"))
  }

  test("st44: a query id repeated at distinct event times within one window still matches batch (per-window pair dedup)") {
    // the dedup key is the WINDOW, not the raw event time: the same
    // q_id arriving twice in a window must not enter the bounded
    // heap twice (duplicate entries would evict distinct neighbors)
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val t0 = 1704067200000L
    val qBatch = emb.where(col("vec_id") % 5 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val dir = Files.createTempDirectory("graft_stream_mih_dup").toString
    val timed = qBatch.withColumn("event_time", timestamp_millis(lit(t0) + col("q_id")))
    // every query arrives TWICE, 90 s apart — same 1 h window
    timed.coalesce(1).write.parquet(s"$dir/f0")
    timed.withColumn("event_time", timestamp_millis(lit(t0 + 90000L) + col("q_id")))
      .coalesce(1).write.parquet(s"$dir/f1")
    val qStream = spark.readStream
      .schema(StructType(Seq(
        StructField("q_id", LongType),
        StructField("q_vec", ArrayType(FloatType)),
        StructField("event_time", TimestampType))))
      .option("maxFilesPerTrigger", 1)
      .option("recursiveFileLookup", "true")
      .parquet(dir)
    val index = graft.operators.Similarity.mihIndexBuild(emb, "embedding", "vec_id")
    val q = LogStream.streamMihKnn(qStream, index, k = 5)
      .writeStream.format("memory").queryName("st44_out_dupq")
      .outputMode("complete").start()
    try { q.processAllAvailable() } finally q.stop()
    val streamed = spark.table("st44_out_dupq")
      .select("q_id", "rank", "neighbor_id", "hamming")
      .collect().map(_.toString).sorted.toSeq
    val batch = graft.operators.Similarity.mihKnn(emb, "embedding", "vec_id", qBatch, k = 5)
      .select("q_id", "rank", "neighbor_id", "hamming")
      .collect().map(_.toString).sorted.toSeq
    assert(streamed.nonEmpty)
    assert(streamed === batch)
  }

  test("st21: per-batch manifested-dim enrichment picks up a dim refresh mid-stream") {
    import org.apache.spark.sql.SaveMode
    import graft.sources.ParquetLake
    // versioned dim lake: every user bronze at v1
    val dimDir = Files.createTempDirectory("graft_dim_lake").toString
    val t0 = 1704067200000L
    (1L to 6L).map(u => (u, "bronze", t0)).toDF("user_id", "tier", "ts_ms")
      .createOrReplaceTempView("dim_seed")
    ParquetLake.writePartitioned(
      spark.table("dim_seed"), dimDir, "ts_ms", sortCols = Nil)
    val v1 = ParquetLake.snapshotManifest(spark, dimDir)
    val inDir = Files.createTempDirectory("graft_enrich_in").toString
    val outDir = Files.createTempDirectory("graft_enrich_out").toString
    val ckpt = Files.createTempDirectory("graft_enrich_ckpt").toString
    def writeIn(ids: Seq[Long], mode: SaveMode): Unit =
      ids.map(u => (u, u * 10)).toDF("user_id", "v")
        .write.mode(mode).parquet(inDir)
    writeIn(Seq(1L, 2L, 3L), SaveMode.Overwrite)
    val stream = spark.readStream
      .schema(StructType(Seq(
        StructField("user_id", LongType), StructField("v", LongType))))
      .parquet(inDir)
    val q = LogStream.startBatchSink(stream, ckpt)(
      LogStream.enrichManifestedBatchWriter(dimDir, Seq("user_id"), outDir))
    try {
      q.processAllAvailable()
      // dim refresh lands BETWEEN batches as one atomic manifest commit
      val pdType = ParquetLake.readManifested(spark, dimDir).schema("p_date").dataType
      val changes = Seq((1L, "gold", t0), (2L, "gold", t0))
        .toDF("user_id", "tier", "ts_ms")
        .withColumn("p_date",
          to_date(timestamp_millis(col("ts_ms"))).cast("string").cast(pdType))
      val v2 = ParquetLake.mergeManifested(
        spark, dimDir, changes, keyCols = Seq("user_id"))
      assert(v2 > v1)
      writeIn(Seq(1L, 4L), SaveMode.Append)
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.read.parquet(outDir)
      .select("user_id", "tier", "dim_version")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    // first batch enriched by v1 (all bronze); second by v2 — user 1
    // re-appears gold, user 4 still bronze — and every row records
    // the snapshot that enriched it
    assert(out === Set(
      (1L, "bronze", v1), (2L, "bronze", v1), (3L, "bronze", v1),
      (1L, "gold", v1 + 1), (4L, "bronze", v1 + 1)))
  }

  test("st22: pinned-snapshot enrichment — a mid-stream dim commit is fully invisible, a restart sees it fully") {
    import org.apache.spark.sql.SaveMode
    import graft.sources.ParquetLake
    val dimDir = Files.createTempDirectory("graft_pin_lake").toString
    val t0 = 1704067200000L
    (1L to 6L).map(u => (u, "bronze", t0)).toDF("user_id", "tier", "ts_ms")
      .createOrReplaceTempView("pin_dim_seed")
    ParquetLake.writePartitioned(
      spark.table("pin_dim_seed"), dimDir, "ts_ms", sortCols = Nil)
    val v1 = ParquetLake.snapshotManifest(spark, dimDir)
    val inDir = Files.createTempDirectory("graft_pin_in").toString
    def writeIn(ids: Seq[Long], mode: SaveMode): Unit =
      ids.map(u => (u, u * 10)).toDF("user_id", "v")
        .write.mode(mode).parquet(inDir)
    writeIn(Seq(1L, 2L, 3L), SaveMode.Overwrite)
    def startQuery(name: String) = {
      val stream = spark.readStream
        .schema(StructType(Seq(
          StructField("user_id", LongType), StructField("v", LongType))))
        .parquet(inDir)
      LogStream.enrichManifestedPinned(stream, dimDir, Seq("user_id"))
        .select("user_id", "tier", "dim_version")
        .writeStream.format("memory").queryName(name).outputMode("append").start()
    }
    val q1 = startQuery("st22_run1")
    try {
      q1.processAllAvailable()
      // dim refresh lands mid-stream as one atomic manifest commit
      val pdType = ParquetLake.readManifested(spark, dimDir).schema("p_date").dataType
      val changes = Seq((1L, "gold", t0), (2L, "gold", t0))
        .toDF("user_id", "tier", "ts_ms")
        .withColumn("p_date",
          to_date(timestamp_millis(col("ts_ms"))).cast("string").cast(pdType))
      assert(ParquetLake.mergeManifested(
        spark, dimDir, changes, keyCols = Seq("user_id")) > v1)
      writeIn(Seq(1L, 4L), SaveMode.Append)
      q1.processAllAvailable()
    } finally q1.stop()
    val run1 = spark.table("st22_run1")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    // FULLY INVISIBLE: both batches — including the one after the
    // commit — joined the pinned v1 snapshot; user 1 stays bronze
    assert(run1 === Set(
      (1L, "bronze", v1), (2L, "bronze", v1), (3L, "bronze", v1),
      (1L, "bronze", v1), (4L, "bronze", v1)))
    assert(run1.forall(_._3 === v1))
    // FULLY VISIBLE after an atomic restart: a fresh plan re-pins to
    // the latest snapshot and every row reflects it
    val q2 = startQuery("st22_run2")
    try q2.processAllAvailable() finally q2.stop()
    val run2 = spark.table("st22_run2")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    assert(run2 === Set(
      (1L, "gold", v1 + 1), (2L, "gold", v1 + 1), (3L, "bronze", v1 + 1),
      (4L, "bronze", v1 + 1)))
  }

  test("st19: streaming bloom decontamination flags exactly the batch-contaminated docs") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text")
    val bench = docs.where(col("doc_id") % 97 === 0)
    val corpus = docs.where(col("doc_id") % 97 =!= 0)
    // exact ground truth: the batch bloom+exact-verify path (d9,
    // bit-identical to the d6 broadcast join)
    val exact = graft.operators.Dedup.decontaminateBloom(
        spark.read.parquet(s"$sf/documents.parquet"), "text", "doc_id",
        isBench = col("doc_id") % 97 === 0)
      .select(col("doc_id"), col("contaminated")).as[(Long, Boolean)]
      .collect().toMap
    val dir = Files.createTempDirectory("graft_stream_decon").toString
    corpus.write.mode("overwrite").parquet(dir)
    val in = spark.readStream
      .schema(StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType))))
      .parquet(dir)
    val q = LogStream.decontaminate(in, "text", bench, "text")
      .select("doc_id", "contaminated")
      .writeStream.format("memory").queryName("st19_out").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("st19_out")
      .as[(Long, Boolean)].collect().toMap
    assert(got.size === exact.size)
    // no false negatives: everything truly contaminated is flagged
    exact.foreach { case (id, c) =>
      if (c) assert(got(id), s"doc $id truly contaminated but not flagged")
    }
    // false positives bounded: the sketch is sized for 2^20 items vs
    // a few thousand real shingles, so fp should be (near) zero
    val fps = got.count { case (id, c) => c && !exact(id) }
    val clean = exact.count(!_._2)
    assert(fps <= math.max(1, clean / 100), s"$fps false positives of $clean clean docs")
  }

  test("st9: AvailableNow drain emits every seeded record then stops on its own") {
    val stream = spark.readStream
      .schema(StructType(Seq(StructField("data", BinaryType))))
      .parquet(payloadDir)
    // NOTE: no q.stop() — self-termination IS the assertion (the twin
    // of the reference's MillisBehindLatest == 0 drain loop)
    val selfStopped = LogStream.drainAvailable(
      LogStream.parse(stream),
      (w: org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row]) =>
        w.format("memory").queryName("st9_out").outputMode("append"))
    assert(selfStopped, "drain query did not terminate by itself")
    assert(spark.table("st9_out").count() === events(spark, sf).count())
  }

  test("st10: LATEST attach sees only records that land after attach") {
    val dir = Files.createTempDirectory("graft_stream_latest").toString
    val payloads = spark.read.parquet(payloadDir)
    // seed BEFORE attach: the reference's no-start_time default reads
    // none of this (kinesis_logs_reader.py:60-68)
    payloads.write.mode("overwrite").parquet(dir)
    val stream = LogStream.attachLatest(
      spark, dir, StructType(Seq(StructField("data", BinaryType))))
    val q = LogStream.parse(stream).writeStream
      .format("memory").queryName("st10_out").outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("st10_out").count() === 0) // nothing pre-attach
      // post-attach traffic: one re-appended copy of the payloads
      payloads.write.mode("append").parquet(dir)
      q.processAllAvailable()
    } finally q.stop()
    assert(spark.table("st10_out").count() === events(spark, sf).count())
  }

  test("st11: out-of-order event within the watermark merges without shrinking the session") {
    import org.apache.spark.sql.{Dataset, SaveMode}
    val dir = Files.createTempDirectory("graft_stream_ooo").toString
    val t0 = 1704067200000L
    def write(rows: Seq[(Long, Long)], mode: SaveMode): Unit =
      rows.toDF("userId", "tsMs")
        .select(col("userId"), (col("tsMs") * 1000000L).as("tsNs"),
          timestamp_millis(col("tsMs")).as("eventTime"))
        .write.mode(mode).parquet(dir)
    // batch 1: session [t0, t0+10min]
    write(Seq((1L, t0), (1L, t0 + 600000L)), SaveMode.Overwrite)
    val in: Dataset[LogStream.TimedEventIn] = spark.readStream
      .schema(StructType(Seq(
        StructField("userId", LongType), StructField("tsNs", LongType),
        StructField("eventTime", TimestampType))))
      .parquet(dir)
      .withWatermark("eventTime", "1 hour")
      .as[LogStream.TimedEventIn]
    val q = LogStream.sessionizeExpiring(in, gapNs = 1800L * 1000 * 1000 * 1000)
      .writeStream.format("memory").queryName("st11_out").outputMode("append").start()
    try {
      q.processAllAvailable()
      // batch 2: an event INSIDE the open session's span, older than
      // its current end (admitted — watermark delay is 1h). The old
      // merge set end = t, silently moving the session end backwards.
      write(Seq((1L, t0 + 300000L)), SaveMode.Append)
      q.processAllAvailable()
      // advance the watermark far past the session to expire it
      write(Seq((99L, t0 + 48L * 3600000L)), SaveMode.Append)
      q.processAllAvailable()
      write(Seq((98L, t0 + 96L * 3600000L)), SaveMode.Append)
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("st11_out")
      .select(col("userId"), col("startMs"), col("endMs"), col("nEvents"))
      .as[(Long, Long, Long, Long)].collect().filter(_._1 == 1L)
    assert(out.toSeq === Seq((1L, t0, t0 + 600000L, 3L)))
  }

  test("st12: foreachBatch idempotent sink deduplicates a replayed batch") {
    val outDir = Files.createTempDirectory("graft_stream_idem").toString
    val ckpt = Files.createTempDirectory("graft_stream_idem_ckpt").toString
    val stream = spark.readStream
      .schema(StructType(Seq(StructField("data", BinaryType))))
      .parquet(payloadDir)
    // the sink's dynamic overwrite must not leak into the caller's
    // session: a later static overwrite has to stay static
    val modeKey = "spark.sql.sources.partitionOverwriteMode"
    val prevMode = spark.conf.getOption(modeKey)
    spark.conf.set(modeKey, "STATIC")
    try {
      val q = LogStream.startIdempotentSink(LogStream.parse(stream), outDir, ckpt)
      try q.processAllAvailable() finally q.stop()
      val expected = events(spark, sf).count()
      assert(spark.read.parquet(outDir).count() === expected)
      // simulate the at-least-once replay: re-run batch 0's write with
      // the same batch id — dynamic partition overwrite makes it a
      // no-op-equivalent, not an append
      val batch0 = spark.read.parquet(outDir).where(col("batch_id") === 0)
        .drop("batch_id")
      LogStream.idempotentBatchWriter(outDir)(batch0, 0L)
      assert(spark.read.parquet(outDir).count() === expected)
      assert(spark.conf.get(modeKey) === "STATIC")
    } finally prevMode match {
      case Some(v) => spark.conf.set(modeKey, v)
      case None    => spark.conf.unset(modeKey)
    }
  }

  test("st15: streaming CDC merge applies per-batch upserts and tombstones to the manifested lake") {
    import graft.sources.ParquetLake
    val lakeDir = Files.createTempDirectory("graft_stream_merge").toString
    val ckpt = Files.createTempDirectory("graft_stream_merge_ckpt").toString
    val chgDir = Files.createTempDirectory("graft_stream_merge_chg").toString
    ParquetLake.writePartitioned(
      events(spark, sf).select("event_id", "user_id", "event_type", "ts_ms"),
      lakeDir, "ts_ms", sortCols = Seq("user_id"))
    ParquetLake.snapshotManifest(spark, lakeDir)
    val tgt = ParquetLake.readManifested(spark, lakeDir).localCheckpoint()
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("event_id"), col("event_type"), col("p_date").cast("string"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    val before = rows(tgt)
    val ids = tgt.orderBy("event_id").limit(2)
      .select("event_id").collect().map(_.getLong(0))
    // two change files + maxFilesPerTrigger=1 → two micro-batches:
    // an update of ids(0), then a tombstone of ids(1)
    val base = tgt.where(col("event_id").isin(ids.map(x => x: Any): _*)).localCheckpoint()
    val upd = base.where(col("event_id") === ids(0))
      .withColumn("event_type", lit("STREAM_MERGED")).withColumn("_del", lit(false))
    val del = base.where(col("event_id") === ids(1)).withColumn("_del", lit(true))
    upd.coalesce(1).write.mode("append").parquet(chgDir)
    del.coalesce(1).write.mode("append").parquet(chgDir)
    val stream = spark.readStream
      .schema(upd.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(chgDir)
    val q = LogStream.startBatchSink(stream, ckpt) { (batch, _) =>
      if (!batch.isEmpty)
        ParquetLake.mergeManifested(batch.sparkSession, lakeDir, batch,
          keyCols = Seq("event_id"), deleteCol = Some("_del"))
    }
    try q.processAllAvailable() finally q.stop()

    val expected = before.map {
      case (id, _, pd) if id == ids(0) => (id, "STREAM_MERGED", pd)
      case r => r
    }.filterNot(_._1 == ids(1))
    assert(rows(ParquetLake.readManifested(spark, lakeDir)) === expected)
    // at-least-once replay is content-idempotent: re-merging the
    // tombstone batch leaves the snapshot unchanged
    ParquetLake.mergeManifested(
      spark, lakeDir, del, keyCols = Seq("event_id"), deleteCol = Some("_del"))
    assert(rows(ParquetLake.readManifested(spark, lakeDir)) === expected)
  }

  test("st18: built-in session_window sessions match batch gap sessions, closed-only") {
    val stream = spark.readStream
      .schema(StructType(Seq(StructField("data", BinaryType))))
      .parquet(payloadDir)
    val q = LogStream.sessionWindowCounts(
        LogStream.parse(stream), col("fields")("user_id").cast("long"),
        "30 minutes", "10 minutes")
      .writeStream.format("memory").queryName("st18_out").outputMode("append").start()
    try { q.processAllAvailable() } finally q.stop()
    // session_window end = last event + gap; compare on
    // (user, start, last-event, n) against the batch sessionizer
    val streamed = spark.table("st18_out")
      .select(col("k"), col("start_ms"), (col("end_ms") - 1800000L).as("last_ms"), col("n_events"))
      .as[(Long, Long, Long, Long)].collect().toSet
    val batch = SparkEntry.queries("q8_sessionize")(spark, sf)
      .select(col("user_id"), col("s_start_ms"), col("s_end_ms"), col("n_events"))
      .as[(Long, Long, Long, Long)].collect().toSet
    // append mode emits exactly the watermark-closed sessions: a
    // session closes when the watermark passes its window end
    // (last event + gap) — including a user's FINAL session if the
    // user has been idle long enough (richer than st3's sessionizer,
    // which parks final sessions in state forever)
    val maxTs = events(spark, sf).agg(max("ts_ms")).head().getLong(0)
    val wm = maxTs - 600000L
    val expectedClosed = batch.filter(t => t._3 + 1800000L < wm)
    assert(streamed === expectedClosed)
  }

  private def st3Body(tag: String): Unit = {
    val evDir = Files.createTempDirectory("graft_stream_ev").toString
    events(spark, sf)
      .select(col("user_id").as("userId"), col("ts_ns").as("tsNs"))
      .write.mode("overwrite").parquet(evDir)
    val evs = spark.readStream
      .schema(StructType(Seq(
        StructField("userId", LongType), StructField("tsNs", LongType))))
      .parquet(evDir)
      .as[LogStream.EventIn]
    val q = LogStream.sessionize(evs, gapNs = 1800L * 1000 * 1000 * 1000)
      .writeStream.format("memory").queryName(s"st3_out$tag").outputMode("append").start()
    try { q.processAllAvailable() } finally q.stop()
    val emitted = spark.table(s"st3_out$tag").count()
    val batchSessions = SparkEntry.queries("q8_sessionize")(spark, sf).count()
    val nUsers = events(spark, sf).select("user_id").distinct().count()
    // open (last) session per user stays in state, everything else closes
    assert(emitted === batchSessions - nUsers)
  }

  private def st25Body(tag: String): Unit = {
    import org.apache.spark.sql.SaveMode
    val inDir = Files.createTempDirectory("graft_anom_in").toString
    // deterministic per-user baseline (period-7 ramp, sd ≈ 1.1) plus
    // one planted 100.0 spike for user 1 in the second delivery
    def rows(is: Range): Seq[(Long, Long, Double)] =
      for { u <- 1L to 3L; i <- is } yield
        (u, i.toLong * 1000L + u, if (u == 1L && i == 29) 100.0 else (i % 7) * 0.5)
    def writeIn(is: Range, mode: SaveMode): Unit =
      rows(is).toDF("userId", "tsNs", "value").write.mode(mode).parquet(inDir)
    writeIn(0 until 20, SaveMode.Overwrite)
    val stream = spark.readStream
      .schema(StructType(Seq(
        StructField("userId", LongType), StructField("tsNs", LongType),
        StructField("value", DoubleType))))
      .parquet(inDir)
      .as[LogStream.ValueIn]
    val q = LogStream.anomalyFlags(stream)
      .writeStream.format("memory").queryName(s"st25_out$tag").outputMode("append").start()
    try {
      q.processAllAvailable()
      writeIn(20 until 30, SaveMode.Append) // second micro-batch: state carries
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table(s"st25_out$tag").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3),
        r.getDouble(4), r.getBoolean(5)))
    // every point emitted exactly once, every key's count sequential
    assert(out.length === 90)
    assert(out.filter(_._1 == 1L).map(_._4).sorted.toSeq === (1L to 30L))
    // exactly the planted spike flags; scored against PRE-spike stats
    val flagged = out.filter(_._6)
    assert(flagged.map(t => (t._1, t._3)).toSeq === Seq((1L, 100.0)))
    assert(flagged.head._5 > 3.0)
    // exact parity with the batch twin: same operator, one sorted fold
    val batch = LogStream.anomalyFlags(
      spark.read.parquet(inDir).as[LogStream.ValueIn]).collect()
      .map(r => (r.userId, r.tsNs, r.value, r.nSeen, r.zscore, r.anomalous))
    assert(out.sortBy(t => (t._1, t._2)).toSeq === batch.sortBy(t => (t._1, t._2)).toSeq)
  }

  private def st26Body(tag: String): Unit = {
    import org.apache.spark.sql.SaveMode
    val inDir = Files.createTempDirectory("graft_asof_in").toString
    // the q13 fixture as one keyed stream: clicks = reference side 0,
    // errors = probe side 1; split into two batches at the median ts
    // (per-key time-ordered delivery, the operator's replay contract)
    val ev = events(spark, sf)
      .where(col("event_type").isin("click", "error"))
      .select(col("user_id").as("userId"), col("ts_ns").as("tsNs"),
        when(col("event_type") === "click", 0).otherwise(1).as("side"),
        col("event_id").as("id"))
    val cut = ev.agg(expr("percentile_approx(tsNs, 0.5)")).head().getLong(0)
    def writeIn(f: org.apache.spark.sql.Column, mode: SaveMode): Unit =
      ev.where(f).write.mode(mode).parquet(inDir)
    writeIn(col("tsNs") <= cut, SaveMode.Overwrite)
    val stream = spark.readStream
      .schema(StructType(Seq(
        StructField("userId", LongType), StructField("tsNs", LongType),
        StructField("side", IntegerType), StructField("id", LongType))))
      .parquet(inDir)
      .as[LogStream.AsOfIn]
    val q = LogStream.streamAsOf(stream)
      .writeStream.format("memory").queryName(s"st26_out$tag").outputMode("append").start()
    try {
      q.processAllAvailable()
      writeIn(col("tsNs") > cut, SaveMode.Append)
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table(s"st26_out$tag")
      .select("eventId", "lastRightId")
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getLong(1)))
      .toMap
    // row-for-row parity with the oracle-checked batch as-of join
    val batch = SparkEntry.queries("q13_asof_join")(spark, sf)
      .select("event_id", "last_click_id")
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getLong(1)))
      .toMap
    assert(out.size === batch.size)
    assert(out === batch)
  }

  test("st27: streaming mixture sampling keeps exactly the batch gate's docs across micro-batches") {
    import org.apache.spark.sql.SaveMode
    val inDir = Files.createTempDirectory("graft_mix_in").toString
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "source")
    def writeIn(f: org.apache.spark.sql.Column, mode: SaveMode): Unit =
      docs.where(f).write.mode(mode).parquet(inDir)
    writeIn(col("doc_id") < 250, SaveMode.Overwrite)
    val srcNum = regexp_extract(col("source"), "([0-9]+)$", 1).cast("long")
    val keepPct = when(srcNum % 2 === 0, 30L).otherwise(70L)
    val stream = spark.readStream
      .schema(StructType(Seq(
        StructField("doc_id", LongType), StructField("source", StringType))))
      .parquet(inDir)
    val q = LogStream.mixtureSample(stream, "doc_id", keepPct)
      .writeStream.format("memory").queryName("st27_out").outputMode("append").start()
    try {
      q.processAllAvailable()
      writeIn(col("doc_id") >= 250, SaveMode.Append)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("st27_out").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    // identical keep set to the batch gate (same operator, batch df)
    val batchKept = LogStream.mixtureSample(docs, "doc_id", keepPct)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(streamed === batchKept)
    // and per-source counts equal the oracle-checked t7 accounting
    val t7 = SparkEntry.queries("t7_mixture_sample")(spark, sf)
      .select("source", "n_kept")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val bySource = spark.table("st27_out").groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySource === t7.filter(_._2 > 0))
  }

  test("st26: streaming as-of enrichment matches batch q13 row-for-row across micro-batches") {
    st26Body("")
  }

  test("st26 (rocksdb): streaming as-of under the RocksDB state store") {
    withRocksDb(st26Body("_rdb"))
  }

  test("st25: streaming Welford z-score gate flags the planted spike; exact batch parity across micro-batches") {
    st25Body("")
  }

  test("st25 (rocksdb): Welford anomaly gate under the RocksDB state store") {
    withRocksDb(st25Body("_rdb"))
  }

  private def st30Body(tag: String): Unit = {
    import org.apache.spark.sql.SaveMode
    val inDir = Files.createTempDirectory("graft_kmv_in").toString
    val ev = events(spark, sf)
      .select(col("event_type").as("key"), col("user_id").as("element"))
    def writeIn(f: org.apache.spark.sql.Column, mode: SaveMode): Unit =
      ev.where(f).write.mode(mode).parquet(inDir)
    // three micro-batches sliced by USER (not time): min-k state is
    // order-free, so any slicing must land on the same final estimate
    writeIn(col("element") % 3 === 0, SaveMode.Overwrite)
    val stream = spark.readStream
      .schema(StructType(Seq(
        StructField("key", StringType), StructField("element", LongType))))
      .parquet(inDir)
      .as[LogStream.KmvIn]
    val q = LogStream.streamKmv(stream, k = 8)
      .writeStream.format("memory").queryName(s"st30_out$tag").outputMode("append").start()
    try {
      q.processAllAvailable()
      writeIn(col("element") % 3 === 1, SaveMode.Append)
      q.processAllAvailable()
      writeIn(col("element") % 3 === 2, SaveMode.Append)
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table(s"st30_out$tag").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getDouble(2), r.getBoolean(3)))
    // one emission per key per delivering batch; estimates only ever
    // grow (exact counts grow, and once the heap fills u_k can only
    // shrink — and any estimate ≥ k-1 ≥ any exact count), so max =
    // final
    assert(out.groupBy(_._1).values.forall(_.length === 3))
    val finals = out.groupBy(_._1).map { case (k, rows) =>
      k -> rows.map(_._3).max }
    // independent expected values: hashes via the SQL md5 expression
    // a9's oracle replays (pinning kmvHash52 to the SQL arithmetic),
    // bottom-k and the estimate recomputed here from scratch
    val hashes = ev.select(col("key"),
      conv(substring(md5(col("element").cast("string")), 1, 13), 16, 10)
        .cast("long").as("h"))
      .distinct().collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    val expected = hashes.map { case (k, hs) =>
      k -> (if (hs.length < 8) hs.length.toDouble
            else 7.0 / (hs(7).toDouble / 4503599627370496.0)) }
    assert(finals === expected)
    // the fixture (15 distinct users per type) crosses k=8: early
    // emissions exact, finals estimator-regime
    assert(out.filter(t => !t._4).nonEmpty)
    assert(out.filter(t => t._4).forall(t => t._2 < 8))
    // batch-boundary invariance, stated directly: the same operator
    // over the whole input as ONE batch gives the same finals
    val single = LogStream.streamKmv(
      spark.read.parquet(inDir).as[LogStream.KmvIn], k = 8)
      .collect().map(o => o.key -> o.estDistinct).toMap
    assert(single === finals)
    // and the k=64 run sits in the exact regime here, agreeing with
    // the a9 row's exact branch (driver-verified at larger sf where
    // the estimator branch carries the oracle)
    val a9 = SparkEntry.queries("a9_kmv_distinct")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    val single64 = LogStream.streamKmv(
      spark.read.parquet(inDir).as[LogStream.KmvIn])
      .collect().map(o => o.key -> o.estDistinct).toMap
    assert(single64 === a9)
  }

  private def st31Body(tag: String): Unit = {
    import org.apache.spark.sql.SaveMode
    val inDir = Files.createTempDirectory("graft_ewma_in").toString
    // per-key time-ordered delivery across batches (the operator's
    // replay contract): split at the median ts
    val ev = events(spark, sf)
      .select(col("user_id").as("userId"), col("ts_ms").as("tsMs"),
        col("event_id").as("eventId"), col("value"))
    val cut = ev.agg(expr("percentile_approx(tsMs, 0.5)")).head().getLong(0)
    def writeIn(f: org.apache.spark.sql.Column, mode: SaveMode): Unit =
      ev.where(f).write.mode(mode).parquet(inDir)
    writeIn(col("tsMs") <= cut, SaveMode.Overwrite)
    val stream = spark.readStream
      .schema(StructType(Seq(
        StructField("userId", LongType), StructField("tsMs", LongType),
        StructField("eventId", LongType), StructField("value", DoubleType))))
      .parquet(inDir)
      .as[LogStream.EwmaIn]
    val q = LogStream.streamEwma(stream)
      .writeStream.format("memory").queryName(s"st31_out$tag").outputMode("append").start()
    try {
      q.processAllAvailable()
      writeIn(col("tsMs") > cut, SaveMode.Append)
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table(s"st31_out$tag").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // final state per key = the emission at its greatest lastTs
    val finals = out.groupBy(_._1).map { case (u, rows) =>
      val last = rows.maxBy(_._2)
      u -> (last._2, last._3, math.round(last._4 * 10000) / 10000.0) }
    // BIT-EXACT parity with the oracle-checked batch row: the state
    // carries q53's factored accumulator, so the additions happen in
    // the same order with the same operands as the window sum
    val q53 = SparkEntry.queries("q53_ewma_activity")(spark, sf)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(1), r.getDouble(3)))
      .toMap
    assert(finals.keySet === q53.keySet)
    finals.foreach { case (u, (ts, n, score)) =>
      assert((ts, n, score) === q53(u), s"user $u") }
  }

  private def st41Body(tag: String): Unit = {
    import org.apache.spark.sql.SaveMode
    val inDir = Files.createTempDirectory("graft_ffill_in").toString
    val step = 86400000L
    val ev = events(spark, sf)
      .select(col("user_id").as("userId"), col("ts_ms").as("tsMs"),
        col("event_id").as("eventId"), col("value"),
        lit(false).as("heartbeat"))
    val cut = ev.agg(expr("percentile_approx(tsMs, 0.5)")).head().getLong(0)
    def writeIn(df: org.apache.spark.sql.DataFrame, mode: SaveMode): Unit =
      df.write.mode(mode).parquet(inDir)
    // out-of-order punctuation FIRST: a heartbeat arriving before a
    // key's first data row must be ignored (no grid origin exists yet)
    // — honoring it would pin the grid to the heartbeat's bucket and
    // emit null buckets batch q56 never produces, so exact parity
    // below is the assertion that it was dropped
    writeIn(ev.groupBy("userId")
      .agg(expr(s"(min(tsMs) div $step - 3) * $step").as("tsMs"))
      .select(col("userId"), col("tsMs"), lit(0L).as("eventId"),
        lit(0.0).as("value"), lit(true).as("heartbeat")),
      SaveMode.Overwrite)
    val stream = spark.readStream
      .schema(StructType(Seq(
        StructField("userId", LongType), StructField("tsMs", LongType),
        StructField("eventId", LongType), StructField("value", DoubleType),
        StructField("heartbeat", BooleanType))))
      .parquet(inDir)
      .as[LogStream.FfillIn]
    val q = LogStream.streamFfill(stream)
      .writeStream.format("memory").queryName(s"st41_out$tag").outputMode("append").start()
    try {
      q.processAllAvailable()
      writeIn(ev.where(col("tsMs") <= cut), SaveMode.Append)
      q.processAllAvailable()
      writeIn(ev.where(col("tsMs") > cut), SaveMode.Append)
      q.processAllAvailable()
      // punctuation batch: one heartbeat per key at (max div step + 1)·step
      // closes the key at exactly q56's last bucket
      writeIn(ev.groupBy("userId")
        .agg(expr(s"(max(tsMs) div $step + 1) * $step").as("tsMs"))
        .select(col("userId"), col("tsMs"), lit(0L).as("eventId"),
          lit(0.0).as("value"), lit(true).as("heartbeat")),
        SaveMode.Append)
      q.processAllAvailable()
    } finally q.stop()
    // the fill carries values verbatim (no arithmetic), so parity with
    // the oracle-checked batch q56 is bit-exact row-set equality after
    // the same final rounding
    val got = spark.table(s"st41_out$tag")
      .select(col("userId").as("user_id"), col("gridMs").as("grid_ms"),
        round(col("valueFfill"), 4).as("value_ffill"))
    val want = SparkEntry.queries("q56_resample_ffill")(spark, sf)
    assert(got.count() === want.count())
    assert(got.exceptAll(want).isEmpty, "stream emitted rows batch q56 does not have")
    assert(want.exceptAll(got).isEmpty, "batch q56 rows missing from the stream")
  }

  private def st42Body(tag: String): Unit = {
    import org.apache.spark.sql.SaveMode
    val inDir = Files.createTempDirectory("graft_funnel_in").toString
    val ev = events(spark, sf)
      .select(col("user_id").as("userId"), col("ts_ns").as("tsNs"),
        col("event_type").as("eventType"))
    val cut = ev.agg(expr("percentile_approx(tsNs, 0.5)")).head().getLong(0)
    def writeIn(f: org.apache.spark.sql.Column, mode: SaveMode): Unit =
      ev.where(f).write.mode(mode).parquet(inDir)
    writeIn(col("tsNs") <= cut, SaveMode.Overwrite)
    val stream = spark.readStream
      .schema(StructType(Seq(
        StructField("userId", LongType), StructField("tsNs", LongType),
        StructField("eventType", StringType))))
      .parquet(inDir)
      .as[LogStream.FunnelIn]
    val q = LogStream.streamFunnel(stream)
      .writeStream.format("memory").queryName(s"st42_out$tag").outputMode("append").start()
    try {
      q.processAllAvailable()
      writeIn(col("tsNs") > cut, SaveMode.Append)
      q.processAllAvailable()
    } finally q.stop()
    // pure integer comparisons on both sides: grouping the emitted
    // rows by day must reproduce the oracle-checked batch q57 exactly
    val got = spark.table(s"st42_out$tag")
      .groupBy(col("dayIdx").as("day_idx"))
      .agg(sum(when(!col("converted"), 1L).otherwise(0L)).as("n_users"),
        sum(when(col("converted"), 1L).otherwise(0L)).as("n_converted"))
    val want = SparkEntry.queries("q57_funnel_windows")(spark, sf)
      .select("day_idx", "n_users", "n_converted")
    assert(got.count() === want.count())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    // at most one entered and one converted row per user
    val perUser = spark.table(s"st42_out$tag")
      .groupBy("userId", "converted").count().collect()
    assert(perUser.forall(_.getLong(2) === 1L))
  }

  test("st42: streaming funnel emits entered/converted live and aggregates to batch q57 exactly") {
    st42Body("")
  }

  test("st42 (rocksdb): funnel under the RocksDB state store") {
    withRocksDb(st42Body("_rdb"))
  }

  test("st41: streaming resample/forward-fill matches batch q56 exactly across micro-batches") {
    st41Body("")
  }

  test("st41 (rocksdb): forward-fill under the RocksDB state store") {
    withRocksDb(st41Body("_rdb"))
  }

  private def st32Body(tag: String): Unit = {
    import org.apache.spark.sql.SaveMode
    val inDir = Files.createTempDirectory("graft_trans_in").toString
    val ev = events(spark, sf)
      .select(col("user_id").as("userId"), col("ts_ns").as("tsNs"),
        col("event_id").as("eventId"), col("event_type").as("eventType"))
    val cut = ev.agg(expr("percentile_approx(tsNs, 0.5)")).head().getLong(0)
    def writeIn(f: org.apache.spark.sql.Column, mode: SaveMode): Unit =
      ev.where(f).write.mode(mode).parquet(inDir)
    writeIn(col("tsNs") <= cut, SaveMode.Overwrite)
    val stream = spark.readStream
      .schema(StructType(Seq(
        StructField("userId", LongType), StructField("tsNs", LongType),
        StructField("eventId", LongType), StructField("eventType", StringType))))
      .parquet(inDir)
      .as[LogStream.TransIn]
    val q = LogStream.streamTransitions(stream)
      .writeStream.format("memory").queryName(s"st32_out$tag").outputMode("append").start()
    try {
      q.processAllAvailable()
      writeIn(col("tsNs") > cut, SaveMode.Append) // state carries last type across the cut
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table(s"st32_out$tag")
      .groupBy(col("fromType"), col("toType")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // aggregated transitions ≡ the oracle-checked batch matrix exactly
    // (including transitions spanning the batch boundary)
    val batch = SparkEntry.queries("q54_transition_matrix")(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got === batch)
  }

  private def st33Body(tag: String): Unit = {
    import org.apache.spark.sql.SaveMode
    val inDir = Files.createTempDirectory("graft_drift_in").toString
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    // pinned reference = slice-0 centroids (what s16 calls n_ref's leg)
    val ref = emb.where(col("vec_id") % 2 === 0)
      .groupBy(col("label"))
      .agg(graft.functions.vecsum(col("embedding")).as("vs"))
      .select(col("label"), col("vs.sum"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1).toArray).toMap
    val cur = emb.where(col("vec_id") % 2 === 1)
      .select(col("label"), col("embedding").as("vec"), col("vec_id"))
    val cut = cur.agg(expr("percentile_approx(vec_id, 0.5)")).head().getLong(0)
    def writeIn(f: org.apache.spark.sql.Column, mode: SaveMode): Unit =
      cur.where(f).select("label", "vec").write.mode(mode).parquet(inDir)
    writeIn(col("vec_id") <= cut, SaveMode.Overwrite)
    val stream = spark.readStream
      .schema(StructType(Seq(
        StructField("label", IntegerType),
        StructField("vec", ArrayType(FloatType)))))
      .parquet(inDir)
      .as[LogStream.DriftIn]
    val q = LogStream.streamDrift(stream, ref, minCos = 0.8)
      .writeStream.format("memory").queryName(s"st33_out$tag").outputMode("append").start()
    try {
      q.processAllAvailable()
      writeIn(col("vec_id") > cut, SaveMode.Append)
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table(s"st33_out$tag").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getBoolean(3)))
    // final per-label state (emission at max n) matches the
    // oracle-checked batch report to 4 dp — same sums, same cosine
    val finals = out.groupBy(_._1).map { case (l, rows) =>
      val last = rows.maxBy(_._2)
      l.toLong -> (last._2, math.round(last._3 * 10000) / 10000.0, last._4) }
    val s16 = SparkEntry.queries("s16_embed_drift")(spark, sf)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(finals.keySet === s16.keySet)
    finals.foreach { case (l, (n, cos, drifted)) =>
      assert((n, cos) === s16(l), s"label $l")
      // the flag is exactly the documented gate on the same number
      assert(drifted === (n >= 10 && cos < 0.8), s"label $l")
    }
  }

  test("st35: continuous dedup-gated ingest — cross-batch dups rejected, lake stays exactly deduplicated") {
    import org.apache.spark.sql.SaveMode
    import graft.operators.Dedup
    import graft.sources.ParquetLake
    val inDir = Files.createTempDirectory("graft_di_in").toString
    val dataPath = Files.createTempDirectory("graft_di_data").toString + "/lake"
    val indexPath = Files.createTempDirectory("graft_di_idx").toString + "/index"
    val ckpt = Files.createTempDirectory("graft_di_ckpt").toString
    val docs = graft.queries.table(spark, sf, "documents")
      .select("doc_id", "source", "text")
    val corpusA = docs.where(col("doc_id") % 3 =!= 0)
    corpusA.write.parquet(dataPath)
    ParquetLake.snapshotManifest(spark, dataPath)
    Dedup.dedupIndexInit(spark, indexPath, corpusA, "text", "doc_id")

    val fresh1 = docs.where(col("doc_id") % 3 === 0 && col("doc_id") < 250)
    val fresh2 = docs.where(col("doc_id") % 3 === 0 && col("doc_id") >= 250)
    val dupA1 = corpusA.where(col("doc_id") % 7 === 1)
      .withColumn("doc_id", col("doc_id") + 100000L)
    val crossDup = fresh1.where(col("doc_id") % 5 === 0)
      .withColumn("doc_id", col("doc_id") + 200000L)
    val dupA2 = corpusA.where(col("doc_id") % 7 === 2)
      .withColumn("doc_id", col("doc_id") + 300000L)
    fresh1.unionByName(dupA1).write.mode(SaveMode.Overwrite).parquet(inDir)
    val stream = spark.readStream
      .schema(StructType(Seq(
        StructField("doc_id", LongType), StructField("source", StringType),
        StructField("text", StringType))))
      .parquet(inDir)
    val q = LogStream.startBatchSink(stream, ckpt) { (batch, _) =>
      Dedup.indexedIngest(
        batch.sparkSession, dataPath, indexPath, batch, "text", "doc_id")
    }
    try {
      q.processAllAvailable()
      // batch 2 repeats batch 1's docs — the index batch 1 just
      // updated must reject them
      fresh2.unionByName(crossDup).unionByName(dupA2)
        .write.mode(SaveMode.Append).parquet(inDir)
      q.processAllAvailable()
    } finally q.stop()

    val lake = ParquetLake.readManifested(spark, dataPath)
    val expected = corpusA.count() + fresh1.count() + fresh2.count()
    assert(lake.count() === expected)
    // exactly deduplicated: one row per distinct fingerprint, and the
    // index IS the lake's fingerprint set
    val fps = lake.select(
      graft.functions.TextFunctions.contentFingerprint(col("text")).as("fingerprint"))
    assert(fps.distinct().count() === expected)
    val index = ParquetLake.readManifested(spark, indexPath)
    assert(index.count() === expected)
    assert(index.join(fps, Seq("fingerprint"), "left_anti").count() === 0)
    // no replayed/copied id ever landed
    assert(lake.where(col("doc_id") >= 100000L).count() === 0)
  }

  test("st38: continuous line-scrub ingest — cross-batch repeated sentences scrub, boilerplate-only docs drop") {
    import org.apache.spark.sql.SaveMode
    import graft.operators.Dedup
    import graft.sources.ParquetLake
    val inDir = Files.createTempDirectory("graft_ls_in").toString
    val dataPath = Files.createTempDirectory("graft_ls_data").toString + "/lake"
    val indexPath = Files.createTempDirectory("graft_ls_idx").toString + "/index"
    val ckpt = Files.createTempDirectory("graft_ls_ckpt").toString
    val corpus = Seq((1L, "all rights reserved. alpha one")).toDF("doc_id", "text")
    corpus.write.parquet(dataPath)
    ParquetLake.snapshotManifest(spark, dataPath)
    Dedup.lineIndexInit(spark, indexPath, corpus, "text", "doc_id")

    val batch1 = Seq(
      (10L, "fresh one. fresh two"),
      (11L, "all rights reserved. fresh three")).toDF("doc_id", "text")
    batch1.write.mode(SaveMode.Overwrite).parquet(inDir)
    val stream = spark.readStream
      .schema(StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType))))
      .parquet(inDir)
    val q = LogStream.startBatchSink(stream, ckpt) { (batch, _) =>
      Dedup.lineGatedIngest(
        batch.sparkSession, dataPath, indexPath, batch, "text", "doc_id")
    }
    try {
      q.processAllAvailable()
      // batch 2 repeats batch 1's sentences — the index batch 1 just
      // extended must scrub them
      Seq(
        (20L, "fresh one. brand new"),     // "fresh one" scrubs (batch 1)
        (21L, "fresh two. fresh three"))   // wholly seen → drops
        .toDF("doc_id", "text")
        .write.mode(SaveMode.Append).parquet(inDir)
      q.processAllAvailable()
    } finally q.stop()

    val landed = ParquetLake.readManifested(spark, dataPath)
      .where(col("doc_id") >= 10L)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(landed === Map(
      10L -> "fresh one. fresh two",
      11L -> "fresh three",
      20L -> "brand new"))
    // index holds exactly the corpus + surviving sentences
    assert(ParquetLake.readManifested(spark, indexPath).count() === 6)
  }

  test("st39: continuous matview sink — rollup tracks the lake per batch, replayed batch appends nothing") {
    import org.apache.spark.sql.SaveMode
    import graft.sources.ParquetLake
    val inDir = Files.createTempDirectory("graft_mv_in").toString
    val dataPath = Files.createTempDirectory("graft_mv_data").toString + "/lake"
    val ckpt = Files.createTempDirectory("graft_mv_ckpt").toString
    val keys = Seq("event_type")
    val ms = Seq("user_id")
    val ev = events(spark, sf).select("event_id", "user_id", "event_type")
    val b1 = ev.where(col("event_id") % 2 === 0)
    val b2 = ev.where(col("event_id") % 2 === 1).localCheckpoint(eager = false)
    def expect() = ParquetLake.readManifested(spark, dataPath)
      .groupBy("event_type").agg(
        count(lit(1)).as("n"), sum("user_id").as("s"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    def rollup() = ParquetLake.matviewRead(spark, dataPath, "mv")
      .collect().map(r => r.getAs[String]("event_type") ->
        (r.getAs[Long]("n_rows"), r.getAs[Long]("sum_user_id"))).toMap

    b1.write.mode(SaveMode.Overwrite).parquet(inDir)
    val stream = spark.readStream
      .schema(StructType(Seq(
        StructField("event_id", LongType), StructField("user_id", LongType),
        StructField("event_type", StringType))))
      .parquet(inDir)
    val q = LogStream.startMatviewSink(stream, dataPath, "mv", keys, ms, ckpt)
    try {
      q.processAllAvailable()
      assert(ParquetLake.readManifested(spark, dataPath).count() === b1.count())
      assert(rollup() === expect())
      b2.write.mode(SaveMode.Append).parquet(inDir)
      q.processAllAvailable()
    } finally q.stop()
    assert(ParquetLake.readManifested(spark, dataPath).count() === ev.count())
    assert(rollup() === expect())
    // the sink's refresh already reflects the head: another refresh is a noop
    val again = ParquetLake.matviewRefresh(spark, dataPath, "mv", keys, ms)
    assert(again.mode === "noop")
    // at-least-once replay of the LAST batch (its stream_batch marker
    // is in a retained manifest header): nothing lands twice — the
    // replay must run under the SAME checkpoint-derived marker
    // namespace the sink used
    val headV = ParquetLake.manifestLog(spark, dataPath).last._1
    LogStream.matviewBatchWriter(dataPath, "mv", keys, ms, None,
      LogStream.matviewSinkId(ckpt))(b2, 1L)
    assert(ParquetLake.manifestLog(spark, dataPath).last._1 === headV)
    assert(ParquetLake.readManifested(spark, dataPath).count() === ev.count())
    assert(rollup() === expect())
    // a DIFFERENT checkpoint's sink is a different namespace: its
    // batch 0 is NOT masked by this sink's high-water marker (the
    // fresh-checkpoint data-loss mode the namespacing exists to kill)
    val otherId = LogStream.matviewSinkId(ckpt + "_other")
    LogStream.matviewBatchWriter(dataPath, "mv", keys, ms, None, otherId)(
      b2.limit(1), 0L)
    assert(ParquetLake.manifestLog(spark, dataPath).last._1 === headV + 1)
    assert(ParquetLake.readManifested(spark, dataPath).count() === ev.count() + 1)
    // LEGACY marker fallback: a lake written before markers were
    // namespaced carries its high-water under plain `stream_batch`.
    // A checkpoint resuming against it must see that mark — otherwise
    // the at-least-once replayed last micro-batch re-appends, the
    // exact duplication the marker exists to prevent. Simulate the
    // legacy sink's write, then replay batch ≤ mark under a FRESH
    // namespace: nothing may land.
    val legacyData = Files.createTempDirectory("graft_mv_legacy").toString + "/lake"
    ParquetLake.stageAppend(spark, legacyData, b1, "legacy0", None)
    ParquetLake.publishStaged(spark, legacyData, "legacy0",
      headers = Map("stream_batch" -> "3"))
    val legacyHead = ParquetLake.manifestLog(spark, legacyData).last._1
    LogStream.matviewBatchWriter(legacyData, "mv", keys, ms, None,
      LogStream.matviewSinkId(ckpt))(b1, 3L)
    assert(ParquetLake.manifestLog(spark, legacyData).last._1 === legacyHead,
      "replay at the legacy high-water mark must append nothing")
    assert(ParquetLake.readManifested(spark, legacyData).count() === b1.count())
    // a LATER batch id still lands (the fallback is a high-water read,
    // not a write freeze)
    LogStream.matviewBatchWriter(legacyData, "mv", keys, ms, None,
      LogStream.matviewSinkId(ckpt))(b2.limit(1), 4L)
    assert(ParquetLake.readManifested(spark, legacyData).count() === b1.count() + 1)
  }

  test("st36: continuous chunk-gated blob ingest — near-copies reject across micro-batches") {
    import org.apache.spark.sql.SaveMode
    import graft.multimodal.BinaryOps
    import graft.sources.ParquetLake
    val inDir = Files.createTempDirectory("graft_ci_in").toString
    val dataPath = Files.createTempDirectory("graft_ci_data").toString + "/lake"
    val indexPath = Files.createTempDirectory("graft_ci_idx").toString + "/index"
    val ckpt = Files.createTempDirectory("graft_ci_ckpt").toString
    // APERIODIC payloads (md5-derived tokens): CDC boundary
    // resynchronization needs content entropy — on periodic strings
    // the gear hash is periodic and a shifted stream may NEVER
    // re-align (found the hard way; real text is aperiodic)
    def blob(i: Int): String = (0 until 80).map(j =>
      java.security.MessageDigest.getInstance("MD5")
        .digest(s"$i-$j".getBytes("UTF-8")).take(4).map(b => f"$b%02x").mkString)
      .mkString(" ")
    val corpusA = (0 until 40).map(i => (i.toLong, blob(i))).toDF("blob_id", "t")
      .select(col("blob_id"), col("t").cast("binary").as("payload"))
    corpusA.write.parquet(dataPath)
    ParquetLake.snapshotManifest(spark, dataPath)
    BinaryOps.chunkIndexInit(spark, indexPath, corpusA, "payload", "blob_id",
      minLen = 16, maskBits = 4, maxLen = 256)
    // batch 1: 10 fresh + 3 near-copies of the corpus;
    // batch 2: 10 fresh + 3 near-copies of BATCH 1's blobs (cross-batch)
    def rows(ps: Seq[(Long, String)]) = ps.toDF("blob_id", "t")
      .select(col("blob_id"), col("t").cast("binary").as("payload"))
    val b1 = rows((40 until 50).map(i => (i.toLong, blob(i))) ++
      (0 until 3).map(i => (1000L + i, "v2: " + blob(i))))
    val b2 = rows((50 until 60).map(i => (i.toLong, blob(i))) ++
      (0 until 3).map(i => (2000L + i, "v3: " + blob(40 + i))))
    b1.write.mode(SaveMode.Overwrite).parquet(inDir)
    val stream = spark.readStream
      .schema(StructType(Seq(
        StructField("blob_id", LongType), StructField("payload", BinaryType))))
      .parquet(inDir)
    val q = LogStream.startBatchSink(stream, ckpt) { (batch, _) =>
      BinaryOps.chunkGatedIngest(
        batch.sparkSession, dataPath, indexPath, batch, "payload", "blob_id",
        maxContainment = 0.5, minLen = 16, maskBits = 4, maxLen = 256)
    }
    try {
      q.processAllAvailable()
      b2.write.mode(SaveMode.Append).parquet(inDir)
      q.processAllAvailable()
    } finally q.stop()
    val lake = ParquetLake.readManifested(spark, dataPath)
    assert(lake.count() === 60L) // 40 corpus + 20 fresh; all 6 near-copies rejected
    assert(lake.where(col("blob_id") >= 1000L).count() === 0)
  }

  test("st40: continuous frame-gated blob ingest — re-encoded seen footage rejects across micro-batches") {
    import org.apache.spark.sql.SaveMode
    import graft.multimodal.BinaryOps
    import graft.sources.ParquetLake
    val inDir = Files.createTempDirectory("graft_fi_in").toString
    val dataPath = Files.createTempDirectory("graft_fi_data").toString + "/lake"
    val indexPath = Files.createTempDirectory("graft_fi_idx").toString + "/index"
    val ckpt = Files.createTempDirectory("graft_fi_ckpt").toString
    def gifs(specs: Seq[(Long, Array[Long])]) =
      BinaryOps.renderAnimatedGifs(specs.map { case (id, seeds) =>
        (id, 16, 16, seeds) }.toDS()).toDF("blob_id", "payload")
    // corpus: 10 clips x 3 frames, seeds 0..29
    val corpus = gifs((0L until 10L).map(i => i -> Array(i * 3, i * 3 + 1, i * 3 + 2)))
    corpus.write.parquet(dataPath)
    ParquetLake.snapshotManifest(spark, dataPath)
    BinaryOps.frameIndexInit(spark, indexPath, corpus, "payload", "blob_id")
    // batch 1: 3 fresh clips + a re-cut of corpus footage (3/4 seen);
    // batch 2: 3 fresh + a re-cut of BATCH 1's footage (cross-batch)
    val b1 = gifs((10L until 13L).map(i => i -> Array(i * 3, i * 3 + 1, i * 3 + 2)) :+
      (1000L -> Array(500L, 0L, 1L, 2L)))
    val b2 = gifs((13L until 16L).map(i => i -> Array(i * 3, i * 3 + 1, i * 3 + 2)) :+
      (2000L -> Array(501L, 30L, 31L, 32L)))
    b1.write.mode(SaveMode.Overwrite).parquet(inDir)
    val stream = spark.readStream
      .schema(StructType(Seq(
        StructField("blob_id", LongType), StructField("payload", BinaryType))))
      .parquet(inDir)
    val q = LogStream.startBatchSink(stream, ckpt) { (batch, _) =>
      BinaryOps.frameGatedIngest(
        batch.sparkSession, dataPath, indexPath, batch, "payload", "blob_id",
        maxContainment = 0.5)
    }
    try {
      q.processAllAvailable()
      b2.write.mode(SaveMode.Append).parquet(inDir)
      q.processAllAvailable()
    } finally q.stop()
    val lake = ParquetLake.readManifested(spark, dataPath)
    assert(lake.count() === 16L) // 10 corpus + 6 fresh; both re-cuts rejected
    assert(lake.where(col("blob_id") >= 1000L).count() === 0)
    // the index holds exactly the landed clips' distinct stills —
    // rejected re-cuts' fresh intro frames (seeds 500/501) never leak
    assert(ParquetLake.readManifested(spark, indexPath).count() === 48L)
  }

  private def st34Body(tag: String): Unit = {
    import org.apache.spark.sql.SaveMode
    val inDir = Files.createTempDirectory("graft_trend_in").toString
    val ev = events(spark, sf)
      .select(col("event_type").as("key"), col("ts_ms").as("tsMs"), col("value"))
    val cut = ev.agg(expr("percentile_approx(tsMs, 0.5)")).head().getLong(0)
    def writeIn(f: org.apache.spark.sql.Column, mode: SaveMode): Unit =
      ev.where(f).write.mode(mode).parquet(inDir)
    writeIn(col("tsMs") <= cut, SaveMode.Overwrite)
    val stream = spark.readStream
      .schema(StructType(Seq(
        StructField("key", StringType), StructField("tsMs", LongType),
        StructField("value", DoubleType))))
      .parquet(inDir)
      .as[LogStream.TrendIn]
    val q = LogStream.streamTrend(stream)
      .writeStream.format("memory").queryName(s"st34_out$tag").outputMode("append").start()
    try {
      q.processAllAvailable()
      writeIn(col("tsMs") > cut, SaveMode.Append)
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table(s"st34_out$tag").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    def r4(x: Double) = math.round(x * 10000) / 10000.0
    val finals = out.groupBy(_._1).map { case (k, rows) =>
      val last = rows.maxBy(_._2)
      k -> (last._2, r4(last._3), r4(last._4), r4(last._5)) }
    // centered-moment finals match the oracle-checked batch fit to
    // 4 dp (same Welford algebra, different merge association)
    val q55 = SparkEntry.queries("q55_trend_fit")(spark, sf)
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    assert(finals.keySet === q55.keySet)
    finals.foreach { case (k, v) => assert(v === q55(k), s"key $k") }
  }

  test("st34: streaming OLS trend fit matches batch q55 across micro-batches") {
    st34Body("")
  }

  test("st34 (rocksdb): trend fit under the RocksDB state store") {
    withRocksDb(st34Body("_rdb"))
  }

  test("st33: streaming drift gate's running centroid matches batch s16 and trips its documented gate") {
    st33Body("")
  }

  test("st33 (rocksdb): drift gate under the RocksDB state store") {
    withRocksDb(st33Body("_rdb"))
  }

  test("st32: streaming transition tracker aggregates to batch q54's matrix exactly") {
    st32Body("")
  }

  test("st32 (rocksdb): transition tracker under the RocksDB state store") {
    withRocksDb(st32Body("_rdb"))
  }

  test("st31: streaming EWMA decay score is bit-exact with batch q53 across micro-batches") {
    st31Body("")
  }

  test("st31 (rocksdb): streaming EWMA under the RocksDB state store") {
    withRocksDb(st31Body("_rdb"))
  }

  test("st30: streaming bottom-k KMV distinct estimate matches batch a9 after any batch slicing") {
    st30Body("")
  }

  test("st30 (rocksdb): KMV estimator under the RocksDB state store") {
    withRocksDb(st30Body("_rdb"))
  }

  test("st3: stateful sessionization emits exactly the closed sessions of batch q8") {
    st3Body("")
  }

  test("st3 (rocksdb): stateful sessionization under the RocksDB state store") {
    withRocksDb(st3Body("_rdb"))
  }

  test("st43: continuous embedding-gated ingest — sign-space near-dups reject across micro-batches") {
    import org.apache.spark.sql.SaveMode
    import graft.operators.Similarity
    import graft.sources.ParquetLake
    val inDir = Files.createTempDirectory("graft_eg_in").toString
    val dataPath = Files.createTempDirectory("graft_eg_sdata").toString + "/lake"
    val indexPath = Files.createTempDirectory("graft_eg_sidx").toString + "/index"
    val ckpt = Files.createTempDirectory("graft_eg_ckpt").toString
    // deterministic ±1 patterns with murmur-mixed independent sign
    // bits (an LCG-style `(id·a + i·b) mod m` pattern makes sign
    // distance ∝ id distance — every id pair here must be FAR):
    // measured min pairwise distance across this test's 35 ids is 19,
    // so distinct ids never gate and flip-≤3 copies always do
    def vec(id: Long): Seq[Float] =
      (0 until 64).map { i =>
        var x = id * 0x9E3779B97F4A7C15L + i * 0xC2B2AE3D27D4EB4FL
        x ^= (x >>> 33); x *= 0xFF51AFD7ED558CCDL; x ^= (x >>> 33)
        if ((x & 1L) == 1L) 1.0f else -1.0f
      }
    def near(id: Long, flips: Int): Seq[Float] = {
      val a = vec(id).toArray; (0 until flips).foreach(i => a(i) = -a(i)); a.toSeq
    }
    val corpus = (1L to 20L).map(k => k -> vec(k)).toDF("vec_id", "embedding")
    corpus.write.parquet(dataPath)
    ParquetLake.snapshotManifest(spark, dataPath)
    Similarity.embedIndexInit(spark, indexPath, corpus, "embedding", "vec_id")

    val fresh1 = (100L to 109L).map(k => k -> vec(k)).toDF("vec_id", "embedding")
    val nearCorpus = Seq(900L -> near(5L, 3), 901L -> near(9L, 1)).toDF("vec_id", "embedding")
    val fresh2 = (200L to 204L).map(k => k -> vec(k)).toDF("vec_id", "embedding")
    val nearBatch1 = Seq(910L -> near(103L, 2), 911L -> near(107L, 3)).toDF("vec_id", "embedding")
    fresh1.unionByName(nearCorpus).write.mode(SaveMode.Overwrite).parquet(inDir)
    val stream = spark.readStream
      .schema(StructType(Seq(
        StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)))))
      .parquet(inDir)
    val q = LogStream.startBatchSink(stream, ckpt) { (batch, _) =>
      Similarity.embedGatedIngest(
        batch.sparkSession, dataPath, indexPath, batch, "embedding", "vec_id")
    }
    try {
      q.processAllAvailable()
      // batch 2 carries near-copies of batch 1's admissions — the
      // index batch 1 just extended must reject them
      fresh2.unionByName(nearBatch1).write.mode(SaveMode.Append).parquet(inDir)
      q.processAllAvailable()
    } finally q.stop()

    val lake = ParquetLake.readManifested(spark, dataPath)
    val ids = lake.select("vec_id").as[Long].collect().toSet
    assert(ids === ((1L to 20L) ++ (100L to 109L) ++ (200L to 204L)).toSet)
    // the index is exactly the lake's band rows, ready for the next batch
    assert(ParquetLake.readManifested(spark, indexPath).count() === ids.size * 8)
  }
}
