package graftbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.{Callable, ConcurrentLinkedQueue, Executors}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.types.{BinaryType, StructField, StructType}

import graft.streaming.LogStream

/** The streaming half of the `cwl` workload: an open loop. A generator
  * thread lands one parquet file of
  * gzipped CWL records every `IntervalMs` into the directory a
  * `LogStream.parse` → `dedupe` → `startIdempotentSink` query reads.
  * Each file's lag runs from when it was due to land to the commit of
  * the micro-batch that holds it, so a stall also delays the files
  * queued behind it. Every file re-delivers a few records of the one
  * before it, which `dedupe` must drop: the sink must hold every
  * landed event exactly once. Reports the lag as `op_p50_s` and
  * `op_p85_s` and the committed events per second as `throughput_per_s`
  * (traced: `streaming.*`).
  */
object Stream {
  // 4 000 unique events/s offered. A micro-batch costs ~0.6 s almost
  // regardless of its size, so the stream keeps up with headroom: twice
  // this rate left the lag unchanged.
  val RecordsPerFile = 10
  val EventsPerRecord = 50
  val RedeliveredPerFile = 2
  val IntervalMs = 100L
  // ~13 micro-batches: with half as many the per-batch driver work was
  // still warming up and the lag spread twice as much between runs
  val WarmFiles = 80
  val Watermark = "10 seconds"

  /** Stream records are addressed by index alone, so the count is unbounded. */
  def spec(seed: Long): CwlGen.Spec = CwlGen.Spec(seed, Int.MaxValue, EventsPerRecord)

  /** Records of file `k`: fresh DATA records, then `RedeliveredPerFile`
    * seeded copies of file `k - 1`'s fresh records (file 0 repeats its own).
    */
  def fileRecords(sp: CwlGen.Spec, k: Int): Seq[CwlGen.Record] = {
    def fresh(f: Int) = (0 until RecordsPerFile - RedeliveredPerFile)
      .map(r => CwlGen.record(sp, f.toLong * RecordsPerFile + r, CwlGen.Data))
    val own = fresh(k)
    val prev = if (k == 0) own else fresh(k - 1)
    val rng = new java.util.Random(CwlGen.mix(sp.seed, -2L - k))
    own ++ Seq.fill(RedeliveredPerFile)(prev(rng.nextInt(prev.size)))
  }

  /** What files `[0, n)` put in the sink once duplicates are dropped. */
  def expected(perFile: IndexedSeq[CwlGen.Totals], n: Int): CwlGen.Totals =
    perFile.take(n).foldLeft(CwlGen.NoTotals)(_ ++ _)

  /** Stage every file; returns the unique (fresh-record) totals per file. */
  def generate(sp: CwlGen.Spec, staging: Path, files: Int, threads: Int): IndexedSeq[CwlGen.Totals] = {
    val pool = Executors.newFixedThreadPool(threads)
    try (0 until files).map { k =>
      pool.submit(new Callable[CwlGen.Totals] {
        def call(): CwlGen.Totals = {
          val recs = fileRecords(sp, k)
          CwlGen.writeParquet(staging.resolve(name(k)), recs.iterator.map(_.data))
          recs.take(RecordsPerFile - RedeliveredPerFile).foldLeft(CwlGen.NoTotals)(_ + _)
        }
      })
    }.map(_.get()) finally pool.shutdown()
  }

  private def name(k: Int) = f"records-$k%06d.parquet"

  /** A micro-batch as the lag arithmetic sees it. */
  case class Batch(startMs: Long, commitMs: Long, records: Long)

  def batch(p: StreamingQueryProgress): Batch = {
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli
    Batch(start, start + p.durationMs.getOrDefault("triggerExecution", 0L), p.numInputRows)
  }

  /** Commit time of each file, given the batches in order: batches take
    * whole files in landing order, so a batch's cumulative record count
    * says which files it committed. Files never committed map to None.
    */
  def commitTimes(batches: Seq[Batch], files: Int, recordsPerFile: Int): IndexedSeq[Option[Long]] = {
    val out = Array.fill[Option[Long]](files)(None)
    var done = 0L
    batches.foreach { b =>
      val before = (done / recordsPerFile).toInt
      done += b.records
      val after = math.min(files, (done / recordsPerFile).toInt)
      (before until after).foreach(k => out(k) = Some(b.commitMs))
    }
    out.toIndexedSeq
  }

  /** Sustained committed rate in unique events per second: the
    * least-squares slope of the events committed so far against commit
    * time, over the commits of measured files. It equals the
    * offered rate while the stream keeps up and falls below it when the
    * stream cannot. `commits` and `perFile` cover the measured files only.
    */
  def committedRate(commits: IndexedSeq[Option[Long]], perFile: IndexedSeq[CwlGen.Totals]): Double = {
    val points = commits.zip(perFile).collect { case (Some(c), t) => (c, t.events) }
      .groupMapReduce(_._1)(_._2)(_ + _).toSeq.sortBy(_._1)
      .scanLeft((0L, 0L)) { case ((_, acc), (c, e)) => (c, acc + e) }.tail
    require(points.size >= 2, s"measured files committed in ${points.size} batch(es); no rate")
    Stats.slope(points.map { case (c, e) => (c / 1e3, e.toDouble) })
  }

  /** Lands staged files on schedule from a thread of its own. */
  final class Generator(staging: Path, landing: Path, first: Int, count: Int, t0Ms: Long) extends Thread("graftbench-generator") {
    val landedMs = new Array[Long](count)
    @volatile var landed = 0
    setDaemon(true)
    override def run(): Unit = {
      var i = 0
      while (i < count) {
        val due = t0Ms + i * IntervalMs
        var now = System.currentTimeMillis()
        while (now < due) { Thread.sleep(due - now); now = System.currentTimeMillis() }
        Files.move(staging.resolve(name(first + i)), landing.resolve(name(first + i)),
          StandardCopyOption.ATOMIC_MOVE)
        landedMs(i) = System.currentTimeMillis()
        i += 1
        landed = i
      }
    }
  }

  /** Set up, measure and report; returns the set-up seconds. */
  def run(ctx: Ctx): Double = {
    val spark = ctx.spark
    val staging = ctx.dir("stream/staging")
    val landing = ctx.dir("stream/landing")
    val sink = ctx.cli.work.resolve("stream/sink")
    val ckpt = ctx.cli.work.resolve("stream/checkpoint")
    val sp = spec(ctx.cli.seed)
    val measured = math.ceil(ctx.cli.seconds * 1000 / IntervalMs).toInt
    val files = WarmFiles + measured

    // set-up: stage every file, start the query, then land and commit
    // the warm files on the schedule
    val startT0 = System.nanoTime()
    val perFile = generate(sp, staging, files, ctx.cores)
    val schema = StructType(Seq(StructField("data", BinaryType)))
    val records = spark.readStream.schema(schema).parquet(landing.toString)
    val q = ctx.tracer.span("LogStream.startIdempotentSink")(LogStream.startIdempotentSink(
      LogStream.dedupe(LogStream.parse(records), Watermark), sink.toString, ckpt.toString))
    def committedRecords: Long = q.recentProgress.map(_.numInputRows).sum
    def await(records: Long, deadlineMs: Long): Unit =
      while (committedRecords < records && System.currentTimeMillis() < deadlineMs && q.exception.isEmpty)
        Thread.sleep(20)
    val warm = new Generator(staging, landing, 0, WarmFiles, System.currentTimeMillis())
    warm.start(); warm.join()
    await(WarmFiles.toLong * RecordsPerFile, System.currentTimeMillis() + 60000)
    require(committedRecords == WarmFiles.toLong * RecordsPerFile, s"warm-up files not committed: ${q.exception}")
    val warmBatches = q.recentProgress.length
    val setupS = (System.nanoTime() - startT0) / 1e9
    ctx.info(s"$measured files measured after $WarmFiles warm, one every $IntervalMs ms, " +
      s"$RecordsPerFile records x $EventsPerRecord events each ($RedeliveredPerFile re-delivered)")

    // traced runs attach the listener for the second half only, so the
    // first half is the untraced reference for the overhead
    val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    val progressListener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = progress.add(e.progress)
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    val half = measured / 2
    val t0Ms = System.currentTimeMillis() + 50
    val gen = new Generator(staging, landing, WarmFiles, measured, t0Ms)
    gen.start()
    var tracedFromMs = Long.MaxValue
    if (ctx.cli.trace) {
      while (gen.landed < half) Thread.sleep(5)
      spark.streams.addListener(progressListener)
      tracedFromMs = System.currentTimeMillis()
    }
    gen.join()
    val lastDue = t0Ms + (measured - 1) * IntervalMs
    await(files.toLong * RecordsPerFile, lastDue + 30000)
    q.stop()
    if (ctx.cli.trace) {
      SparkCounters.drain(spark.sparkContext)
      spark.streams.removeListener(progressListener)
    }
    q.exception.foreach(e => System.err.println(s"[graftbench] stream failed: $e"))

    val batches = q.recentProgress.toSeq.map(batch)
    ctx.info("measured batches (ms trigger/addBatch, rows): " + q.recentProgress.drop(warmBatches).map(p =>
      s"${p.durationMs.getOrDefault("triggerExecution", 0L)}/${p.durationMs.getOrDefault("addBatch", 0L)},${p.numInputRows}").mkString(" "))
    val commits = commitTimes(batches, files, RecordsPerFile)
    val dueMs = (0 until measured).map(i => t0Ms + i * IntervalMs)
    val lags = (0 until measured).flatMap(i => commits(WarmFiles + i).map(c => (c - dueMs(i)) / 1e3))
    val committedFiles = commits.count(_.isDefined)
    (0 until measured).foreach(i => ctx.res.op(commits(WarmFiles + i).isDefined))
    if (!exactlyOnce(ctx, sink, expected(perFile, committedFiles))) ctx.res.correct = false

    val m = ctx.res.metrics
    require(lags.nonEmpty, "no measured file was committed")
    val rate = committedRate(commits.drop(WarmFiles), perFile.drop(WarmFiles))
    val offered = (expected(perFile, files).events - expected(perFile, WarmFiles).events) * 1e3 / (measured * IntervalMs)
    ctx.info(f"${lags.size} of $measured files committed in ${batches.size - warmBatches} batches; " +
      f"lag p50 ${Stats.percentile(lags, 0.5) * 1e3}%.0f ms, p90 ${Stats.percentile(lags, 0.9) * 1e3}%.0f ms; " +
      f"$rate%.0f events/s committed, $offered%.0f offered")
    if (!ctx.cli.trace) {
      m("op_p50_s") = Stats.percentile(lags, 0.5)
      m("op_p85_s") = Stats.percentile(lags, 0.85)
      m("throughput_per_s") = rate
    } else {
      val ps = progress.asScala.toSeq.filter(_.numInputRows > 0)
      def dur(p: StreamingQueryProgress, k: String) = p.durationMs.getOrDefault(k, 0L).toDouble
      def mean(k: String) = if (ps.isEmpty) 0.0 else ps.map(dur(_, k)).sum / ps.size
      m("streaming.batches") = ps.size
      if (ps.nonEmpty) {
        m("streaming.trigger_ms_p50") = Stats.percentile(ps.map(dur(_, "triggerExecution")), 0.5)
        m("streaming.trigger_ms_p90") = Stats.percentile(ps.map(dur(_, "triggerExecution")), 0.9)
      }
      m("streaming.add_batch_ms") = mean("addBatch")
      m("streaming.query_planning_ms") = mean("queryPlanning")
      m("streaming.latest_offset_ms") = mean("latestOffset")
      m("streaming.wal_commit_ms") = mean("walCommit")
      m("streaming.commit_offsets_ms") = mean("commitOffsets")
      val ops = ps.flatMap(_.stateOperators)
      m("streaming.state_rows") = if (ops.isEmpty) 0.0 else ops.map(_.numRowsTotal).max.toDouble
      m("streaming.state_mem_bytes") = if (ops.isEmpty) 0.0 else ops.map(_.memoryUsedBytes).max.toDouble
      val tracedBatches = batches.filter(_.startMs >= tracedFromMs)
      m("streaming.backlog_files") = if (tracedBatches.isEmpty) 0.0 else tracedBatches.map { b =>
        val landedBy = WarmFiles + gen.landedMs.count(_ <= b.startMs)
        val committedBefore = commits.count(_.exists(_ < b.startMs))
        (landedBy - committedBefore).toDouble
      }.max
      m("streaming.generator_late_ms") =
        Stats.percentile((half until measured).map(i => (gen.landedMs(i) - dueMs(i)).toDouble), 0.9)
      ctx.info(f"tracing overhead on the stream: ${(Stats.median(lags.drop(half)) / Stats.median(lags.take(half)) - 1) * 100}%.1f %% lag p50")
      tracedBatches.foreach(b =>
        ctx.tracer.record("stream.microbatch", b.startMs * 1000000L, b.commitMs * 1000000L))
    }
    setupS
  }

  /** Every landed event in the sink exactly once, with its bytes. */
  private def exactlyOnce(ctx: Ctx, sink: Path, want: CwlGen.Totals): Boolean = {
    val row = ctx.spark.read.parquet(sink.toString)
      .agg(count(lit(1)), count_distinct(col("log_id")),
        coalesce(sum(col("fields")("bytes").try_cast("long")), lit(0L)))
      .head()
    val (n, distinct, bytes) = (row.getLong(0), row.getLong(1), row.getLong(2))
    val ok = n == want.events && distinct == want.events && bytes == want.bytes
    if (!ok) System.err.println(
      s"[graftbench] stream sink: $n rows, $distinct distinct ids, $bytes bytes; want ${want.events} / ${want.bytes}")
    ok
  }
}
