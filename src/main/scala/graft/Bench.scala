package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

object Bench {

  /** Shuffle/spill scratch for the timing mains' [[session]] (not
    * the library: a user session keeps Spark's default). The
    * benchmark box backs /tmp with a virtio disk whose file
    * create/write latency is both slow and NOISY — jstack
    * samples of slow passes sat in FileOutputStream.open0/write0, and
    * shuffle-heavy rows swung 3.5-22s pass-to-pass for identical work
    * (q4 at 10x data, r14). A real cluster gives executors local
    * NVMe; tmpfs is the single-box analog (q4 steady-state: 1.5s on
    * tmpfs vs 3.5s best-case on the virtio disk). Opt out or
    * redirect with SPARK_GRAFT_LOCAL_DIR.
    */
  private[graft] def scratchDir: Option[String] =
    sys.env.get("SPARK_GRAFT_LOCAL_DIR").filter(_.nonEmpty).orElse {
      val shm = new java.io.File("/dev/shm")
      if (shm.isDirectory && shm.canWrite) Some("/dev/shm/graft_bench_local")
      else None
    }

  /** The timing mains' session: [[GraftSession.builder]] on `cpus`
    * cores plus [[scratchDir]], with the root locale, ERROR logging and
    * the accumulator-noise filter.
    */
  private[graft] def session(cpus: Int): SparkSession = {
    // f"" interpolators honor the default locale; a comma-decimal
    // locale would emit invalid JSON ("0,488")
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val b = GraftSession.builder(cpus)
    val spark = scratchDir.fold(b)(d => b.config("spark.local.dir", d)).getOrCreate()
    // ERROR, not WARN: unpersisting localCheckpointed RDDs between
    // queries emits a WARN per RDD, and a caller that keeps only the
    // last ~2KB of merged output would lose the final metric line
    // to that noise
    spark.sparkContext.setLogLevel("ERROR")
    // limit-shaped queries (q3/r7) end their job as soon as enough rows
    // arrive and cancel the rest; the cancelled stragglers' task-end
    // events then reference weakly-held accumulators the finished query
    // already dropped, and DAGScheduler ERROR-logs each one ("attempted
    // to access non-existent accumulator", ~500/run — benign, known
    // straggler race). A message-targeted filter mutes exactly that
    // line so the stack traces can't land inside a ~2KB captured
    // stdout tail, while genuine scheduler errors (lost executors,
    // taskset aborts) still surface.
    muteNonExistentAccumulatorNoise()
    spark
  }

  /** Summed executor task metrics; a run's numbers are the difference
    * of two snapshots. */
  private[graft] final case class Counters(
      cpuNs: Long, runMs: Long, gcMs: Long, memSpilled: Long, diskSpilled: Long) {
    def -(o: Counters): Counters = Counters(cpuNs - o.cpuNs, runMs - o.runMs,
      gcMs - o.gcMs, memSpilled - o.memSpilled, diskSpilled - o.diskSpilled)
  }

  /** Sums executor task metrics across all tasks. Catches what wall
    * time alone hides: a query that "runs" in 2s while spilling 4 GB
    * is a scale problem the timer can't see (the round-3 d6 anomaly
    * was invisible until cross-checked standalone), and task CPU time
    * is charged only while a task thread runs, so host steal that
    * swings wall time 2-4x leaves it nearly unchanged.
    */
  private[graft] final class TaskMetricsListener extends SparkListener {
    private val cpuNs = new AtomicLong
    private val runMs = new AtomicLong
    private val gcMs = new AtomicLong
    private val memSpilled = new AtomicLong
    private val diskSpilled = new AtomicLong
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      val m = te.taskMetrics
      if (m != null) {
        cpuNs.addAndGet(m.executorCpuTime)
        runMs.addAndGet(m.executorRunTime)
        gcMs.addAndGet(m.jvmGCTime)
        memSpilled.addAndGet(m.memoryBytesSpilled)
        diskSpilled.addAndGet(m.diskBytesSpilled)
      }
    }
    def counters: Counters =
      Counters(cpuNs.get(), runMs.get(), gcMs.get(), memSpilled.get(), diskSpilled.get())
  }

  /** The async listener bus may still be draining a query's tail task
    * events when the query returns; wait for the counters to go quiet
    * (bounded) so those events aren't attributed to the next run.
    */
  private[graft] def quiesce(listener: TaskMetricsListener): Unit = {
    var prev = listener.counters
    var stable = 0
    val deadline = System.nanoTime() + 500000000L
    while (stable < 2 && System.nanoTime() < deadline) {
      Thread.sleep(20)
      val cur = listener.counters
      if (cur == prev) stable += 1 else { stable = 0; prev = cur }
    }
  }

  /** Runs `body` under [[GraftSession.withBoundedObjectAgg]] when
    * [[SparkEntry.boundedObjectAggQueries]] lists row `name`, else
    * plainly. */
  private[graft] def inRowScope[A](spark: SparkSession, name: String)(body: => A): A =
    if (SparkEntry.boundedObjectAggQueries(name)) GraftSession.withBoundedObjectAgg(spark)(body)
    else body

  /** The one way a query row is measured: build row `name`'s frame
    * over `dir` and write it to the noop sink (which materializes
    * every output column; count() would let Catalyst prune the computed
    * columns of map-only queries), inside [[inRowScope]]. The seconds
    * run from before the frame is built — its eager checkpoints are
    * query cost — to the end of the write. Freeing the row's blocks is
    * left to the caller.
    */
  private[graft] def runQuery(spark: SparkSession, name: String, dir: String): (DataFrame, Double) = {
    val t0 = System.nanoTime()
    val df = inRowScope(spark, name) {
      val df = SparkEntry.queries(name)(spark, dir)
      df.write.mode("overwrite").format("noop").save()
      df
    }
    (df, (System.nanoTime() - t0) / 1e9)
  }

  private case class Run(
      sec: Double, tasks: Counters, residentBefore: BlockHygiene.StorageSnapshot)

  /** Codec-bound rows (ImageIO / javax.sound render+decode legs, plus
    * s17 whose truth leg shares the same multi-second profile). They
    * run LAST in every timing main, after a cool-down: their native
    * codec legs have repeatedly inflated whatever row was measured
    * next to them (s17 read 14.9x in HEADROOM_r17 adjacent to m17's
    * 24s leg vs 3.5x isolated; BENCH_NOTES r13-r17). Tail placement
    * means the only neighbor a codec row can contaminate is another
    * codec row, and the cool-down drains GC/compiler debt before the
    * block starts instead of charging it to the first tail row.
    */
  private[graft] val codecTail: Set[String] = Set(
    "m12_image_resize", "m13_image_ahash_dedup", "m15_gif_frame_dedup",
    "m16_pixel_roundtrip", "m17_audio_dedup", "m18_scene_cuts",
    "s17_nprobe_sweep")

  /** Bounded settle before the codec tail: collect garbage the timed
    * rows left behind and give the JIT/listener threads a beat.
    */
  private[graft] def coolDown(): Unit = {
    System.gc()
    Thread.sleep(750)
  }

  /** Denies only log events whose formatted message mentions the
    * known-benign cancelled-straggler accumulator race; attached to
    * the root LoggerConfig (DAGScheduler has no config of its own, so
    * its events are handled there) and applied to live loggers.
    */
  private def muteNonExistentAccumulatorNoise(): Unit = {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{Filter, LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.filter.AbstractFilter
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    // two message shapes for the same benign race: TaskSchedulerImpl
    // logs "...non-existent accumulator..." directly, while
    // DAGScheduler.updateAccumulators wraps it as "Failed to update
    // accumulator <id>" with the exception attached. The wrapped
    // shape is ONLY denied when the attached cause chain names the
    // non-existent accumulator — a genuine accumulator failure (any
    // other cause) still reaches the log.
    val filter = new AbstractFilter(Filter.Result.DENY, Filter.Result.NEUTRAL) {
      private def benign(e: LogEvent): Boolean = {
        val msg = Option(e.getMessage).map(_.getFormattedMessage).getOrElse("")
        if (msg.contains("non-existent accumulator")) true
        else if (msg.contains("Failed to update accumulator"))
          Iterator.iterate(e.getThrown)(t => if (t == null) null else t.getCause)
            .takeWhile(_ != null).take(8)
            .exists(t => Option(t.getMessage).exists(_.contains("non-existent accumulator")))
        else false
      }
      override def filter(e: LogEvent): Filter.Result =
        if (benign(e)) getOnMatch else getOnMismatch
    }
    ctx.getConfiguration.getRootLogger.addFilter(filter)
    ctx.updateLoggers()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = session(cpus)
    val listener = new TaskMetricsListener
    spark.sparkContext.addSparkListener(listener)

    // optional subset filter for diagnosis: comma-separated query names
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(',').toSet)
    // alphabetical, except the codec-bound tail (see codecTail) which
    // always measures last
    val allOrdered = {
      val (tail, head) = SparkEntry.queries.keys.toSeq.sorted.partition(codecTail)
      head ++ tail
    }
    val ordered = allOrdered.filter(n => only.forall(_.contains(n)))
    // diagnosis aid: SPARK_GRAFT_WARMUP_ALL=1 warms the FULL suite
    // even when BENCH_ONLY narrows the measured set — reproduces the
    // full-run JIT/codegen/AQE context around a few measured rows
    // without paying a full measured pass (the d2/d3/d4 inflation in
    // the r14 driver artifact only manifested in full-suite context)
    val warmupSet =
      if (sys.env.get("SPARK_GRAFT_WARMUP_ALL").exists(_ == "1")) allOrdered
      else ordered
    // measured passes: TWO by default (min-of-2). Min-of-1 let one GC
    // pause permanently inflate a row and forced a manual isolated
    // adjudication in four consecutive rounds (r8 d2/d4, r15 d2/d3/d4,
    // r16 s8/d21/d9, r17 d3/d6/d9 — BENCH_NOTES). The r11 rc=124
    // overrun that originally forced min-of-1 can't recur: the
    // between-query deadline check below cuts pass 2 short and each
    // already-measured row just keeps its pass-1 number (min over the
    // passes that ran), so an external-budget overrun degrades to
    // partial min-of-1 rows instead of no artifact.
    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "2").toInt.max(1)
    // self-imposed wall deadline (seconds from JVM start): if the
    // external budget is going to kill us anyway, stopping EARLY with
    // a parseable partial summary beats rc=124 with nothing. Checked
    // between queries only — never interrupts a running query.
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val deadlineSec = sys.env.getOrElse("SPARK_GRAFT_BENCH_DEADLINE_SEC", "480").toDouble
    // Machine-speed anchor: a fixed single-thread xorshift fold, timed
    // after one untimed JIT pass. Identical work every run, so the
    // recorded seconds calibrate THIS host+JVM against the pinned
    // baseline's — the r12→r13 lesson, where a uniform ~1.4× per-row
    // drift (median over 150 rows, pure-JVM no-data rows included) was
    // a host-speed shift, not a plan regression, and nothing in the
    // artifact could prove it. bench_compare can divide ratios by
    // anchor-ratio before flagging.
    def anchorProbe(): Double = {
      def spin(): Long = {
        var x = 0x9e3779b97f4a7c15L; var s = 0L; var i = 0
        while (i < 200000000) {
          x ^= x << 13; x ^= x >>> 7; x ^= x << 17; s += x; i += 1 }
        s
      }
      val sink = spin() // JIT warm (result consumed below so it can't DCE)
      // min of 3 timed passes: bench_compare divides EVERY per-row
      // ratio by this one scalar, so a single pass's JIT/scheduler
      // jitter would propagate to the whole suite as false flags (or
      // masked regressions); the min is the host's noise-floor speed
      var best = Double.MaxValue
      var sink2 = 0L
      var p = 0
      while (p < 3) {
        val t0 = System.nanoTime()
        sink2 += spin()
        best = math.min(best, (System.nanoTime() - t0) / 1e9)
        p += 1
      }
      if (sink == 42 && sink2 == 43) println("") // defeat dead-code elim
      math.rint(best * 1000) / 1000
    }
    // Probed TWICE — before warmup and again after the measured
    // passes. Three r15-era same-box artifacts carried single-probe
    // anchors 0.295/0.447/0.33 (±50%), which once produced the
    // self-contradictory "0.96x raw = 1.30x anchor-normalized" pair:
    // the box's speed during a two-minute suite is not one number.
    // bench_compare trusts normalization ONLY when pre and post agree
    // (~10%) in BOTH artifacts, and uses their mean; otherwise it
    // falls back to raw ratios and says so.
    val machineAnchorSec = anchorProbe()
    def elapsedSec: Double = (System.currentTimeMillis() - jvmStart) / 1e3
    def pastDeadline: Boolean = deadlineSec > 0 && elapsedSec > deadlineSec
    // JIT/codegen warmup: run the suite once at sf0.01 — one SF below
    // the measured sf0.1 — so the measured pass reflects steady-state
    // throughput (on a real cluster the JVMs are long-lived). The SF
    // choice is a budget trade measured in r14: warming at sf0.001
    // leaves the measured pass cold wherever AQE picks scale-dependent
    // plans (first execution at the measured scale profiled 3-5x its
    // warm time — q47: 16s cold vs 3.5s warm at local[32]); warming at
    // sf0.1 itself is a full cold pass (~240s) and blew the driver
    // deadline (34 skipped). sf0.01 produces the sf0.1 plan shapes for
    // a third of the cost. SPARK_GRAFT_WARMUP_DIR overrides for
    // diagnosis.
    // .filter(_.nonEmpty): an empty env var must fall through to the
    // default, not make warmDir "" (same convention as scratchDir)
    val warmDir = sys.env.get("SPARK_GRAFT_WARMUP_DIR").filter(_.nonEmpty).getOrElse {
      val d = new java.io.File(sfDir).getParentFile
      val mid = new java.io.File(d, "sf0.01")
      if (mid.isDirectory && mid.getPath != new java.io.File(sfDir).getPath) mid.getPath
      else sfDir
    }
    // warmup defers to the deadline at its half-point: an unwarmed
    // measured pass is noisy, an unfinished artifact is worthless.
    // warmupCompleted is RECORDED in the detail artifact: a query
    // past the cutoff measures cold (first-call codegen cost in its
    // number), and the comparison tooling needs to know which.
    var warmupCompleted = 0
    warmupSet.foreach { name =>
      if (elapsedSec <= deadlineSec / 2 || deadlineSec <= 0) {
        try runQuery(spark, name, warmDir)
        catch { case _: Throwable => () }
        warmupCompleted += 1
      }
    }
    BlockHygiene.freeBlocks(spark)

    // two measured passes, min per query: scheduler/GC noise between
    // runs exceeds per-query cost at this scale, and the metric
    // claims steady-state throughput. A query that throws is tracked
    // separately — its (near-zero) time-to-failure must not make the
    // total look faster.
    val failed = scala.collection.mutable.TreeSet.empty[String]
    def once(name: String): Run = {
      val resident = BlockHygiene.snapshot(spark)
      val before = listener.counters
      val t0 = System.nanoTime()
      val sec =
        try runQuery(spark, name, sfDir)._2
        catch {
          case e: Throwable =>
            failed += name
            System.err.println(s"[bench] $name: ${e.getMessage}")
            (System.nanoTime() - t0) / 1e9
        }
      quiesce(listener)
      // free the query's own checkpoint blocks AFTER the timer: block
      // release is session hygiene, not part of query cost, and on a
      // long-lived session it runs at stage boundaries. Freeing between
      // queries is what keeps blocks from accumulating ACROSS queries
      // (the round-3 pathology).
      BlockHygiene.freeBlocks(spark)
      Run(sec, listener.counters - before, resident)
    }
    // measured passes, deadline-checked between queries: a query not
    // reached before the deadline is SKIPPED (listed, never averaged
    // in), so an external-budget overrun still yields a parseable
    // summary instead of rc=124 with nothing. Pass 2+ queries reuse
    // pass-1 numbers when skipped (min over the passes that ran).
    val skipped = scala.collection.mutable.TreeSet.empty[String]
    val measured: Seq[(String, Seq[Run])] = {
      val byName = scala.collection.mutable.LinkedHashMap.empty[String, List[Run]]
      var p = 0
      while (p < passes) {
        var cooled = false
        ordered.foreach { name =>
          if (!pastDeadline) {
            // settle once per pass before the codec-bound tail block
            if (codecTail(name) && !cooled) { coolDown(); cooled = true }
            byName(name) = byName.getOrElse(name, Nil) :+ once(name)
          }
          else if (!byName.contains(name)) skipped += name
        }
        p += 1
      }
      byName.toSeq
    }
    // post-pass anchor probe: see the pre-probe comment — the pair is
    // the artifact's own evidence of whether the box held still
    val machineAnchorSecPost = anchorProbe()

    // full per-query detail (every pass + spill + resident-storage
    // counters) goes to a FILE: the driver keeps only the tail of
    // stdout, so the stdout line must stay compact (r3's 2.1 KB line
    // was truncated into unparseability)
    val detail = measured.map { case (name, runs) =>
      def one(r: Run) =
        s"""{"sec":${f"${r.sec}%.3f"},"mem_spilled":${r.tasks.memSpilled},"disk_spilled":${r.tasks.diskSpilled},""" +
          s""""resident_rdds_before":${r.residentBefore.nRdds},"resident_mem_before":${r.residentBefore.memBytes},""" +
          s""""resident_disk_before":${r.residentBefore.diskBytes}}"""
      val passJson = runs.zipWithIndex
        .map { case (r, i) => s""""pass${i + 1}":${one(r)}""" }.mkString(",")
      s"""  "$name": {"sec":${f"${runs.map(_.sec).min}%.3f"},"ok":${!failed(name)},$passJson}"""
    }.mkString(",\n")
    // A run that did not measure the FULL suite (subset filter set, or
    // queries skipped at the deadline) writes its detail to a
    // _partial artifact: the committed BENCH_DETAIL.json is the
    // comparison baseline for bench_compare and the judge, and a
    // 4-query diagnostic run silently replacing a 170-row baseline
    // has destroyed it twice (c89a75b; the r13 working tree).
    // ... and so does a full run at a non-baseline SF: the committed
    // detail's contract is the sf0.1 quiet baseline, and a full-suite
    // sf0.01 smoke run is just as destructive to it as a 4-query
    // subset (it happened a third time the same day the subset guard
    // landed).
    val isPartial = only.isDefined || skipped.nonEmpty ||
      new java.io.File(sfDir).getName != "sf0.1"
    val detailFile = if (isPartial) "BENCH_DETAIL_partial.json" else "BENCH_DETAIL.json"
    val detailJson =
      s"""{\n"method":"min-of-$passes-passes-after-warmup","warm_dir":"$warmDir","scratch_dir":"${scratchDir.getOrElse("default")}","hygiene":true,"cpus":$cpus,"sf":"$sfDir",""" +
        s""""partial":$isPartial,""" +
        s""""skipped":${skipped.size},"rows_min_of_2":${measured.count(_._2.size >= 2)},""" +
        s""""warmup_completed":$warmupCompleted,"warmup_total":${warmupSet.size},""" +
        s""""machine_anchor_sec":$machineAnchorSec,"machine_anchor_sec_post":$machineAnchorSecPost,""" +
        s"""\n"queries":{\n$detail\n}}\n"""
    val out = new java.io.PrintWriter(detailFile)
    try out.write(detailJson) finally out.close()

    // keep this line SHORT AND BOUNDED: the driver captures only the
    // last ~2KB of output, and the r8 line (97 queries, ~2.5KB) was
    // truncated into unparseability. The stdout line carries the
    // total plus only the `StdoutTopN` slowest queries — the ones a
    // perf regression would move — and an elision marker; full
    // per-query numbers live in BENCH_DETAIL.json.
    val StdoutTopN = 40
    val times = measured.map { case (name, runs) => name -> runs.map(_.sec).min }
    val slowest = times.sortBy(-_._2).take(StdoutTopN).sortBy(_._1)
    val qs = slowest.map { case (k, v) => "\"" + k + "\":" + f"$v%.2f" }.mkString("{", ",", "}")
    // total covers succeeding queries only; failures are listed in
    // BENCH_DETAIL.json (ok:false), not averaged in as near-zero times
    val total = times.collect { case (n, v) if !failed(n) => v }.sum
    println(s"""{"metric":"total","value":${f"$total%.2f"},"unit":"sec","queries":$qs,""" +
      s""""n_queries":${times.size},"queries_elided":${math.max(0, times.size - StdoutTopN)},""" +
      s""""detail":"$detailFile","n_failed":${failed.size},"n_skipped":${skipped.size},""" +
      s""""passes":$passes,"sf":"${new java.io.File(sfDir).getName}"}""")
    System.out.flush()
    spark.stop()
  }
}
