package graftbench

import java.nio.file.{Files, Path}
import java.util.concurrent.{Callable, Executors}

import scala.jdk.CollectionConverters._
import scala.util.chaining._

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

import graft.operators.{Reader, Tsv}
import graft.sources.FlowLogs

/** The batch half of the `cwl` workload: the paper's read path at a
  * volume where decoding does the work. Seeded gzipped CWL records →
  * `Reader.readLogs(permissive)` → `FlowLogs.parseLine` → typed parquet,
  * then `Tsv.save` of the same events. A pass is those two calls; it is
  * checked against the generator's event count and byte/packet sums.
  * Reports the median pass as `suite_s` (traced: the ladder layers and
  * `spark.*`).
  */
object Ingest {
  val Records = 3000
  val EventsPerRecord = 100
  val InputFiles = 8
  val WarmPasses = 3

  def spec(seed: Long): CwlGen.Spec = CwlGen.Spec(
    seed, Records, EventsPerRecord,
    controlPermille = 30, truncatedPermille = 10, notJsonPermille = 10)

  /** Write the seeded records as `InputFiles` parquet files; returns
    * what the DATA records carry.
    */
  def generate(spec: CwlGen.Spec, dir: Path, threads: Int): CwlGen.Totals = {
    val kinds = CwlGen.classes(spec)
    val per = (spec.records + InputFiles - 1) / InputFiles
    val pool = Executors.newFixedThreadPool(threads)
    try {
      val parts = (0 until InputFiles).map { f =>
        pool.submit(new Callable[CwlGen.Totals] {
          def call(): CwlGen.Totals = {
            var t = CwlGen.NoTotals
            val idx = (f * per until math.min(spec.records, (f + 1) * per)).iterator
            CwlGen.writeParquet(dir.resolve(f"part-$f%03d.parquet"), idx.map { i =>
              val r = CwlGen.record(spec, i, kinds(i))
              t = t + r
              r.data
            })
            t
          }
        })
      }
      parts.map(_.get()).reduce(_ ++ _)
    } finally pool.shutdown()
  }

  /** Set up, measure and report; returns the set-up seconds. */
  def run(ctx: Ctx): Double = {
    val spark = ctx.spark
    val input = ctx.dir("ingest/input")
    val out = ctx.dir("ingest/out")
    val sp = spec(ctx.cli.seed)
    // set-up: generate, then warm passes at the measured scale (passes
    // keep getting faster through the first four or five)
    val genT0 = System.nanoTime()
    val expected = generate(sp, input, ctx.cores)
    val genS = (System.nanoTime() - genT0) / 1e9
    ctx.info(s"${sp.records} records in $InputFiles files, classes " +
      CwlGen.ClassNames.zip(expected.classCounts).map { case (n, c) => s"$n=$c" }.mkString(" ") +
      s", ${expected.events} events")
    val warmT0 = System.nanoTime()
    val warm = Seq.fill(WarmPasses)(pass(ctx, input, out, expected, count = false))
    val warmS = (System.nanoTime() - warmT0) / 1e9
    val setupS = genS + warmS
    ctx.info(f"set-up: generate $genS%.2f s, " +
      f"warm passes ${warm.map { case (a, b) => f"$a%.2f+$b%.2f" }.mkString(" ")} s")

    val counters = new SparkCounters
    val untraced = Vector.newBuilder[Double]
    val traced = Vector.newBuilder[Double]
    val ladder = scala.collection.mutable.ArrayBuffer.empty[Map[String, Step]]
    val deadline = System.nanoTime() + (ctx.cli.seconds * 1e9).toLong
    var i = 0
    // at least three passes; traced runs alternate an untraced pass with
    // a traced ladder pass, so the overhead is measured in the same process
    while (System.nanoTime() < deadline || i < 3) {
      if (ctx.cli.trace && i % 2 == 1) {
        spark.sparkContext.addSparkListener(counters)
        ctx.tracer.traceId = i
        val steps = ctx.tracer.span("ingest.pass")(ladderPass(ctx, input, out, expected, counters, i))
        spark.sparkContext.removeSparkListener(counters)
        ladder += steps
        traced += Real.map(steps(_).sec).sum
      } else {
        val (a, b) = pass(ctx, input, out, expected, count = true)
        untraced += a + b
      }
      i += 1
    }

    val m = ctx.res.metrics
    val passes = untraced.result()
    if (!ctx.cli.trace) {
      val suite = Stats.median(passes)
      m("suite_s") = suite
      ctx.info(f"${passes.size} passes (${passes.map(x => f"$x%.2f").mkString(" ")} s), median $suite%.3f s, " +
        f"${expected.events / suite}%.0f events/s")
    } else {
      val n = ladder.size
      def mean(f: Map[String, Step] => Double) = ladder.map(f).sum / n
      // a ladder step's own cost: its time minus the previous prefix's
      Layers.IngestSteps.zipWithIndex.foreach { case (s, k) =>
        val prev = if (k == 0 || s == "operators.Tsv.save") None else Some(Layers.IngestSteps(k - 1))
        m(s"${s}_s") = mean(st => st(s).sec - prev.map(st(_).sec).getOrElse(0.0))
        m(s"$s.jobs") = mean(_(s).acc.jobs.toDouble)
        m(s"$s.task_cpu_s") = mean(_(s).acc.taskCpuNs / 1e9)
      }
      // the spark.* roll-up covers the pass's two real calls only
      val real = ladder.toSeq.flatMap(st => Real.map(st))
      Layers.reportSpark(ctx.res, real.map(_.acc).foldLeft(new SparkCounters.Acc)(_ + _),
        real.map(r => (r.fromMs, r.toMs)), ctx.cores, n)
      m("trace.overhead_pct") = (Stats.median(traced.result()) / Stats.median(passes) - 1) * 100
    }
    setupS
  }

  private def typed(flat: DataFrame): DataFrame =
    flat.select(col("log_id"), col("timestamp_ms"), FlowLogs.parseLine(col("message")).as("f"))
      .select("log_id", "timestamp_ms", "f.*")

  /** The timed pass: returns the seconds of its two calls. Each call
    * succeeds only if its output checks out; `count` makes them count
    * as attempted operations (the warm pass does not).
    */
  private def pass(ctx: Ctx, input: Path, out: Path, expected: CwlGen.Totals,
      count: Boolean): (Double, Double) = {
    val t0 = System.nanoTime()
    val flat = Reader.readLogs(ctx.spark.read.parquet(input.toString), permissive = true)
    val ok1 = writeTyped(typed(flat), out, expected)
    val t1 = System.nanoTime()
    Tsv.save(flat, out.resolve("tsv").toString)
    val t2 = System.nanoTime()
    val ok2 = tsvOk(out, expected)
    if (count) { ctx.res.op(ok1); ctx.res.op(ok2) }
    else if (!(ok1 && ok2)) ctx.res.correct = false
    ((t1 - t0) / 1e9, (t2 - t1) / 1e9)
  }

  /** Typed parquet write, with the count and sums observed in the same action. */
  private def writeTyped(df: DataFrame, out: Path, expected: CwlGen.Totals): Boolean = {
    val obs = Observation("ingest_check")
    df.observe(obs, count(lit(1)).as("events"), sum("bytes").as("bytes"), sum("packets").as("packets"))
      .write.mode("overwrite").parquet(out.resolve("typed").toString)
    val got = obs.get
    val ok = got("events") == expected.events && got("bytes") == expected.bytes &&
      got("packets") == expected.packets
    if (!ok) System.err.println(s"[graftbench] ingest check failed: $got vs $expected")
    ok
  }

  /** The TSV holds a header plus one line per DATA event. */
  private def tsvOk(out: Path, expected: CwlGen.Totals): Boolean = {
    val parts = Files.list(out.resolve("tsv")).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-")).toSeq
    val lines = parts.map { p =>
      val in = Files.newInputStream(p)
      try {
        val buf = new Array[Byte](1 << 16)
        var n = 0L
        var r = in.read(buf)
        while (r > 0) {
          var k = 0
          while (k < r) { if (buf(k) == '\n') n += 1; k += 1 }
          r = in.read(buf)
        }
        n
      } finally in.close()
    }.sum
    val ok = lines == expected.events + 1
    if (!ok) System.err.println(s"[graftbench] tsv check failed: $lines lines, want ${expected.events + 1}")
    ok
  }

  /** The ladder steps that make up an untraced pass. */
  private val Real = Seq("sink.parquet_write", "operators.Tsv.save")

  /** One timed ladder step: its seconds, wall window and counters. */
  private case class Step(sec: Double, fromMs: Long, toMs: Long, acc: SparkCounters.Acc)

  /** One traced pass as a prefix ladder: each step adds one call to the
    * previous step's plan and runs under its own job group.
    */
  private def ladderPass(ctx: Ctx, input: Path, out: Path, expected: CwlGen.Totals,
      counters: SparkCounters, pass: Int): Map[String, Step] = {
    val spark = ctx.spark
    def noop(df: DataFrame): Boolean = { df.write.mode("overwrite").format("noop").save(); true }
    def step(name: String)(body: => Boolean): (String, Step) = {
      val group = s"$name#$pass"
      val fromMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val ok = ctx.tracer.span(name)(ctx.inGroup(group)(body))
      val sec = (System.nanoTime() - t0) / 1e9
      val toMs = System.currentTimeMillis()
      if (!ok) ctx.res.correct = false
      SparkCounters.drain(spark.sparkContext)
      name -> Step(sec, fromMs, toMs, counters.group(group))
    }
    val scan = spark.read.parquet(input.toString)
    val flat = Reader.readLogs(scan, permissive = true)
    Seq(
      step("sources.scan")(noop(scan)),
      step("operators.Reader.readLogs")(noop(flat)),
      step("sources.FlowLogs.parseLine")(noop(typed(flat))),
      step("sink.parquet_write")(writeTyped(typed(flat), out, expected)),
      step("operators.Tsv.save") { Tsv.save(flat, out.resolve("tsv").toString); true }
    ).toMap.tap(_ => if (!tsvOk(out, expected)) ctx.res.correct = false)
  }
}
