package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Observation

import graft.{BlockHygiene, GraftSession, SparkEntry}
import graft.queries._

/** `catalog`: a fixed, recorded subset of the query catalog
  * (`SparkEntry.queries`) over the sf0.1 test tables.
  *
  * A pass runs every row once in a seeded order, each as one action
  * that materialises every column and computes the row's digest, then
  * frees the session's blocks (`BlockHygiene.freeBlocks`) outside the
  * row's timer. A row fails if it throws or its digest differs from the
  * pinned one. Reports the summed row times as `suite_s`, their median
  * and 85th percentile as `op_p50_s`/`op_p85_s`, and rows per second of
  * a whole pass (block freeing included) as `throughput_per_s`.
  */
object Catalog {

  /** A shuffle- and aggregate-bound row (q15's second exchange) and
    * job-round-bound rows (t22/t35 BPE, the s21 MIH sweep, d12 span
    * dedup), plus one cheap row of each remaining family so every
    * family's layer metrics are measured.
    */
  val Rows: Seq[String] = Seq(
    "q15_percentiles", "t22_bpe_merges", "t35_bpe_encode", "s21_mih_band_sweep",
    "d12_span_dedup", "r7_take_n", "u1_url_canon", "m1_binary_meta")

  val WarmPasses = 2

  def family(name: String): String =
    Seq(
      "ReferenceQueries" -> ReferenceQueries.queries, "AnalyticsQueries" -> AnalyticsQueries.queries,
      "DedupQueries" -> DedupQueries.queries, "TextQueries" -> TextQueries.queries,
      "SimilarityQueries" -> SimilarityQueries.queries, "MultimodalQueries" -> MultimodalQueries.queries,
      "UrlQueries" -> UrlQueries.queries)
      .collectFirst { case (f, qs) if qs.contains(name) => f }
      .getOrElse(sys.error(s"$name is in no query family"))

  /** Pinned digests: `name<TAB>rows<TAB>digest<TAB>check` lines. */
  def loadPins(path: String): Map[String, String] =
    Files.readAllLines(Paths.get(path)).asScala.iterator
      .filterNot(l => l.isEmpty || l.startsWith("#"))
      .map(_.split('\t')).map(a => a(0) -> a(2)).toMap

  /** One timed row: seconds, its task window, and its (rows, digest) or the error. */
  case class Run(name: String, sec: Double, fromMs: Long, toMs: Long, digest: Either[String, (Long, String)])

  def runOne(ctx: Ctx, name: String): Run = {
    val spark = ctx.spark
    val obs = Observation(name.replace('-', '_'))
    val fromMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val digest =
      try {
        def body(): Unit = Digest.observe(SparkEntry.queries(name)(spark, ctx.cli.sfDir), obs)
          .write.mode("overwrite").format("noop").save()
        if (SparkEntry.boundedObjectAggQueries(name)) GraftSession.withBoundedObjectAgg(spark)(body())
        else body()
        Right(Digest.of(obs))
      } catch { case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    val sec = (System.nanoTime() - t0) / 1e9
    Run(name, sec, fromMs, System.currentTimeMillis(), digest)
  }

  /** Set up, measure and report; returns the set-up seconds. */
  def run(ctx: Ctx): Double = {
    val sf = ctx.cli.sfDir
    require(Files.isRegularFile(Paths.get(sf, "lineitem.parquet")) || Files.isDirectory(Paths.get(sf, "lineitem.parquet")),
      s"no test tables under '$sf'")
    val spark = ctx.spark
    if (ctx.cli.pin) { pin(ctx); return 0.0 }
    val pins = loadPins(ctx.cli.pins.getOrElse(sys.error("--pins is required")).toString)
    val missing = Rows.filterNot(pins.contains)
    require(missing.isEmpty, s"no pinned digest for ${missing.mkString(", ")}")
    // mixed, since java.util.Random's first draws barely differ between
    // nearby seeds (the last row would stay in place)
    val ordered = new scala.util.Random(CwlGen.mix(ctx.cli.seed, -3L)).shuffle(Rows)
    ctx.info(s"${ordered.size} rows: ${ordered.mkString(" ")}")

    def check(r: Run): Boolean = r.digest match {
      case Right((_, d)) if pins(r.name) == d => true
      case Right((_, d)) =>
        System.err.println(s"[graftbench] ${r.name}: digest $d, pinned ${pins(r.name)}"); false
      case Left(err) => System.err.println(s"[graftbench] ${r.name} failed: $err"); false
    }

    // set-up: warm passes at the measured scale (JIT, codegen, AQE). A
    // pass after only one still ran 20-25 % slower than the next, and
    // averaging it in spread the suite time 0.13 over ten runs, not 0.09
    val warmT0 = System.nanoTime()
    val warm = Seq.fill(WarmPasses)(ordered.map { n =>
      val r = runOne(ctx, n)
      if (!check(r)) ctx.res.correct = false
      BlockHygiene.freeBlocks(spark)
      r
    })
    val setupS = (System.nanoTime() - warmT0) / 1e9

    val counters = new SparkCounters
    val untraced = mutable.ArrayBuffer.empty[Seq[Run]]
    val untracedWallS = mutable.ArrayBuffer.empty[Double]
    val traced = mutable.ArrayBuffer.empty[(Int, Run)]
    var resident = 0L
    val deadline = System.nanoTime() + (ctx.cli.seconds * 1e9).toLong
    var p = 0
    // whole passes until the deadline (one ~10 s pass covers it); traced
    // runs alternate untraced and traced passes, starting and ending
    // untraced, at least three
    while (System.nanoTime() < deadline || p < (if (ctx.cli.trace) 3 else 1)) {
      val tracing = ctx.cli.trace && p % 2 == 1
      if (tracing) spark.sparkContext.addSparkListener(counters)
      ctx.tracer.traceId = p
      val passT0 = System.nanoTime()
      val runs = ctx.tracer.span("catalog.pass") {
        ordered.map { n =>
          val r =
            if (!tracing) runOne(ctx, n)
            else {
              resident += { val s = BlockHygiene.snapshot(spark); s.memBytes + s.diskBytes }
              val r = ctx.tracer.span(s"SparkEntry.queries.$n")(ctx.inGroup(s"$n#$p")(runOne(ctx, n)))
              SparkCounters.drain(spark.sparkContext)
              r
            }
          if (!tracing) ctx.res.op(check(r)) else if (!check(r)) ctx.res.correct = false
          ctx.tracer.span("BlockHygiene.freeBlocks")(BlockHygiene.freeBlocks(spark))
          r
        }
      }
      if (tracing) { spark.sparkContext.removeSparkListener(counters); traced ++= runs.map(p -> _) }
      else { untraced += runs; untracedWallS += (System.nanoTime() - passT0) / 1e9 }
      p += 1
    }

    val m = ctx.res.metrics
    val suites = untraced.map(_.map(_.sec).sum).toSeq
    if (!ctx.cli.trace) {
      val opS = untraced.flatten.map(_.sec).toSeq
      // each row's median over the passes, summed
      val suite = untraced.transpose.map(rs => Stats.median(rs.map(_.sec).toSeq)).sum
      m("suite_s") = suite
      m("op_p50_s") = Stats.percentile(opS, 0.5)
      m("op_p85_s") = Stats.percentile(opS, 0.85)
      // whole passes, digest checks and block freeing included
      m("throughput_per_s") = ordered.size / Stats.median(untracedWallS.toSeq)
      ctx.info(f"${suites.size} passes (${suites.map(x => f"$x%.2f").mkString(" ")} s), " +
        f"${opS.size} row runs, set-up $setupS%.2f s")
      ctx.info("row seconds, warm then measured: " + (warm ++ untraced).transpose.map { rs =>
        f"${rs.head.name} ${rs.map(r => f"${r.sec}%.2f").mkString("/")}" }.mkString(", "))
    } else {
      val n = traced.map(_._1).distinct.size
      val all = traced.map(_._2).toSeq
      def acc(rs: Seq[(Int, Run)]) =
        rs.map { case (p, r) => counters.group(s"${r.name}#$p") }.foldLeft(new SparkCounters.Acc)(_ + _)
      Layers.reportSpark(ctx.res, acc(traced.toSeq), all.map(r => (r.fromMs, r.toMs)), ctx.cores, n)
      traced.toSeq.groupBy { case (_, r) => family(r.name) }.foreach { case (f, prs) =>
        val a = acc(prs)
        val rs = prs.map(_._2)
        m(s"queries.$f.wall_s") = rs.map(_.sec).sum / n
        m(s"queries.$f.jobs") = a.jobs.toDouble / n
        m(s"queries.$f.task_cpu_s") = a.taskCpuNs / 1e9 / n
        m(s"queries.$f.gc_s") = a.gcMs / 1e3 / n
        m(s"queries.$f.shuffle_write_bytes") = a.shuffleWriteBytes.toDouble / n
        m(s"queries.$f.driver_gap_s") = rs.map(r => a.driverGapMs(r.fromMs, r.toMs)).sum / 1e3 / n
      }
      m("hygiene.resident_bytes_before") = resident.toDouble / n
      m("trace.overhead_pct") =
        (Stats.median(traced.groupBy(_._1).values.map(_.map(_._2.sec).sum).toSeq) /
          Stats.median(suites) - 1) * 100
    }
    setupS
  }

  /** Pin mode: run every row once and record its digest
    * (and, with `--dump`, its result as parquet for the oracle check).
    */
  private def pin(ctx: Ctx): Unit = {
    val lines = Rows.map { n =>
      val r = runOne(ctx, n)
      ctx.cli.dump.foreach { d =>
        SparkEntry.queries(n)(ctx.spark, ctx.cli.sfDir).coalesce(1)
          .write.mode("overwrite").parquet(d.resolve(n).toString)
      }
      BlockHygiene.freeBlocks(ctx.spark)
      r.digest match {
        case Right((rowsN, d)) => ctx.res.op(true); s"$n\t$rowsN\t$d\t${family(n)}"
        case Left(err) => ctx.res.op(false); s"$n\t-1\tERROR $err\t${family(n)}"
      }
    }
    ctx.cli.dump.foreach { d =>
      val sql = Rows.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> Json.str(_)))
      Files.writeString(d.resolve("oracle_sql.json"), Json.obj(sql))
    }
    val out = ctx.cli.work.resolve("pins.tsv")
    Files.writeString(out, lines.mkString("", "\n", "\n"))
    ctx.info(s"digests written to $out")
  }
}
