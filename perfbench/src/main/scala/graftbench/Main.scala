package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Command-line options, passed by run.py. */
case class Cli(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    work: Path,
    out: Path,
    sfDir: String,
    pins: Option[Path],
    pin: Boolean,
    dump: Option[Path])

/** What a run reports: the correctness verdict, operation counts and
  * metrics by name.
  */
final class Result {
  var correct = true
  var attempted = 0L
  var failed = 0L
  val metrics = mutable.LinkedHashMap.empty[String, Double]

  /** Count one operation; a failed one also makes the run incorrect. */
  def op(ok: Boolean): Unit = {
    attempted += 1
    if (!ok) { failed += 1; correct = false }
  }
}

/** Everything a workload needs: the session, options, tracer, result. */
final class Ctx(val spark: SparkSession, val cli: Cli, val tracer: Tracer, val cores: Int) {
  val res = new Result

  def dir(name: String): Path = {
    val p = cli.work.resolve(name)
    Files.createDirectories(p)
    p
  }

  def info(msg: String): Unit = {
    println(s"[graftbench] ${cli.workload}: $msg")
    System.out.flush()
  }

  /** Run `body` under its own job group, so SparkCounters attributes its jobs. */
  def inGroup[T](group: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group, interruptOnCancel = false)
    try body finally sc.clearJobGroup()
  }
}

object Main {
  val Workloads: Set[String] = Set("cwl", "catalog")

  def parse(argv: Array[String]): Cli = {
    val kv = argv.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(Workloads(w), s"unknown workload '$w' (one of ${Workloads.toSeq.sorted.mkString(", ")})")
    Cli(w, need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      Paths.get(need("work")).toAbsolutePath, Paths.get(need("out")).toAbsolutePath,
      kv.getOrElse("sf", ""), kv.get("pins").map(Paths.get(_).toAbsolutePath), kv.get("pin").contains("1"), kv.get("dump").map(Paths.get(_).toAbsolutePath))
  }

  def main(argv: Array[String]): Unit = {
    val mainStartNs = System.nanoTime()
    HeapWatch.install()
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val cli = parse(argv)
    val cores = Runtime.getRuntime.availableProcessors()
    val local = cli.work.resolve("spark-local")
    Files.createDirectories(local)
    // the session users get, with its scratch and warehouse kept inside
    // the benchmark's work directory and enough progress history for
    // every micro-batch of a run
    val spark = GraftSession.builder(cores)
      .config("spark.local.dir", local.toString)
      .config("spark.sql.warehouse.dir", cli.work.resolve("warehouse").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - mainStartNs) / 1e9
    val ctx = new Ctx(spark, cli, new Tracer(cli.trace), cores)
    try {
      val setupS = cli.workload match {
        case "cwl" => Ingest.run(ctx) + Stream.run(ctx)
        case "catalog" => Catalog.run(ctx)
      }
      val m = ctx.res.metrics
      if (cli.trace) {
        m("trace.spans") = ctx.tracer.all.size.toDouble
        m("jvm.heap_after_gc_peak_mb") = HeapWatch.peakMb
        Layers.zeroFill(ctx.res, Layers.All)
      } else {
        m("setup_s") = sessionS + setupS
        m("peak_rss_mb") = Stats.peakRssMb()
      }
      writeResult(ctx)
    } finally spark.stop()
  }

  private def writeResult(ctx: Ctx): Unit = {
    val r = ctx.res
    val metrics = Json.obj(r.metrics.toSeq.map { case (k, v) => k -> Json.num(v) })
    Files.createDirectories(ctx.cli.out.getParent)
    Files.writeString(ctx.cli.out,
      s"""{"correct":${r.correct},"attempted":${r.attempted},"failed":${r.failed},"metrics":$metrics}""")
    if (ctx.cli.trace) {
      val trace = ctx.cli.work.resolve("traces")
        .resolve(s"${ctx.cli.workload}-seed${ctx.cli.seed}.json")
      Files.createDirectories(trace.getParent)
      Files.writeString(trace,
        s"""{"workload":${Json.str(ctx.cli.workload)},"seed":${ctx.cli.seed},"layers":$metrics,""" +
          s""""self_s":${Json.obj(ctx.tracer.selfTimeSec.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })},""" +
          s""""spans":${ctx.tracer.toJson}}""")
      ctx.info(s"trace written to $trace")
    }
  }
}
