package graftbench

/** Names and arithmetic of the per-layer metrics a traced run reports.
  *
  * Every traced run reports every name; a layer a workload does not
  * exercise reports 0 (e.g. `streaming.*` on `catalog`).
  */
object Layers {
  val Spark: Seq[String] = Seq(
    "spark.jobs", "spark.stages", "spark.tasks", "spark.driver_gap_s", "spark.core_util",
    "spark.task_cpu_s", "spark.task_run_s", "spark.scheduler_delay_s",
    "spark.shuffle_write_bytes", "spark.shuffle_read_bytes", "spark.gc_s",
    "spark.spill_mem_bytes", "spark.spill_disk_bytes", "spark.scan_rows", "spark.scan_bytes",
    "spark.scan_tasks_useful_ratio", "spark.task_failures", "spark.stage_retries")

  val Families: Seq[String] = Seq(
    "ReferenceQueries", "AnalyticsQueries", "DedupQueries", "TextQueries",
    "SimilarityQueries", "MultimodalQueries", "UrlQueries")
  val FamilyFields: Seq[String] =
    Seq("wall_s", "jobs", "task_cpu_s", "gc_s", "shuffle_write_bytes", "driver_gap_s")
  val Queries: Seq[String] =
    (for (f <- Families; m <- FamilyFields) yield s"queries.$f.$m") :+ "hygiene.resident_bytes_before"

  /** The `cwl` batch prefix ladder, in order; each step adds one call. */
  val IngestSteps: Seq[String] = Seq(
    "sources.scan", "operators.Reader.readLogs", "sources.FlowLogs.parseLine",
    "sink.parquet_write", "operators.Tsv.save")
  val Ingest: Seq[String] =
    IngestSteps.flatMap(s => Seq(s"${s}_s", s"$s.jobs", s"$s.task_cpu_s"))

  val Streaming: Seq[String] = Seq(
    "streaming.batches", "streaming.trigger_ms_p50", "streaming.trigger_ms_p90",
    "streaming.add_batch_ms", "streaming.query_planning_ms", "streaming.latest_offset_ms",
    "streaming.wal_commit_ms", "streaming.commit_offsets_ms", "streaming.state_rows",
    "streaming.state_mem_bytes", "streaming.backlog_files", "streaming.generator_late_ms")

  val Trace: Seq[String] = Seq("trace.overhead_pct", "trace.spans")

  val All: Seq[String] = Spark ++ Queries ++ Ingest ++ Streaming ++ Trace :+ "jvm.heap_after_gc_peak_mb"

  /** Report 0 for every name in `names` not already reported. */
  def zeroFill(res: Result, names: Seq[String]): Unit =
    names.foreach(n => if (!res.metrics.contains(n)) res.metrics(n) = 0.0)

  /** The `spark.*` metrics of `acc`, whose tasks ran inside `windowsMs`,
    * averaged over `passes` passes.
    */
  def reportSpark(res: Result, acc: SparkCounters.Acc, windowsMs: Seq[(Long, Long)],
      cores: Int, passes: Int): Unit = {
    val p = passes.max(1).toDouble
    val m = res.metrics
    m("spark.jobs") = acc.jobs / p
    m("spark.stages") = acc.stages / p
    m("spark.tasks") = acc.tasks / p
    m("spark.driver_gap_s") = windowsMs.map { case (a, b) => acc.driverGapMs(a, b) }.sum / 1e3 / p
    val wallMs = windowsMs.map { case (a, b) => b - a }.sum
    m("spark.core_util") =
      if (wallMs <= 0) 0.0
      else windowsMs.map { case (a, b) =>
        Stats.clippedSum(acc.intervals.toSeq, a, b)
      }.sum.toDouble / (wallMs.toDouble * cores)
    m("spark.task_cpu_s") = acc.taskCpuNs / 1e9 / p
    m("spark.task_run_s") = acc.taskRunMs / 1e3 / p
    m("spark.scheduler_delay_s") = acc.schedulerDelayMs / 1e3 / p
    m("spark.shuffle_write_bytes") = acc.shuffleWriteBytes / p
    m("spark.shuffle_read_bytes") = acc.shuffleReadBytes / p
    m("spark.gc_s") = acc.gcMs / 1e3 / p
    m("spark.spill_mem_bytes") = acc.spillMemBytes / p
    m("spark.spill_disk_bytes") = acc.spillDiskBytes / p
    m("spark.scan_rows") = acc.scanRows / p
    m("spark.scan_bytes") = acc.scanBytes / p
    m("spark.scan_tasks_useful_ratio") =
      if (acc.scanTasks == 0) 0.0 else acc.scanTasksUseful.toDouble / acc.scanTasks
    m("spark.task_failures") = acc.taskFailures / p
    m("spark.stage_retries") = acc.stageRetries / p
  }
}
