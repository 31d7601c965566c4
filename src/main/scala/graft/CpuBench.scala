package graft

/** Dev utility for A/B timing on a NOISY box: per query, reports
  * min-of-N wall seconds plus min-of-N summed task executorCpuTime /
  * executorRunTime / GC deltas. Thread CPU time is charged only while a
  * task thread actually runs, so host steal/throttle weather that
  * swings wall time 2-4x leaves the CPU column nearly unchanged —
  * the robust metric for comparing two plan shapes on shared
  * hardware. Args: dir query [query ...]; env SPARK_GRAFT_CPUS
  * (default 32), SPARK_GRAFT_BENCH_PASSES (default 3).
  */
object CpuBench {
  def main(args: Array[String]): Unit = {
    val dir = args.head
    val names = args.tail.toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "3").toInt
    val spark = Bench.session(cpus)
    val listener = new Bench.TaskMetricsListener
    spark.sparkContext.addSparkListener(listener)
    // one untimed warm pass over the whole set (JIT/codegen)
    names.foreach { n =>
      try Bench.runQuery(spark, n, dir)
      catch { case e: Throwable => System.err.println(s"[cpubench] warm $n: $e") }
    }
    BlockHygiene.freeBlocks(spark)
    names.foreach { n =>
      val runs = (1 to passes).map { _ =>
        val before = listener.counters
        val (_, wall) = Bench.runQuery(spark, n, dir)
        Bench.quiesce(listener)
        BlockHygiene.freeBlocks(spark)
        (wall, listener.counters - before)
      }
      val c = runs.map(_._2)
      println(f"""CPUBENCH $n wall=${runs.map(_._1).min}%.3f cpu_s=${c.map(_.cpuNs).min / 1e9}%.3f """ +
        f"""run_s=${c.map(_.runMs).min / 1e3}%.3f gc_s=${c.map(_.gcMs).min / 1e3}%.3f""")
    }
    spark.stop()
  }
}
