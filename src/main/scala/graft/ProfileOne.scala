package graft

import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.v2.V2TableWriteExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Dev utility (guide §1/§7 substitute for the disabled Spark UI):
  * run the named queries through [[Bench.runQuery]], then walk the
  * FINAL adaptive plan of the timed noop write (its own
  * QueryExecution, caught by a listener, so every plan runs once per
  * pass) and print every node with its populated SQLMetrics — the
  * per-operator time/rows/spill evidence the UI's SQL tab would show.
  * Args: name dir [name dir ...]; env SPARK_GRAFT_CPUS (default 32),
  * SPARK_GRAFT_BENCH_PASSES (default 2: one warm pass, then the
  * measured and profiled one).
  */
object ProfileOne {
  private def walk(p: SparkPlan, depth: Int, sb: StringBuilder): Unit = {
    val m = p.metrics.toSeq
      .map { case (k, v) => s"$k=${v.value}" }
      .sorted.mkString(", ")
    sb.append("  " * depth).append(p.nodeName)
    if (m.nonEmpty) sb.append("  [").append(m).append("]")
    sb.append('\n')
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
      case r: org.apache.spark.sql.execution.adaptive.AQEShuffleReadExec => r.children ++ r.subqueries
      case _ => p.children ++ p.subqueries
    }
    kids.foreach(walk(_, depth + 1, sb))
  }

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "2").toInt
    val spark = Bench.session(cpus)
    // the noop sink is the only v2 write a row runs; listener events
    // arrive asynchronously, after the write returns
    val written = new AtomicReference[QueryExecution]
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (qe.executedPlan.isInstanceOf[V2TableWriteExec]) written.set(qe)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    })
    args.sliding(2, 2).foreach { case Array(name, dir) =>
      var plan: SparkPlan = null
      var best = Double.MaxValue
      (1 to passes).foreach { _ =>
        written.set(null)
        val (_, sec) = Bench.runQuery(spark, name, dir)
        best = math.min(best, sec)
        val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
        while (written.get == null && System.nanoTime() < deadline) Thread.sleep(10)
        plan = Option(written.get).getOrElse(
          sys.error(s"no write event for $name within 30 s")).executedPlan
        BlockHygiene.freeBlocks(spark)
      }
      val sb = new StringBuilder
      sb.append(f"===== PROFILE $name best=${best}%.2f s =====\n")
      walk(plan, 0, sb)
      println(sb.result())
    }
    spark.stop()
  }
}
