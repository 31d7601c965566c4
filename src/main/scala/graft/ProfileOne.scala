package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Dev utility (guide §1/§7 substitute for the disabled Spark UI):
  * run the named queries through [[Bench.runQuery]], then walk the
  * FINAL adaptive plan and print every node with its populated
  * SQLMetrics — the per-operator time/rows/spill evidence the UI's SQL
  * tab would show. Args: name dir [name dir ...]; env
  * SPARK_GRAFT_CPUS (default 32), SPARK_GRAFT_BENCH_PASSES (default 2:
  * one warm pass, then the measured and profiled one).
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
    args.sliding(2, 2).foreach { case Array(name, dir) =>
      var plan: SparkPlan = null
      var best = Double.MaxValue
      (1 to passes).foreach { _ =>
        val (df, sec) = Bench.runQuery(spark, name, dir)
        best = math.min(best, sec)
        plan = df.queryExecution.executedPlan
        // executedPlan of THIS DataFrame was not the one the write ran;
        // execute it directly so its metrics populate for the dump —
        // in the row's scope, and before its checkpoint blocks go
        Bench.inRowScope(spark, name)(plan.execute().foreach(_ => ()))
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
