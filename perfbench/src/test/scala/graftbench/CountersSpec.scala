package graftbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class CountersSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "2").getOrCreate()
  private val counters = new SparkCounters

  override def beforeAll(): Unit = spark.sparkContext.addSparkListener(counters)
  override def afterAll(): Unit = spark.stop()

  private def inGroup[T](g: String)(body: => T): T = {
    spark.sparkContext.setJobGroup(g, g)
    try body finally spark.sparkContext.clearJobGroup()
  }

  test("job count of a fixed plan under one group matches the status tracker") {
    inGroup("fixed") {
      spark.range(0, 10000, 1, 4).selectExpr("id % 7 AS k").groupBy("k").count().collect()
      spark.range(0, 100).selectExpr("sum(id)").collect()
    }
    SparkCounters.drain(spark.sparkContext)
    val acc = counters.group("fixed")
    assert(acc.jobs > 0)
    assert(acc.jobs == spark.sparkContext.statusTracker.getJobIdsForGroup("fixed").length)
    assert(acc.tasks >= 4 && acc.stages >= 2)
    assert(acc.taskFailures == 0 && acc.stageRetries == 0)
    assert(acc.shuffleWriteBytes > 0 && acc.shuffleReadBytes > 0)
  }

  test("a known sleep between two jobs shows up in the driver gap") {
    val from = System.currentTimeMillis()
    inGroup("gap") {
      spark.range(0, 1000, 1, 2).selectExpr("sum(id)").collect()
      Thread.sleep(600)
      spark.range(0, 1000, 1, 2).selectExpr("sum(id)").collect()
    }
    val to = System.currentTimeMillis()
    SparkCounters.drain(spark.sparkContext)
    val acc = counters.group("gap")
    val gap = acc.driverGapMs(from, to)
    assert(gap >= 600, s"gap $gap ms")
    assert(gap < to - from)
  }

  test("union of task intervals") {
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 30L)), 0, 100) == 25)
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 30L)), 8, 25) == 12)
    assert(Stats.clippedSum(Seq((0L, 10L), (5L, 15L)), 0, 12) == 17)
  }

  test("lag percentiles on a synthetic progress sequence") {
    // six files, two records each, due every 200 ms; a no-data batch in
    // the middle and the last file never committed
    val batches = Seq(
      Stream.Batch(0, 1000, 4), Stream.Batch(1000, 1500, 0), Stream.Batch(1500, 2600, 6))
    val commits = Stream.commitTimes(batches, 6, 2)
    assert(commits == Vector(Some(1000L), Some(1000L), Some(2600L), Some(2600L), Some(2600L), None))
    val lags = commits.zipWithIndex.flatMap { case (c, k) => c.map(_ - k * 200.0) }
    assert(lags == Vector(1000.0, 800.0, 2200.0, 2000.0, 1800.0))
    assert(Stats.percentile(lags, 0.5) == 1800.0)
    assert(math.abs(Stats.percentile(lags, 0.85) - 2080.0) < 1e-9)
    assert(Stats.percentile(lags, 0.0) == 800.0 && Stats.percentile(lags, 1.0) == 2200.0)
  }

  test("committed rate is the slope of committed events over commit time") {
    val t = CwlGen.Totals(Vector(1, 0, 0, 0), 500, 0, 0)
    // two files per commit, one commit a second, the last file uncommitted
    val commits = Vector(Some(1000L), Some(1000L), Some(2000L), Some(2000L), Some(3000L), Some(3000L), None)
    assert(math.abs(Stream.committedRate(commits, Vector.fill(7)(t)) - 1000.0) < 1e-9)
    // a stream that falls behind: commits twice as far apart
    val slow = Vector(Some(1000L), Some(1000L), Some(3000L), Some(3000L), Some(5000L), Some(5000L))
    assert(math.abs(Stream.committedRate(slow, Vector.fill(6)(t)) - 500.0) < 1e-9)
  }
}
