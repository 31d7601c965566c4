package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.queries.events
import graft.sources.ParquetLake

/** lk23 (predicate DELETE, file-grain copy-on-write) and lk24
  * (row-level change feed from the manifest diff).
  */
class ChangeFeedSpec extends SparkSpec {

  private def freshLake(prefix: String): String = {
    val dir = Files.createTempDirectory(prefix).toString
    ParquetLake.writePartitioned(
      events(spark, sf).select("event_id", "user_id", "event_type", "ts_ms"),
      dir, "ts_ms", sortCols = Seq("user_id"))
    dir
  }

  private def snap(dir: String, v: Option[Int] = None): Set[(Long, String, String)] =
    ParquetLake.readManifested(spark, dir, v)
      .select(col("event_id"), col("event_type"), col("p_date").cast("string"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet

  test("lk23: deleteManifested rewrites only matching files, drops empty ones, keeps history") {
    val dir = freshLake("graft_del")
    val v1 = ParquetLake.snapshotManifest(spark, dir)
    val before = snap(dir)
    val dates = before.map(_._3).toSeq.sorted
    assert(dates.size >= 2, "fixture needs at least two partitions")
    val typ = before.filter(_._3 == dates.head).head._2

    // partial delete: one event type inside ONE partition (predicate
    // mixes a partition column and a data column)
    val pred1 = col("p_date").cast("string") === dates.head && col("event_type") === typ
    val v2 = ParquetLake.deleteManifested(spark, dir, pred1)
    assert(v2 > v1)
    val expected2 = before.filterNot(r => r._3 == dates.head && r._2 == typ)
    assert(snap(dir) === expected2)
    // only the matched partition's files changed; every other file
    // carries over verbatim
    val m1 = ParquetLake.readManifest(spark, dir, Some(v1)).get.toSet
    val m2 = ParquetLake.readManifest(spark, dir, Some(v2)).get.toSet
    val d0 = s"p_date=${dates.head}"
    assert(m1.filterNot(_.startsWith(d0)) === m2.filterNot(_.startsWith(d0)))
    assert(m1.filter(_.startsWith(d0)) !== m2.filter(_.startsWith(d0)))
    // pre-delete snapshot still fully readable (vacuum is the only
    // deletion point)
    assert(snap(dir, Some(v1)) === before)

    // whole-partition delete: every file of that partition drops out of
    // the manifest with no rewrite output
    val pred2 = col("p_date").cast("string") === dates(1)
    val v3 = ParquetLake.deleteManifested(spark, dir, pred2)
    assert(snap(dir) === expected2.filterNot(_._3 == dates(1)))
    val m3 = ParquetLake.readManifest(spark, dir, Some(v3)).get
    assert(!m3.exists(_.startsWith(s"p_date=${dates(1)}")))

    // a predicate matching nothing commits nothing
    assert(ParquetLake.deleteManifested(
      spark, dir, col("event_type") === "NO_SUCH_TYPE") === v3)
  }

  test("lk23: two racing deleters on overlapping files — both deletes land via CAS rebase") {
    import java.util.concurrent.{Callable, Executors, TimeUnit}
    val dir = freshLake("graft_del_race")
    ParquetLake.snapshotManifest(spark, dir)
    val before = snap(dir)
    val types = before.map(_._2).toSeq.distinct.sorted
    assert(types.size >= 2, "fixture needs two event types")
    // both predicates touch rows in (mostly) every file — maximal
    // rewrite overlap, so the CAS loser must fully re-probe and
    // re-rewrite against the winner's snapshot
    val gate = new java.util.concurrent.CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    try {
      val futures = types.take(2).map { t =>
        pool.submit(new Callable[Int] {
          override def call(): Int = {
            gate.await()
            ParquetLake.deleteManifested(
              spark, dir, col("event_type") === t)
          }
        })
      }
      gate.countDown()
      val versions = futures.map(_.get(120, TimeUnit.SECONDS))
      assert(versions.toSet.size === 2, "both deletes must commit distinct versions")
      assert(snap(dir) === before.filterNot(r => types.take(2).contains(r._2)))
    } finally {
      pool.shutdownNow()
      ()
    }
  }

  test("lk24: changeFeed emits exactly the merged row-level changes, never carried neighbors") {
    val dir = freshLake("graft_cf")
    val v1 = ParquetLake.snapshotManifest(spark, dir)
    val tgt = ParquetLake.readManifested(spark, dir).localCheckpoint()
    val pdType = tgt.schema("p_date").dataType
    val some = tgt.orderBy("event_id").limit(3).localCheckpoint()
    val ids = some.select("event_id").collect().map(_.getLong(0)).sorted
    val maxId = tgt.agg(max("event_id")).head().getLong(0)
    val updates = some.where(col("event_id").isin(ids(0), ids(1)))
      .withColumn("event_type", lit("MERGED")).withColumn("_del", lit(false))
    val dels = some.where(col("event_id") === ids(2)).withColumn("_del", lit(true))
    val inserts = some.where(col("event_id") === ids(0))
      .withColumn("event_id", lit(maxId + 1))
      .withColumn("event_type", lit("INSERTED"))
      .withColumn("p_date", lit("2030-01-01").cast(pdType))
      .withColumn("_del", lit(false))
    val v2 = ParquetLake.mergeManifested(
      spark, dir, updates.unionByName(dels).unionByName(inserts),
      keyCols = Seq("event_id"), deleteCol = Some("_del"))

    val feed = ParquetLake.changeFeed(spark, dir, v1, Seq("event_id"), Some(v2))
      .select(col("_change_type"), col("event_id"), col("event_type"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    val origType = (id: Long) =>
      some.where(col("event_id") === id).head().getAs[String]("event_type")
    assert(feed === Set(
      ("insert", maxId + 1, "INSERTED"),
      ("delete", ids(2), origType(ids(2))),
      ("update_preimage", ids(0), origType(ids(0))),
      ("update_postimage", ids(0), "MERGED"),
      ("update_preimage", ids(1), origType(ids(1))),
      ("update_postimage", ids(1), "MERGED")))
  }

  test("st23: streaming change-feed consumer emits each commit exactly once and resumes cleanly") {
    import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
    import graft.streaming.LogStream
    val dir = freshLake("graft_cdc")
    ParquetLake.snapshotManifest(spark, dir)
    val tickDir = Files.createTempDirectory("graft_cdc_tick").toString
    val outPath = Files.createTempDirectory("graft_cdc_out").toString + "/feed"
    val ckpt1 = Files.createTempDirectory("graft_cdc_ck1").toString
    val ckpt2 = Files.createTempDirectory("graft_cdc_ck2").toString
    def tick(n: Int): Unit = {
      import spark.implicits._
      Seq(n).toDF("n").write.mode("append").parquet(tickDir)
    }
    def versionDirs(): Set[String] = {
      val d = new java.io.File(outPath)
      if (!d.exists()) Set.empty
      else d.listFiles().filter(_.isDirectory).map(_.getName).toSet
    }
    def mergeOne(id: Long, newType: String): Int = {
      val row = ParquetLake.readManifested(spark, dir)
        .where(col("event_id") === id)
        .withColumn("event_type", lit(newType)).withColumn("_del", lit(false))
      ParquetLake.mergeManifested(
        spark, dir, row, keyCols = Seq("event_id"), deleteCol = Some("_del"))
    }
    val firstId = ParquetLake.readManifested(spark, dir)
      .agg(min("event_id")).head().getLong(0)

    tick(0)
    val ticks = spark.readStream
      .schema(StructType(Seq(StructField("n", IntegerType))))
      .parquet(tickDir)
    val q = LogStream.startBatchSink(ticks, ckpt1)(
      LogStream.changeFeedBatchWriter(dir, Seq("event_id"), outPath))
    try {
      q.processAllAvailable()
      assert(versionDirs() === Set.empty) // baseline snapshot is not a change
      val v2 = mergeOne(firstId, "CDC_A")
      tick(1); q.processAllAvailable()
      assert(versionDirs() === Set(s"version=$v2"))
      val feed2 = spark.read.parquet(s"$outPath/version=$v2")
        .select("_change_type", "event_id", "event_type", "_commit_version")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getInt(3))).toSet
      assert(feed2.map(_._1) === Set("update_preimage", "update_postimage"))
      assert(feed2.collect { case ("update_postimage", id, t, v) => (id, t, v) } ===
        Set((firstId, "CDC_A", v2)))
      val v3 = mergeOne(firstId, "CDC_B")
      tick(2); q.processAllAvailable()
      assert(versionDirs() === Set(s"version=$v2", s"version=$v3"))
    } finally q.stop()

    // restart with a fresh checkpoint against the same sink: the
    // sink-derived cursor prevents re-emission — same dirs, same rows
    val countsBefore = versionDirs().map(d =>
      d -> spark.read.parquet(s"$outPath/$d").count()).toMap
    val q2 = LogStream.startBatchSink(
      spark.readStream.schema(StructType(Seq(StructField("n", IntegerType))))
        .parquet(tickDir), ckpt2)(
      LogStream.changeFeedBatchWriter(dir, Seq("event_id"), outPath))
    try { tick(3); q2.processAllAvailable() } finally q2.stop()
    val countsAfter = versionDirs().map(d =>
      d -> spark.read.parquet(s"$outPath/$d").count()).toMap
    assert(countsAfter === countsBefore)
  }

  test("lk24: compaction is invisible to the change feed") {
    // fragmented lake: several append waves → many small files
    val dir = Files.createTempDirectory("graft_cf_compact").toString
    val ev = events(spark, sf).select("event_id", "user_id", "event_type", "ts_ms")
      .withColumn("p_date", to_date(timestamp_millis(col("ts_ms"))).cast("string"))
    (0 until 4).foreach { w =>
      ev.where(col("event_id") % 4 === w)
        .repartition(2)
        .write.mode("append").partitionBy("p_date").parquet(dir)
    }
    val v1 = ParquetLake.snapshotManifest(spark, dir)
    val stats = ParquetLake.compactManifested(spark, dir)
    assert(stats.nonEmpty, "fixture must actually compact")
    val feed = ParquetLake.changeFeed(spark, dir, v1, Seq("event_id"))
    assert(feed.count() === 0)
    // ...while the file-grain incremental read necessarily re-emits the
    // rewritten rows — the row-level feed is the strictly sharper tool
    assert(ParquetLake.readIncremental(spark, dir, v1).count() > 0)
  }

  test("lk25: updateManifested edits matching rows in place; feed shows exactly the pre/post pairs") {
    val dir = freshLake("graft_upd")
    val v1 = ParquetLake.snapshotManifest(spark, dir)
    val before = snap(dir)
    val dates = before.map(_._3).toSeq.sorted
    assert(dates.size >= 2, "fixture needs at least two partitions")
    val typ = before.filter(_._3 == dates.head).head._2
    val pred = col("p_date").cast("string") === dates.head && col("event_type") === typ
    val nMatch = before.count(r => r._3 == dates.head && r._2 == typ)
    assert(nMatch > 0)

    val v2 = ParquetLake.updateManifested(
      spark, dir, pred, Map("event_type" -> lit("PATCHED")))
    assert(v2 > v1)
    // row counts conserved; exactly the matched rows changed
    val expected = before.map(r =>
      if (r._3 == dates.head && r._2 == typ) (r._1, "PATCHED", r._3) else r)
    assert(snap(dir) === expected)
    // untouched files carry verbatim; only the matched partition's
    // files were rewritten
    val m1 = ParquetLake.readManifest(spark, dir, Some(v1)).get.toSet
    val m2 = ParquetLake.readManifest(spark, dir, Some(v2)).get.toSet
    val d0 = s"p_date=${dates.head}"
    assert(m1.filterNot(_.startsWith(d0)) === m2.filterNot(_.startsWith(d0)))
    assert(m1.filter(_.startsWith(d0)) !== m2.filter(_.startsWith(d0)))
    // pre-update snapshot still readable
    assert(snap(dir, Some(v1)) === before)

    // the change feed between the two versions is EXACTLY the matched
    // rows as update pre/post pairs — carried neighbors collapse
    val feed = ParquetLake.changeFeed(spark, dir, v1, Seq("event_id"), Some(v2))
      .select(col("_change_type"), col("event_id"), col("event_type"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    assert(feed.count(_._1 == "update_preimage") === nMatch)
    assert(feed.count(_._1 == "update_postimage") === nMatch)
    assert(feed.filter(_._1 == "update_postimage").forall(_._3 == "PATCHED"))
    assert(!feed.exists(f => f._1 == "insert" || f._1 == "delete"))

    // no-match predicate commits nothing
    assert(ParquetLake.updateManifested(
      spark, dir, col("event_type") === "NO_SUCH_TYPE",
      Map("event_type" -> lit("X"))) === v2)

    // partition columns cannot be SET (that's a row move → merge)
    intercept[Exception] {
      ParquetLake.updateManifested(
        spark, dir, col("event_type") === "PATCHED",
        Map("p_date" -> lit("2030-01-01")))
    }
    // unknown SET column rejected
    intercept[IllegalArgumentException] {
      ParquetLake.updateManifested(
        spark, dir, lit(true), Map("no_such_col" -> lit(1)))
    }
  }

  test("lk25 x lk17: evolved-column predicate/SET rewrites pre-evolution files via the aligned read") {
    val dir = freshLake("graft_upd_evo")
    val v1 = ParquetLake.snapshotManifest(spark, dir)
    val base = ParquetLake.readManifested(spark, dir).localCheckpoint()
    val nBase = base.count()
    val maxId = base.agg(max("event_id")).head().getLong(0)
    // additive evolution: a fresh partition whose files carry schema_rev
    val pdir = new java.io.File(dir, "p_date=2031-01-01")
    base.orderBy("event_id").limit(5)
      .withColumn("event_id", col("event_id") + lit(maxId + 1))
      .withColumn("schema_rev", lit(2L))
      .drop("p_date")
      .coalesce(1).write.parquet(pdir.toString)
    val newFiles = pdir.listFiles().filter(_.getName.startsWith("part-"))
      .map(f => s"p_date=2031-01-01/${f.getName}").toSeq
    ParquetLake.commitManifest(
      spark, dir, ParquetLake.readManifest(spark, dir, Some(v1)).get ++ newFiles)

    // `schema_rev IS NULL` matches exactly the pre-evolution rows; the
    // update backfills it — every pre-evolution file rewrites through
    // the snapshot-aligned read instead of failing on a column the
    // file doesn't physically have
    val v3 = ParquetLake.updateManifested(
      spark, dir, col("schema_rev").isNull, Map("schema_rev" -> lit(1L)))
    val after = ParquetLake.readManifested(spark, dir, Some(v3), mergeSchema = true)
    assert(after.count() === nBase + 5)
    assert(after.where(col("schema_rev").isNull).count() === 0)
    assert(after.where(col("schema_rev") === 1L).count() === nBase)
    assert(after.where(col("schema_rev") === 2L).count() === 5)

    // the delete twin: an evolved-column predicate drops the
    // backfilled rows without touching the evolved partition
    val v4 = ParquetLake.deleteManifested(spark, dir, col("schema_rev") === 1L)
    assert(ParquetLake.readManifested(spark, dir, Some(v4), mergeSchema = true)
      .count() === 5)
  }

  test("lk23/lk25: COW rewrite dispatches O(1) Spark jobs however many files the predicate touches") {
    // the per-file job loop this pins against: at 10⁴-10⁵ affected
    // files a job per file is a driver-dispatch bottleneck even with
    // a thread pool. The grouped rewrite must issue a CONSTANT number
    // of jobs per partition scheme — so doubling the affected file
    // count must not change the job count at all.
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    // the listener bus is async and private; settle by polling until
    // the count stops moving (job STARTS all precede body returning,
    // so this only waits out bus delivery, never a straggling job)
    def settled(): Int = {
      var prev = -1; var cur = jobs.get()
      while (cur != prev) { Thread.sleep(200); prev = cur; cur = jobs.get() }
      cur
    }
    def countJobs(body: => Unit): Int = {
      spark.sparkContext.addSparkListener(listener)
      jobs.set(0)
      try { body; settled() }
      finally spark.sparkContext.removeSparkListener(listener)
    }
    def lakeWith(nFiles: Int): String = {
      val dir = Files.createTempDirectory(s"graft_cowjobs$nFiles").toString
      val df = spark.range(nFiles.toLong * 10)
        .select(col("id"), (col("id") % nFiles).as("bucket"),
          (col("id") % 2 === 0).as("victim"))
        .repartition(col("bucket"))
      df.write.mode("overwrite").partitionBy("bucket").parquet(dir)
      ParquetLake.snapshotManifest(spark, dir)
      assert(ParquetLake.readManifest(spark, dir, None).get.size >= nFiles)
      dir
    }
    val small = lakeWith(8)
    val big = lakeWith(16)
    // predicate touches EVERY file but deletes only half of each
    val jSmall = countJobs(ParquetLake.deleteManifested(spark, small, col("victim")))
    val jBig = countJobs(ParquetLake.deleteManifested(spark, big, col("victim")))
    assert(ParquetLake.readManifested(spark, small, None).count() === 40)
    assert(ParquetLake.readManifested(spark, big, None).count() === 80)
    assert(jBig === jSmall,
      s"job count must be flat in affected-file count, got $jSmall → $jBig")
    // same bar for UPDATE
    val uSmall = countJobs(ParquetLake.updateManifested(
      spark, small, col("victim") === false, Map("id" -> lit(-1L))))
    val uBig = countJobs(ParquetLake.updateManifested(
      spark, big, col("victim") === false, Map("id" -> lit(-1L))))
    assert(ParquetLake.readManifested(spark, small, None).where(col("id") === -1L).count() === 40)
    assert(uBig === uSmall,
      s"update job count must be flat in affected-file count, got $uSmall → $uBig")
  }
}
