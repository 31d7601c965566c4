package graft

/** A library session serves many queries at once: concurrent
  * execution must give the same answers as serial, with no
  * cross-query interference from operator-internal materialization
  * (localCheckpoint blocks, broadcast cleanup, AQE re-planning).
  */
class ConcurrencySpec extends SparkSpec {

  private val allQueries = SparkEntry.queries ++ SparkEntry.retiredQueries

  private val names = Seq(
    "d1_exact_dedup", "d2_minhash_lsh", "q1_pricing_summary",
    "t2_quality", "m3_quantize", "s1_knn_brute",
    // d9 exercises concurrent function registration + the per-call
    // uniquified bench view behind its bloom scalar subquery; d10
    // runs eager CC jobs inside query construction; q26 a multi-agg;
    // t18 a localCheckpoint dict + broadcast λ; m5 a mapPartitions
    // encoder with per-partition digest state; s6 a salted
    // checkpointed self-join
    "d9_decontaminate_bloom", "q26_retention_cohorts", "d10_semdedup",
    "t18_dsir_sample", "m5_embed_batched", "s6_knn_join",
    // session-2 additions: t26's checkpointed bigram relation, d20's
    // inverted-index pair join, s10's sampled block-matrix histogram
    "t26_bigram_lm", "d20_containment", "s10_sim_histogram")

  test("fifteen queries running concurrently match their serial results") {
    import java.util.concurrent.{Callable, Executors, TimeUnit}
    val serial = names.map(n =>
      n -> allQueries(n)(spark, sf).collect().map(_.toString).sorted.toSeq).toMap
    val pool = Executors.newFixedThreadPool(names.size)
    try {
      val futures = names.map { n =>
        n -> pool.submit(new Callable[Seq[String]] {
          override def call(): Seq[String] =
            allQueries(n)(spark, sf).collect().map(_.toString).sorted.toSeq
        })
      }
      futures.foreach { case (n, f) =>
        assert(f.get(300, TimeUnit.SECONDS) === serial(n), s"query $n diverged under concurrency")
      }
    } finally {
      pool.shutdownNow()
      ()
    }
  }

  test("six CAS writers racing on one manifest: every commit lands exactly once, in serial versions") {
    import java.util.concurrent.{Callable, Executors, TimeUnit}
    import graft.sources.ParquetLake
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_cas_stress").toString
    ParquetLake.writePartitioned(
      graft.queries.events(spark, sf).select("event_id", "user_id", "event_type", "ts_ms"),
      dir, "ts_ms", sortCols = Nil)
    val v0 = ParquetLake.snapshotManifest(spark, dir)
    val base = ParquetLake.readManifest(spark, dir, Some(v0)).get
    val writers = 6
    val gate = new java.util.concurrent.CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(writers)
    try {
      // each writer appends its own marker path via CAS with
      // re-read-and-rebase retries — the raw commit loop mergeAttempt
      // wraps; under contention every marker must survive
      val futures = (1 to writers).map { w =>
        pool.submit(new Callable[Int] {
          override def call(): Int = {
            gate.await()
            var attempt = 0
            while (true) {
              val (fsv, _) = (ParquetLake.manifestLog(spark, dir).last._1, ())
              val cur = ParquetLake.readManifest(spark, dir, Some(fsv)).get
              try return ParquetLake.commitManifest(
                spark, dir, cur :+ s"p_date=2031-01-0$w/part-w$w.parquet", Some(fsv))
              catch {
                case _: ParquetLake.ManifestConflictException if attempt < 32 =>
                  attempt += 1
              }
            }
            -1
          }
        })
      }
      gate.countDown()
      val versions = futures.map(_.get(120, TimeUnit.SECONDS))
      // six distinct, consecutive versions after v0
      assert(versions.toSet.size === writers)
      assert(versions.sorted === ((v0 + 1) to (v0 + writers)))
      // the final snapshot carries the base files plus ALL six markers
      val last = ParquetLake.readManifest(spark, dir).get
      assert(last.toSet.intersect(base.toSet) === base.toSet)
      (1 to writers).foreach { w =>
        assert(last.contains(s"p_date=2031-01-0$w/part-w$w.parquet"), s"writer $w's commit lost")
      }
    } finally {
      pool.shutdownNow()
      ()
    }
  }

  test("lk27 stress: racing staged publishes and a concurrent merge all land; nothing lost, nothing torn") {
    import java.util.concurrent.{Callable, Executors, TimeUnit}
    import graft.sources.ParquetLake
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_wap_stress").toString
    ParquetLake.writePartitioned(
      graft.queries.events(spark, sf).select("event_id", "user_id", "event_type", "ts_ms"),
      dir, "ts_ms", sortCols = Nil)
    ParquetLake.snapshotManifest(spark, dir)
    val base = ParquetLake.readManifested(spark, dir)
    val baseCount = base.count()
    val pdType = base.schema("p_date").dataType
    // three stagers write disjoint batches invisibly
    val stagedCounts = (1 to 3).map { w =>
      val batch = base.where(col("event_id") % 3 === w - 1)
        .withColumn("event_id", col("event_id") + w * 10000000L)
      ParquetLake.stageAppend(spark, dir, batch, s"wap-$w", Some("p_date"))
      w -> batch.count()
    }.toMap
    assert(ParquetLake.readManifested(spark, dir).count() === baseCount)
    // all three publish concurrently while a merge races them
    val gate = new java.util.concurrent.CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(4)
    try {
      val pubs = (1 to 3).map { w =>
        pool.submit(new Callable[Int] {
          override def call(): Int = {
            gate.await()
            ParquetLake.publishStaged(spark, dir, s"wap-$w")
          }
        })
      }
      val merger = pool.submit(new Callable[Int] {
        override def call(): Int = {
          gate.await()
          val one = base.limit(1)
            .select("event_id", "user_id", "event_type", "ts_ms", "p_date").collect().head
          val change = Seq((one.getLong(0), one.getLong(1), "merged", one.getLong(3)))
            .toDF("event_id", "user_id", "event_type", "ts_ms")
            .withColumn("p_date", lit(one.getAs[Any]("p_date")).cast(pdType))
          ParquetLake.mergeManifested(spark, dir, change,
            keyCols = Seq("event_id"))
        }
      })
      gate.countDown()
      val versions = pubs.map(_.get(180, TimeUnit.SECONDS)) :+ merger.get(180, TimeUnit.SECONDS)
      assert(versions.toSet.size === 4, s"versions: $versions")
      // every staged batch landed in full, the merge's edit too
      val finalDf = ParquetLake.readManifested(spark, dir)
      assert(finalDf.count() === baseCount + stagedCounts.values.sum)
      (1 to 3).foreach { w =>
        assert(finalDf.where(col("event_id") >= w * 10000000L &&
          col("event_id") < (w + 1) * 10000000L).count() === stagedCounts(w))
      }
      assert(finalDf.where(col("event_type") === "merged").count() === 1)
      assert(ParquetLake.stagedManifests(spark, dir).isEmpty)
      assert(ParquetLake.fsck(spark, dir).missing.isEmpty)
    } finally {
      pool.shutdownNow()
      ()
    }
  }

  test("lk37/lk38 stress: racing vectored deletes and a staged publish all land; MoR view stays exact") {
    import java.util.concurrent.{Callable, Executors, TimeUnit}
    import graft.sources.ParquetLake
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_dv_stress").toString
    ParquetLake.writePartitioned(
      graft.queries.events(spark, sf).select("event_id", "user_id", "event_type", "ts_ms"),
      dir, "ts_ms", sortCols = Nil)
    ParquetLake.snapshotManifest(spark, dir)
    val base = ParquetLake.readManifested(spark, dir)
    val baseCount = base.count()
    // a staged batch waits to publish under the same races
    val staged = base.where(col("event_id") % 5 === 0)
      .withColumn("event_id", col("event_id") + 10000000L)
    val stagedCount = staged.count()
    ParquetLake.stageAppend(spark, dir, staged, "dv-race", Some("p_date"))
    // three deleters tombstone DISJOINT slices concurrently with the
    // publish: every CAS loser rebases, nothing resurrects
    val preds = Seq(
      col("event_id") % 7 === 0 && col("event_id") < 10000000L,
      col("event_id") % 7 === 1 && col("event_id") < 10000000L,
      col("event_id") % 7 === 2 && col("event_id") < 10000000L)
    val delCounts = preds.map(p => base.where(p).count())
    val gate = new java.util.concurrent.CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(4)
    try {
      val dels = preds.map { p =>
        pool.submit(new Callable[Int] {
          override def call(): Int = {
            gate.await()
            ParquetLake.deleteVectored(spark, dir, p)
          }
        })
      }
      val pub = pool.submit(new Callable[Int] {
        override def call(): Int = {
          gate.await()
          ParquetLake.publishStaged(spark, dir, "dv-race")
        }
      })
      gate.countDown()
      val versions = dels.map(_.get(180, TimeUnit.SECONDS)) :+ pub.get(180, TimeUnit.SECONDS)
      assert(versions.toSet.size === 4, s"versions: $versions")
    } finally {
      pool.shutdownNow()
      ()
    }
    // all three vectors apply AND the publish carried them: the MoR
    // head = base − deletes + staged batch, row-exact
    val mor = ParquetLake.readManifestedMoR(spark, dir)
    assert(mor.count() === baseCount - delCounts.sum + stagedCount)
    preds.foreach(p => assert(mor.where(p).count() === 0))
    assert(mor.where(col("event_id") >= 10000000L).count() === stagedCount)
    // plain snapshot still pre-delete by contract; materialize converges
    assert(ParquetLake.readManifested(spark, dir).count() === baseCount + stagedCount)
    ParquetLake.materializeDeletes(spark, dir)
    assert(ParquetLake.readManifested(spark, dir).count()
      === baseCount - delCounts.sum + stagedCount)
    assert(ParquetLake.fsck(spark, dir).missing.isEmpty)
  }

  test("lk38 stress: three racing branch appenders all land; the branch holds every batch") {
    import java.util.concurrent.{Callable, Executors, TimeUnit}
    import graft.sources.ParquetLake
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_branch_stress").toString
    ParquetLake.writePartitioned(
      graft.queries.events(spark, sf).select("event_id", "user_id", "event_type", "ts_ms"),
      dir, "ts_ms", sortCols = Nil)
    ParquetLake.snapshotManifest(spark, dir)
    val base = ParquetLake.readManifested(spark, dir)
    val baseCount = base.count()
    ParquetLake.createBranch(spark, dir, "race")
    val batches = (1 to 3).map { w =>
      w -> base.where(col("event_id") % 3 === w - 1)
        .withColumn("event_id", col("event_id") + w * 10000000L)
        .localCheckpoint(eager = false)
    }
    val counts = batches.map { case (w, b) => w -> b.count() }.toMap
    val gate = new java.util.concurrent.CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(3)
    try {
      val futs = batches.map { case (w, b) =>
        pool.submit(new Callable[Int] {
          override def call(): Int = {
            gate.await()
            ParquetLake.appendBranch(spark, dir, "race", b, Some("p_date"))
          }
        })
      }
      gate.countDown()
      val versions = futs.map(_.get(180, TimeUnit.SECONDS))
      // every append landed exactly once, in serial branch versions
      assert(versions.sorted === Seq(2, 3, 4), s"versions: $versions")
    } finally {
      pool.shutdownNow()
      ()
    }
    val branch = ParquetLake.readBranch(spark, dir, "race")
    assert(branch.count() === baseCount + counts.values.sum)
    (1 to 3).foreach { w =>
      assert(branch.where(col("event_id") >= w * 10000000L &&
        col("event_id") < (w + 1) * 10000000L).count() === counts(w), s"batch $w")
    }
    // main untouched throughout
    assert(ParquetLake.readManifested(spark, dir).count() === baseCount)
  }

  test("lk38: append-only branch rebase-publishes atop a moved main; fast-forward still conflicts") {
    import graft.sources.ParquetLake
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_branch_rebase").toString
    ParquetLake.writePartitioned(
      graft.queries.events(spark, sf).select("event_id", "user_id", "event_type", "ts_ms"),
      dir, "ts_ms", sortCols = Nil)
    ParquetLake.snapshotManifest(spark, dir)
    val base = ParquetLake.readManifested(spark, dir).localCheckpoint(eager = false)
    val baseCount = base.count()
    ParquetLake.createBranch(spark, dir, "feat")
    // two branch appends (disjoint id ranges)
    val b1 = base.where(col("event_id") % 4 === 0)
      .withColumn("event_id", col("event_id") + 10000000L)
    val b2 = base.where(col("event_id") % 4 === 1)
      .withColumn("event_id", col("event_id") + 20000000L)
    val (n1, n2) = (b1.count(), b2.count())
    ParquetLake.appendBranch(spark, dir, "feat", b1, Some("p_date"))
    ParquetLake.appendBranch(spark, dir, "feat", b2, Some("p_date"))
    // main moves underneath: a concurrent append publishes
    val m1 = base.where(col("event_id") % 4 === 2)
      .withColumn("event_id", col("event_id") + 30000000L)
    val nm = m1.count()
    ParquetLake.stageAppend(spark, dir, m1, "mainmove", Some("p_date"))
    ParquetLake.publishStaged(spark, dir, "mainmove")
    // fast-forward publish refuses: main is no longer at the fork
    intercept[ParquetLake.ManifestConflictException] {
      ParquetLake.publishBranch(spark, dir, "feat")
    }
    // the rebase publish lands the branch DELTA on the new head
    val v = ParquetLake.publishBranchRebase(spark, dir, "feat")
    val head = ParquetLake.readManifested(spark, dir, Some(v))
    assert(head.count() === baseCount + n1 + n2 + nm)
    assert(head.where(col("event_id").between(10000000L, 19999999L)).count() === n1)
    assert(head.where(col("event_id").between(20000000L, 29999999L)).count() === n2)
    assert(head.where(col("event_id").between(30000000L, 39999999L)).count() === nm)
    // branch listings consumed; lake consistent
    assert(!ParquetLake.branches(spark, dir).contains("feat"))
    assert(ParquetLake.fsck(spark, dir).missing.isEmpty)
    // the head's pending deletion vectors ride the rebase: tombstone a
    // slice on main, rebase-publish another append-only branch, and the
    // MoR view of the published head still excludes the deleted rows
    val delCount = ParquetLake.readManifested(spark, dir)
      .where(col("event_id") % 9 === 0 && col("event_id") < 10000000L).count()
    ParquetLake.deleteVectored(spark, dir,
      col("event_id") % 9 === 0 && col("event_id") < 10000000L)
    ParquetLake.createBranch(spark, dir, "feat2")
    val b3 = base.where(col("event_id") % 4 === 3)
      .withColumn("event_id", col("event_id") + 40000000L)
    val n3 = b3.count()
    ParquetLake.appendBranch(spark, dir, "feat2", b3, Some("p_date"))
    val v2 = ParquetLake.publishBranchRebase(spark, dir, "feat2")
    val mor = ParquetLake.readManifestedMoR(spark, dir, Some(v2))
    assert(mor.count() === baseCount + n1 + n2 + nm + n3 - delCount)
    assert(mor.where(col("event_id") % 9 === 0 && col("event_id") < 10000000L).count() === 0)
    assert(mor.where(col("event_id").between(40000000L, 49999999L)).count() === n3)
  }

  test("lk38: mid-branch main delete — branch reads stay snapshot-isolated at the fork, publication never loses the delete") {
    import graft.sources.ParquetLake
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_branch_middel").toString
    ParquetLake.writePartitioned(
      graft.queries.events(spark, sf).select("event_id", "user_id", "event_type", "ts_ms"),
      dir, "ts_ms", sortCols = Nil)
    ParquetLake.snapshotManifest(spark, dir)
    val base = ParquetLake.readManifested(spark, dir).localCheckpoint(eager = false)
    val baseCount = base.count()
    ParquetLake.createBranch(spark, dir, "mid")
    val b1 = base.where(col("event_id") % 5 === 0)
      .withColumn("event_id", col("event_id") + 10000000L)
    val n1 = b1.count()
    ParquetLake.appendBranch(spark, dir, "mid", b1, Some("p_date"))
    // main deletes a slice AFTER the fork, mid-branch
    val delPred = col("event_id") % 7 === 0 && col("event_id") < 10000000L
    val delCount = ParquetLake.readManifested(spark, dir).where(delPred).count()
    assert(delCount > 0)
    ParquetLake.deleteVectored(spark, dir, delPred)
    // CONTRACT 1: the branch reader is snapshot-isolated at the fork —
    // the mid-branch main delete is invisible (these rows were live in
    // the forked snapshot; this is the same isolation that hides
    // mid-branch main APPENDS, not resurrection)
    val branch = ParquetLake.readBranch(spark, dir, "mid")
    assert(branch.count() === baseCount + n1)
    assert(branch.where(delPred).count() === delCount)
    // CONTRACT 2: fast-forward publish refuses — main moved
    intercept[ParquetLake.ManifestConflictException] {
      ParquetLake.publishBranch(spark, dir, "mid")
    }
    // CONTRACT 3: the rebase publish adopts the CURRENT head's dv
    // header — the published main head keeps the delete and gains
    // only the branch's appended files; nothing resurrects
    val v = ParquetLake.publishBranchRebase(spark, dir, "mid")
    val mor = ParquetLake.readManifestedMoR(spark, dir, Some(v))
    assert(mor.count() === baseCount + n1 - delCount)
    assert(mor.where(delPred).count() === 0)
    assert(mor.where(col("event_id") >= 10000000L).count() === n1)
    assert(ParquetLake.fsck(spark, dir).missing.isEmpty)
  }

  test("lk35: two racing checked publishes of one new key — exactly one lands, the other is refused against the head it would commit on") {
    import java.util.concurrent.{Callable, Executors, TimeUnit}
    import graft.sources.ParquetLake
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_checked_race").toString
    ParquetLake.writePartitioned(
      graft.queries.events(spark, sf).select("event_id", "user_id", "event_type", "ts_ms"),
      dir, "ts_ms", sortCols = Nil)
    ParquetLake.snapshotManifest(spark, dir)
    val base = ParquetLake.readManifested(spark, dir)
    val newId = base.agg(max("event_id")).head().getLong(0) + 1
    // both stages hold the same fresh event_id: each passes the check
    // against the pre-race head, only one may pass against the other's
    val row = base.orderBy("event_id").limit(1)
      .withColumn("event_id", lit(newId)).localCheckpoint()
    (1 to 2).foreach(w => ParquetLake.stageAppend(spark, dir, row, s"dup-$w", Some("p_date")))
    val gate = new java.util.concurrent.CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    try {
      val futs = (1 to 2).map { w =>
        pool.submit(new Callable[Either[IllegalStateException, Int]] {
          override def call(): Either[IllegalStateException, Int] = {
            gate.await()
            try Right(ParquetLake.publishStagedChecked(spark, dir, s"dup-$w",
              uniqueKey = Seq("event_id")))
            catch { case e: IllegalStateException => Left(e) }
          }
        })
      }
      gate.countDown()
      val outcomes = futs.map(_.get(180, TimeUnit.SECONDS))
      assert(outcomes.count(_.isRight) === 1, s"outcomes: $outcomes")
      val refused = outcomes.collect { case Left(e) => e.getMessage }
      assert(refused.size === 1)
      assert(refused.head.contains("unique(event_id) vs head"), refused.head)
    } finally {
      pool.shutdownNow()
      ()
    }
    assert(ParquetLake.readManifested(spark, dir).where(col("event_id") === newId).count() === 1)
  }

  test("lk45: two racing matview refreshers agree on one version; the CAS loser leaves no unreferenced data dir") {
    import java.util.concurrent.{Callable, Executors, TimeUnit}
    import scala.jdk.CollectionConverters._
    import graft.sources.ParquetLake
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_matview_race").toString
    ParquetLake.writePartitioned(
      graft.queries.events(spark, sf).select("event_id", "user_id", "event_type", "ts_ms"),
      dir, "ts_ms", sortCols = Nil)
    ParquetLake.snapshotManifest(spark, dir)
    val (keys, ms) = (Seq("event_type"), Seq("user_id"))
    ParquetLake.matviewRefresh(spark, dir, "mv", keys, ms)
    val batch = ParquetLake.readManifested(spark, dir)
      .where(col("event_id") % 5 === 0)
      .withColumn("event_id", col("event_id") + 10000000L)
    ParquetLake.stageAppend(spark, dir, batch, "mv-race", Some("p_date"))
    ParquetLake.publishStaged(spark, dir, "mv-race")
    val gate = new java.util.concurrent.CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    try {
      val futs = (1 to 2).map { _ =>
        pool.submit(new Callable[ParquetLake.MatviewRefresh] {
          override def call(): ParquetLake.MatviewRefresh = {
            gate.await()
            ParquetLake.matviewRefresh(spark, dir, "mv", keys, ms)
          }
        })
      }
      gate.countDown()
      val results = futs.map(_.get(180, TimeUnit.SECONDS))
      assert(results.map(_.version).distinct.size === 1, s"results: $results")
      assert(results.map(_.mode).toSet === Set("incremental", "noop"), s"results: $results")
    } finally {
      pool.shutdownNow()
      ()
    }
    val root = new java.io.File(dir)
    val listed = root.listFiles().filter(_.getName.startsWith("_graft_matview_mv.v"))
      .flatMap(f => java.nio.file.Files.readAllLines(f.toPath).asScala)
      .filterNot(_.startsWith("#"))
      .map(f => f.take(f.lastIndexOf('/'))).toSet
    val dirs = new java.io.File(root, "_graft_matview_data_mv").listFiles()
      .filter(_.isDirectory).map(d => s"_graft_matview_data_mv/${d.getName}").toSet
    assert(dirs.nonEmpty)
    assert(dirs.subsetOf(listed), s"unreferenced: ${dirs -- listed}")
    assert(ParquetLake.matviewRead(spark, dir, "mv").agg(sum("n_rows")).head().getLong(0)
      === ParquetLake.readManifestedMoR(spark, dir).count())
  }
}
