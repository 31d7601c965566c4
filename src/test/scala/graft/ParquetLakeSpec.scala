package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.queries.events
import graft.sources.ParquetLake

/** Lake layout: partitioned write, directory-level pruning on read. */
class ParquetLakeSpec extends SparkSpec {

  private lazy val lakeDir: String = {
    val dir = Files.createTempDirectory("graft_lake").toString
    ParquetLake.writePartitioned(
      events(spark, sf).select("event_id", "user_id", "event_type", "ts_ms"),
      dir, "ts_ms", sortCols = Seq("user_id"))
    dir
  }

  test("write produces p_date=... directories") {
    val dirs = new java.io.File(lakeDir).listFiles().filter(_.isDirectory).map(_.getName)
    assert(dirs.nonEmpty)
    assert(dirs.forall(_.startsWith("p_date=")))
  }

  test("date-range read prunes partitions in the plan and keeps counts right") {
    val from = "2024-01-10"
    val to = "2024-01-12"
    val pruned = ParquetLake.readRange(spark, lakeDir, from, to)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"))
    // the range predicate must be a partition filter, not a data filter
    assert(!plan.contains("PushedFilters: [IsNotNull(p_date)"))
    val expected = events(spark, sf)
      .where(to_date(timestamp_millis(col("ts_ms"))).cast("string").between(from, to))
      .count()
    assert(pruned.count() === expected)
    assert(expected > 0)
  }

  test("roundtrip preserves every row") {
    assert(spark.read.parquet(lakeDir).count() === events(spark, sf).count())
  }

  test("lk3: hash-sharded export is total, deterministic, and matches the t16 manifest") {
    val dir = Files.createTempDirectory("graft_export").toString
    val docs = graft.queries.table(spark, sf, "documents")
    val manifest = ParquetLake.exportShards(docs, "doc_id", dir, 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every row exported exactly once, shards within [0, 8)
    assert(manifest.values.sum === docs.count())
    assert(manifest.keySet.forall(s => s >= 0 && s < 8))
    // manifest agrees with the oracle-checked t16 accounting query
    val t16 = SparkEntry.queries("t16_export_shards")(spark, sf)
      .select("shard", "n_docs")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(manifest === t16)
    // shard dirs on disk
    val dirs = new java.io.File(dir).listFiles().filter(_.isDirectory).map(_.getName)
    assert(dirs.count(_.startsWith("shard=")) === manifest.size)
  }

  test("lk2: compaction merges small files, preserves rows, keeps pruning") {
    // fragmented lake: 8 append waves, several files per partition
    val dir = Files.createTempDirectory("graft_lake_frag").toString
    val ev = events(spark, sf).select("event_id", "user_id", "event_type", "ts_ms")
      .withColumn("p_date", to_date(timestamp_millis(col("ts_ms"))).cast("string"))
    (0 until 8).foreach { w =>
      ev.where(col("event_id") % 8 === w)
        .repartition(3)
        .write.mode("append").partitionBy("p_date").parquet(dir)
    }
    def fileCount(): Int = new java.io.File(dir).listFiles()
      .filter(d => d.isDirectory && d.getName.startsWith("p_date="))
      .map(_.listFiles().count(f => f.getName.startsWith("part-"))).sum
    val before = fileCount()
    val beforeRows = spark.read.parquet(dir)
      .select("event_id", "user_id", "event_type", "ts_ms", "p_date")
    val beforeSet = beforeRows.collect().map(_.toString).sorted
    val stats = graft.sources.ParquetLake.compact(
      spark, dir, targetFileBytes = 1L << 30, sortCols = Seq("user_id"))
    val after = fileCount()
    assert(stats.nonEmpty)
    assert(after < before, s"$before -> $after")
    // every surviving partition is at the one-file target
    stats.foreach(s => assert(s.filesAfter === 1, s.toString))
    val afterSet = spark.read.parquet(dir)
      .select("event_id", "user_id", "event_type", "ts_ms", "p_date")
      .collect().map(_.toString).sorted
    assert(afterSet.toSeq === beforeSet.toSeq)
    // directory-level pruning still works on the compacted lake
    val pruned = ParquetLake.readRange(spark, dir, "2024-01-10", "2024-01-12")
    assert(pruned.queryExecution.executedPlan.toString.contains("PartitionFilters"))
  }

  /** Fragmented lake fixture: several files per p_date partition. */
  private def fragmentedLake(): String = {
    val dir = Files.createTempDirectory("graft_lake_man").toString
    val ev = events(spark, sf).select("event_id", "user_id", "event_type", "ts_ms")
      .withColumn("p_date", to_date(timestamp_millis(col("ts_ms"))).cast("string"))
    (0 until 4).foreach { w =>
      ev.where(col("event_id") % 4 === w)
        .repartition(2)
        .write.mode("append").partitionBy("p_date").parquet(dir)
    }
    dir
  }

  /** Unpartitioned lake fixture: `nFiles` root-level data files, the
    * layout a plain `df.write.parquet` (and every index-gated ingest
    * batch) leaves.
    */
  private def flatLake(nFiles: Int): String = {
    val dir = Files.createTempDirectory("graft_lake_flat").toString + "/lake"
    events(spark, sf).select("event_id", "user_id", "event_type", "ts_ms")
      .repartition(nFiles).write.parquet(dir)
    ParquetLake.snapshotManifest(spark, dir)
    assert(ParquetLake.readManifest(spark, dir).get.count(!_.contains('/')) === nFiles)
    dir
  }

  private def plantOrphan(dir: String): java.io.File = {
    // simulate a crashed prior compaction: a stray data file in a
    // partition directory that no manifest references
    val part = new java.io.File(dir).listFiles()
      .filter(d => d.isDirectory && d.getName.startsWith("p_date=")).head
    val src = part.listFiles().filter(_.getName.startsWith("part-")).head
    val orphan = new java.io.File(part, "part-orphan-from-crash.snappy.parquet")
    Files.copy(src.toPath, orphan.toPath)
    orphan
  }

  test("lk4: manifested compaction never folds orphans in, never duplicates rows") {
    val dir = fragmentedLake()
    val v1 = ParquetLake.snapshotManifest(spark, dir)
    val beforeRows = ParquetLake.readManifested(spark, dir)
      .collect().map(_.toString).sorted.toSeq
    val orphan = plantOrphan(dir)
    val stats = ParquetLake.compactManifested(
      spark, dir, targetFileBytes = 1L << 30, sortCols = Seq("user_id"))
    assert(stats.nonEmpty)
    // crash-recovery guarantee (the round-4 bug): the orphan must NOT
    // have been folded into the rewrite — row set is unchanged
    val afterRows = ParquetLake.readManifested(spark, dir)
      .collect().map(_.toString).sorted.toSeq
    assert(afterRows === beforeRows)
    // deferred deletes: the PREVIOUS committed version is still fully
    // readable (compaction inputs stay on disk until vacuum)
    val oldRows = ParquetLake.readManifested(spark, dir, Some(v1))
      .collect().map(_.toString).sorted.toSeq
    assert(oldRows === beforeRows)
    assert(orphan.exists(), "compaction must not delete anything; vacuum does")
  }

  test("lk5: vacuum keeps every retained version readable, then reclaims aged-out files") {
    val dir = fragmentedLake()
    val v1 = ParquetLake.snapshotManifest(spark, dir)
    val expected = ParquetLake.readManifested(spark, dir)
      .collect().map(_.toString).sorted.toSeq
    val orphan = plantOrphan(dir)
    ParquetLake.compactManifested(spark, dir, targetFileBytes = 1L << 30)
    // keepVersions=2 retains v1+v2: v1's files must survive the vacuum
    // (retainMillis=0: no writer is running, and the default 7-day
    // horizon would skip this test's seconds-old files entirely)
    val deleted2 = ParquetLake.vacuum(spark, dir, keepVersions = 2, retainMillis = 0)
    assert(deleted2.contains(s"${orphan.getParentFile.getName}/${orphan.getName}"))
    assert(!orphan.exists())
    assert(ParquetLake.readManifested(spark, dir, Some(v1))
      .collect().map(_.toString).sorted.toSeq === expected)
    // keepVersions=1 ages v1 out: its files are reclaimed, v1 unreadable,
    // latest still intact
    val deleted1 = ParquetLake.vacuum(spark, dir, keepVersions = 1, retainMillis = 0)
    assert(deleted1.nonEmpty)
    intercept[IllegalArgumentException] {
      ParquetLake.readManifested(spark, dir, Some(v1))
    }
    assert(ParquetLake.readManifested(spark, dir)
      .collect().map(_.toString).sorted.toSeq === expected)
    // unpartitioned: a recluster supersedes the root-level files, and
    // the vacuum that ages their version out deletes them
    val flat = flatLake(2)
    val superseded = ParquetLake.readManifest(spark, flat).get
    val flatRows = ParquetLake.readManifested(spark, flat).count()
    ParquetLake.reclusterManifested(spark, flat, "ts_ms", numFiles = 2)
    val deletedFlat = ParquetLake.vacuum(spark, flat, keepVersions = 1, retainMillis = 0)
    assert(superseded.forall(deletedFlat.contains), deletedFlat.mkString(","))
    assert(superseded.forall(f => !new java.io.File(flat, f).exists()))
    assert(ParquetLake.readManifested(spark, flat).count() === flatRows)
  }

  test("lk7: morton interleave matches the bit model") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val pairs = Seq.fill(200)((rnd.nextInt(1 << 12).toLong, rnd.nextInt(1 << 12).toLong))
    def model(a: Long, b: Long, bits: Int): Long =
      (0 until bits).foldLeft(0L) { (acc, i) =>
        acc | (((a >> i) & 1L) << (2 * i + 1)) | (((b >> i) & 1L) << (2 * i))
      }
    val got = pairs.toDF("a", "b")
      .select(graft.functions.morton(col("a"), col("b"), 12).as("z"))
      .collect().map(_.getLong(0))
    assert(got.toSeq === pairs.map { case (a, b) => model(a, b, 12) })
    // interleave is a bijection on the grid: sorted z-codes are distinct
    assert(got.distinct.length === pairs.distinct.length)
  }

  test("lk8: z-order layout clusters BOTH dimensions; single-sort only clusters one") {
    val ev = events(spark, sf).select(col("event_id"), col("user_id"), col("ts_ms"))
    def spans(dir: String): (Double, Double) = {
      val files = new java.io.File(dir).listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      val perFile = files.map { f =>
        val r = spark.read.parquet(f.getPath)
          .agg(min("user_id"), max("user_id"), min("ts_ms"), max("ts_ms")).head()
        (r.getLong(1) - r.getLong(0), r.getLong(3) - r.getLong(2))
      }
      val (gu, gt) = {
        val r = ev.agg(min("user_id"), max("user_id"), min("ts_ms"), max("ts_ms")).head()
        ((r.getLong(1) - r.getLong(0)).toDouble, (r.getLong(3) - r.getLong(2)).toDouble)
      }
      (perFile.map(_._1 / gu).sum / perFile.length,
        perFile.map(_._2 / gt).sum / perFile.length)
    }
    val sortedDir = Files.createTempDirectory("graft_lake_tsorted").toString
    ev.repartitionByRange(16, col("ts_ms")).sortWithinPartitions("ts_ms")
      .write.mode("overwrite").parquet(sortedDir)
    val zDir = Files.createTempDirectory("graft_lake_zorder").toString
    ParquetLake.zorderWrite(ev, zDir, "user_id", "ts_ms", bits = 12, numFiles = 16)
    val (suSorted, _) = spans(sortedDir)
    val (suZ, stZ) = spans(zDir)
    // time-sorted files span ~the full user range; z-ordered files
    // cover a tile: materially narrower in BOTH dimensions
    assert(suSorted > 0.8, s"time-sorted user span $suSorted")
    assert(suZ < 0.6 * suSorted, s"zorder user span $suZ vs sorted $suSorted")
    assert(stZ < 0.6, s"zorder ts span $stZ")
    // layout change loses no rows
    assert(spark.read.parquet(zDir).count() === ev.count())
  }

  test("lk13: mortonN matches the bit model for 3 columns and morton for 2") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val triples = Seq.fill(200)((
      rnd.nextInt(1 << 10).toLong, rnd.nextInt(1 << 10).toLong, rnd.nextInt(1 << 10).toLong))
    def model(vs: Seq[Long], bits: Int): Long = {
      val k = vs.length
      (0 until bits).foldLeft(0L) { (acc, i) =>
        vs.zipWithIndex.foldLeft(acc) { case (a, (v, j)) =>
          a | (((v >> i) & 1L) << (k * i + (k - 1 - j)))
        }
      }
    }
    val got3 = triples.toDF("a", "b", "c")
      .select(graft.functions.mortonN(Seq(col("a"), col("b"), col("c")), 10).as("z"))
      .collect().map(_.getLong(0))
    assert(got3.toSeq === triples.map { case (a, b, c) => model(Seq(a, b, c), 10) })
    // k=2 degenerates to the 2-column morton exactly
    val two = triples.map { case (a, b, _) => (a, b) }
    val gotN2 = two.toDF("a", "b")
      .select(graft.functions.mortonN(Seq(col("a"), col("b")), 10).as("z"))
      .collect().map(_.getLong(0))
    val got2 = two.toDF("a", "b")
      .select(graft.functions.morton(col("a"), col("b"), 10).as("z"))
      .collect().map(_.getLong(0))
    assert(gotN2.toSeq === got2.toSeq)
  }

  test("lk14: 3-column z-order write clusters every dimension") {
    val ev = events(spark, sf).select(col("event_id"), col("user_id"), col("ts_ms"))
    val dir = Files.createTempDirectory("graft_lake_z3").toString
    ParquetLake.zorderWriteN(ev, dir, Seq("user_id", "ts_ms", "event_id"), bits = 10, numFiles = 27)
    val global = ev.agg(
      min("user_id"), max("user_id"), min("ts_ms"), max("ts_ms"),
      min("event_id"), max("event_id")).head()
    def width(lo: Int, hi: Int): Double = (global.getLong(hi) - global.getLong(lo)).toDouble
    val files = new java.io.File(dir).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    assert(files.length > 8, s"got ${files.length} files")
    val spans = files.map { f =>
      val r = spark.read.parquet(f.getPath).agg(
        min("user_id"), max("user_id"), min("ts_ms"), max("ts_ms"),
        min("event_id"), max("event_id")).head()
      ((r.getLong(1) - r.getLong(0)) / width(0, 1),
        (r.getLong(3) - r.getLong(2)) / width(2, 3),
        (r.getLong(5) - r.getLong(4)) / width(4, 5))
    }
    def avg(xs: Array[Double]): Double = xs.sum / xs.length
    val (su, st, se) = (avg(spans.map(_._1)), avg(spans.map(_._2)), avg(spans.map(_._3)))
    // 27 files over a 3-d curve ≈ 3 splits per axis: every dimension's
    // average per-file span must be well below the full range
    assert(su < 0.75, s"user span $su")
    assert(st < 0.75, s"ts span $st")
    assert(se < 0.75, s"event span $se")
    assert(spark.read.parquet(dir).count() === ev.count())
  }

  test("lk9: co-bucketed tables join and aggregate with zero Exchange") {
    val ev = events(spark, sf).select("event_id", "user_id", "ts_ms")
    val users = ev.groupBy("user_id").agg(count(lit(1)).as("n_events"))
    ParquetLake.writeBucketed(ev, "lk9_fact", "user_id", 8, Seq("user_id"))
    ParquetLake.writeBucketed(users, "lk9_dim", "user_id", 8, Seq("user_id"))
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val fact = spark.table("lk9_fact")
      val dim = spark.table("lk9_dim")
      val joined = fact.join(dim, "user_id")
      val p = joined.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      assert(p.contains("SortMergeJoin"), p)
      assert(!p.contains("Exchange"), p)
      assert(p.contains("SelectedBucketsCount"), p)
      // same rows as the plain (shuffled) join of the source frames
      val expected = ev.join(users, "user_id")
        .collect().map(_.toString).sorted.toSeq
      assert(joined.collect().map(_.toString).sorted.toSeq === expected)
      // an aggregate keyed on the bucket column is also shuffle-free
      val agg = fact.groupBy("user_id").agg(sum("ts_ms").as("s"))
      val pa = agg.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      assert(!pa.contains("Exchange"), pa)
      assert(agg.count() === users.count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS lk9_fact")
      spark.sql("DROP TABLE IF EXISTS lk9_dim")
    }
  }

  test("lk10: a selective dim filter prunes fact partitions at runtime (DPP)") {
    import spark.implicits._
    val fact = spark.read.parquet(lakeDir)
    // directory-inferred partition columns come back as DATE
    val allDates = fact.select(col("p_date").cast("string")).distinct()
      .collect().map(_.getString(0)).sorted
    assert(allDates.length >= 3, s"need several partitions, got ${allDates.length}")
    val kept = allDates.take(2).toSet
    // a parquet-backed dim (a local Seq would constant-fold the
    // filter into a LocalRelation and the pruning rule sees no
    // selective predicate to subquery on)
    val dimDir = Files.createTempDirectory("graft_lake_dim").toString
    allDates.toSeq.toDF("d")
      .withColumn("keep", when(col("d").isInCollection(kept), 1).otherwise(0))
      .select(to_date(col("d")).as("p_date"), col("keep"))
      .write.mode("overwrite").parquet(dimDir)
    val dim = spark.read.parquet(dimDir)
    val joined = fact.join(dim.where(col("keep") === 1), "p_date")
    val p = joined.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode).toLowerCase
    // the fact scan's PartitionFilters must carry a runtime
    // dynamicpruning subquery fed by the dim side — directory-level
    // skipping decided at run time, not a full scan + post-filter
    assert(p.contains("dynamicpruning"), p)
    val expected = fact.where(col("p_date").cast("string").isInCollection(kept)).count()
    assert(joined.count() === expected)
    assert(expected > 0)
  }

  test("lk11: snapshotManifest ignores .compact_ aside dirs (they contain '=' too)") {
    val dir = fragmentedLake()
    val expected = spark.read.parquet(dir).collect().map(_.toString).sorted.toSeq
    // leftover aside dir from a crashed compact(): its name embeds the
    // partition dir name, so it also contains '=' — the manifest
    // bootstrap must not bake its files in as a phantom partition
    val part = new java.io.File(dir).listFiles()
      .filter(d => d.isDirectory && d.getName.startsWith("p_date=")).head
    val aside = new java.io.File(dir, s".compact_${part.getName}")
    assert(aside.mkdir())
    val src = part.listFiles().filter(_.getName.startsWith("part-")).head
    Files.copy(src.toPath, new java.io.File(aside, src.getName).toPath)
    ParquetLake.snapshotManifest(spark, dir)
    val manifest = ParquetLake.readManifest(spark, dir).get
    assert(manifest.nonEmpty)
    assert(!manifest.exists(_.startsWith(".compact_")), manifest.mkString("\n"))
    assert(ParquetLake.readManifested(spark, dir)
      .collect().map(_.toString).sorted.toSeq === expected)
  }

  test("lk12: vacuum never touches aside files and refuses while a swap is pending") {
    val dir = fragmentedLake()
    ParquetLake.snapshotManifest(spark, dir)
    ParquetLake.compactManifested(spark, dir, targetFileBytes = 1L << 30)
    val part = new java.io.File(dir).listFiles()
      .filter(d => d.isDirectory && d.getName.startsWith("p_date=")).head
    // aside dir with an old-mtime file: pre-fix, vacuum's '='-filter
    // listed it as a partition dir and reclaimed the "orphan" — which
    // after a post-COMMIT crash is the sole copy of deleted rows
    val aside = new java.io.File(dir, s".compact_${part.getName}")
    assert(aside.mkdir())
    val src = part.listFiles().filter(_.getName.startsWith("part-")).head
    val asideFile = new java.io.File(aside, src.getName)
    Files.copy(src.toPath, asideFile.toPath)
    assert(asideFile.setLastModified(1000L))
    val deleted = ParquetLake.vacuum(spark, dir, keepVersions = 1, retainMillis = 0)
    assert(asideFile.exists(), "vacuum must never delete aside files")
    assert(!deleted.exists(_.startsWith(".compact_")), deleted.mkString("\n"))
    // with the swap COMMITTED (marker present) vacuum must refuse outright
    val marker = new java.io.File(dir, s".compact_${part.getName}.COMMIT")
    Files.write(marker.toPath, s"${src.getName}\n".getBytes("UTF-8"))
    intercept[IllegalStateException] {
      ParquetLake.vacuum(spark, dir, keepVersions = 1, retainMillis = 0)
    }
    assert(marker.delete())
  }

  test("vacuum deletes a crash-left ._graft_tmp. file once it is older than retainMillis") {
    import org.apache.hadoop.fs.Path
    val dir = Files.createTempDirectory("graft_tmp_sweep").toString
    spark.range(4).toDF("id").write.mode("overwrite").parquet(dir)
    ParquetLake.snapshotManifest(spark, dir)
    val hour = 60L * 60 * 1000
    def plant(f: java.io.File, ageMillis: Long): java.io.File = {
      Files.write(f.toPath, "x\n".getBytes("UTF-8"))
      assert(f.setLastModified(System.currentTimeMillis() - ageMillis))
      f
    }
    def temp(target: String) =
      new java.io.File(ParquetLake.tempFor(new Path(dir, target)).toUri.getPath)
    val old = plant(temp("_graft_manifest.v2"), 2 * hour)
    val young = plant(temp("_graft_tag.r1"), 0L)
    // a legacy compact aside is never the sweep's, however old
    val aside = new java.io.File(dir, ".compact_p_date=2024-01-01")
    assert(aside.mkdir())
    val asideFile = plant(new java.io.File(aside, "part-00000.parquet"), 2 * hour)
    assert(ParquetLake.vacuum(spark, dir, retainMillis = hour) === Seq(old.getName))
    assert(!old.exists() && young.exists() && asideFile.exists())
    // with a COMMIT marker pending nothing is swept, temp files included
    val marker = plant(new java.io.File(dir, ".compact_p_date=2024-01-01.COMMIT"), 2 * hour)
    val old2 = plant(temp("_graft_manifest.v2"), 2 * hour)
    intercept[IllegalStateException](ParquetLake.vacuum(spark, dir, retainMillis = hour))
    assert(old2.exists() && marker.exists() && asideFile.exists())
  }

  test("lk15: mergeManifested applies update/insert/delete atomically, rewriting only affected partitions") {
    val dir = Files.createTempDirectory("graft_merge").toString
    ParquetLake.writePartitioned(
      events(spark, sf).select("event_id", "user_id", "event_type", "ts_ms"),
      dir, "ts_ms", sortCols = Seq("user_id"))
    val v1 = ParquetLake.snapshotManifest(spark, dir)
    val tgt = ParquetLake.readManifested(spark, dir).localCheckpoint()
    val before = tgt
      .select(col("event_id"), col("event_type"), col("p_date").cast("string"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    val pdType = tgt.schema("p_date").dataType

    // change batch: 2 updates, 1 tombstone, 1 insert into a brand-new partition
    val some = tgt.orderBy("event_id").limit(3).localCheckpoint()
    val ids = some.select("event_id").collect().map(_.getLong(0)).sorted
    val updates = some.where(col("event_id").isin(ids(0), ids(1)))
      .withColumn("event_type", lit("MERGED")).withColumn("_del", lit(false))
    val dels = some.where(col("event_id") === ids(2)).withColumn("_del", lit(true))
    val maxId = tgt.agg(max("event_id")).head().getLong(0)
    val inserts = some.where(col("event_id") === ids(0))
      .withColumn("event_id", lit(maxId + 1))
      .withColumn("event_type", lit("INSERTED"))
      .withColumn("p_date", lit("2030-01-01").cast(pdType))
      .withColumn("_del", lit(false))
    val changes = updates.unionByName(dels).unionByName(inserts)

    val v2 = ParquetLake.mergeManifested(
      spark, dir, changes, keyCols = Seq("event_id"), deleteCol = Some("_del"))
    assert(v2 > v1)

    // the new snapshot reflects exactly the merge semantics
    val after = ParquetLake.readManifested(spark, dir)
      .select(col("event_id"), col("event_type"), col("p_date").cast("string"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    val touched = before.filter(r => r._1 == ids(0) || r._1 == ids(1) || r._1 == ids(2))
    val expected = (before -- touched) ++
      touched.filter(r => r._1 != ids(2)).map(r => (r._1, "MERGED", r._3)) +
      ((maxId + 1, "INSERTED", "2030-01-01"))
    assert(after === expected)

    // time travel: the pre-merge snapshot is untouched
    val v1Rows = ParquetLake.readManifested(spark, dir, Some(v1))
      .select(col("event_id"), col("event_type"), col("p_date").cast("string"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(v1Rows === before)

    // copy-on-write: partitions without a matched key or insert carry
    // over file-identical
    val affectedDirs = (some.select(col("p_date").cast("string")).collect().map(_.getString(0))
      :+ "2030-01-01").map(v => s"p_date=$v").toSet
    val m1 = ParquetLake.readManifest(spark, dir, Some(v1)).get.toSet
    val m2 = ParquetLake.readManifest(spark, dir, Some(v2)).get.toSet
    assert(m1.filterNot(f => affectedDirs(f.split('/').head)) ===
      m2.filterNot(f => affectedDirs(f.split('/').head)))
    assert(m2 !== m1)

    // idempotence: replaying the same change batch converges (the
    // at-least-once delivery contract)
    ParquetLake.mergeManifested(
      spark, dir, changes, keyCols = Seq("event_id"), deleteCol = Some("_del"))
    val again = ParquetLake.readManifested(spark, dir)
      .select(col("event_id"), col("event_type"), col("p_date").cast("string"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(again === expected)
  }

  test("lk16: incremental read returns exactly the delta between manifest versions") {
    val dir = Files.createTempDirectory("graft_incr").toString
    ParquetLake.writePartitioned(
      events(spark, sf).select("event_id", "user_id", "event_type", "ts_ms"),
      dir, "ts_ms", sortCols = Seq("user_id"))
    val v1 = ParquetLake.snapshotManifest(spark, dir)
    val tgt = ParquetLake.readManifested(spark, dir).localCheckpoint()
    val pdType = tgt.schema("p_date").dataType
    val maxId = tgt.agg(max("event_id")).head().getLong(0)

    // append-only commit: inserts land in a brand-new partition
    val inserts = tgt.orderBy("event_id").limit(3)
      .withColumn("event_id", col("event_id") + lit(maxId + 1))
      .withColumn("event_type", lit("NEW"))
      .withColumn("p_date", lit("2030-01-01").cast(pdType))
      .localCheckpoint()
    val v2 = ParquetLake.mergeManifested(spark, dir, inserts, keyCols = Seq("event_id"))
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("event_id"), col("event_type"), col("p_date").cast("string"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(rows(ParquetLake.readIncremental(spark, dir, v1)) === rows(inserts))

    // same-version diff: empty, schema preserved
    val none = ParquetLake.readIncremental(spark, dir, v2, Some(v2))
    assert(none.count() === 0)
    assert(none.columns.contains("p_date"))

    // fromVersion = 0 is the full snapshot
    assert(ParquetLake.readIncremental(spark, dir, 0, Some(v2)).count() ===
      ParquetLake.readManifested(spark, dir, Some(v2)).count())

    // copy-on-write rewrite: an update re-emits exactly its rewritten
    // partition (the documented file-grain contract)
    val upd = tgt.orderBy("event_id").limit(1)
      .withColumn("event_type", lit("UPD")).localCheckpoint()
    val updPart = upd.select(col("p_date").cast("string")).head().getString(0)
    val v3 = ParquetLake.mergeManifested(spark, dir, upd, keyCols = Seq("event_id"))
    val d3 = ParquetLake.readIncremental(spark, dir, v2, Some(v3))
    assert(d3.select(col("p_date").cast("string")).distinct()
      .collect().map(_.getString(0)).toSet === Set(updPart))
    assert(rows(d3) === rows(ParquetLake.readManifested(spark, dir, Some(v3))
      .where(col("p_date").cast("string") === updPart)))
  }

  test("lk17: additive schema evolution — new-column files join the snapshot, old rows read null") {
    val dir = Files.createTempDirectory("graft_evolve").toString
    ParquetLake.writePartitioned(
      events(spark, sf).select("event_id", "user_id", "event_type", "ts_ms"),
      dir, "ts_ms", sortCols = Seq("user_id"))
    val v1 = ParquetLake.snapshotManifest(spark, dir)
    val before = ParquetLake.readManifested(spark, dir)
    val nBefore = before.count()

    // a new ingest batch carries an extra column and lands in a fresh
    // partition; the next manifest version lists old + new files
    val maxId = before.agg(max("event_id")).head().getLong(0)
    val pdir = new java.io.File(dir, "p_date=2031-01-01")
    before.orderBy("event_id").limit(5)
      .withColumn("event_id", col("event_id") + lit(maxId + 1))
      .withColumn("schema_rev", lit(2L))
      .drop("p_date")
      .coalesce(1).write.parquet(pdir.toString)
    val newFiles = pdir.listFiles().filter(_.getName.startsWith("part-"))
      .map(f => s"p_date=2031-01-01/${f.getName}").toSeq
    val v2 = ParquetLake.commitManifest(
      spark, dir, ParquetLake.readManifest(spark, dir, Some(v1)).get ++ newFiles)

    // evolved read: union schema, nulls for pre-evolution rows
    val evolved = ParquetLake.readManifested(spark, dir, Some(v2), mergeSchema = true)
    assert(evolved.columns.contains("schema_rev"))
    assert(evolved.count() === nBefore + 5)
    assert(evolved.where(col("schema_rev").isNull).count() === nBefore)
    assert(evolved.where(col("schema_rev") === 2L).count() === 5)
    // time travel to v1 never sees the new column
    assert(!ParquetLake.readManifested(spark, dir, Some(v1), mergeSchema = true)
      .columns.contains("schema_rev"))
  }

  test("lk17 x lk15: a MERGE touching pre-evolution partitions keeps the union schema correct") {
    val dir = Files.createTempDirectory("graft_evolve_merge").toString
    ParquetLake.writePartitioned(
      events(spark, sf).select("event_id", "user_id", "event_type", "ts_ms"),
      dir, "ts_ms", sortCols = Seq("user_id"))
    val v1 = ParquetLake.snapshotManifest(spark, dir)
    val base = ParquetLake.readManifested(spark, dir).localCheckpoint()
    val nBase = base.count()
    val maxId = base.agg(max("event_id")).head().getLong(0)

    // evolution commit: a fresh partition whose files carry schema_rev
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

    // post-evolution MERGE whose source carries schema_rev and whose
    // keys live in PRE-evolution partitions: the copy-on-write rewrite
    // re-emits old-schema files with new-schema rows mixed in
    val touch = base.orderBy("event_id").limit(2).localCheckpoint()
    val touchedIds = touch.select("event_id").collect().map(_.getLong(0)).toSet
    val touchedParts = touch.select(col("p_date").cast("string"))
      .collect().map(_.getString(0)).toSet
    val changes = touch
      .withColumn("event_type", lit("EVOLVED"))
      .withColumn("schema_rev", lit(3L))
    ParquetLake.mergeManifested(spark, dir, changes, keyCols = Seq("event_id"))

    val after = ParquetLake.readManifested(spark, dir, mergeSchema = true)
      .localCheckpoint()
    // union schema everywhere; counts unchanged (pure update merge)
    assert(after.columns.contains("schema_rev"))
    assert(after.count() === nBase + 5)
    // the merged rows carry their new-column value...
    val merged = after.where(col("event_id").isin(touchedIds.toSeq.map(Long.box): _*))
    assert(merged.count() === 2)
    assert(merged.where(col("event_type") === "EVOLVED" && col("schema_rev") === 3L)
      .count() === 2)
    // ...their rewritten partitions keep every untouched row, reading
    // null for the evolved column (the rewrite must not drop or
    // default it), and lose no rows
    val rewritten = after.where(
      col("p_date").cast("string").isin(touchedParts.toSeq: _*) &&
        !col("event_id").isin(touchedIds.toSeq.map(Long.box): _*))
    assert(rewritten.count() ===
      base.where(col("p_date").cast("string").isin(touchedParts.toSeq: _*)).count() - 2)
    assert(rewritten.where(col("schema_rev").isNotNull).count() === 0)
    // the evolution partition is untouched by the merge
    assert(after.where(col("schema_rev") === 2L).count() === 5)

    // reverse direction: a PRE-evolution producer (no schema_rev)
    // merging into the evolved partition null-fills the new column
    // for its rows without narrowing the partition's schema
    val old = after.where(col("schema_rev") === 2L).orderBy("event_id").limit(1)
      .select(base.columns.map(col): _*).localCheckpoint()
    val oldId = old.select("event_id").head().getLong(0)
    ParquetLake.mergeManifested(
      spark, dir, old.withColumn("event_type", lit("BACKFILL")),
      keyCols = Seq("event_id"))
    val finalRead = ParquetLake.readManifested(spark, dir, mergeSchema = true)
    assert(finalRead.count() === nBase + 5)
    val backfilled = finalRead.where(col("event_id") === oldId)
    assert(backfilled.where(col("event_type") === "BACKFILL").count() === 1)
    assert(backfilled.where(col("schema_rev").isNull).count() === 1)
    // the rest of the evolved partition still carries its values
    assert(finalRead.where(col("schema_rev") === 2L).count() === 4)
  }

  test("lk18: fsck reports orphans and missing files, and a healthy lake reports neither") {
    val dir = Files.createTempDirectory("graft_fsck").toString
    ParquetLake.writePartitioned(
      events(spark, sf).select("event_id", "user_id", "event_type", "ts_ms"),
      dir, "ts_ms", sortCols = Seq("user_id"))
    ParquetLake.snapshotManifest(spark, dir)
    // healthy partitioned and unpartitioned lakes: root-level files
    // are on-disk data files like any other
    Seq(dir, flatLake(2)).foreach { d =>
      val clean = ParquetLake.fsck(spark, d)
      assert(clean.orphans.isEmpty && clean.missing.isEmpty, s"$d: $clean")
    }

    // a crashed maintenance run leaves an unreferenced file behind
    val part = new java.io.File(dir).listFiles()
      .filter(d => d.isDirectory && d.getName.startsWith("p_date=")).head
    val src = part.listFiles().filter(_.getName.startsWith("part-")).head
    val orphan = new java.io.File(part, "part-orphan-leftover.parquet")
    Files.copy(src.toPath, orphan.toPath)
    // an externally deleted referenced file
    val victimPart = new java.io.File(dir).listFiles()
      .filter(d => d.isDirectory && d.getName.startsWith("p_date=")).last
    val victim = victimPart.listFiles().filter(_.getName.startsWith("part-")).head
    assert(victim.delete())

    val r = ParquetLake.fsck(spark, dir)
    assert(r.orphans === Seq(s"${part.getName}/${orphan.getName}"), r.orphans.toString)
    assert(r.missing === Seq(s"${victimPart.getName}/${victim.getName}"), r.missing.toString)
  }

  test("lk6: plain compact re-run after a stale .compact_ leftover cannot duplicate") {
    val dir = fragmentedLake()
    val expected = spark.read.parquet(dir).collect().map(_.toString).sorted.toSeq
    // simulate a crashed run's leftover aside dir with a stray copy
    val part = new java.io.File(dir).listFiles()
      .filter(d => d.isDirectory && d.getName.startsWith("p_date=")).head
    val aside = new java.io.File(dir, s".compact_${part.getName}")
    assert(aside.mkdir())
    val src = part.listFiles().filter(_.getName.startsWith("part-")).head
    Files.copy(src.toPath, new java.io.File(aside, src.getName).toPath)
    val stats = ParquetLake.compact(spark, dir, targetFileBytes = 1L << 30)
    assert(stats.nonEmpty)
    assert(spark.read.parquet(dir).collect().map(_.toString).sorted.toSeq === expected)
  }

  test("lk20: time travel by timestamp resolves the snapshot current at that instant") {
    val dir = Files.createTempDirectory("graft_asof").toString
    ParquetLake.writePartitioned(
      events(spark, sf).select("event_id", "user_id", "event_type", "ts_ms"),
      dir, "ts_ms", sortCols = Nil)
    val v1 = ParquetLake.snapshotManifest(spark, dir)
    val files = ParquetLake.readManifest(spark, dir, Some(v1)).get
    Thread.sleep(5) // distinct commit timestamps
    val v2 = ParquetLake.commitManifest(spark, dir, files.take(1), Some(v1))
    val log = ParquetLake.manifestLog(spark, dir)
    assert(log.map(_._1) === Seq(v1, v2))
    val (t1, t2) = (log(0)._2, log(1)._2)
    assert(t2 > t1)
    // at t1 (and between commits): the full v1 snapshot
    val atV1 = ParquetLake.readManifestedAsOf(spark, dir, (t1 + t2) / 2)
    assert(atV1.count() === events(spark, sf).count())
    // at t2 (and after): the one-file v2 snapshot
    assert(ParquetLake.readManifestedAsOf(spark, dir, t2).inputFiles.length === 1)
    assert(ParquetLake.readManifestedAsOf(spark, dir, t2 + 60000).inputFiles.length === 1)
    // before the first commit: loud failure, not an empty read
    intercept[IllegalArgumentException] {
      ParquetLake.readManifestedAsOf(spark, dir, t1 - 1)
    }
  }

  test("lk21: footer-stats sidecar skips files outside a ts range; results identical") {
    val dir = Files.createTempDirectory("graft_stats").toString
    // time-ordered layout: one+ file per day partition, ts ranges per
    // file are tight — the case stats skipping is built for
    ParquetLake.writePartitioned(
      events(spark, sf).select("event_id", "user_id", "event_type", "ts_ms"),
      dir, "ts_ms", sortCols = Seq("ts_ms"))
    val v = ParquetLake.snapshotManifest(spark, dir)
    val nStats = ParquetLake.buildFileStats(spark, dir, Seq("ts_ms"))
    val allFiles = ParquetLake.readManifest(spark, dir, Some(v)).get
    assert(nStats === allFiles.size, "every data file should carry ts_ms footer stats")
    // a two-day range in the middle of the month
    val lo = events(spark, sf).agg(min("ts_ms")).head().getLong(0) + 3L * 86400000L
    val hi = lo + 2L * 86400000L
    val pruned = ParquetLake.readManifestedPruned(spark, dir, "ts_ms", lo, hi)
    assert(pruned.inputFiles.length < allFiles.size,
      s"${pruned.inputFiles.length} of ${allFiles.size} files — nothing was skipped")
    // skipping never changes results: same rows as the unpruned
    // snapshot under the same predicate
    val expected = ParquetLake.readManifested(spark, dir)
      .where(col("ts_ms").between(lo, hi))
      .collect().map(_.toString).sorted.toSeq
    assert(pruned.collect().map(_.toString).sorted.toSeq === expected)
    assert(expected.nonEmpty)
    // string columns are harvested too (str-tagged base64 bounds)
    assert(ParquetLake.buildFileStats(spark, dir, Seq("event_type")) === allFiles.size)
    // and a missing sidecar version fails loudly
    intercept[IllegalStateException] {
      ParquetLake.readManifestedPruned(spark, dir, "ts_ms", lo, hi, version = Some(v + 7))
    }
  }

  test("lk30: incremental stats harvest reads only churned footers; sidecar equals a full rebuild") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_inc_stats").toString
    ParquetLake.writePartitioned(
      events(spark, sf).select("event_id", "user_id", "event_type", "ts_ms"),
      dir, "ts_ms", sortCols = Seq("ts_ms"))
    val v1 = ParquetLake.snapshotManifest(spark, dir)
    ParquetLake.buildFileStats(spark, dir, Seq("ts_ms"))
    // a merge touching ONE partition: most files carry verbatim
    val one = ParquetLake.readManifested(spark, dir).limit(1)
      .select("event_id", "user_id", "event_type", "ts_ms", "p_date").collect().head
    val changes = Seq((one.getLong(0), one.getLong(1), "merged", one.getLong(3)))
      .toDF("event_id", "user_id", "event_type", "ts_ms")
      .withColumn("p_date", lit(one.getAs[Any]("p_date")))
    val v2 = ParquetLake.mergeManifested(spark, dir, changes, keyCols = Seq("event_id"))
    assert(v2 === v1 + 1)
    val filesV2 = ParquetLake.readManifest(spark, dir, Some(v2)).get
    val filesV1 = ParquetLake.readManifest(spark, dir, Some(v1)).get
    val churn = filesV2.toSet -- filesV1.toSet
    // incremental harvest touches exactly the churned files
    val harvested = ParquetLake.buildFileStatsIncremental(spark, dir, Seq("ts_ms"))
    assert(harvested === churn.size)
    assert(harvested < filesV2.size)
    // the incremental sidecar is indistinguishable from a full rebuild
    val incrementalRead = ParquetLake.readManifestedPruned(
      spark, dir, "ts_ms", Double.MinValue, Double.MaxValue)
      .collect().map(_.toString).sorted.toSeq
    val incLines = scala.io.Source.fromFile(s"$dir/_graft_stats.v$v2").getLines().toSet
    ParquetLake.buildFileStats(spark, dir, Seq("ts_ms"), version = Some(v2))
    val fullLines = scala.io.Source.fromFile(s"$dir/_graft_stats.v$v2").getLines().toSet
    assert(incLines === fullLines)
    assert(incrementalRead === ParquetLake.readManifested(spark, dir)
      .collect().map(_.toString).sorted.toSeq)
    // skipping still works through the incremental sidecar: rebuild it
    // incrementally again and range-prune
    ParquetLake.buildFileStatsIncremental(spark, dir, Seq("ts_ms"), version = Some(v2))
    val lo = events(spark, sf).agg(min("ts_ms")).head().getLong(0) + 3L * 86400000L
    val pruned = ParquetLake.readManifestedPruned(spark, dir, "ts_ms", lo, lo + 86400000L)
    assert(pruned.inputFiles.length < filesV2.size)
  }

  test("lk32: partition evolution rewrites the head under a new key atomically; old versions keep their layout") {
    val dir = fragmentedLake() // partitioned by p_date
    val v1 = ParquetLake.snapshotManifest(spark, dir)
    val cols = ParquetLake.readManifested(spark, dir).columns.sorted
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(cols.head, cols.tail: _*).collect().map(_.toString).sorted.toSeq
    val golden = rows(ParquetLake.readManifested(spark, dir))
    val v2 = ParquetLake.repartitionManifested(spark, dir, "event_type")
    assert(v2 === v1 + 1)
    // same rows, including the OLD partition column's values
    assert(rows(ParquetLake.readManifested(spark, dir)) === golden)
    // the new head lives entirely under event_type= directories
    val headFiles = ParquetLake.readManifest(spark, dir, Some(v2)).get
    assert(headFiles.forall(_.startsWith("event_type=")), headFiles.take(3).mkString(","))
    // the old version still reads its own p_date layout
    assert(rows(ParquetLake.readManifested(spark, dir, Some(v1))) === golden)
    assert(ParquetLake.readManifest(spark, dir, Some(v1)).get
      .forall(_.startsWith("p_date=")))
    // directory pruning now works on the NEW key
    val pruned = ParquetLake.readManifested(spark, dir)
      .where(col("event_type") === "error")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(event_type"), plan.take(1500))
    assert(pruned.count() ===
      ParquetLake.readManifested(spark, dir, Some(v1))
        .where(col("event_type") === "error").count())
    // no stray staging refs or orphans left behind
    assert(ParquetLake.stagedManifests(spark, dir).isEmpty)
    assert(ParquetLake.fsck(spark, dir).missing.isEmpty)
  }

  test("lk31: footer-only count matches the scan count for every retained version") {
    val dir = fragmentedLake()
    val v1 = ParquetLake.snapshotManifest(spark, dir)
    assert(ParquetLake.countManifested(spark, dir)
      === ParquetLake.readManifested(spark, dir).count())
    // a delete changes the head count; the old version still counts
    val v2 = ParquetLake.deleteManifested(spark, dir, col("event_id") % 3 === 0)
    assert(v2 === v1 + 1)
    assert(ParquetLake.countManifested(spark, dir)
      === ParquetLake.readManifested(spark, dir).count())
    assert(ParquetLake.countManifested(spark, dir, Some(v1))
      === ParquetLake.readManifested(spark, dir, Some(v1)).count())
    assert(ParquetLake.countManifested(spark, dir, Some(v1))
      > ParquetLake.countManifested(spark, dir, Some(v2)))
  }

  test("lk21: long stats stay exact above 2^53 — no Double-rounding skip of a matching file") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_stats_long").toString
    // file B's max is (2^62)+511: coerced through Double it rounds
    // DOWN to 2^62 (spacing at 2^62 is 1024), which sits below the
    // query's lo — a double-typed sidecar would skip the file and
    // silently lose the matching row
    val base = 1L << 62
    Seq(1L, 2L, 3L).toDF("id").repartition(1)
      .write.mode("overwrite").parquet(dir)
    Seq(base + 100L, base + 511L).toDF("id").repartition(1)
      .write.mode("append").parquet(dir)
    val v = ParquetLake.snapshotManifest(spark, dir)
    assert(ParquetLake.buildFileStats(spark, dir, Seq("id")) === 2)
    val pruned = ParquetLake.readManifestedPrunedLong(
      spark, dir, "id", base + 256L, base + 1024L)
    assert(pruned.collect().map(_.getLong(0)).toSeq === Seq(base + 511L))
    // and the small-ids file WAS skipped — stats did their job
    assert(pruned.inputFiles.length === 1)
    assert(v >= 1)
  }

  test("lk21: date and string stats skip files; pruned results identical to unpruned") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_stats_ds").toString
    // three single-file batches with disjoint date and id ranges
    for (m <- Seq("01", "02", "03")) {
      Seq((s"2026-$m-05", s"u$m-a"), (s"2026-$m-20", s"u$m-z"))
        .toDF("d_raw", "uid")
        .select(to_date($"d_raw").as("d"), $"uid")
        .repartition(1).write.mode("append").parquet(dir)
    }
    ParquetLake.snapshotManifest(spark, dir)
    assert(ParquetLake.buildFileStats(spark, dir, Seq("d", "uid")) === 6)
    val allFiles = ParquetLake.readManifested(spark, dir).inputFiles.length
    // date-range prune: only February's file survives
    val feb = ParquetLake.readManifestedPrunedDate(
      spark, dir, "d", "2026-02-01", "2026-02-28")
    assert(feb.inputFiles.length === 1 && allFiles === 3)
    val febExpected = ParquetLake.readManifested(spark, dir)
      .where($"d".between(to_date(lit("2026-02-01")), to_date(lit("2026-02-28"))))
      .collect().map(_.toString).sorted.toSeq
    assert(feb.collect().map(_.toString).sorted.toSeq === febExpected)
    assert(febExpected.size === 2)
    // string-range prune on uid: the u02 file alone
    val mid = ParquetLake.readManifestedPrunedString(
      spark, dir, "uid", "u02", "u02￿")
    assert(mid.inputFiles.length === 1)
    assert(mid.collect().map(_.getString(1)).sorted.toSeq === Seq("u02-a", "u02-z"))
  }

  test("lk21: pruned read keeps the full snapshot schema under additive evolution") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_stats_evo").toString
    Seq((1L, "old")).toDF("k", "tag").repartition(1)
      .write.mode("overwrite").parquet(dir)
    Seq((100L, "new", 3.14)).toDF("k", "tag", "extra").repartition(1)
      .write.mode("append").parquet(dir)
    ParquetLake.snapshotManifest(spark, dir)
    ParquetLake.buildFileStats(spark, dir, Seq("k"))
    // the prune keeps only the OLD file (no `extra` column); with
    // mergeSchema the result still exposes the evolved schema, null
    // where the kept file lacks it
    val pruned = ParquetLake.readManifestedPruned(
      spark, dir, "k", 0, 10, mergeSchema = true)
    assert(pruned.inputFiles.length === 1)
    assert(pruned.columns.contains("extra"))
    val row = pruned.collect()
    assert(row.length === 1 && row(0).isNullAt(pruned.columns.indexOf("extra")))
  }

  test("lk22: tags name a release and pin it through vacuum; untag releases the pin") {
    val dir = fragmentedLake()
    val v1 = ParquetLake.snapshotManifest(spark, dir)
    val release = ParquetLake.readManifested(spark, dir)
      .collect().map(_.toString).sorted.toSeq
    assert(ParquetLake.tagManifest(spark, dir, "release-1") === v1)
    ParquetLake.compactManifested(spark, dir, targetFileBytes = 1L << 30)
    assert(ParquetLake.manifestTags(spark, dir) === Map("release-1" -> v1))
    // keepVersions=1 would age v1 out — the tag pins it
    ParquetLake.vacuum(spark, dir, keepVersions = 1, retainMillis = 0)
    assert(ParquetLake.readManifestedTag(spark, dir, "release-1")
      .collect().map(_.toString).sorted.toSeq === release)
    // untag → the next vacuum reclaims v1 for real
    ParquetLake.untagManifest(spark, dir, "release-1")
    ParquetLake.vacuum(spark, dir, keepVersions = 1, retainMillis = 0)
    intercept[IllegalArgumentException] {
      ParquetLake.readManifested(spark, dir, Some(v1))
    }
    assert(ParquetLake.readManifested(spark, dir)
      .collect().map(_.toString).sorted.toSeq === release) // compacted latest intact
    intercept[IllegalArgumentException] {
      ParquetLake.readManifestedTag(spark, dir, "release-1")
    }
    intercept[IllegalArgumentException] {
      ParquetLake.tagManifest(spark, dir, "bad name!")
    }
  }

  test("lk26: restore rolls back a bad delete as a NEW commit; history intact, files survive vacuum") {
    val dir = fragmentedLake()
    val v1 = ParquetLake.snapshotManifest(spark, dir)
    val golden = ParquetLake.readManifested(spark, dir)
      .collect().map(_.toString).sorted.toSeq
    // the "bad" commit: delete a slice
    val v2 = ParquetLake.deleteManifested(spark, dir, col("event_id") % 7 === 0)
    assert(v2 === v1 + 1)
    assert(ParquetLake.readManifested(spark, dir).count() < golden.size)
    // restore = pure-metadata undo, committed on top
    val v3 = ParquetLake.restoreManifested(spark, dir, v1)
    assert(v3 === v2 + 1)
    assert(ParquetLake.readManifested(spark, dir)
      .collect().map(_.toString).sorted.toSeq === golden)
    // history never rewritten: the bad version is still readable
    assert(ParquetLake.readManifested(spark, dir, Some(v2)).count() < golden.size)
    // the restore re-references v1's files, so retention that drops
    // v1 itself cannot reclaim them out from under the head
    ParquetLake.vacuum(spark, dir, keepVersions = 1, retainMillis = 0)
    assert(ParquetLake.readManifested(spark, dir)
      .collect().map(_.toString).sorted.toSeq === golden)
    // restoring to the current head is a no-op commit
    assert(ParquetLake.restoreManifested(spark, dir, v3) === v3)
    // restoring to a vacuumed/never-committed version fails loudly
    intercept[IllegalArgumentException] {
      ParquetLake.restoreManifested(spark, dir, 999)
    }
  }

  test("lk27: write-audit-publish — staged rows invisible, vacuum-safe, audit-readable, publish atomic with rebase") {
    val dir = fragmentedLake()
    ParquetLake.snapshotManifest(spark, dir)
    val base = ParquetLake.readManifested(spark, dir)
    val baseRows = base.collect().map(_.toString).sorted.toSeq
    // the staged batch: fresh ids, same schema (incl. partition col)
    val staged = base.where(col("event_id") % 5 === 0)
      .withColumn("event_id", col("event_id") + 10000000L)
    val stagedCount = staged.count()
    assert(stagedCount > 0)
    val newFiles = ParquetLake.stageAppend(spark, dir, staged, "wap-1", Some("p_date"))
    assert(newFiles.nonEmpty)
    // W: no reader sees staged rows — the manifest gate IS the stage
    assert(ParquetLake.readManifested(spark, dir)
      .collect().map(_.toString).sorted.toSeq === baseRows)
    // staged files are neither fsck orphans nor vacuum prey
    assert(ParquetLake.fsck(spark, dir).orphans.isEmpty)
    ParquetLake.vacuum(spark, dir, keepVersions = 1, retainMillis = 0)
    assert(ParquetLake.stagedManifests(spark, dir)("wap-1").sorted === newFiles)
    // A: the audit view = head + staged, without publishing
    assert(ParquetLake.readStaged(spark, dir, "wap-1").count()
      === baseRows.size + stagedCount)
    // a concurrent commit lands between stage and publish…
    ParquetLake.deleteManifested(spark, dir, col("event_id") % 7 === 0)
    val headAfterDelete = ParquetLake.readManifested(spark, dir).count()
    // …and P rebases onto it: delta composes, nothing lost either side
    ParquetLake.publishStaged(spark, dir, "wap-1")
    assert(ParquetLake.readManifested(spark, dir).count()
      === headAfterDelete + stagedCount)
    assert(ParquetLake.stagedManifests(spark, dir).isEmpty)
    // duplicate stage names are rejected; abandon deletes invisibly
    val staged2 = base.withColumn("event_id", col("event_id") + 20000000L)
    ParquetLake.stageAppend(spark, dir, staged2, "wap-2", Some("p_date"))
    intercept[IllegalStateException] {
      ParquetLake.stageAppend(spark, dir, staged2, "wap-2", Some("p_date"))
    }
    val before = ParquetLake.readManifested(spark, dir).count()
    val dropped = ParquetLake.abandonStaged(spark, dir, "wap-2")
    assert(dropped.nonEmpty)
    assert(ParquetLake.readManifested(spark, dir).count() === before)
    assert(ParquetLake.fsck(spark, dir).missing.isEmpty)
  }

  test("lk33: the append gate enforces the snapshot schema; evolution is explicit opt-in") {
    val dir = fragmentedLake()
    ParquetLake.snapshotManifest(spark, dir)
    val base = ParquetLake.readManifested(spark, dir)
    val batch = base.where(col("event_id") % 9 === 0)
      .withColumn("event_id", col("event_id") + 30000000L)
    // a type flip on an existing column is rejected loudly
    val flipped = batch.withColumn("event_type", lit(7))
    val e1 = intercept[IllegalArgumentException] {
      ParquetLake.stageAppend(spark, dir, flipped, "bad-type", Some("p_date"))
    }
    assert(e1.getMessage.contains("event_type"))
    // dropping a snapshot column is rejected (sample-dependent reads)
    val e2 = intercept[IllegalArgumentException] {
      ParquetLake.stageAppend(spark, dir, batch.drop("user_id"), "bad-drop", Some("p_date"))
    }
    assert(e2.getMessage.contains("user_id"))
    // a new column needs the explicit evolution flag…
    val widened = batch.withColumn("source", lit("crawl-7"))
    val e3 = intercept[IllegalArgumentException] {
      ParquetLake.stageAppend(spark, dir, widened, "bad-extra", Some("p_date"))
    }
    assert(e3.getMessage.contains("allowEvolution"))
    // …and with it, the lake evolves additively (lk17 semantics)
    assert(ParquetLake.stagedManifests(spark, dir).isEmpty) // nothing leaked
    ParquetLake.stageAppend(spark, dir, widened, "evolve", Some("p_date"),
      allowEvolution = true)
    ParquetLake.publishStaged(spark, dir, "evolve")
    val evolved = ParquetLake.readManifested(spark, dir, mergeSchema = true)
    assert(evolved.columns.contains("source"))
    assert(evolved.where(col("source").isNull).count() === base.count())
    assert(evolved.where(col("source") === "crawl-7").count() === widened.count())
  }

  test("lk28: lake health report flags fragmented partitions from metadata only; compaction clears them") {
    val dir = fragmentedLake() // 4 appends × repartition(2) per date
    ParquetLake.snapshotManifest(spark, dir)
    val report = ParquetLake.lakeHealth(spark, dir).collect()
    assert(report.nonEmpty)
    // every partition is fragmented small files → all flagged
    assert(report.forall(_.getAs[Long]("n_files") >= 2))
    assert(report.forall(r => r.getAs[Long]("small_files") === r.getAs[Long]("n_files")))
    assert(report.forall(_.getAs[Boolean]("needs_compaction")))
    // byte accounting matches the filesystem exactly
    val fsBytes = new java.io.File(dir).listFiles()
      .filter(d => d.isDirectory && d.getName.startsWith("p_date="))
      .flatMap(_.listFiles()).filter(_.getName.startsWith("part-"))
      .map(_.length()).sum
    assert(report.map(_.getAs[Long]("total_bytes")).sum === fsBytes)
    // partition names are the real directory names
    val dirs = new java.io.File(dir).listFiles()
      .filter(d => d.isDirectory && d.getName.startsWith("p_date=")).map(_.getName).toSet
    assert(report.map(_.getAs[String]("partition")).toSet === dirs)
    // after compaction the report goes quiet
    ParquetLake.compactManifested(spark, dir, targetFileBytes = 1L << 30)
    val after = ParquetLake.lakeHealth(spark, dir).collect()
    assert(after.forall(_.getAs[Long]("n_files") === 1L))
    assert(after.forall(!_.getAs[Boolean]("needs_compaction")))
    // unpartitioned: the root-level files are one "<root>" group, and
    // compaction writes them back into the root
    val flat = flatLake(4)
    val flatRows = ParquetLake.readManifested(spark, flat).collect().map(_.toString).sorted.toSeq
    assert(ParquetLake.lakeHealth(spark, flat).collect()
      .map(r => (r.getAs[String]("partition"), r.getAs[Boolean]("needs_compaction"))).toSeq
      === Seq(("<root>", true)))
    assert(ParquetLake.compactManifested(spark, flat, targetFileBytes = 1L << 30)
      === Seq(ParquetLake.CompactionStat("<root>", 4, 1)))
    assert(ParquetLake.readManifest(spark, flat).get.count(!_.contains('/')) === 1)
    assert(ParquetLake.readManifested(spark, flat)
      .collect().map(_.toString).sorted.toSeq === flatRows)
    val plan = ParquetLake.maintenancePlan(spark, flat).collect().map(_.getString(1))
    assert(!plan.contains("compact"), plan.mkString(","))
  }

  test("lk29: bloom sidecars skip files on point lookups; results identical; absent key reads nothing") {
    // value-local layout: each append holds one user-id residue class,
    // so a point lookup should touch ~1/4 of the files
    val dir = Files.createTempDirectory("graft_bloom_lake").toString
    val ev = events(spark, sf).select("event_id", "user_id", "event_type", "ts_ms")
      .withColumn("p_date", to_date(timestamp_millis(col("ts_ms"))).cast("string"))
    (0 until 4).foreach { w =>
      ev.where(col("user_id") % 4 === w)
        .repartition(2)
        .write.mode("append").partitionBy("p_date").parquet(dir)
    }
    ParquetLake.snapshotManifest(spark, dir)
    // generous bits → negligible fp at the fixture's cardinality
    ParquetLake.buildFileBlooms(spark, dir, Seq("user_id", "event_type"),
      expectedItems = 10000L, numBits = 400000L)
    val probeUser = ev.select("user_id").where(col("user_id") % 4 === 2)
      .head().getLong(0)
    val pruned = ParquetLake.readManifestedBloomEqLong(spark, dir, "user_id", probeUser)
    val expected = ParquetLake.readManifested(spark, dir)
      .where(col("user_id") === probeUser)
      .collect().map(_.toString).sorted.toSeq
    assert(expected.nonEmpty)
    assert(pruned.collect().map(_.toString).sorted.toSeq === expected)
    // the pruned plan reads ONLY the matching residue class's files
    val total = ParquetLake.readManifest(spark, dir, None).get.size
    val prunedFiles = pruned.inputFiles.length
    assert(prunedFiles <= total / 2, s"$prunedFiles of $total files read")
    // absent key: every bloom rejects → zero-file read, still correct
    val none = ParquetLake.readManifestedBloomEqLong(spark, dir, "user_id", 999999999L)
    assert(none.count() === 0)
    // string column probe: only files holding that event_type remain ≥
    // correct (here types spread across files, so just value parity)
    val t = "error"
    assert(ParquetLake.readManifestedBloomEqString(spark, dir, "event_type", t)
      .count() === ParquetLake.readManifested(spark, dir)
        .where(col("event_type") === t).count())
    // vacuum drops the sidecar with its version
    intercept[IllegalStateException] {
      ParquetLake.readManifestedBloomEqLong(spark, dir, "user_id", probeUser,
        version = Some(99))
    }
  }

  test("lk19: optimistic commit — a stale expectedVersion fails loudly, never last-writer-wins") {
    val dir = Files.createTempDirectory("graft_cas").toString
    ParquetLake.writePartitioned(
      events(spark, sf).select("event_id", "user_id", "event_type", "ts_ms"),
      dir, "ts_ms", sortCols = Nil)
    val v1 = ParquetLake.snapshotManifest(spark, dir)
    val files = ParquetLake.readManifest(spark, dir, Some(v1)).get
    // writer A commits against v1 and wins
    val v2 = ParquetLake.commitManifest(spark, dir, files.take(1), Some(v1))
    assert(v2 === v1 + 1)
    // writer B planned against v1 too — its commit must CONFLICT, and
    // A's snapshot must survive untouched
    intercept[ParquetLake.ManifestConflictException] {
      ParquetLake.commitManifest(spark, dir, files.takeRight(1), Some(v1))
    }
    assert(ParquetLake.readManifest(spark, dir, Some(v2)).get === files.take(1).sorted)
    assert(ParquetLake.readManifest(spark, dir).get === files.take(1).sorted)
  }

  test("lk19: two interleaved mergeManifested writers — both batches land, no lost update") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val dir = Files.createTempDirectory("graft_mw").toString
    ParquetLake.writePartitioned(
      events(spark, sf).select("event_id", "user_id", "event_type", "ts_ms"),
      dir, "ts_ms", sortCols = Nil)
    val v1 = ParquetLake.snapshotManifest(spark, dir)
    val tgt = ParquetLake.readManifested(spark, dir).localCheckpoint()
    val ids = tgt.orderBy("event_id").limit(2).select("event_id")
      .collect().map(_.getLong(0))
    def batch(id: Long, tag: String) =
      tgt.where(col("event_id") === id).withColumn("event_type", lit(tag))
        .localCheckpoint()
    val (bA, bB) = (batch(ids(0), "WRITER_A"), batch(ids(1), "WRITER_B"))
    // release both writers together so their plan->rewrite->commit
    // windows overlap; the loser's CAS conflicts and rebases
    val gate = new java.util.concurrent.CountDownLatch(1)
    def writer(b: org.apache.spark.sql.DataFrame) = Future {
      gate.await()
      ParquetLake.mergeManifested(spark, dir, b, keyCols = Seq("event_id"))
    }
    val (fA, fB) = (writer(bA), writer(bB))
    gate.countDown()
    val (vA, vB) = (Await.result(fA, 5.minutes), Await.result(fB, 5.minutes))
    // both committed, at distinct versions
    assert(Set(vA, vB).size === 2)
    assert(math.max(vA, vB) === v1 + 2)
    // no lost update: the final snapshot carries BOTH writers' rows
    val after = ParquetLake.readManifested(spark, dir)
      .select("event_id", "event_type")
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(after(ids(0)) === "WRITER_A")
    assert(after(ids(1)) === "WRITER_B")
    // and every other row is untouched
    assert(ParquetLake.readManifested(spark, dir).count() === tgt.count())
  }

  test("lk35: constraint gate refuses a dirty staged batch naming every violation; clean batch publishes") {
    val dir = fragmentedLake()
    ParquetLake.snapshotManifest(spark, dir)
    val head = ParquetLake.readManifested(spark, dir)
    val headCount = head.count()
    val existingId = head.orderBy("event_id").limit(1)
      .collect().head.getLong(0)
    // dirty batch: a NULL user_id, a within-batch duplicate key, a
    // key that clashes with the head, and an out-of-range ts_ms —
    // rows templated off a head row so column types (incl. the
    // inferred partition column) match the snapshot exactly
    val tpl = head.orderBy(col("event_id").desc).limit(1).localCheckpoint()
    def mk(id: org.apache.spark.sql.Column, uid: org.apache.spark.sql.Column,
        et: String, ts: Long) =
      tpl.select(id.as("event_id"), uid.as("user_id"), lit(et).as("event_type"),
        lit(ts).as("ts_ms"), col("p_date"))
    val dirty = mk(lit(90000001L), lit(null).cast("long"), "ok", 1704067200000L)
      .unionByName(mk(lit(90000002L), lit(7L), "dup", 1704067200000L))
      .unionByName(mk(lit(90000002L), lit(8L), "dup", 1704067201000L))
      .unionByName(mk(lit(existingId), lit(9L), "clash", 1704067200000L))
      .unionByName(mk(lit(90000003L), lit(10L), "neg", -5L))
    ParquetLake.stageAppend(spark, dir, dirty, "audit-1", Some("p_date"))
    val ex = intercept[IllegalStateException] {
      ParquetLake.publishStagedChecked(spark, dir, "audit-1",
        notNull = Seq("user_id"), uniqueKey = Seq("event_id"),
        ranges = Map("ts_ms" -> (0.0, 4e12)))
    }
    // every violation is named with its count
    assert(ex.getMessage.contains("not_null(user_id): 1"), ex.getMessage)
    assert(ex.getMessage.contains("within batch: 1"), ex.getMessage)
    assert(ex.getMessage.contains("vs head: 1"), ex.getMessage)
    assert(ex.getMessage.contains("range(ts_ms"), ex.getMessage)
    // the refusal left NOTHING published and the stage intact
    assert(ParquetLake.readManifested(spark, dir).count() === headCount)
    assert(ParquetLake.stagedManifests(spark, dir).contains("audit-1"))
    ParquetLake.abandonStaged(spark, dir, "audit-1")
    // the clean batch passes the same gate and lands atomically
    val clean = head.orderBy(col("event_id").desc).limit(3)
      .withColumn("event_id", col("event_id") + 91000000L)
    ParquetLake.stageAppend(spark, dir, clean, "audit-2", Some("p_date"))
    ParquetLake.publishStagedChecked(spark, dir, "audit-2",
      notNull = Seq("user_id"), uniqueKey = Seq("event_id"),
      ranges = Map("ts_ms" -> (0.0, 4e12)))
    assert(ParquetLake.readManifested(spark, dir).count() === headCount + 3)
  }

  test("lk36: recluster rewrites the head sorted in one atomic commit; skipping starts working, history intact") {
    val dir = Files.createTempDirectory("graft_recluster").toString
    // interleaved manifested lake: every file spans the full ts range
    events(spark, sf).select("event_id", "user_id", "ts_ms")
      .repartition(6).write.mode("overwrite").parquet(dir)
    val v1 = ParquetLake.snapshotManifest(spark, dir)
    ParquetLake.buildFileStats(spark, dir, Seq("ts_ms"))
    val before = ParquetLake.clusteringReport(spark, dir, "ts_ms").head()
    assert(before.getAs[Long]("max_depth") === before.getAs[Long]("n_with_stats"))
    val rowsBefore = ParquetLake.readManifested(spark, dir)
      .collect().map(_.toString).sorted.toSeq
    val v1Files = ParquetLake.readManifest(spark, dir, Some(v1)).get

    val v2 = ParquetLake.reclusterManifested(spark, dir, "ts_ms", numFiles = 6)
    assert(v2 === v1 + 1)
    // same rows, new layout, depth restored
    assert(ParquetLake.readManifested(spark, dir)
      .collect().map(_.toString).sorted.toSeq === rowsBefore)
    ParquetLake.buildFileStats(spark, dir, Seq("ts_ms"), version = Some(v2))
    val after = ParquetLake.clusteringReport(spark, dir, "ts_ms").head()
    assert(after.getAs[Long]("max_depth") <= 2,
      s"recluster should restore depth, got ${after.getAs[Long]("max_depth")}")
    // stats skipping now prunes a narrow range read, results identical
    val lo = events(spark, sf).agg(min("ts_ms")).head().getLong(0) + 3L * 86400000L
    val hi = lo + 2L * 86400000L
    val pruned = ParquetLake.readManifestedPruned(spark, dir, "ts_ms", lo, hi)
    assert(pruned.inputFiles.length < ParquetLake.readManifest(spark, dir, Some(v2)).get.size)
    assert(pruned.collect().map(_.toString).sorted.toSeq ===
      ParquetLake.readManifested(spark, dir)
        .where(col("ts_ms").between(lo, hi))
        .collect().map(_.toString).sorted.toSeq)
    // history: the old version still reads its own interleaved layout
    assert(ParquetLake.readManifest(spark, dir, Some(v1)).get === v1Files)
    assert(ParquetLake.readManifested(spark, dir, Some(v1))
      .collect().map(_.toString).sorted.toSeq === rowsBefore)
    // no staging refs or orphans left behind
    assert(ParquetLake.stagedManifests(spark, dir).isEmpty)
    assert(ParquetLake.fsck(spark, dir).orphans.isEmpty)
  }

  test("lk34: clustering report separates a sorted layout from an interleaved one, sidecar-only") {
    val data = events(spark, sf).select("event_id", "user_id", "ts_ms")

    // range-sorted layout: each file owns a compact ts_ms slice
    val good = Files.createTempDirectory("graft_clustered").toString
    data.repartitionByRange(8, col("ts_ms"))
      .sortWithinPartitions("ts_ms")
      .write.mode("overwrite").parquet(good)
    ParquetLake.snapshotManifest(spark, good)
    ParquetLake.buildFileStats(spark, good, Seq("ts_ms"))
    val g = ParquetLake.clusteringReport(spark, good, "ts_ms").head()
    assert(g.getAs[Long]("n_files") === g.getAs[Long]("n_with_stats"))
    // adjacent slices may share a boundary value — depth stays ≤ 2
    assert(g.getAs[Long]("max_depth") <= 2,
      s"sorted layout should have depth ≤ 2, got ${g.getAs[Long]("max_depth")}")
    assert(g.getAs[Long]("max_file_overlaps") <= 2)

    // hash-interleaved layout over the SAME rows: every file spans
    // the full ts range — the report must flag it from metadata alone
    val bad = Files.createTempDirectory("graft_interleaved").toString
    data.repartition(8).write.mode("overwrite").parquet(bad)
    ParquetLake.snapshotManifest(spark, bad)
    ParquetLake.buildFileStats(spark, bad, Seq("ts_ms"))
    val b = ParquetLake.clusteringReport(spark, bad, "ts_ms").head()
    val nb = b.getAs[Long]("n_with_stats")
    assert(nb >= 8)
    assert(b.getAs[Long]("max_depth") === nb, "every file should cover a common point")
    assert(b.getAs[Long]("max_file_overlaps") === nb - 1)
    assert(b.getAs[Double]("overlap_free_share") === 0.0)
    assert(b.getAs[Double]("avg_file_overlaps") > g.getAs[Double]("avg_file_overlaps"))

    // re-clustering (the fix the report recommends) restores depth ≤ 2
    val fixed = Files.createTempDirectory("graft_reclustered").toString
    spark.read.parquet(bad)
      .repartitionByRange(8, col("ts_ms"))
      .sortWithinPartitions("ts_ms")
      .write.mode("overwrite").parquet(fixed)
    ParquetLake.snapshotManifest(spark, fixed)
    ParquetLake.buildFileStats(spark, fixed, Seq("ts_ms"))
    assert(ParquetLake.clusteringReport(spark, fixed, "ts_ms")
      .head().getAs[Long]("max_depth") <= 2)

    // loud failure without a sidecar
    val bare = Files.createTempDirectory("graft_nostats").toString
    data.limit(10).write.mode("overwrite").parquet(bare)
    ParquetLake.snapshotManifest(spark, bare)
    intercept[IllegalStateException] {
      ParquetLake.clusteringReport(spark, bare, "ts_ms")
    }
  }

  test("lk38: branches — isolated commit chain, fast-forward publish, loud conflict when main moved, vacuum-safe") {
    val dir = fragmentedLake()
    val v1 = ParquetLake.snapshotManifest(spark, dir)
    val base = ParquetLake.readManifested(spark, dir)
    val baseRows = base.collect().map(_.toString).sorted.toSeq

    // two commits on the branch, invisible to main
    assert(ParquetLake.createBranch(spark, dir, "nightly") === 1)
    val d1 = base.where(col("event_id") % 5 === 0)
      .withColumn("event_id", col("event_id") + 10000000L)
    val d2 = base.where(col("event_id") % 5 === 1)
      .withColumn("event_id", col("event_id") + 20000000L)
    assert(ParquetLake.appendBranch(spark, dir, "nightly", d1, Some("p_date")) === 2)
    assert(ParquetLake.appendBranch(spark, dir, "nightly", d2, Some("p_date")) === 3)
    val expectBranch = baseRows.size + d1.count() + d2.count()
    assert(ParquetLake.readBranch(spark, dir, "nightly").count() === expectBranch)
    assert(ParquetLake.readManifested(spark, dir)
      .collect().map(_.toString).sorted.toSeq === baseRows)
    // intermediate branch version still addressable
    assert(ParquetLake.readBranch(spark, dir, "nightly", Some(2)).count()
      === baseRows.size + d1.count())
    assert(ParquetLake.branches(spark, dir) === Map("nightly" -> Seq(1, 2, 3)))

    // branch-referenced files are neither fsck orphans nor vacuum prey
    assert(ParquetLake.fsck(spark, dir).orphans.isEmpty)
    ParquetLake.vacuum(spark, dir, keepVersions = 1, retainMillis = 0)
    assert(ParquetLake.readBranch(spark, dir, "nightly").count() === expectBranch)

    // fast-forward publish: branch head becomes the next main snapshot
    val v2 = ParquetLake.publishBranch(spark, dir, "nightly")
    assert(v2 === v1 + 1)
    assert(ParquetLake.readManifested(spark, dir).count() === expectBranch)
    assert(ParquetLake.branches(spark, dir).isEmpty)

    // main moving after the fork makes publish conflict loudly —
    // silently overwriting would drop the concurrent delete
    ParquetLake.createBranch(spark, dir, "risky")
    ParquetLake.appendBranch(spark, dir, "risky",
      d1.withColumn("event_id", col("event_id") + 30000000L), Some("p_date"))
    ParquetLake.deleteManifested(spark, dir, col("event_id") % 7 === 0)
    val afterDelete = ParquetLake.readManifested(spark, dir)
      .collect().map(_.toString).sorted.toSeq
    intercept[ParquetLake.ManifestConflictException] {
      ParquetLake.publishBranch(spark, dir, "risky")
    }
    assert(ParquetLake.readManifested(spark, dir)
      .collect().map(_.toString).sorted.toSeq === afterDelete)
    // dropped branch's files become ordinary vacuum orphans
    assert(ParquetLake.dropBranch(spark, dir, "risky") === 2)
    val swept = ParquetLake.vacuum(spark, dir, keepVersions = 1, retainMillis = 0)
    assert(swept.nonEmpty)
    assert(ParquetLake.fsck(spark, dir).orphans.isEmpty)
    assert(ParquetLake.readManifested(spark, dir)
      .collect().map(_.toString).sorted.toSeq === afterDelete)
  }

  test("t32: corpus diff report — per-source doc/token deltas between snapshots, from the changed files only") {
    val dir = Files.createTempDirectory("graft_cdiff").toString + "/lake"
    val docs = graft.queries.table(spark, sf, "documents")
      .select("doc_id", "source", "text")
    val v1docs = docs.where(col("doc_id") < 400)
    v1docs.write.parquet(dir)
    val v1 = ParquetLake.snapshotManifest(spark, dir)
    // append new docs, then delete a slice — two commits
    val added = docs.where(col("doc_id") >= 400)
    ParquetLake.stageAppend(spark, dir, added, "ingest")
    ParquetLake.publishStaged(spark, dir, "ingest")
    ParquetLake.deleteManifested(spark, dir, col("doc_id") % 50 === 3)
    val rep = ParquetLake.corpusDiffReport(spark, dir, v1)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    import graft.functions.{TextFunctions => T}
    def expect(df: org.apache.spark.sql.DataFrame) = df
      .select(col("source"), size(T.tokens(col("text"))).cast("long").as("n"))
      .groupBy("source").agg(count(lit(1)).as("d"), sum("n").as("t"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // inserts = the added slice minus its deleted rows
    val expIns = expect(added.where(!(col("doc_id") % 50 === 3)))
    val expDel = expect(v1docs.where(col("doc_id") % 50 === 3))
    expIns.foreach { case (src, v) => assert(rep((src, "insert")) === v, src) }
    expDel.foreach { case (src, v) => assert(rep((src, "delete")) === v, src) }
    // no spurious updates: untouched rows never appear in the diff
    assert(!rep.keySet.exists(_._2.startsWith("update")), rep.keySet.toString)
  }

  test("lk40: maintenance planner surfaces exactly the planted issues, then an empty plan after running them") {
    val dir = fragmentedLake() // small files in every partition
    ParquetLake.snapshotManifest(spark, dir)
    // plant one of everything: pending vectors, an orphan, a branch,
    // and no stats sidecar for the head
    ParquetLake.deleteVectored(spark, dir, col("event_id") % 31 === 0)
    plantOrphan(dir)
    ParquetLake.createBranch(spark, dir, "stale")
    val plan = ParquetLake.maintenancePlan(spark, dir, sortCol = Some("ts_ms"))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2)))
    assert(plan.head._2 === "materialize_deletes") // gates the rest
    assert(plan.exists(_._2 === "compact"))
    assert(plan.exists(a => a._2 === "build_file_stats" && a._3 === "ts_ms"))
    assert(plan.exists(_._2 === "vacuum"))
    assert(plan.exists(a => a._2 === "publish_or_drop_branch" && a._3 === "stale"))
    assert(plan.map(_._1).toSeq === plan.map(_._1).toSeq.sorted) // priority-ordered
    // run the plan; the planner then has nothing left to say
    ParquetLake.materializeDeletes(spark, dir)
    ParquetLake.dropBranch(spark, dir, "stale")
    ParquetLake.compactManifested(spark, dir)
    ParquetLake.buildFileStats(spark, dir, Seq("ts_ms"))
    ParquetLake.vacuum(spark, dir, keepVersions = 1, retainMillis = 0)
    val after = ParquetLake.maintenancePlan(spark, dir, sortCol = Some("ts_ms"))
    assert(after.isEmpty, after.collect().mkString(";"))
  }

  test("lk39: merge-on-read upsert — one atomic commit, zero rewrite, row parity with copy-on-write merge") {
    // two identical lakes: one takes the batch copy-on-write, one MoR
    val mor = fragmentedLake()
    ParquetLake.snapshotManifest(spark, mor)
    val base = ParquetLake.readManifested(spark, mor)
    // the change batch: updates (existing keys, flipped event_type),
    // inserts (fresh keys), tombstones (deleteCol = true)
    val updates = base.where(col("event_id") % 11 === 0)
      .withColumn("event_type", lit("merged"))
      .withColumn("del", lit(false))
    val inserts = base.where(col("event_id") % 13 === 0)
      .withColumn("event_id", col("event_id") + 50000000L)
      .withColumn("del", lit(false))
    val deletes = base.where(col("event_id") % 17 === 3)
      .withColumn("del", lit(true))
    val batch = updates.unionByName(inserts).unionByName(deletes)
      .localCheckpoint(eager = false)

    def fileSig(dir: String): Set[(String, Long)] =
      new java.io.File(dir).listFiles.filter(d => d.isDirectory && d.getName.contains("="))
        .flatMap(_.listFiles).filter(_.getName.startsWith("part-"))
        .map(f => (s"${f.getParentFile.getName}/${f.getName}", f.length)).toSet
    val sigBefore = fileSig(mor)

    // the COW reference run, same batch, same delete semantics
    val cowRows = {
      val dir2 = fragmentedLake()
      ParquetLake.snapshotManifest(spark, dir2)
      ParquetLake.mergeManifested(spark, dir2, batch, Seq("event_id"),
        partCol = "p_date", deleteCol = Some("del"))
      ParquetLake.readManifested(spark, dir2)
        .collect().map(_.toString).sorted.toSeq
    }

    ParquetLake.mergeOnRead(spark, mor, batch, Seq("event_id"),
      Some("p_date"), Some("del"))
    // pre-existing files untouched; only new files appended
    assert(sigBefore.subsetOf(fileSig(mor)))
    val morRows = ParquetLake.readManifestedMoR(spark, mor)
      .collect().map(_.toString).sorted.toSeq
    assert(morRows === cowRows)

    // replaying the same batch is idempotent (appended rows re-match,
    // tombstone, and re-append to the same relation)
    ParquetLake.mergeOnRead(spark, mor, batch, Seq("event_id"),
      Some("p_date"), Some("del"))
    assert(ParquetLake.readManifestedMoR(spark, mor)
      .collect().map(_.toString).sorted.toSeq === cowRows)

    // materialize: plain and MoR reads agree with the COW lake
    ParquetLake.materializeDeletes(spark, mor)
    assert(ParquetLake.readManifested(spark, mor)
      .collect().map(_.toString).sorted.toSeq === cowRows)
  }

  test("lk37: merge-on-read deletion vectors — delete without rewrite, stack, materialize, vacuum") {
    val dir = Files.createTempDirectory("graft_lake_dv").toString
    val ev = events(spark, sf).select("event_id", "user_id", "event_type", "ts_ms")
    ParquetLake.writePartitioned(ev, dir, "ts_ms", sortCols = Seq("user_id"))
    val v1 = ParquetLake.snapshotManifest(spark, dir)
    val total = ev.count()

    def fileSig(): Set[(String, Long)] =
      new java.io.File(dir).listFiles.filter(d => d.isDirectory && d.getName.contains("="))
        .flatMap(_.listFiles).filter(_.getName.startsWith("part-"))
        .map(f => (s"${f.getParentFile.getName}/${f.getName}", f.length)).toSet
    val sigBefore = fileSig()

    // vectored delete: manifest version bumps, NO data file changes
    val pred1 = col("event_type") === "click"
    val nClick = ev.where(pred1).count()
    assert(nClick > 0)
    val v2 = ParquetLake.deleteVectored(spark, dir, pred1)
    assert(v2 === v1 + 1)
    assert(fileSig() === sigBefore, "a vectored delete must not touch data files")

    // MoR read applies the vectors row-exactly; the plain snapshot
    // readers see pre-delete data by contract; time travel reads the
    // pre-delete version in full
    val got1 = ParquetLake.readManifestedMoR(spark, dir)
      .select("event_id").collect().map(_.getLong(0)).sorted.toSeq
    val expect1 = ev.where(!pred1)
      .select("event_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got1 === expect1)
    assert(ParquetLake.readManifested(spark, dir).count() === total)
    assert(ParquetLake.readManifestedMoR(spark, dir, Some(v1)).count() === total)

    // deletes stack: a second vector applies on top of the first
    val pred2 = col("user_id") % 10 === 3
    val v3 = ParquetLake.deleteVectored(spark, dir, pred2)
    val expectN = ev.where(!pred1 && !pred2).count()
    assert(ParquetLake.readManifestedMoR(spark, dir).count() === expectN)
    assert(ParquetLake.manifestHeaders(spark, dir)("dv").split(',').length === 2)

    // idempotent replay: re-deleting already-vectored rows is a no-op
    assert(ParquetLake.deleteVectored(spark, dir, pred1) === v3)

    // copy-on-write maintenance refuses while vectors are pending —
    // it would commit a dv-less header and resurrect the rows
    val err = intercept[IllegalArgumentException] {
      ParquetLake.compactManifested(spark, dir)
    }
    assert(err.getMessage.contains("materializeDeletes"))

    // materialize: rewrites exactly the touched files, drops the
    // header; plain and MoR reads now agree
    ParquetLake.materializeDeletes(spark, dir)
    assert(!ParquetLake.manifestHeaders(spark, dir).contains("dv"))
    val gotM = ParquetLake.readManifested(spark, dir)
      .select("event_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(gotM === ev.where(!pred1 && !pred2)
      .select("event_id").collect().map(_.getLong(0)).sorted.toSeq)
    assert(ParquetLake.readManifestedMoR(spark, dir).count() === expectN)
    // the retained pre-materialize version still reads with ITS vectors
    assert(ParquetLake.readManifestedMoR(spark, dir, Some(v3)).count() === expectN)

    // vacuum sweeps the spent vectors once no retained version
    // references them; the head keeps reading
    val swept = ParquetLake.vacuum(spark, dir, keepVersions = 1, retainMillis = 0)
    assert(swept.exists(_.startsWith(".dv/")), swept.mkString(","))
    assert(ParquetLake.readManifestedMoR(spark, dir).count() === expectN)
    assert(ParquetLake.readManifested(spark, dir).count() === expectN)
  }

  test("lk37 x lk38: a branch forked over pending deletion vectors reads merge-on-read; vacuum keeps its vectors") {
    val dir = Files.createTempDirectory("graft_lake_dvbranch").toString
    val ev = events(spark, sf).select("event_id", "user_id", "event_type", "ts_ms")
    ParquetLake.writePartitioned(ev, dir, "ts_ms", sortCols = Seq("user_id"))
    ParquetLake.snapshotManifest(spark, dir)
    val pred = col("event_type") === "click"
    assert(ev.where(pred).count() > 0)
    ParquetLake.deleteVectored(spark, dir, pred)
    val expect = ev.where(!pred)
      .select("event_id").collect().map(_.getLong(0)).sorted.toSeq

    // the fork carries the pending vectors; a branch reader must see
    // the merge-on-read view, never the resurrected rows
    ParquetLake.createBranch(spark, dir, "exp")
    assert(ParquetLake.readBranch(spark, dir, "exp")
      .select("event_id").collect().map(_.getLong(0)).sorted.toSeq === expect)

    // appends keep carrying the header: new rows visible, deleted gone
    val tpl = ParquetLake.readManifestedMoR(spark, dir)
      .orderBy(col("event_id").desc).limit(1).localCheckpoint()
    val extra = tpl.select(lit(91000001L).as("event_id"), col("user_id"),
      col("event_type"), col("ts_ms"), col("p_date"))
    ParquetLake.appendBranch(spark, dir, "exp", extra, Some("p_date"))
    val got2 = ParquetLake.readBranch(spark, dir, "exp")
      .select("event_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got2 === (expect :+ 91000001L).sorted)

    // main materializes its vectors and vacuums down to ONE retained
    // version: the vector files are spent on main and referenced only
    // by the branch header — the sweep must keep them alive
    ParquetLake.materializeDeletes(spark, dir)
    val swept = ParquetLake.vacuum(spark, dir, keepVersions = 1, retainMillis = 0)
    assert(!swept.exists(_.startsWith(".dv/")), swept.mkString(","))
    assert(ParquetLake.readBranch(spark, dir, "exp")
      .select("event_id").collect().map(_.getLong(0)).sorted.toSeq === got2)
  }

  test("lk35 x lk37: uniqueness audits the merge-on-read head — a vector-deleted key is re-insertable") {
    val dir = fragmentedLake()
    ParquetLake.snapshotManifest(spark, dir)
    val head = ParquetLake.readManifested(spark, dir)
    val victim = head.orderBy("event_id").limit(1).collect().head.getLong(0)
    ParquetLake.deleteVectored(spark, dir, col("event_id") === victim)
    // re-insert the tombstoned key: every reader sees it gone, so the
    // uniqueness gate must not refuse the publish
    val reborn = head.where(col("event_id") === victim)
      .withColumn("user_id", col("user_id") + 1000L)
    ParquetLake.stageAppend(spark, dir, reborn, "rebirth", Some("p_date"))
    ParquetLake.publishStagedChecked(spark, dir, "rebirth",
      uniqueKey = Seq("event_id"))
    val after = ParquetLake.readManifestedMoR(spark, dir)
      .where(col("event_id") === victim).collect()
    assert(after.length === 1)
    assert(after.head.getAs[Long]("user_id") >= 1000L)
  }

  test("lk45: matview refreshes incrementally on append, falls back to full on rewrite/dv, stays exact") {
    val dir = fragmentedLake()
    ParquetLake.snapshotManifest(spark, dir)
    val keys = Seq("event_type")
    val ms = Seq("user_id")
    def expect() = ParquetLake.readManifestedMoR(spark, dir)
      .groupBy("event_type").agg(
        count(lit(1)).as("n_rows"), sum("user_id").as("sum_user_id"),
        min("user_id").as("min_user_id"), max("user_id").as("max_user_id"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    def got() = ParquetLake.matviewRead(spark, dir, "mv", ms)
      .collect().map(r => r.getAs[String]("event_type") ->
        (r.getAs[Long]("n_rows"), r.getAs[Long]("sum_user_id"),
          r.getAs[Long]("min_user_id"), r.getAs[Long]("max_user_id"))).toMap

    // first build is full and exact; the mode receipt persists in the
    // matview header (matviewMode is what a maintenance job audits)
    val r1 = ParquetLake.matviewRefresh(spark, dir, "mv", keys, ms)
    assert(r1.mode === "full")
    assert(ParquetLake.matviewMode(spark, dir, "mv") === "full")
    assert(got() === expect())
    // no movement → noop, same version
    val r2 = ParquetLake.matviewRefresh(spark, dir, "mv", keys, ms)
    assert(r2 === ParquetLake.MatviewRefresh(r1.version, "noop", 0, r1.baseVersion))

    // append-only movement → incremental, scanning EXACTLY the new files
    val head0 = ParquetLake.readManifest(spark, dir, None).get.toSet
    val batch = ParquetLake.readManifested(spark, dir)
      .where(col("event_id") % 5 === 0)
      .withColumn("event_id", col("event_id") + 10000000L)
      .withColumn("event_type", lit("appended"))
    ParquetLake.stageAppend(spark, dir, batch, "mv-inc", Some("p_date"))
    ParquetLake.publishStaged(spark, dir, "mv-inc")
    val added = ParquetLake.readManifest(spark, dir, None).get.toSet -- head0
    val r3 = ParquetLake.matviewRefresh(spark, dir, "mv", keys, ms)
    assert(r3.mode === "incremental")
    assert(ParquetLake.matviewMode(spark, dir, "mv") === "incremental")
    assert(r3.scannedFiles === added.size)
    assert(got() === expect())
    assert(ParquetLake.matviewBase(spark, dir, "mv")
      === ParquetLake.manifestLog(spark, dir).last._1)

    // COW delete rewrites history → full fallback, still exact
    ParquetLake.deleteManifested(spark, dir, col("event_type") === "appended")
    val r4 = ParquetLake.matviewRefresh(spark, dir, "mv", keys, ms)
    assert(r4.mode === "full")
    assert(got() === expect())
    assert(!got().contains("appended"))

    // a pending deletion vector changes the MoR view → full fallback
    val delType = got().keySet.head
    ParquetLake.deleteVectored(spark, dir, col("event_type") === lit(delType))
    val r5 = ParquetLake.matviewRefresh(spark, dir, "mv", keys, ms)
    assert(r5.mode === "full")
    assert(got() === expect())
    assert(!got().contains(delType))
  }

  test("lk45: a legacy matview (pre-cnt partials) reads with its written semantics and upgrades via full recompute") {
    val dir = fragmentedLake()
    ParquetLake.snapshotManifest(spark, dir)
    val keys = Seq("event_type")
    val ms = Seq("user_id")
    val r1 = ParquetLake.matviewRefresh(spark, dir, "mv", keys, ms)
    // simulate a pre-upgrade writer: re-publish the current matview
    // with the cnt_ partials stripped (new data dir + a hand-written
    // next-version listing in the documented format)
    val root = new java.io.File(dir)
    val listing = root.listFiles().filter(_.getName.startsWith("_graft_matview_mv.v"))
      .maxBy(_.getName.stripPrefix("_graft_matview_mv.v").toInt)
    val lines = java.nio.file.Files.readAllLines(listing.toPath)
    import scala.jdk.CollectionConverters._
    val base = lines.asScala.find(_.startsWith("# base=")).get
    val oldFiles = lines.asScala.filterNot(_.startsWith("#"))
    val legacyDir = "_graft_matview_data_mv/legacy"
    spark.read.option("basePath", dir)
      .parquet(oldFiles.map(f => s"$dir/$f").toSeq: _*)
      .drop("cnt_user_id")
      .coalesce(1).write.parquet(s"$dir/$legacyDir")
    val parts = new java.io.File(root, legacyDir).listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .map(f => s"$legacyDir/${f.getName}")
    java.nio.file.Files.write(
      new java.io.File(root, s"_graft_matview_mv.v${r1.version + 1}").toPath,
      (Seq(base) ++ parts).mkString("\n").getBytes("UTF-8"))
    // legacy read: avg falls back to the all-rows denominator (the
    // semantics that matview was written with), no missing-column throw
    val legacyAvg = ParquetLake.matviewRead(spark, dir, "mv", ms)
      .select("event_type", "avg_user_id").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val want = ParquetLake.readManifestedMoR(spark, dir)
      .groupBy("event_type")
      .agg((sum("user_id") / count(lit(1))).as("a")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(legacyAvg === want)
    // any movement now upgrades through a FULL recompute (incremental
    // cannot merge partials that lack the non-null counts)
    val batch = ParquetLake.readManifested(spark, dir).limit(10)
      .withColumn("event_id", col("event_id") + 20000000L)
    ParquetLake.stageAppend(spark, dir, batch, "legacy-up", Some("p_date"))
    ParquetLake.publishStaged(spark, dir, "legacy-up")
    val r2 = ParquetLake.matviewRefresh(spark, dir, "mv", keys, ms)
    assert(r2.mode === "full")
    // upgraded: cnt_ partials present again, avg = SQL AVG
    assert(ParquetLake.matviewRead(spark, dir, "mv", ms)
      .columns.contains("cnt_user_id"))
  }

  test("rebasing: a conflict re-runs the attempt at most MaxRebases times; any other failure runs it once") {
    val max = ParquetLake.MaxRebases
    // always conflicting: 1 + MaxRebases runs, then the LAST conflict
    var runs = 0
    val last = intercept[ParquetLake.ManifestConflictException] {
      ParquetLake.rebasing("spec", "lake") {
        runs += 1
        throw new ParquetLake.ManifestConflictException(s"conflict $runs")
      }
    }
    assert(runs === 1 + max)
    assert(last.getMessage === s"conflict ${1 + max}")
    // any other exception propagates from the first run
    runs = 0
    intercept[IllegalStateException] {
      ParquetLake.rebasing("spec", "lake") {
        runs += 1
        throw new IllegalStateException("not a conflict")
      }
    }
    assert(runs === 1)
    // k conflicts within the budget, then the attempt's value
    Seq(0, 1, max - 1, max).foreach { k =>
      runs = 0
      val got = ParquetLake.rebasing("spec", "lake") {
        runs += 1
        if (runs <= k) throw new ParquetLake.ManifestConflictException(s"conflict $runs")
        runs * 10
      }
      assert(runs === k + 1)
      assert(got === (k + 1) * 10)
    }
  }
}
