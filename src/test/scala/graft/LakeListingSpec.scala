package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.sources.ParquetLake

/** The manifested lake's listing format: the exact bytes every chain
  * and ref is written with, and what its listers must ignore.
  */
class LakeListingSpec extends SparkSpec {

  /** A two-file unpartitioned lake of (k, g) rows, k in [0, 20). */
  private def smallLake(): String = {
    val dir = Files.createTempDirectory("graft_listing").toString + "/lake"
    spark.range(0, 20).selectExpr("id AS k", "id % 3 AS g")
      .repartition(2).write.parquet(dir)
    dir
  }

  private def text(dir: String, name: String): String =
    new String(Files.readAllBytes(new java.io.File(dir, name).toPath), "UTF-8")

  test("lk20-lk45: listing bytes are pinned for manifests, branches, matviews, stages, tags and stats; a pre-lk20 manifest still reads") {
    val dir = smallLake()
    val files = new java.io.File(dir).listFiles().map(_.getName)
      .filter(_.startsWith("part-")).sorted.toSeq
    assert(files.length === 2)
    // a committed listing: `# committed_ms=<digits>`, the other headers
    // sorted by key, the files sorted, every line ending in a newline
    def assertListing(name: String, headers: Seq[String], listed: Seq[String]): Unit = {
      val t = text(dir, name)
      val ms = """\A# committed_ms=(\d+)\n""".r.findPrefixMatchOf(t)
        .getOrElse(fail(s"$name has no committed_ms first line: $t")).group(1)
      assert(t === (s"# committed_ms=$ms" +: headers.map("# " + _) ++: listed)
        .map(_ + "\n").mkString, name)
    }
    val v1 = ParquetLake.snapshotManifest(spark, dir)
    assertListing(s"_graft_manifest.v$v1", Nil, files)
    // caller headers sort by key; a value may itself contain '='
    val v2 = ParquetLake.commitManifest(spark, dir, files.reverse, Some(v1),
      Map("zeta" -> "z", "alpha" -> "a=b"))
    assertListing(s"_graft_manifest.v$v2", Seq("alpha=a=b", "zeta=z"), files)
    assert(ParquetLake.manifestHeaders(spark, dir).get("alpha") === Some("a=b"))
    // the lk37 deletion-vector header
    val v3 = ParquetLake.deleteVectored(spark, dir, col("k") === 3)
    val dv = ParquetLake.manifestHeaders(spark, dir)("dv")
    assert(dv.startsWith(".dv/dv_"), dv)
    assertListing(s"_graft_manifest.v$v3", Seq(s"dv=$dv"), files)
    // lk38 branch v1: the fork snapshot's files, `dv` and `fork` headers
    assert(ParquetLake.createBranch(spark, dir, "b1") === 1)
    assertListing("_graft_branch_b1.v1", Seq(s"dv=$dv", s"fork=$v3"), files)
    // lk45 matview: `base` and `mode` headers over its data files
    ParquetLake.matviewRefresh(spark, dir, "mv", Seq("g"))
    val mvData = new java.io.File(dir, "_graft_matview_data_mv")
    val mvFiles = mvData.listFiles().toSeq.flatMap(d => d.listFiles().toSeq
      .filter(_.getName.endsWith(".parquet"))
      .map(f => s"${mvData.getName}/${d.getName}/${f.getName}"))
      .sorted
    assert(mvFiles.nonEmpty)
    assertListing("_graft_matview_mv.v1", Seq(s"base=$v3", "mode=full"), mvFiles)
    // lk27 staged ref: file lines only
    val staged = ParquetLake.stageAppend(spark, dir,
      spark.range(100, 110).selectExpr("id AS k", "id % 3 AS g"), "s1")
    assert(staged.nonEmpty)
    assert(text(dir, "._graft_staged.s1") === staged.sorted.map(_ + "\n").mkString)
    // lk22 tag: one version number
    ParquetLake.tagManifest(spark, dir, "rel")
    assert(text(dir, "_graft_tag.rel") === s"$v3\n")
    // lk21 stats sidecar: one `file col type min max` TSV row per file,
    // in listing order
    assert(ParquetLake.buildFileStats(spark, dir, Seq("k")) === files.length)
    val rows = files.map { f =>
      val r = spark.read.parquet(s"$dir/$f").agg(min("k"), max("k")).head()
      s"$f\tk\tlong\t${r.getLong(0)}\t${r.getLong(1)}\n"
    }
    assert(text(dir, s"_graft_stats.v$v3") === rows.mkString)

    // a header-less (pre-lk20) manifest: files only, committed time
    // from the file's mtime
    val v4 = v3 + 1
    val legacy = new java.io.File(dir, s"_graft_manifest.v$v4")
    Files.write(legacy.toPath, files.map(_ + "\n").mkString.getBytes("UTF-8"))
    assert(legacy.setLastModified(1700000000000L))
    assert(ParquetLake.readManifest(spark, dir) === Some(files))
    assert(ParquetLake.readManifest(spark, dir, Some(v4)) === Some(files))
    assert(ParquetLake.manifestHeaders(spark, dir, Some(v4)) === Map.empty)
    assert(ParquetLake.manifestHeaders(spark, dir) === Map.empty)
    val log = ParquetLake.manifestLog(spark, dir)
    assert(log.map(_._1) === Seq(v1, v2, v3, v4))
    assert(log.last._2 === 1700000000000L)
    assert(log.init.forall(_._2 > 1700000000000L))
    assert(ParquetLake.readManifested(spark, dir).count() === 20)
  }

  test("lk22/lk27: an in-flight or crashed atomic write is no phantom tag or stage") {
    val dir = smallLake()
    val v1 = ParquetLake.snapshotManifest(spark, dir)
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    // the atomic writers' own temp files for tag `rel` and stage `s1`,
    // still empty: a write in flight, or one that crashed before its
    // rename
    Seq("_graft_tag.rel", "._graft_staged.s1").foreach { target =>
      fs.create(ParquetLake.tempFor(new Path(root, target)), false).close()
    }
    assert(ParquetLake.manifestTags(spark, dir) === Map.empty)
    assert(ParquetLake.stagedManifests(spark, dir) === Map.empty)
    // no phantom tag pins v1, no phantom stage shields anything
    val files = ParquetLake.readManifest(spark, dir).get
    val v2 = ParquetLake.commitManifest(spark, dir, files.take(1), Some(v1))
    val swept = ParquetLake.vacuum(spark, dir, keepVersions = 1, retainMillis = 0)
    assert(swept.contains(files(1)), swept)
    assert(ParquetLake.manifestLog(spark, dir).map(_._1) === Seq(v2))
    assert(ParquetLake.fsck(spark, dir) === ParquetLake.FsckReport(Nil, Nil))
  }

  test("lk38: publishBranchRebase refuses, naming the branch, once vacuum has dropped its fork version") {
    val dir = smallLake()
    val v1 = ParquetLake.snapshotManifest(spark, dir)
    ParquetLake.createBranch(spark, dir, "orphaned-fork")
    ParquetLake.appendBranch(spark, dir, "orphaned-fork",
      spark.range(100, 105).selectExpr("id AS k", "id % 3 AS g"))
    // two main commits, then retention drops the fork version
    val files = ParquetLake.readManifest(spark, dir).get
    val v2 = ParquetLake.commitManifest(spark, dir, files.take(1), Some(v1))
    val v3 = ParquetLake.commitManifest(spark, dir, files, Some(v2))
    ParquetLake.vacuum(spark, dir, keepVersions = 1, retainMillis = 0)
    assert(ParquetLake.manifestLog(spark, dir).map(_._1) === Seq(v3))
    val e = intercept[IllegalArgumentException] {
      ParquetLake.publishBranchRebase(spark, dir, "orphaned-fork")
    }
    assert(e.getMessage.contains("orphaned-fork"), e.getMessage)
    assert(e.getMessage.contains(s"v$v1"), e.getMessage)
    // main untouched, the branch kept for a re-branch and replay
    assert(ParquetLake.manifestLog(spark, dir).map(_._1) === Seq(v3))
    assert(ParquetLake.readManifest(spark, dir) === Some(files))
    assert(ParquetLake.branches(spark, dir) === Map("orphaned-fork" -> Seq(1, 2)))
  }

  test("lk26: restoreManifested refuses a vacuumed or unknown version with the restore's own message") {
    val dir = smallLake()
    val v1 = ParquetLake.snapshotManifest(spark, dir)
    val files = ParquetLake.readManifest(spark, dir).get
    val v2 = ParquetLake.commitManifest(spark, dir, files.take(1), Some(v1))
    val v3 = ParquetLake.commitManifest(spark, dir, files, Some(v2))
    ParquetLake.vacuum(spark, dir, keepVersions = 1, retainMillis = 0)
    assert(ParquetLake.manifestLog(spark, dir).map(_._1) === Seq(v3))
    Seq(v1, 999).foreach { v =>
      val e = intercept[IllegalArgumentException] {
        ParquetLake.restoreManifested(spark, dir, v)
      }
      assert(e.getMessage.contains(s"cannot restore: version $v is not a committed manifest"),
        e.getMessage)
      assert(e.getMessage.contains("(vacuumed or never committed)"), e.getMessage)
    }
    // the refused restores committed nothing
    assert(ParquetLake.manifestLog(spark, dir).map(_._1) === Seq(v3))
    assert(ParquetLake.readManifest(spark, dir) === Some(files))
  }
}
