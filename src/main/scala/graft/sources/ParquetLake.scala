package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Partitioned-parquet lake layout: the write side of the engine.
  *
  * At 100 TB the table layout IS the query plan: date-partitioned
  * directories give free partition pruning on the time predicates
  * every log query carries (the reference's `--start-time` becomes a
  * directory-level skip, not a scan+filter), and sorting within
  * partitions clusters row groups so min/max statistics prune I/O
  * below the partition grain.
  */
object ParquetLake {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Write `df` date-partitioned on `tsMsCol` (epoch millis →
    * `p_date=YYYY-MM-DD` directories), sorted within partitions by
    * `sortCols` for row-group min/max skipping.
    */
  def writePartitioned(
      df: DataFrame, path: String, tsMsCol: String, sortCols: Seq[String]): Unit =
    df.withColumn("p_date", to_date(timestamp_millis(col(tsMsCol))).cast("string"))
      .repartition(col("p_date"))
      .sortWithinPartitions(sortCols.map(col): _*)
      .write.mode("overwrite")
      .partitionBy("p_date")
      .parquet(path)

  /** Read back with an inclusive date range that prunes at the
    * directory level (shows as PartitionFilters in the plan, not a
    * post-scan Filter).
    */
  def readRange(spark: SparkSession, path: String, fromDate: String, toDate: String): DataFrame =
    spark.read.parquet(path)
      .where(col("p_date") >= fromDate && col("p_date") <= toDate)

  /** Deterministic hash-sharded training export: rows land in
    * `shard=0..k-1` directories by md5(id) % k
    * ([[graft.functions.hashShard]]) — cluster-size invariant, so an
    * export is reproducible shard-for-shard on any cluster, and a
    * downstream trainer can address shards stably. Returns the
    * per-shard manifest read back FROM THE WRITTEN FILES (truthful
    * accounting, not a parallel recompute); the t16_export_shards
    * query is the oracle-checked twin of this manifest.
    */
  def exportShards(df: DataFrame, idCol: String, path: String, k: Int): DataFrame = {
    df.withColumn("shard", graft.functions.hashShard(col(idCol), k))
      .repartition(col("shard"))
      .write.mode("overwrite").partitionBy("shard").parquet(path)
    df.sparkSession.read.parquet(path)
      // directory-inferred partition columns come back as int
      .groupBy(col("shard").cast("long").as("shard"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("shard")
  }

  /** Z-order-clustered write: quantize two numeric columns onto a
    * 2^bits grid (`width_bucket` over the observed min/max — one tiny
    * agg job), interleave with [[graft.functions.morton]], then
    * range-partition + sort on the morton code. Every output file
    * then covers a compact TILE of the (c1, c2) plane instead of a
    * full-width slice, so parquet footer min/max stats prune file and
    * row-group reads for predicates on EITHER column — the
    * single-sort layout only ever prunes its leading column. This is
    * the layout move for 100 TB fact tables queried by both time and
    * entity; linear quantization is used deliberately (stat-visible,
    * engine-replayable), with heavy skew the caller pre-ranks the
    * column (e.g. by day index) before clustering.
    */
  def zorderWrite(
      df: DataFrame, path: String, c1: String, c2: String,
      bits: Int = 12, numFiles: Int = 0): Unit =
    zorderWriteN(df, path, Seq(c1, c2), bits, numFiles)

  /** k-column Z-order write ([[graft.functions.mortonN]] interleave):
    * same layout move for fact tables carrying three or more hot
    * predicate columns. Per-dimension resolution is `bits` (k*bits ≤
    * 62) and pruning power falls as file-count^(1/k) per axis, so
    * keep k at the number of predicates the query mix actually has.
    */
  def zorderWriteN(
      df: DataFrame, path: String, cols: Seq[String],
      bits: Int = 12, numFiles: Int = 0): Unit = {
    require(cols.length >= 2, s"zorderWriteN needs >= 2 columns, got ${cols.length}")
    val aggs = cols.flatMap(c => Seq(min(col(c).cast("long")), max(col(c).cast("long"))))
    val stats = df.agg(aggs.head, aggs.tail: _*).head()
    def bound(i: Int): Option[Long] = if (stats.isNullAt(i)) None else Some(stats.getLong(i))
    val bounds = cols.indices.map(i => (bound(2 * i), bound(2 * i + 1)))
    if (bounds.forall { case (lo, hi) => lo.isDefined && hi.isDefined }) {
      // width_bucket's upper bound is hi+1 so the max value lands in
      // the top bucket, not the overflow bucket — which makes
      // hi == Long.MaxValue unrepresentable; reject it explicitly
      // rather than wrap around to a negative bound
      cols.zip(bounds).foreach { case (c, (_, hi)) =>
        if (hi.get == Long.MaxValue) throw new IllegalArgumentException(
          s"zorderWrite: max($c) == Long.MaxValue cannot be bucketed; pre-rank the column")
      }
      val n = 1L << bits
      def q(c: String, lo: Long, hi: Long) =
        if (hi == lo) lit(0L)
        else expr(s"width_bucket(cast($c as long), ${lo}L, ${hi + 1}L, $n)") - 1
      val z = df.withColumn("_z", graft.functions.mortonN(
        cols.zip(bounds).map { case (c, (lo, hi)) => q(c, lo.get, hi.get) }, bits))
      val parts = if (numFiles > 0) numFiles else df.sparkSession.sparkContext.defaultParallelism
      z.repartitionByRange(parts, col("_z"))
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite").parquet(path)
    } else {
      // empty input, or a cluster column that is entirely null:
      // there is nothing to cluster — write the data (and schema)
      // as-is instead of dying on the degenerate stats row
      df.write.mode("overwrite").parquet(path)
    }
  }

  /** Bucketed-table write: hash-cluster `df` on `bucketCol` into
    * `numBuckets` file buckets (catalog-recorded, optionally sorted
    * within each bucket). A bucketed scan reports its hash
    * partitioning to the planner, so EVERY later join or aggregate
    * keyed on the bucket column — across queries, across sessions —
    * runs with zero Exchange: the 100 TB fact table is shuffled once
    * at write time instead of once per query. The pre-repartition on
    * the bucket column uses the same murmur3-pmod assignment as the
    * bucket spec, so each task holds exactly one bucket's rows and
    * writes exactly one file per bucket (no small-file explosion —
    * the classic bucketed-write footgun of tasks × buckets files).
    */
  def writeBucketed(
      df: DataFrame, table: String, bucketCol: String,
      numBuckets: Int, sortCols: Seq[String] = Nil): Unit = {
    val w = df.repartition(numBuckets, col(bucketCol))
      .write.mode("overwrite").format("parquet")
      .bucketBy(numBuckets, bucketCol)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .saveAsTable(table)
  }

  case class CompactionStat(partition: String, filesBefore: Int, filesAfter: Int)

  /** Run independent per-partition maintenance jobs concurrently from
    * the driver: Spark's scheduler interleaves their stages across
    * executors, so a 1000-partition compaction isn't serialized on
    * one job's tail tasks. Bounded pool — each job holds a parquet
    * footer + plan on the driver.
    */
  private def inParallel[A, B](items: Seq[A], parallelism: Int)(f: A => B): Seq[B] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    if (items.isEmpty) Seq.empty
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.max(1, math.min(parallelism, items.length)))
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
      try Await.result(Future.sequence(items.map(a => Future(f(a)))), Duration.Inf)
      finally pool.shutdown()
    }
  }

  /** Small-file compaction — the lake maintenance op a streaming
    * ingest needs at scale: every micro-batch appends a file per
    * partition, and a 100 TB table read slows linearly with file
    * count (driver listing, per-file open cost, tiny row groups).
    * Rewrites each `p_date=` partition whose data files exceed
    * ceil(bytes / targetFileBytes) into exactly that many files,
    * optionally re-sorting (`sortCols`) to restore row-group min/max
    * clustering. Partitions are independent and compacted as
    * `parallelism` concurrent jobs.
    *
    * Swap protocol (crash-safe, resumable): write-aside to
    * `.compact_*`, atomically write a COMMIT marker listing exactly
    * the original files the aside copy replaces, delete those
    * originals, rename the compacted files in, then drop the marker.
    * The marker is the commit point: before it exists the aside dir
    * is discardable garbage (the partition is untouched); after it
    * exists the swap is FINISHED — not redone — by the next run's
    * [[recoverInterrupted]], which deletes any listed original still
    * present and renames the remaining aside files in. So a crash at
    * any step loses nothing and duplicates nothing: the transient
    * directory-view gap between delete and rename heals on the next
    * compact() (or a direct recoverInterrupted call). Only the files
    * listed at the start are read and deleted: a file appended
    * concurrently is left untouched for the next compaction cycle.
    * DIRECTORY-LISTING readers racing the swap can briefly miss the
    * in-flight partition's rows — [[compactManifested]] is the
    * atomic-visibility variant (readers go through the committed
    * manifest and never observe an in-flight swap).
    *
    * SINGLE WRITER per lake: two concurrent compact() runs are not
    * supported — each run's recovery pass treats the other's
    * pre-commit aside dir as crashed-run garbage and deletes it
    * mid-rewrite. Serialize maintenance externally (one scheduler, or
    * a lake-level lock/lease file); concurrent READERS and appenders
    * of other files are fine, per the paragraph above.
    */
  def compact(
      spark: SparkSession, path: String,
      targetFileBytes: Long = 128L << 20,
      sortCols: Seq[String] = Nil,
      parallelism: Int = 8,
      partitionPrefix: String = "p_date="): Seq[CompactionStat] = {
    import org.apache.hadoop.fs.Path
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val parts = fs.listStatus(root)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(partitionPrefix))
      .toSeq.sortBy(_.getPath.getName)
    inParallel(parts, parallelism) { p =>
      recoverInterrupted(fs, p.getPath)
      val files = fs.listStatus(p.getPath)
        .filter(f => f.isFile && f.getPath.getName.startsWith("part-"))
      val bytes = files.map(_.getLen).sum
      val nOut = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
      if (files.length <= nOut) None
      else {
        val aside = rewriteAside(spark, fs, p.getPath, files.map(_.getPath).toSeq, nOut, sortCols)
        // commit point: from here the swap must complete (this run or
        // the next one's recovery) — the aside copy is the only place
        // the listed originals' rows live once deletes start
        writeAtomic(fs, commitMarker(p.getPath),
          files.map(_.getPath.getName).sorted.mkString("", "\n", "\n"))
        files.foreach(f => fs.delete(f.getPath, false))
        aside.foreach(f => renameOrThrow(fs, f, new Path(p.getPath, f.getName)))
        fs.delete(asideDir(p.getPath), true)
        fs.delete(commitMarker(p.getPath), false)
        Some(CompactionStat(p.getPath.getName, files.length, nOut))
      }
    }.flatten
  }

  private def asideDir(partDir: org.apache.hadoop.fs.Path) =
    new org.apache.hadoop.fs.Path(partDir.getParent, s".compact_${partDir.getName}")

  private def commitMarker(partDir: org.apache.hadoop.fs.Path) =
    new org.apache.hadoop.fs.Path(partDir.getParent, s".compact_${partDir.getName}.COMMIT")

  private def renameOrThrow(
      fs: org.apache.hadoop.fs.FileSystem,
      src: org.apache.hadoop.fs.Path, dst: org.apache.hadoop.fs.Path): Unit =
    if (!fs.rename(src, dst))
      throw new java.io.IOException(s"rename failed: $src -> $dst")

  /** Write `content` to `target` atomically: create a sibling `.tmp`
    * and rename it in, so a reader (or crash-recovery) never sees a
    * half-written file. The delete of a pre-existing target is
    * defensive only (markers never pre-exist in normal operation).
    * Atomicity holds where rename is atomic — HDFS and local; on an
    * object store whose rename is copy+delete (S3A without a metadata
    * layer) a concurrent reader or crash can observe a missing or
    * half-copied marker, the same caveat the manifest-commit block
    * documents for itself.
    */
  private def writeAtomic(
      fs: org.apache.hadoop.fs.FileSystem,
      target: org.apache.hadoop.fs.Path, content: String): Unit = {
    val tmp = new org.apache.hadoop.fs.Path(target.getParent, s"${target.getName}.tmp")
    val out = fs.create(tmp, true)
    try out.write(content.getBytes("UTF-8"))
    finally out.close()
    fs.delete(target, false)
    renameOrThrow(fs, tmp, target)
  }

  /** Finish or discard an interrupted [[compact]] swap of `partDir`.
    * With a COMMIT marker present, the aside dir holds a complete
    * compacted copy of the marker's listed originals, so the swap is
    * completed: listed originals still present are deleted, aside
    * files renamed in (both idempotent — safe if recovery itself
    * crashes). Without a marker, a leftover aside dir is a
    * pre-commit-point partial rewrite: the partition is untouched and
    * the aside is discarded. Returns true if an interrupted swap was
    * completed. Assumes the lake's SINGLE-WRITER contract (see
    * [[compact]]): the no-marker branch cannot distinguish a crashed
    * run's garbage from another LIVE run's in-flight rewrite, so it
    * must never race a concurrent compaction of the same lake.
    */
  def recoverInterrupted(
      fs: org.apache.hadoop.fs.FileSystem,
      partDir: org.apache.hadoop.fs.Path): Boolean = {
    import org.apache.hadoop.fs.Path
    val marker = commitMarker(partDir)
    val aside = asideDir(partDir)
    if (fs.exists(marker)) {
      val in = fs.open(marker)
      val listed =
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines().filter(_.nonEmpty).toList
        finally in.close()
      listed.foreach { name =>
        val f = new Path(partDir, name)
        if (fs.exists(f)) fs.delete(f, false)
      }
      if (fs.exists(aside))
        fs.listStatus(aside)
          .filter(f => f.isFile && f.getPath.getName.startsWith("part-"))
          .foreach(f => renameOrThrow(fs, f.getPath, new Path(partDir, f.getPath.getName)))
      fs.delete(aside, true)
      fs.delete(marker, false)
      true
    } else {
      if (fs.exists(aside)) fs.delete(aside, true)
      false
    }
  }

  /** Rewrite EXACTLY `inputFiles` into `nOut` files under the
    * partition's hidden `.compact_*` aside directory, returning the
    * written files' paths (still in the aside dir — the swap/commit
    * protocol is the caller's). Reading the explicit file list, not
    * the directory, means orphans from a crashed prior run or files
    * appended after listing are never folded into the rewrite.
    */
  private def rewriteAside(
      spark: SparkSession, fs: org.apache.hadoop.fs.FileSystem,
      partDir: org.apache.hadoop.fs.Path,
      inputFiles: Seq[org.apache.hadoop.fs.Path], nOut: Int,
      sortCols: Seq[String]): Seq[org.apache.hadoop.fs.Path] = {
    val tmp = asideDir(partDir)
    if (fs.exists(commitMarker(partDir)))
      throw new IllegalStateException(
        s"interrupted compact() swap committed for $partDir — the aside dir holds the only " +
        s"copy of deleted originals; run compact()/recoverInterrupted on this lake first")
    fs.delete(tmp, true)
    val part = spark.read.parquet(inputFiles.map(_.toString): _*).repartition(nOut)
    val sorted =
      if (sortCols.isEmpty) part else part.sortWithinPartitions(sortCols.map(col): _*)
    sorted.write.mode("overwrite").parquet(tmp.toString)
    fs.listStatus(tmp)
      .filter(f => f.isFile && f.getPath.getName.startsWith("part-"))
      .map(_.getPath).toSeq
  }

  // ---------------------------------------------------------------
  // Manifest-gated visibility: a minimal table-format commit.
  //
  // The lake root holds versioned manifests `_graft_manifest.v<N>`,
  // each a newline-separated list of lake-relative data-file paths.
  // A manifest is committed by writing `._graft_manifest.tmp` and
  // renaming it to the NEXT version — rename-to-fresh-name is atomic
  // on HDFS/local (and on object stores with a metadata layer), so a
  // version either exists completely or not at all; readers take
  // max(N). Writers never modify a committed manifest or a referenced
  // file, so any reader sees exactly one consistent snapshot —
  // a compaction crash leaves either the old version (new files
  // present but unreferenced — garbage, not duplicates) or the new
  // one (old files unreferenced until [[vacuum]]).
  // ---------------------------------------------------------------

  private val ManifestPrefix = "_graft_manifest.v"

  // lk37: merge-on-read deletion vectors. Position files live under
  // `.dv/` (dot-prefixed: invisible to parquet listing, fsck's orphan
  // scan, and vacuum's partition-dir sweep); the manifest header key
  // `dv` lists the vectors applying to that snapshot.
  private val DvDir = ".dv"
  private val DvHeaderKey = "dv"

  /** A `col=value` partition directory. The dot-prefix exclusion is
    * load-bearing: [[compact]]'s aside dirs are named
    * `.compact_p_date=...` — they CONTAIN '=', and treating one as a
    * partition dir would bake an in-flight (or crashed) rewrite's
    * files into a committed manifest, or let [[vacuum]] delete aside
    * files that, after a post-COMMIT crash, are the only copy of the
    * deleted originals' rows.
    */
  private def isPartitionDir(s: org.apache.hadoop.fs.FileStatus): Boolean =
    s.isDirectory && s.getPath.getName.contains("=") && !s.getPath.getName.startsWith(".")

  private def fsFor(spark: SparkSession, path: String) = {
    val root = new org.apache.hadoop.fs.Path(path)
    (root.getFileSystem(spark.sessionState.newHadoopConf()), root)
  }

  private def manifestVersions(
      fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Seq[(Int, org.apache.hadoop.fs.Path)] =
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq
      .filter(s => s.isFile && s.getPath.getName.startsWith(ManifestPrefix))
      .map(s => s.getPath.getName.stripPrefix(ManifestPrefix).toInt -> s.getPath)
      .sortBy(_._1)

  /** The head (latest committed) version, or None before the first
    * commit.
    */
  private def latestVersion(
      fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Option[Int] =
    manifestVersions(fs, root).lastOption.map(_._1)

  /** [[latestVersion]] for ops that need a committed lake. */
  private def headVersion(
      fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, path: String): Int =
    latestVersion(fs, root).getOrElse(
      throw new IllegalStateException(s"no committed manifest under $path"))

  /** Lake-relative data-file paths of a committed snapshot — the
    * latest by default, or an explicit `version` (which must be a
    * still-retained manifest) — or None if the lake has never
    * committed a manifest.
    */
  def readManifest(
      spark: SparkSession, path: String, version: Option[Int] = None): Option[Seq[String]] = {
    val (fs, root) = fsFor(spark, path)
    val versions = manifestVersions(fs, root)
    val chosen = version match {
      case Some(v) => versions.find(_._1 == v).orElse(
        throw new IllegalArgumentException(
          s"manifest version $v not found under $path (have ${versions.map(_._1).mkString(",")})"))
      case None => versions.lastOption
    }
    chosen.map { case (_, p) => manifestLines(fs, p).filterNot(_.startsWith("#")) }
  }

  private def manifestLines(
      fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): List[String] = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().filter(_.nonEmpty).toList
    finally in.close()
  }

  /** The commit log: (version, committed epoch-millis), oldest first.
    * The timestamp comes from the manifest's `# committed_ms=` header
    * (written by every commit since lk20); manifests from before the
    * header fall back to the file's modification time — same value on
    * the filesystem that wrote them, and only ever used to ORDER
    * versions that are already ordered.
    */
  def manifestLog(spark: SparkSession, path: String): Seq[(Int, Long)] = {
    val (fs, root) = fsFor(spark, path)
    manifestVersions(fs, root).map { case (v, p) =>
      val header = manifestLines(fs, p).headOption
        .filter(_.startsWith("# committed_ms="))
        .map(_.stripPrefix("# committed_ms=").trim.toLong)
      v -> header.getOrElse(fs.getFileStatus(p).getModificationTime)
    }
  }

  /** All `# key=value` header entries of a committed manifest (the
    * latest by default) — commit metadata that rides the snapshot
    * without being part of the file listing (`committed_ms`, the lk37
    * `dv` deletion-vector list). Unknown keys are for readers to
    * ignore.
    */
  def manifestHeaders(
      spark: SparkSession, path: String,
      version: Option[Int] = None): Map[String, String] = {
    val (fs, root) = fsFor(spark, path)
    val versions = manifestVersions(fs, root)
    val chosen = version match {
      case Some(v) => versions.find(_._1 == v).getOrElse(
        throw new IllegalArgumentException(
          s"manifest version $v not found under $path"))
      case None => versions.lastOption.getOrElse(
        throw new IllegalStateException(s"no committed manifest under $path"))
    }
    manifestLines(fs, chosen._2)
      .filter(_.startsWith("# "))
      .flatMap { l =>
        val kv = l.stripPrefix("# ")
        val i = kv.indexOf('=')
        if (i > 0) Some(kv.take(i) -> kv.drop(i + 1)) else None
      }.toMap
  }

  /** Lake-relative deletion-vector paths carried by a snapshot's
    * manifest header (empty = no pending merge-on-read deletes).
    */
  private def dvList(
      spark: SparkSession, path: String, version: Option[Int]): Seq[String] =
    manifestHeaders(spark, path, version).get(DvHeaderKey).toSeq
      .flatMap(_.split(',')).filter(_.nonEmpty)

  /** Loud refusal for copy-on-write maintenance while deletion
    * vectors are pending: such ops commit a fresh manifest without
    * the `dv` header, which would silently RESURRECT the
    * merge-on-read-deleted rows. [[materializeDeletes]] first.
    */
  private def requireNoPendingDv(
      spark: SparkSession, path: String, version: Int, op: String): Unit = {
    val dvs = dvList(spark, path, Some(version))
    require(dvs.isEmpty,
      s"$op on $path refused: snapshot v$version carries ${dvs.length} pending " +
        "deletion vector(s); run materializeDeletes first (a copy-on-write " +
        "rewrite would drop the dv header and resurrect deleted rows)")
  }

  /** Time travel by TIMESTAMP: read the snapshot that was current at
    * `asOfMs` — the latest version committed at or before it (the
    * "what did the lake look like yesterday 18:00" question an audit
    * or a reproducible-training-run manifest needs; version-pinned
    * reads stay the API for exact replay). Loud failure when `asOfMs`
    * predates the first commit or the version it resolves to has been
    * vacuumed out of retention.
    */
  def readManifestedAsOf(
      spark: SparkSession, path: String, asOfMs: Long,
      mergeSchema: Boolean = false): DataFrame = {
    val log = manifestLog(spark, path)
    if (log.isEmpty)
      throw new IllegalStateException(s"no committed manifest under $path")
    val chosen = log.filter(_._2 <= asOfMs).lastOption.getOrElse(
      throw new IllegalArgumentException(
        s"asOf $asOfMs predates the first retained commit " +
          s"(version ${log.head._1} at ${log.head._2}) under $path"))
    readManifested(spark, path, Some(chosen._1), mergeSchema)
  }

  // ---------------------------------------------------------------
  // lk22: named tags — "dataset release" refs over manifest versions.
  //
  // A tag file `_graft_tag.<name>` holds one committed version
  // number. Tags give a stable name to the exact snapshot a training
  // run consumed ("release-2026-08"), and they PIN it: vacuum keeps
  // every tagged version's manifest and files regardless of
  // keepVersions, so the replay contract survives retention. Tag
  // writes go through the same atomic write-tmp-then-rename as
  // manifests; re-tagging a name moves it (tags are refs, not
  // history).
  // ---------------------------------------------------------------

  private val TagPrefix = "_graft_tag."

  private def tagPath(root: org.apache.hadoop.fs.Path, name: String) = {
    require(name.nonEmpty && name.forall(c =>
      c.isLetterOrDigit || c == '-' || c == '_' || c == '.'),
      s"tag name must be [A-Za-z0-9._-]+, got '$name'")
    new org.apache.hadoop.fs.Path(root, s"$TagPrefix$name")
  }

  /** Point tag `name` at a committed version (latest by default). */
  def tagManifest(
      spark: SparkSession, path: String, name: String,
      version: Option[Int] = None): Int = {
    val (fs, root) = fsFor(spark, path)
    val v = version.getOrElse(headVersion(fs, root, path))
    require(manifestVersions(fs, root).exists(_._1 == v),
      s"cannot tag: version $v is not a committed manifest under $path")
    writeAtomic(fs, tagPath(root, name), s"$v\n")
    v
  }

  /** All tags of the lake: name → version. */
  def manifestTags(spark: SparkSession, path: String): Map[String, Int] = {
    val (fs, root) = fsFor(spark, path)
    if (!fs.exists(root)) Map.empty
    else fs.listStatus(root).toSeq
      .filter(s => s.isFile && s.getPath.getName.startsWith(TagPrefix))
      .map { s =>
        s.getPath.getName.stripPrefix(TagPrefix) ->
          manifestLines(fs, s.getPath).head.trim.toInt
      }.toMap
  }

  /** Delete a tag (the versions it pinned become ordinary retention
    * candidates again). No-op if absent.
    */
  def untagManifest(spark: SparkSession, path: String, name: String): Unit = {
    val (fs, root) = fsFor(spark, path)
    fs.delete(tagPath(root, name), false)
    ()
  }

  /** Read the snapshot a tag points at. */
  def readManifestedTag(
      spark: SparkSession, path: String, name: String,
      mergeSchema: Boolean = false): DataFrame = {
    val v = manifestTags(spark, path).getOrElse(name,
      throw new IllegalArgumentException(s"no tag '$name' under $path"))
    readManifested(spark, path, Some(v), mergeSchema)
  }

  // ---------------------------------------------------------------
  // lk26: restore — roll the lake back to an earlier snapshot as a
  // NEW commit.

  /** Restore the lake to the state of `toVersion` by committing that
    * snapshot's exact file list as a new version — the undo button
    * after a bad merge/delete/compaction. History is never rewritten:
    * the bad versions stay readable (and auditable via [[changeFeed]],
    * which sees the restore as the inverse of what it undid) until
    * [[vacuum]] ages them out, and re-referencing the old files
    * protects them from vacuum for as long as the restore commit is
    * retained. Pure metadata — zero data files are read, written, or
    * moved. CAS at the current head, so a concurrent writer's commit
    * fails the restore loudly rather than being silently discarded.
    */
  def restoreManifested(spark: SparkSession, path: String, toVersion: Int): Int = {
    val (fs, root) = fsFor(spark, path)
    val latest = headVersion(fs, root, path)
    if (toVersion == latest) return latest
    val files = readManifest(spark, path, Some(toVersion)).getOrElse(
      throw new IllegalArgumentException(
        s"cannot restore: version $toVersion is not a committed manifest " +
          s"under $path (vacuumed or never committed)"))
    // the dv header is part of the restored snapshot's row-visibility
    // contract — a restore that dropped it would resurrect rows
    val dvs = dvList(spark, path, Some(toVersion))
    commitManifest(spark, path, files, Some(latest),
      headers = if (dvs.isEmpty) Map.empty
        else Map(DvHeaderKey -> dvs.mkString(",")))
  }

  // ---------------------------------------------------------------
  // lk27: write-audit-publish — stage data files invisibly, audit
  // the would-be snapshot, publish (or abandon) atomically.

  private val StagedPrefix = "._graft_staged."

  private def stagedRefPath(root: org.apache.hadoop.fs.Path, name: String) = {
    require(name.nonEmpty && name.forall(c =>
      c.isLetterOrDigit || c == '-' || c == '_' || c == '.'),
      s"stage name must be [A-Za-z0-9._-]+, got '$name'")
    new org.apache.hadoop.fs.Path(root, s"$StagedPrefix$name")
  }

  /** All staged (written-but-unpublished) appends: name → new files. */
  def stagedManifests(spark: SparkSession, path: String): Map[String, Seq[String]] = {
    val (fs, root) = fsFor(spark, path)
    if (!fs.exists(root)) Map.empty
    else fs.listStatus(root).toSeq
      .filter(s => s.isFile && s.getPath.getName.startsWith(StagedPrefix))
      .map { s =>
        s.getPath.getName.stripPrefix(StagedPrefix) ->
          manifestLines(fs, s.getPath).filterNot(_.startsWith("#"))
      }.toMap
  }

  /** Stage an append WITHOUT publishing it — the W of
    * write-audit-publish. The rows are written into the live lake
    * layout (aside-then-rename, like a merge's rewrite), but no
    * manifest references them, so every reader — [[readManifested]],
    * time travel, streams pinned to a snapshot — is untouched: the
    * manifest gate IS the staging mechanism, no second storage tier.
    * The staging ref records only the NEW files (a delta, not a
    * snapshot), which is what makes [[publishStaged]] compose with
    * any number of commits that land between stage and publish.
    * Staged files are protected from [[vacuum]] by their ref (and
    * flagged by name in [[fsck]]'s accounting via the same set).
    * Fails if a stage of this name already exists — audit loops
    * re-stage under a fresh name or [[abandonStaged]] first.
    */
  def stageAppend(
      spark: SparkSession, path: String, df: DataFrame, stage: String,
      partCol: Option[String] = None,
      allowEvolution: Boolean = false): Seq[String] = {
    import org.apache.hadoop.fs.Path
    val (fs, root) = fsFor(spark, path)
    if (!fs.exists(root)) fs.mkdirs(root)
    val ref = stagedRefPath(root, stage)
    if (fs.exists(ref))
      throw new IllegalStateException(
        s"stage '$stage' already exists under $path; publish or abandon it first")
    schemaGate(spark, path, readManifest(spark, path, None), df, allowEvolution)
    val moved = writeDataFiles(spark, path, df, partCol)
    writeAtomic(fs, ref, moved.mkString("", "\n", "\n"))
    moved
  }

  /** lk33: schema ENFORCEMENT at an append gate — a lake that
    * accepts any shape eventually can't read itself. Against the
    * given snapshot listing: every existing column must arrive with
    * the SAME type (a type flip would poison mixed-file reads), no
    * existing column may be silently dropped (a default
    * readManifested samples one footer — files missing columns make
    * the visible schema depend on which file Spark sampled), and
    * NEW columns are additive evolution, which must be asked for
    * (`allowEvolution = true`, read back via mergeSchema — lk17).
    */
  /** Nullability-insensitive view of a type for the gate's compare:
    * Spark's parquet reader reports array/map/struct element
    * nullability as `true` regardless of how the writer's in-memory
    * schema had it (an `array(lit…)` projection is containsNull =
    * false, its own read-back is containsNull = true), so strict
    * DataType equality would reject a staged batch against the
    * snapshot IT ITSELF wrote. Only the container/element TYPES can
    * poison mixed-file reads; nullability flips cannot.
    */
  private def nullNormalized(dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    dt match {
      case ArrayType(et, _) => ArrayType(nullNormalized(et), containsNull = true)
      case MapType(k, v, _) =>
        MapType(nullNormalized(k), nullNormalized(v), valueContainsNull = true)
      case StructType(fs) => StructType(fs.map(f =>
        f.copy(dataType = nullNormalized(f.dataType), nullable = true)))
      case other => other
    }
  }

  private def schemaGate(
      spark: SparkSession, path: String, listing: Option[Seq[String]],
      df: DataFrame, allowEvolution: Boolean): Unit = {
    listing.filter(_.nonEmpty).foreach { files =>
      val current = spark.read.option("basePath", path)
        .option("mergeSchema", true)
        .parquet(files.map(f => s"$path/$f"): _*).schema
      val incoming = df.schema
      current.fields.foreach { f =>
        incoming.fields.find(_.name == f.name) match {
          case None => throw new IllegalArgumentException(
            s"stageAppend schema violation: column '${f.name}' of the snapshot " +
              s"is missing from the staged batch (files missing columns make " +
              s"reads sample-dependent); supply it, null-filled if needed")
          case Some(in) if nullNormalized(in.dataType) != nullNormalized(f.dataType) =>
            throw new IllegalArgumentException(
              s"stageAppend schema violation: column '${f.name}' is " +
                s"${f.dataType.simpleString} in the snapshot but " +
                s"${in.dataType.simpleString} in the staged batch")
          case _ => ()
        }
      }
      val extras = incoming.fields.map(_.name).toSet -- current.fields.map(_.name).toSet
      if (extras.nonEmpty && !allowEvolution)
        throw new IllegalArgumentException(
          s"stageAppend schema violation: new column(s) ${extras.mkString(", ")} " +
            "need allowEvolution = true (additive schema evolution, lk17)")
    }
  }

  /** Write `df`'s rows as data files in the lake's partition layout
    * WITHOUT referencing them anywhere — invisible to every reader
    * until some listing (a staged ref, a branch commit, a manifest)
    * adopts the returned lake-relative paths. Crash before adoption
    * leaves vacuum-collectable orphans, never partial visibility.
    */
  private def writeDataFiles(
      spark: SparkSession, path: String, df: DataFrame,
      partCol: Option[String]): Seq[String] = {
    import org.apache.hadoop.fs.Path
    val (fs, root) = fsFor(spark, path)
    val aside = new Path(root, s".stage_${java.util.UUID.randomUUID().toString.take(12)}")
    val moved: Seq[String] = partCol match {
      case Some(pc) =>
        df.repartition(col(pc))
          .write.mode("overwrite").partitionBy(pc).parquet(aside.toString)
        val m = fs.listStatus(aside)
          .filter(isPartitionDir)
          .flatMap { d =>
            val dst = new Path(root, d.getPath.getName)
            if (!fs.exists(dst)) fs.mkdirs(dst)
            fs.listStatus(d.getPath)
              .filter(f => f.isFile && f.getPath.getName.startsWith("part-"))
              .map { f =>
                renameOrThrow(fs, f.getPath, new Path(dst, f.getPath.getName))
                s"${d.getPath.getName}/${f.getPath.getName}"
              }
          }.toSeq
        fs.delete(aside, true)
        m
      case None =>
        df.write.mode("overwrite").parquet(aside.toString)
        val m = fs.listStatus(aside)
          .filter(f => f.isFile && f.getPath.getName.startsWith("part-"))
          .map { f =>
            renameOrThrow(fs, f.getPath, new Path(root, f.getPath.getName))
            f.getPath.getName
          }.toSeq
        fs.delete(aside, true)
        m
    }
    moved.sorted
  }

  /** lk35: declarative row-level constraint report over a staged
    * delta — the audit half of write-audit-publish made a reusable
    * contract instead of an ad-hoc query: NOT NULL columns, value
    * ranges, and key uniqueness (both within the delta and against
    * the committed head — history is admitted, only NEW violations
    * block). Every check is a distributed map-side-combined count
    * over the churn-sized delta (the head participates only through
    * one key-projected semi-join); only (constraint, count) pairs
    * reach the driver. Returns one row per configured constraint.
    */
  def constraintViolations(
      delta: DataFrame, head: Option[DataFrame],
      notNull: Seq[String], uniqueKey: Seq[String],
      ranges: Map[String, (Double, Double)] = Map.empty): DataFrame = {
    val spark = delta.sparkSession
    import spark.implicits._
    val checks = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    // every scalar constraint folds into ONE aggregate pass over the
    // delta (k constraints must not mean k delta scans)
    val scalar: Seq[(String, Column)] =
      notNull.map(c => s"not_null($c)" ->
        sum(when(col(c).isNull, 1L).otherwise(0L))) ++
      ranges.toSeq.sortBy(_._1).map { case (c, (lo, hi)) =>
        s"range($c in [$lo,$hi])" ->
          sum(when(col(c).isNotNull && !col(c).between(lo, hi), 1L).otherwise(0L))
      }
    if (scalar.nonEmpty) {
      val row = delta.agg(scalar.head._2.as("c0"),
        scalar.tail.zipWithIndex.map { case ((_, e), i) => e.as(s"c${i + 1}") }: _*)
        .head()
      scalar.zipWithIndex.foreach { case ((name, _), i) =>
        checks += name -> (if (row.isNullAt(i)) 0L else row.getLong(i))
      }
    }
    if (uniqueKey.nonEmpty) {
      val keyCols = uniqueKey.map(col)
      val dupWithin = delta.groupBy(keyCols: _*)
        .agg(count(lit(1)).as("__n")).where(col("__n") > 1).count()
      checks += s"unique(${uniqueKey.mkString(",")}) within batch" -> dupWithin
      head.foreach { h =>
        val clash = delta.select(keyCols: _*).distinct()
          .join(h.select(keyCols: _*), uniqueKey, "left_semi").count()
        checks += s"unique(${uniqueKey.mkString(",")}) vs head" -> clash
      }
    }
    checks.toSeq.toDF("constraint", "n_violations")
  }

  /** lk35: publish a staged batch only if it passes its constraints —
    * [[publishStaged]] with [[constraintViolations]] as the gate. A
    * violation refuses the publish LOUDLY, naming every failed
    * constraint and its count; the stage stays intact for triage
    * ([[readStaged]]) or [[abandonStaged]] — and because staging is
    * invisible to readers, a refused batch never poisons a snapshot,
    * which is the entire point of auditing before the CAS commit.
    * The check runs inside each rebase attempt, against the version
    * that attempt's CAS expects: a commit landing between check and
    * CAS fails the CAS, and the rebase re-checks against the new head.
    */
  def publishStagedChecked(
      spark: SparkSession, path: String, stage: String,
      notNull: Seq[String] = Seq.empty, uniqueKey: Seq[String] = Seq.empty,
      ranges: Map[String, (Double, Double)] = Map.empty): Int = {
    val (fs, root) = fsFor(spark, path)
    val staged = stagedManifests(spark, path).getOrElse(stage,
      throw new IllegalArgumentException(s"no stage '$stage' under $path"))
    val delta = spark.read.option("basePath", path)
      .parquet(staged.map(f => s"$path/$f"): _*)
    val committed = rebasing("publishStagedChecked", path) {
      val head = latestVersion(fs, root)
      // the head side is the MERGE-ON-READ view: a key whose only
      // occurrence is tombstoned by a pending deletion vector is gone
      // for every reader, so it must not count as a uniqueness clash
      val headView = head
        .filter(v => readManifest(spark, path, Some(v)).exists(_.nonEmpty))
        .map(v => readManifestedMoR(spark, path, Some(v)))
      val bad = constraintViolations(delta, headView, notNull, uniqueKey, ranges)
        .where(col("n_violations") > 0)
        .collect().map(r => s"${r.getString(0)}: ${r.getLong(1)}")
      if (bad.nonEmpty)
        throw new IllegalStateException(
          s"publish of stage '$stage' refused — constraint violations: ${bad.mkString("; ")}")
      appendOntoHead(spark, path, head.getOrElse(0), staged, Map.empty)
    }
    fs.delete(stagedRefPath(root, stage), false)
    committed
  }

  /** Audit view: the snapshot [[publishStaged]] WOULD commit right
    * now — the current head's files plus the stage's new files. This
    * is where the quality gates run (row counts, t17-style rules,
    * schema checks) before any reader can observe the rows.
    */
  def readStaged(
      spark: SparkSession, path: String, stage: String,
      mergeSchema: Boolean = false): DataFrame = {
    val staged = stagedManifests(spark, path).getOrElse(stage,
      throw new IllegalArgumentException(s"no stage '$stage' under $path"))
    val base = readManifest(spark, path, None).getOrElse(Seq.empty)
    spark.read.option("basePath", path)
      .option("mergeSchema", mergeSchema)
      .parquet((base ++ staged).map(f => s"$path/$f"): _*)
  }

  /** Publish a staged append atomically — the P of
    * write-audit-publish. One CAS manifest commit makes head + staged
    * files the new snapshot; readers flip from seeing none of the
    * staged rows to all of them. Because the stage recorded a DELTA,
    * a concurrent commit landing between stage and publish just means
    * a rebase onto the new head ([[rebasing]]) — append-only staging
    * composes with any interleaving, nothing is lost on either side.
    * The staging ref is deleted after the commit (publish is
    * idempotent in effect: a crash between commit and ref-delete
    * leaves a stale ref whose re-publish would double-reference the
    * same files — guarded by dropping already-referenced files from
    * the delta). Caller `headers` (e.g. st39's stream-batch marker)
    * ride the same commit.
    */
  def publishStaged(
      spark: SparkSession, path: String, stage: String,
      headers: Map[String, String] = Map.empty): Int = {
    val (fs, root) = fsFor(spark, path)
    val staged = stagedManifests(spark, path).getOrElse(stage,
      throw new IllegalArgumentException(s"no stage '$stage' under $path"))
    val committed = rebasing("publishStaged", path)(
      appendOntoHead(spark, path, latestVersion(fs, root).getOrElse(0), staged, headers))
    fs.delete(stagedRefPath(root, stage), false)
    committed
  }

  /** One append attempt onto main at `head` (0 = nothing committed
    * yet), shared by [[publishStaged]], [[publishStagedChecked]] and
    * [[publishBranchRebase]]: files `head` already references are
    * dropped (the crash-replay guard), the head's pending deletion
    * vectors ride along (an append changes no existing file, but MoR
    * readers of the new head must not see deleted rows return), and
    * head ++ delta is CASed at `head` — or `head` is returned when
    * nothing is new.
    */
  private def appendOntoHead(
      spark: SparkSession, path: String, head: Int, files: Seq[String],
      headers: Map[String, String]): Int = {
    val (base, dvs) =
      if (head == 0) (Seq.empty[String], Seq.empty[String])
      else (readManifest(spark, path, Some(head)).get, dvList(spark, path, Some(head)))
    val delta = files.filterNot(base.toSet)
    if (delta.isEmpty) head
    else commitManifest(spark, path, base ++ delta, Some(head),
      headers = headers ++ (if (dvs.isEmpty) Map.empty[String, String]
        else Map(DvHeaderKey -> dvs.mkString(","))))
  }

  /** Drop a staged append without publishing: deletes the staged data
    * files (they were never visible) and the ref. The A-said-no path.
    */
  def abandonStaged(spark: SparkSession, path: String, stage: String): Seq[String] = {
    import org.apache.hadoop.fs.Path
    val (fs, root) = fsFor(spark, path)
    val staged = stagedManifests(spark, path).getOrElse(stage, Seq.empty)
    // only delete files no committed manifest references (a crashed
    // publish may have committed before deleting the ref)
    val referenced = manifestVersions(fs, root).flatMap { case (v, _) =>
      readManifest(spark, path, Some(v)).getOrElse(Seq.empty)
    }.toSet
    val doomed = staged.filterNot(referenced)
    doomed.foreach(f => fs.delete(new Path(root, f), false))
    fs.delete(stagedRefPath(root, stage), false)
    doomed
  }

  /** The commit tail of the index-gated ingest family (lk41–lk47):
    * publish the admitted rows to the data lake, THEN `indexRows` to
    * the index lake, each as one staged-append commit under a shared
    * random stage name. Data first is the crash-window contract
    * documented on [[graft.operators.Dedup.indexedIngest]]: a crash
    * between the two commits can admit a future duplicate, never lose
    * a row. Returns (dataVersion, indexVersion), or (0, 0) when
    * `nAdmitted` is 0 — nothing is committed and real versions start
    * at 1.
    */
  def publishDataThenIndex(
      spark: SparkSession, dataPath: String, indexPath: String,
      stagePrefix: String, nAdmitted: Long,
      admitted: DataFrame, indexRows: DataFrame): (Int, Int) =
    if (nAdmitted == 0) (0, 0)
    else {
      val stage = s"${stagePrefix}_${java.util.UUID.randomUUID().toString.take(8)}"
      stageAppend(spark, dataPath, admitted, stage)
      val dataVersion = publishStaged(spark, dataPath, stage)
      stageAppend(spark, indexPath, indexRows, stage)
      (dataVersion, publishStaged(spark, indexPath, stage))
    }

  // ---------------------------------------------------------------
  // lk38: branches — multi-commit isolation over the manifest log
  // (the WAP stage generalized from one pending append to a chain of
  // commits). A branch is its own versioned listing chain
  // `_graft_branch_<name>.v<N>` forked from a main snapshot: branch
  // commits are invisible to main readers, main commits are
  // invisible to branch readers, and publish is ONE fast-forward CAS
  // onto main at the fork version — if main moved since the fork,
  // publish conflicts loudly (a full-replace cannot rebase a
  // concurrent delta; re-branch from the new head and replay). Data
  // files land in the shared partition layout but are referenced
  // only by branch listings until publish; vacuum and fsck treat
  // branch-referenced files as live.

  private def branchName(name: String): String = {
    require(name.nonEmpty && name.forall(c =>
      c.isLetterOrDigit || c == '-' || c == '_'),
      s"branch name must be [A-Za-z0-9_-]+, got '$name'")
    s"_graft_branch_${name}.v"
  }

  private def branchVersions(
      fs: org.apache.hadoop.fs.FileSystem, root: org.apache.hadoop.fs.Path,
      name: String): Seq[(Int, org.apache.hadoop.fs.Path)] = {
    val prefix = branchName(name)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq
      .filter(s => s.isFile && s.getPath.getName.startsWith(prefix))
      .map(s => s.getPath.getName.stripPrefix(prefix).toInt -> s.getPath)
      .sortBy(_._1)
  }

  /** Fork a branch from a main snapshot (the current one by
    * default). Branch v1 is that snapshot's listing; the fork
    * version and any pending deletion vectors travel in the branch
    * headers. Returns the branch version (1).
    */
  def createBranch(
      spark: SparkSession, path: String, name: String,
      fromVersion: Option[Int] = None): Int = {
    val (fs, root) = fsFor(spark, path)
    require(branchVersions(fs, root, name).isEmpty,
      s"branch '$name' already exists under $path; publish or drop it first")
    val latest = headVersion(fs, root, path)
    val fork = fromVersion.getOrElse(latest)
    val files = readManifest(spark, path, Some(fork)).get
    val dvs = dvList(spark, path, Some(fork))
    val headers = Map("fork" -> fork.toString) ++
      (if (dvs.isEmpty) Map.empty else Map(DvHeaderKey -> dvs.mkString(",")))
    atomicPublishListing(fs, root, s"${branchName(name)}1", files, headers,
      s"branch '$name' v1 already committed by a concurrent writer under $path")
    1
  }

  /** All branches: name → (head version, fork version). */
  def branches(spark: SparkSession, path: String): Map[String, Seq[Int]] = {
    val (fs, root) = fsFor(spark, path)
    if (!fs.exists(root)) return Map.empty
    val pat = "^_graft_branch_([A-Za-z0-9_-]+)\\.v(\\d+)$".r
    fs.listStatus(root).toSeq.flatMap { s =>
      s.getPath.getName match {
        case pat(n, v) => Some(n -> v.toInt)
        case _ => None
      }
    }.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
  }

  private def branchListing(
      spark: SparkSession, path: String, name: String,
      version: Option[Int]): (Int, Seq[String], Map[String, String]) = {
    val (fs, root) = fsFor(spark, path)
    val versions = branchVersions(fs, root, name)
    require(versions.nonEmpty, s"no branch '$name' under $path")
    val (v, p) = version.map(w => versions.find(_._1 == w).getOrElse(
      throw new IllegalArgumentException(
        s"branch '$name' version $w not found under $path")))
      .getOrElse(versions.last)
    val lines = manifestLines(fs, p)
    val headers = lines.filter(_.startsWith("# ")).flatMap { l =>
      val kv = l.stripPrefix("# "); val i = kv.indexOf('=')
      if (i > 0) Some(kv.take(i) -> kv.drop(i + 1)) else None
    }.toMap
    (v, lines.filterNot(_.startsWith("#")), headers)
  }

  /** Append `df` to a branch: data files are written invisibly into
    * the shared layout (schema-gated against the BRANCH head, lk33),
    * then one CAS branch commit adopts them. Main readers never see
    * them. Returns the new branch version.
    */
  def appendBranch(
      spark: SparkSession, path: String, name: String, df: DataFrame,
      partCol: Option[String] = None,
      allowEvolution: Boolean = false): Int = {
    val (fs, root) = fsFor(spark, path)
    schemaGate(spark, path, Some(branchListing(spark, path, name, None)._2),
      df, allowEvolution)
    // the data files are written ONCE; a CAS loser rebases by
    // re-reading the branch head and re-adopting the same files —
    // appends compose, so unlike publishBranch this retry is safe
    val moved = writeDataFiles(spark, path, df, partCol)
    rebasing("appendBranch", s"$path/$name") {
      val (v, base, headers) = branchListing(spark, path, name, None)
      val carried = headers.view.filterKeys(k => k == "fork" || k == DvHeaderKey).toMap
      atomicPublishListing(fs, root, s"${branchName(name)}${v + 1}",
        base ++ moved, carried,
        s"branch '$name' version ${v + 1} already committed by a concurrent writer under $path")
      v + 1
    }
  }

  /** Read a branch head (or an explicit branch version) — the
    * branch-side twin of [[readManifested]]. Deletion vectors
    * pending at the fork travel in the branch header; the read
    * applies them merge-on-read style, so a branch forked before
    * materialization never resurrects vector-deleted rows.
    *
    * CONTRACT for main-side deletes AFTER the fork: branch reads are
    * snapshot-isolated at the fork — a mid-branch `deleteVectored`
    * on main is invisible here, exactly as mid-branch main APPENDS
    * are (this is the branch's reason to exist, not resurrection:
    * the rows were live in the forked snapshot). The deletes cannot
    * be lost at publication either: [[publishBranch]]'s fast-forward
    * refuses because main moved, and [[publishBranchRebase]] adopts
    * the CURRENT head's dv header, so the published main head keeps
    * the deletes and gains only the branch's appended files. Pinned
    * by the lk38 mid-branch-delete spec (ConcurrencySpec).
    */
  def readBranch(
      spark: SparkSession, path: String, name: String,
      version: Option[Int] = None, mergeSchema: Boolean = false): DataFrame = {
    val (_, files, headers) = branchListing(spark, path, name, version)
    val base = spark.read.option("basePath", path)
      .option("mergeSchema", mergeSchema)
      .parquet(files.map(f => s"$path/$f"): _*)
    val dvs = headers.get(DvHeaderKey).toSeq
      .flatMap(_.split(',')).filter(_.nonEmpty)
    applyDvAntiJoin(spark, path, base, dvs)
  }

  /** Publish a branch: ONE fast-forward CAS makes the branch head
    * the next MAIN snapshot, succeeding only if main is still at the
    * fork version — main having moved means the branch's view is
    * stale, and silently overwriting would drop the concurrent
    * commits, so the publish throws [[ManifestConflictException]]
    * instead (re-branch from the new head and replay). Branch
    * listings are deleted after the commit; the published listing
    * lives in main. Returns the committed main version.
    */
  def publishBranch(spark: SparkSession, path: String, name: String): Int = {
    val (fs, root) = fsFor(spark, path)
    val (_, files, headers) = branchListing(spark, path, name, None)
    val fork = headers.getOrElse("fork",
      throw new IllegalStateException(
        s"branch '$name' under $path has no fork header")).toInt
    val dvHeaders = headers.get(DvHeaderKey)
      .map(v => Map(DvHeaderKey -> v)).getOrElse(Map.empty[String, String])
    val committed = commitManifest(spark, path, files, Some(fork), dvHeaders)
    branchVersions(fs, root, name).foreach { case (_, p) => fs.delete(p, false) }
    committed
  }

  /** Publish an APPEND-ONLY branch atop a moved main — the delta
    * rebase [[publishBranch]]'s fast-forward refuses. A branch whose
    * every commit only added files carries a well-defined delta
    * (head listing minus fork listing), and appends compose with any
    * interleaving (the [[publishStaged]] argument, generalized from
    * one pending stage to a branch chain), so the publish re-reads
    * the CURRENT main head and commits head ++ delta through the same
    * append attempt — concurrent main commits just mean a rebase
    * ([[rebasing]]), and the current head's pending deletion vectors
    * ride along (the fork's dv header is stale by construction: main
    * owns those files now). A branch that rewrote or dropped any fork file
    * refuses loudly — a replace cannot rebase a concurrent delta;
    * use [[publishBranch]] at the fork head or re-branch and replay.
    * Returns the committed main version.
    */
  def publishBranchRebase(spark: SparkSession, path: String, name: String): Int = {
    val (fs, root) = fsFor(spark, path)
    val (_, files, headers) = branchListing(spark, path, name, None)
    val fork = headers.getOrElse("fork",
      throw new IllegalStateException(
        s"branch '$name' under $path has no fork header")).toInt
    val forkFiles = readManifest(spark, path, Some(fork)).getOrElse(Seq.empty)
    val removed = forkFiles.filterNot(files.toSet)
    require(removed.isEmpty,
      s"branch '$name' is not append-only (missing ${removed.length} fork " +
        s"file(s), e.g. ${removed.take(3).mkString(", ")}); a rewrite cannot " +
        "rebase onto a moved main — publishBranch at the fork head or re-branch")
    val branchDelta = files.filterNot(forkFiles.toSet)
    val committed = rebasing("publishBranchRebase", s"$path/$name")(
      appendOntoHead(spark, path, headVersion(fs, root, path), branchDelta, Map.empty))
    branchVersions(fs, root, name).foreach { case (_, p) => fs.delete(p, false) }
    committed
  }

  /** Drop a branch without publishing: its listings are deleted and
    * any files only it referenced become vacuum-collectable orphans.
    */
  def dropBranch(spark: SparkSession, path: String, name: String): Int = {
    val (fs, root) = fsFor(spark, path)
    val versions = branchVersions(fs, root, name)
    versions.foreach { case (_, p) => fs.delete(p, false) }
    versions.length
  }

  /** Every lake-relative path referenced by ANY branch version —
    * branch-referenced files are live for vacuum/fsck purposes.
    */
  private def allBranchFiles(spark: SparkSession, path: String): Seq[String] =
    branches(spark, path).toSeq.flatMap { case (n, vs) =>
      vs.flatMap(v => branchListing(spark, path, n, Some(v))._2)
    }

  // ---------------------------------------------------------------
  // lk32: partition-spec evolution.

  /** Rewrite the CURRENT snapshot under a NEW partition column as one
    * atomic commit — partition-spec evolution, the fix when the
    * original layout stops matching the dominant query key (a lake
    * partitioned by ingest date being range-read by tenant, say).
    * `partCol` must be a column of the snapshot (partition columns of
    * the OLD layout materialize into the data files, so nothing is
    * lost). The rewrite stages through the WAP machinery — new files
    * land invisibly under `partCol=...` directories — and one CAS
    * full-replace manifest commit flips the snapshot; concurrent
    * commits conflict loudly (a full rewrite cannot rebase a
    * concurrent delta — re-run against the new head). Every older
    * version keeps reading its own layout: the manifest's relative
    * paths make mixed layouts across versions a non-event, and
    * directory pruning on the new column starts working for every
    * reader of the new head.
    */
  def repartitionManifested(
      spark: SparkSession, path: String, partCol: String): Int = {
    val (fs, root) = fsFor(spark, path)
    val base = headVersion(fs, root, path)
    requireNoPendingDv(spark, path, base, "repartitionManifested")
    val snap = readManifested(spark, path, Some(base))
    require(snap.columns.contains(partCol),
      s"partition-evolution column '$partCol' is not a column of the snapshot " +
        s"(${snap.columns.mkString(", ")})")
    val stage = s"evolve_${java.util.UUID.randomUUID().toString.take(8)}"
    val files = stageAppend(spark, path, snap, stage, Some(partCol))
    try commitManifest(spark, path, files, Some(base))
    finally abandonStaged(spark, path, stage)
  }

  /** lk36: re-cluster the CURRENT snapshot by a sort column as one
    * atomic commit — the remedy [[clusteringReport]] recommends when
    * interleaved writes have destroyed range locality (every file
    * spanning the full key range means a selective predicate still
    * reads every file, lk21/lk29 skipping included). The snapshot is
    * rewritten range-partitioned + sorted on `sortCol` (each output
    * file owns a compact slice), staged invisibly through the WAP
    * machinery, and flipped by one CAS full-replace manifest commit —
    * [[repartitionManifested]]'s sibling, sorting WITHIN a layout
    * instead of changing the partition spec. Concurrent commits
    * conflict loudly (a full rewrite cannot rebase a delta); every
    * older version keeps reading its own layout; run
    * [[buildFileStats]] on the new version and skipping starts
    * working immediately.
    */
  def reclusterManifested(
      spark: SparkSession, path: String, sortCol: String,
      numFiles: Int): Int = {
    val (fs, root) = fsFor(spark, path)
    val base = headVersion(fs, root, path)
    requireNoPendingDv(spark, path, base, "reclusterManifested")
    val snap = readManifested(spark, path, Some(base))
    require(snap.columns.contains(sortCol),
      s"recluster column '$sortCol' is not a column of the snapshot " +
        s"(${snap.columns.mkString(", ")})")
    val sorted = snap
      .repartitionByRange(numFiles, col(sortCol))
      .sortWithinPartitions(sortCol)
    val stage = s"recluster_${java.util.UUID.randomUUID().toString.take(8)}"
    val files = stageAppend(spark, path, sorted, stage, None)
    try commitManifest(spark, path, files, Some(base))
    finally abandonStaged(spark, path, stage)
  }

  // ---------------------------------------------------------------
  // lk28: lake health report — the compaction planner's input.

  /** Read-only lake health report over the CURRENT snapshot: one row
    * per partition directory (`"<root>"` for unpartitioned files)
    * with file count, byte totals, small-file count/share, and a
    * `needs_compaction` flag (≥ 2 files under `smallFileBytes`). All
    * inputs are the manifest listing plus one `getFileStatus` per
    * referenced file — metadata reads only, zero data scanned, cost
    * bounded by the manifest, not the lake. This is the report that
    * decides WHERE [[compactManifested]] is worth running (small
    * files are the #1 silent scan-cost multiplier at 100 TB: each
    * carries footer/open overhead and breaks row-group-sized reads).
    */
  def lakeHealth(
      spark: SparkSession, path: String,
      smallFileBytes: Long = 32L * 1024 * 1024): DataFrame = {
    import org.apache.hadoop.fs.Path
    val (fs, root) = fsFor(spark, path)
    val files = readManifest(spark, path, None).getOrElse(
      throw new IllegalStateException(s"no committed manifest under $path"))
    val rows = files.map { f =>
      val part = f.split('/') match {
        case Array(dir, _) => dir
        case _ => "<root>"
      }
      (part, fs.getFileStatus(new Path(root, f)).getLen)
    }
    import spark.implicits._
    rows.toDF("partition", "bytes")
      .groupBy("partition")
      .agg(
        count(lit(1)).as("n_files"),
        sum(col("bytes")).as("total_bytes"),
        sum(when(col("bytes") < smallFileBytes, 1L).otherwise(0L)).as("small_files"),
        (sum(col("bytes")) / count(lit(1))).cast("long").as("avg_bytes"))
      .withColumn("needs_compaction", col("small_files") >= 2)
      .orderBy("partition")
  }

  // ---------------------------------------------------------------
  // lk21: file-level min/max stats + data-skipping manifested reads.
  //
  // A stats sidecar `_graft_stats.v<N>` (TSV: file, column, type,
  // min, max) records per-file ranges for chosen columns, harvested
  // from the parquet FOOTERS of the version-N snapshot — metadata
  // reads only, no data scan. readManifestedPruned then plans a
  // range query over exactly the files whose [min, max] intersects
  // it. With z-ordered or time-ordered layouts (zorderWrite /
  // writePartitioned sortCols) this is the Iceberg-style skip: a
  // narrow predicate reads a handful of files instead of
  // listing-everything-and-letting-row-group-pruning work it out
  // per task. Files with no stats row for the column (evolved
  // schema, missing footer stats) are conservatively KEPT.
  //
  // Type tags keep comparisons exact: `long` rows (INT32/INT64,
  // epoch-nanos, snowflake ids) are stored and compared as longs —
  // never coerced through Double, whose 2^53 mantissa would round a
  // file's recorded max below its true max and silently skip a
  // matching file. `date` rows carry epoch days; `str` rows carry
  // base64-encoded UTF-8 bounds compared unsigned-lexicographically
  // (parquet's UTF8 comparator ≡ Spark's UTF8String ordering);
  // `num` rows are FLOAT/DOUBLE.
  // ---------------------------------------------------------------

  private val StatsPrefix = "_graft_stats.v"

  /** Harvest per-file min/max footer statistics for `cols`
    * (INT32/INT64/FLOAT/DOUBLE, DATE, and UTF-8 string columns) of a
    * committed snapshot, and publish them as the version's stats
    * sidecar.
    * Footer reads are DISTRIBUTED — the file list parallelizes over
    * the cluster and each task reads only its files' footers (a few
    * KB of metadata each), so a 100 TB lake's ~10^5-file manifest
    * harvests in one short job instead of a driver loop; only the
    * finished (file, col, min, max) rows come back to the driver
    * (stat-sidecar-sized by definition). Returns the number of stat
    * rows written.
    */
  def buildFileStats(
      spark: SparkSession, path: String, cols: Seq[String],
      version: Option[Int] = None): Int = {
    import org.apache.hadoop.fs.Path
    val (fs, root) = fsFor(spark, path)
    val v = version.getOrElse(headVersion(fs, root, path))
    val files = readManifest(spark, path, Some(v)).get
    val rows = harvestFooterStats(spark, root.toString, files, cols.toSet)
    val target = new Path(root, s"$StatsPrefix$v")
    // merge with an existing sidecar: this call's columns replace
    // their old rows, other columns' stats survive
    val carried =
      if (!fs.exists(target)) Seq.empty
      else manifestLines(fs, target)
        .filterNot(l => cols.contains(l.split('\t')(1)))
    writeAtomic(fs, target, (carried ++ rows).mkString("", "\n", "\n"))
    rows.size
  }

  /** Distributed footer harvest over an explicit file list: the list
    * parallelizes, each task reads only its files' footers (KBs of
    * metadata), and only finished stat rows return to the driver.
    */
  private def harvestFooterStats(
      spark: SparkSession, rootStr: String, files: Seq[String],
      colSet: Set[String]): Seq[String] = {
    if (files.isEmpty) return Seq.empty
    // Hadoop Configuration is not Serializable (and Spark's wrapper is
    // private[spark]) — ship the entries and rebuild per partition
    val confEntries = {
      import scala.jdk.CollectionConverters._
      spark.sessionState.newHadoopConf().asScala
        .map(e => e.getKey -> e.getValue).toArray
    }
    val slices = math.max(1, math.min(files.size,
      spark.sparkContext.defaultParallelism * 4))
    spark.sparkContext.parallelize(files, slices)
      .mapPartitions { it =>
        val conf = new org.apache.hadoop.conf.Configuration(false)
        confEntries.foreach { case (k, vl) => conf.set(k, vl) }
        it.flatMap(f => footerStats(rootStr, f, colSet, conf))
      }
      .collect().toSeq
  }

  /** lk30: INCREMENTAL stats harvest — the maintenance-cost fix for a
    * lake that commits often: a copy-on-write commit (merge, delete,
    * compaction, append) carries most files byte-identical, and a
    * carried file's footer stats are immutable, so re-reading its
    * footer is pure waste — at 10^5 files and a daily merge touching
    * one partition, a full [[buildFileStats]] re-reads ~10^5 footers
    * to learn ~10 new rows. This variant copies the previous
    * sidecar's rows for files still present in the target snapshot
    * and harvests footers ONLY for files with no carried row —
    * maintenance cost proportional to CHURN, not lake size, the same
    * contract [[readIncremental]]/[[changeFeed]] give readers.
    * Returns the number of freshly harvested rows.
    */
  def buildFileStatsIncremental(
      spark: SparkSession, path: String, cols: Seq[String],
      version: Option[Int] = None): Int = {
    import org.apache.hadoop.fs.Path
    val (fs, root) = fsFor(spark, path)
    val v = version.getOrElse(headVersion(fs, root, path))
    val files = readManifest(spark, path, Some(v)).get.toSet
    // newest older version that still has a sidecar to inherit from
    val prev = manifestVersions(fs, root).map(_._1)
      .filter(_ < v).sorted.reverse
      .find(pv => fs.exists(new Path(root, s"$StatsPrefix$pv")))
    val inherited = prev.toSeq.flatMap { pv =>
      manifestLines(fs, new Path(root, s"$StatsPrefix$pv"))
        .filter { l =>
          val p = l.split('\t')
          files.contains(p(0)) && cols.contains(p(1))
        }
    }
    // churn = the manifest diff (readIncremental's contract): a file
    // in the previous snapshot inherits its rows — including the
    // legitimate absence of a row for a stats-less column, which a
    // re-harvest would just re-discover
    val prevFiles = prev.map(pv =>
      readManifest(spark, path, Some(pv)).getOrElse(Seq.empty).toSet)
      .getOrElse(Set.empty[String])
    val fresh = harvestFooterStats(
      spark, root.toString, (files -- prevFiles).toSeq.sorted, cols.toSet)
    val target = new Path(root, s"$StatsPrefix$v")
    val carried =
      if (!fs.exists(target)) Seq.empty
      else manifestLines(fs, target)
        .filterNot(l => cols.contains(l.split('\t')(1)))
    writeAtomic(fs, target,
      (carried ++ inherited ++ fresh).mkString("", "\n", "\n"))
    fresh.size
  }

  /** lk31: exact row count from parquet FOOTERS only — `count(*)`
    * answered without touching a single data page. Every parquet
    * footer records its row-group row counts, and a manifested
    * snapshot is an exact file list, so the count is the distributed
    * sum of per-file footer totals: ~KBs of metadata per file instead
    * of a lake scan, and it works for any retained version (the
    * audit/report query a 100 TB lake answers hourly). The same
    * distributed-harvest shape as [[buildFileStats]].
    */
  def countManifested(
      spark: SparkSession, path: String, version: Option[Int] = None): Long = {
    val (fs, root) = fsFor(spark, path)
    val v = version.getOrElse(headVersion(fs, root, path))
    val files = readManifest(spark, path, Some(v)).get
    if (files.isEmpty) return 0L
    val confEntries = {
      import scala.jdk.CollectionConverters._
      spark.sessionState.newHadoopConf().asScala
        .map(e => e.getKey -> e.getValue).toArray
    }
    val rootStr = root.toString
    val slices = math.max(1, math.min(files.size,
      spark.sparkContext.defaultParallelism * 4))
    spark.sparkContext.parallelize(files, slices)
      .mapPartitions { it =>
        import org.apache.parquet.hadoop.ParquetFileReader
        import org.apache.parquet.hadoop.util.HadoopInputFile
        val conf = new org.apache.hadoop.conf.Configuration(false)
        confEntries.foreach { case (k, vl) => conf.set(k, vl) }
        it.map { f =>
          val p = new org.apache.hadoop.fs.Path(rootStr, f)
          val rd = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
          try rd.getRecordCount finally rd.close()
        }
      }
      .sum().toLong
  }

  /** lk34: clustering-quality report for one column, computed from
    * the version's stats sidecar ALONE — zero data reads, zero footer
    * reads (the sidecar already paid those). The metric family is
    * Iceberg/Snowflake-style "clustering depth": how many files'
    * [min,max] ranges overlap each file's range, and the maximum
    * number of files any single point value lands in (= the file
    * count a perfectly-selective point/range predicate must still
    * read). A freshly sorted or z-ordered layout reports near-zero
    * overlaps; as merges/appends interleave ranges the depth climbs —
    * this is the report that decides WHEN re-clustering
    * (sort-compaction / [[zorderWrite]]) is worth its rewrite cost,
    * the layout-side companion of [[lakeHealth]]'s file-size report.
    * Cost: O(F log F) over the manifest-bounded stat rows (two sorted
    * endpoint arrays + binary search per file — no F² pair loop), the
    * same driver-side bound every manifest operation carries.
    * Columns: n_files, n_with_stats, avg_file_overlaps,
    * max_file_overlaps, overlap_free_share, max_depth.
    */
  def clusteringReport(
      spark: SparkSession, path: String, column: String,
      version: Option[Int] = None): DataFrame = {
    import org.apache.hadoop.fs.Path
    val (fs, root) = fsFor(spark, path)
    val v = version.getOrElse(headVersion(fs, root, path))
    val statsPath = new Path(root, s"$StatsPrefix$v")
    if (!fs.exists(statsPath))
      throw new IllegalStateException(
        s"no stats sidecar for version $v under $path — run buildFileStats first")
    val nFiles = readManifest(spark, path, Some(v)).get.size
    // exact endpoints: long/date bounds never pass through Double
    val ranges: Seq[(BigDecimal, BigDecimal)] = manifestLines(fs, statsPath)
      .map(_.split('\t'))
      .collect {
        case Array(_, c, "long" | "date", mn, mx) if c == column =>
          (BigDecimal(BigInt(mn.toLong)), BigDecimal(BigInt(mx.toLong)))
        case Array(_, c, "num", mn, mx) if c == column =>
          (BigDecimal(mn.toDouble), BigDecimal(mx.toDouble))
      }
    val mins = ranges.map(_._1).sorted.toArray
    val maxes = ranges.map(_._2).sorted.toArray
    def countLE(a: Array[BigDecimal], x: BigDecimal): Int = {
      var lo = 0; var hi = a.length
      while (lo < hi) { val m = (lo + hi) >>> 1; if (a(m) <= x) lo = m + 1 else hi = m }
      lo
    }
    def countLT(a: Array[BigDecimal], x: BigDecimal): Int = {
      var lo = 0; var hi = a.length
      while (lo < hi) { val m = (lo + hi) >>> 1; if (a(m) < x) lo = m + 1 else hi = m }
      lo
    }
    // overlaps(i) = #(mins <= mx_i) - #(maxes < mn_i) - 1 (self)
    val overlaps = ranges.map { case (mn, mx) => countLE(mins, mx) - countLT(maxes, mn) - 1 }
    // depth is piecewise-constant and only increases at interval mins,
    // so its maximum is attained at one of them
    val maxDepth =
      if (ranges.isEmpty) 0
      else ranges.map { case (mn, _) => countLE(mins, mn) - countLT(maxes, mn) }.max
    val n = ranges.size
    import spark.implicits._
    Seq((
      nFiles.toLong, n.toLong,
      if (n == 0) 0.0 else math.round(overlaps.map(_.toLong).sum.toDouble / n * 100) / 100.0,
      if (n == 0) 0L else overlaps.max.toLong,
      if (n == 0) 0.0 else math.round(overlaps.count(_ == 0).toDouble / n * 10000) / 10000.0,
      maxDepth.toLong))
      .toDF("n_files", "n_with_stats", "avg_file_overlaps",
        "max_file_overlaps", "overlap_free_share", "max_depth")
  }

  /** Executor-side footer harvest for one file: (file, col, type,
    * min, max) TSV rows for the requested columns. Row-group chunk
    * stats aggregate to one per-file range; a column whose chunks
    * have absent or unsupported-type stats gets no row (conservative
    * keep). Type tags: `long` (INT32/INT64 — exact, never coerced to
    * Double), `date` (epoch days), `num` (FLOAT/DOUBLE), `str`
    * (base64 UTF-8 bounds).
    */
  private def footerStats(
      rootStr: String, file: String, cols: Set[String],
      conf: org.apache.hadoop.conf.Configuration): Seq[String] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.io.api.Binary
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import scala.jdk.CollectionConverters._
    val b64 = java.util.Base64.getEncoder
    val p = new org.apache.hadoop.fs.Path(rootStr, file)
    val rd = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
    try {
      rd.getFooter.getBlocks.asScala
        .flatMap(_.getColumns.asScala)
        .filter(c => cols.contains(c.getPath.toDotString))
        .groupBy(_.getPath.toDotString)
        .flatMap { case (col, chunks) =>
          val stats = chunks.map(_.getStatistics)
            .filter(s => s != null && s.hasNonNullValue)
          if (stats.isEmpty || stats.size != chunks.size) None
          else {
            val prim = chunks.head.getPrimitiveType
            val ann = prim.getLogicalTypeAnnotation
            val isDate = ann.isInstanceOf[LogicalTypeAnnotation.DateLogicalTypeAnnotation]
            val isStr = ann.isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation]
            prim.getPrimitiveTypeName match {
              case INT32 | INT64 =>
                val mins = stats.map(_.genericGetMin.asInstanceOf[Number].longValue())
                val maxs = stats.map(_.genericGetMax.asInstanceOf[Number].longValue())
                val tag = if (isDate) "date" else "long"
                Some(s"$file\t$col\t$tag\t${mins.min}\t${maxs.max}")
              case FLOAT | DOUBLE =>
                val mins = stats.map(_.genericGetMin.asInstanceOf[Number].doubleValue())
                val maxs = stats.map(_.genericGetMax.asInstanceOf[Number].doubleValue())
                Some(s"$file\t$col\tnum\t${mins.min}\t${maxs.max}")
              case BINARY if isStr =>
                val mins = stats.map(_.genericGetMin.asInstanceOf[Binary].getBytes)
                val maxs = stats.map(_.genericGetMax.asInstanceOf[Binary].getBytes)
                Some(s"$file\t$col\tstr\t" +
                  s"${b64.encodeToString(mins.min(bytesUnsignedOrdering))}\t" +
                  s"${b64.encodeToString(maxs.max(bytesUnsignedOrdering))}")
              case _ => None // boolean/int96/decimal/raw-binary: keep
            }
          }
        }.toSeq
    } finally rd.close()
  }

  /** Unsigned lexicographic byte ordering — parquet's UTF8
    * comparator semantics, which also match Spark's UTF8String
    * comparison, so string skip decisions agree with the engine's
    * predicate evaluation.
    */
  private val bytesUnsignedOrdering: Ordering[Array[Byte]] =
    (a: Array[Byte], b: Array[Byte]) => {
      val n = math.min(a.length, b.length)
      var i = 0
      while (i < n && a(i) == b(i)) i += 1
      if (i < n) (a(i) & 0xff) - (b(i) & 0xff) else a.length - b.length
    }

  /** Numeric range read with file skipping: the version's snapshot
    * restricted to files whose recorded [min, max] for `col`
    * intersects [lo, hi] (inclusive), plus any file without stats
    * (conservative). The returned plan still carries the predicate —
    * skipping only shrinks the file list, it never changes results.
    * `long`-tagged stats (INT32/INT64) compare exactly via
    * BigDecimal — a 2^63-magnitude id column never loses a file to
    * Double rounding. Requires [[buildFileStats]] for the version.
    */
  def readManifestedPruned(
      spark: SparkSession, path: String, col: String, lo: Double, hi: Double,
      version: Option[Int] = None, mergeSchema: Boolean = false): DataFrame = {
    val (bLo, bHi) = (BigDecimal(lo), BigDecimal(hi))
    prunedRead(spark, path, col, version, mergeSchema,
      keep = {
        case ("num", mn, mx)           => mx.toDouble >= lo && mn.toDouble <= hi
        case ("long" | "date", mn, mx) => BigDecimal(BigInt(mn.toLong)) <= bHi &&
                                          BigDecimal(BigInt(mx.toLong)) >= bLo
        case _                         => true // foreign type tag: keep
      },
      predicate = org.apache.spark.sql.functions.col(col).between(lo, hi))
  }

  /** Exact integer range read with file skipping: long bounds, long
    * stats, long predicate literals — no Double anywhere, so id and
    * epoch-nano columns above 2^53 prune correctly (a Double-coerced
    * max can round below the true max and silently skip a matching
    * file). Use this variant for any integer column whose values can
    * exceed 2^53.
    */
  def readManifestedPrunedLong(
      spark: SparkSession, path: String, col: String, lo: Long, hi: Long,
      version: Option[Int] = None, mergeSchema: Boolean = false): DataFrame =
    prunedRead(spark, path, col, version, mergeSchema,
      keep = {
        case ("long" | "date", mn, mx) => mx.toLong >= lo && mn.toLong <= hi
        case _                         => true
      },
      predicate = org.apache.spark.sql.functions.col(col).between(lit(lo), lit(hi)))

  /** Date range read with file skipping over a DATE-typed column.
    * `lo`/`hi` are inclusive ISO dates (`yyyy-MM-dd`); files are
    * skipped on the epoch-day bounds harvested from DATE footer
    * stats. Time predicates are the dominant prune key of a log lake
    * (the reference's `--start-time`,
    * kinesis_logs_reader/__main__.py:13-19, is exactly this shape).
    */
  def readManifestedPrunedDate(
      spark: SparkSession, path: String, col: String, lo: String, hi: String,
      version: Option[Int] = None, mergeSchema: Boolean = false): DataFrame = {
    val loDay = java.time.LocalDate.parse(lo).toEpochDay
    val hiDay = java.time.LocalDate.parse(hi).toEpochDay
    prunedRead(spark, path, col, version, mergeSchema,
      keep = {
        case ("date", mn, mx) => mx.toLong >= loDay && mn.toLong <= hiDay
        case _                => true
      },
      predicate = org.apache.spark.sql.functions.col(col)
        .between(to_date(lit(lo)), to_date(lit(hi))))
  }

  /** String range read with file skipping over a UTF-8 column: keeps
    * files whose base64-decoded [min, max] bounds intersect
    * [lo, hi] under unsigned-lexicographic byte order — the same
    * total order Spark's UTF8String comparison uses, so the skip
    * decision can never disagree with the engine's own predicate.
    * Prefix predicates (`id LIKE 'abc%'`) are the range
    * `["abc", "abc￿")` in this order.
    */
  def readManifestedPrunedString(
      spark: SparkSession, path: String, col: String, lo: String, hi: String,
      version: Option[Int] = None, mergeSchema: Boolean = false): DataFrame = {
    val b64 = java.util.Base64.getDecoder
    val loB = lo.getBytes("UTF-8")
    val hiB = hi.getBytes("UTF-8")
    val ord = bytesUnsignedOrdering
    prunedRead(spark, path, col, version, mergeSchema,
      keep = {
        case ("str", mn, mx) => ord.compare(b64.decode(mx), loB) >= 0 &&
                                ord.compare(b64.decode(mn), hiB) <= 0
        case _               => true
      },
      predicate = org.apache.spark.sql.functions.col(col).between(lo, hi))
  }

  /** Shared skip-read: restrict the version's snapshot to files whose
    * stats row for `col` passes `keep` (files with no row are kept),
    * apply `predicate` on top. The kept subset is always read with
    * the FULL snapshot's schema — under additive schema evolution a
    * pruned read returns the same columns as [[readManifested]], with
    * nulls where old files lack them.
    */
  private def prunedRead(
      spark: SparkSession, path: String, col: String, version: Option[Int],
      mergeSchema: Boolean,
      keep: ((String, String, String)) => Boolean,
      predicate: org.apache.spark.sql.Column): DataFrame = {
    import org.apache.hadoop.fs.Path
    val (fs, root) = fsFor(spark, path)
    val v = version.getOrElse(headVersion(fs, root, path))
    val statsPath = new Path(root, s"$StatsPrefix$v")
    if (!fs.exists(statsPath))
      throw new IllegalStateException(
        s"no stats sidecar for version $v under $path — run buildFileStats first")
    val ranges = manifestLines(fs, statsPath)
      .map(_.split('\t'))
      .collect { case Array(f, c, tag, mn, mx) if c == col => f -> ((tag, mn, mx)) }
      .toMap
    val files = readManifest(spark, path, Some(v)).get
    val kept = files.filter(f => ranges.get(f).forall(keep))
    val reader = spark.read.option("basePath", path)
      .option("mergeSchema", mergeSchema.toString)
    val all = reader.parquet(files.map(f => s"$path/$f"): _*)
    if (kept.isEmpty) all.where(lit(false)).where(predicate)
    else spark.read.schema(all.schema).option("basePath", path)
      .parquet(kept.map(f => s"$path/$f"): _*)
      .where(predicate)
  }

  // ---------------------------------------------------------------
  // lk29: per-file bloom sidecars — point-lookup file skipping for
  // high-cardinality keys, where min/max ranges (lk21) prune nothing
  // because every file's range spans the whole key space.

  private val BloomPrefix = "_graft_bloom.v"

  /** Build per-file bloom filters for `cols` of a committed snapshot
    * and publish them as a version-stamped parquet sidecar
    * (`_graft_bloom.v<N>/`, rows: file, col, bloom). The build is ONE
    * distributed aggregation per column — rows group by
    * `input_file_name`, fold into a bloom via the runtime-filter
    * aggregate, and only (file, bloom) rows are written, straight
    * from the executors (the sidecar never routes through the
    * driver — at 10^5 files × ~100 KB of bloom each that matters).
    *
    * Values hash through `xxhash64` with integrals CAST TO LONG
    * first, so INT32 and INT64 columns probe identically; supported
    * column types are integrals and strings (the point-lookup keys —
    * user ids, request ids, session tokens). `expectedItems` sizes
    * each per-file bloom for its expected distinct values; `numBits`
    * fixes the filter size (fpp falls as bits/item grows).
    */
  def buildFileBlooms(
      spark: SparkSession, path: String, cols: Seq[String],
      expectedItems: Long = 100000L, numBits: Long = 1000000L,
      version: Option[Int] = None): Unit = {
    graft.GraftSession.ensureRegistered(spark) // graft_bloom_agg
    val (fs, root) = fsFor(spark, path)
    val v = version.getOrElse(headVersion(fs, root, path))
    val files = readManifest(spark, path, Some(v)).get
    val full = spark.read.option("basePath", path)
      .parquet(files.map(f => s"$path/$f"): _*)
    val hashed = cols.map { c =>
      val dt = full.schema(c).dataType
      val keyExpr = dt match {
        case _: org.apache.spark.sql.types.IntegerType |
             _: org.apache.spark.sql.types.LongType |
             _: org.apache.spark.sql.types.ShortType |
             _: org.apache.spark.sql.types.ByteType => s"xxhash64(CAST(`$c` AS BIGINT))"
        case _: org.apache.spark.sql.types.StringType => s"xxhash64(`$c`)"
        case other => throw new IllegalArgumentException(
          s"buildFileBlooms supports integral and string columns; '$c' is $other")
      }
      full
        .where(col(c).isNotNull)
        .select(
          // manifest-relative name: optional one k=v partition dir + file
          regexp_extract(input_file_name(), "([^/]+=[^/]*/)?[^/]+$", 0).as("file"),
          expr(keyExpr).as("__h"))
        .groupBy("file")
        .agg(expr(s"graft_bloom_agg(__h, ${expectedItems}L, ${numBits}L)").as("bloom"))
        .select(col("file"), lit(c).as("col"), col("bloom"))
    }
    hashed.reduce(_ unionAll _)
      .write.mode("overwrite").parquet(s"$path/$BloomPrefix$v")
  }

  /** Point-lookup read with bloom file skipping over an integral
    * column: only the files whose bloom might contain `value` are
    * scanned (files without a bloom row are conservatively kept; the
    * filter is still applied, so skipping shrinks the file list,
    * never changes results — a bloom can only say "definitely not
    * here"). The probe is DISTRIBUTED: each sidecar row deserializes
    * and tests on an executor, only rejected file NAMES return to the
    * driver (manifest-bounded).
    */
  def readManifestedBloomEqLong(
      spark: SparkSession, path: String, c: String, value: Long,
      version: Option[Int] = None): DataFrame =
    bloomEqRead(spark, path, c, xxhash64(lit(value)),
      org.apache.spark.sql.functions.col(c) === lit(value), version)

  /** String variant of [[readManifestedBloomEqLong]]. */
  def readManifestedBloomEqString(
      spark: SparkSession, path: String, c: String, value: String,
      version: Option[Int] = None): DataFrame =
    bloomEqRead(spark, path, c, xxhash64(lit(value)),
      org.apache.spark.sql.functions.col(c) === lit(value), version)

  private def bloomEqRead(
      spark: SparkSession, path: String, c: String,
      hashCol: org.apache.spark.sql.Column,
      predicate: org.apache.spark.sql.Column,
      version: Option[Int]): DataFrame = {
    import org.apache.hadoop.fs.Path
    val (fs, root) = fsFor(spark, path)
    val v = version.getOrElse(headVersion(fs, root, path))
    val sidecar = new Path(root, s"$BloomPrefix$v")
    if (!fs.exists(sidecar))
      throw new IllegalStateException(
        s"no bloom sidecar for version $v under $path — run buildFileBlooms first")
    // one tiny job pins the probe hash to the exact executor-side
    // xxhash64 the build used (same type, same seed)
    val hash = spark.range(1).select(hashCol.as("h")).head().getLong(0)
    import spark.implicits._
    val rejected = spark.read.parquet(sidecar.toString)
      .where(col("col") === c)
      .select("file", "bloom").as[(String, Array[Byte])]
      .mapPartitions(_.collect {
        case (f, b) if !org.apache.spark.util.sketch.BloomFilter
          .readFrom(new java.io.ByteArrayInputStream(b)).mightContainLong(hash) => f
      })
      .collect().toSet
    val files = readManifest(spark, path, Some(v)).get
    val kept = files.filterNot(rejected)
    val reader = spark.read.option("basePath", path)
    val all = reader.parquet(files.map(f => s"$path/$f"): _*)
    if (kept.isEmpty) all.where(lit(false)).where(predicate)
    else spark.read.schema(all.schema).option("basePath", path)
      .parquet(kept.map(f => s"$path/$f"): _*)
      .where(predicate)
  }

  /** Thrown when an optimistic commit loses the race: the expected
    * version is no longer the latest, or another writer published the
    * target version first. The snapshot the loser computed from is
    * stale — re-read and recompute (what [[rebasing]] does), never
    * blind-retry the same commit. The single-CAS ops
    * ([[publishBranch]], [[restoreManifested]], [[compactManifested]],
    * [[repartitionManifested]], [[reclusterManifested]]) throw it on
    * the first conflict by design: a full replace cannot rebase a
    * concurrent delta.
    */
  final class ManifestConflictException(msg: String)
    extends java.io.IOException(msg)

  /** How many times [[rebasing]] re-runs a conflicting attempt. */
  private[graft] val MaxRebases = 8

  /** The lake's multi-writer conflict policy, written once: run
    * `attempt` — which reads the head, plans against it and CASes —
    * and when it throws [[ManifestConflictException]], log the op,
    * path and rebase number and re-run it from scratch, up to
    * [[MaxRebases]] times; then rethrow the last conflict. Any other
    * exception propagates on the first throw. A conflict means
    * another writer committed, so a writer racing n others loses at
    * most n times. An attempt must be safe to re-run: it re-reads
    * everything it plans from, and what a lost attempt wrote is
    * unreferenced garbage for [[vacuum]] unless it cleans up itself
    * ([[matviewRefresh]]).
    */
  private[graft] def rebasing[A](op: String, path: String)(attempt: => A): A = {
    @annotation.tailrec
    def run(rebases: Int): A =
      (try Right(attempt) catch {
        case e: ManifestConflictException if rebases < MaxRebases => Left(e)
      }) match {
        case Right(a) => a
        case Left(e) =>
          log.info(s"$op conflict on $path (rebase ${rebases + 1}/$MaxRebases): " +
            e.getMessage)
          run(rebases + 1)
      }
    run(0)
  }

  /** Atomically commit a new snapshot listing `files` (lake-relative)
    * as the next manifest version; returns that version.
    *
    * `expectedVersion = Some(v)` makes the commit OPTIMISTIC
    * (compare-and-swap): it publishes v+1 only if v is still the
    * latest committed version, and throws [[ManifestConflictException]]
    * otherwise — the multi-writer contract (two concurrent merges,
    * ingest racing compaction) that turns last-writer-wins silent
    * data loss into a loud, retryable conflict. `None` keeps the
    * single-writer behavior (next = latest + 1 at publish time).
    *
    * Publish is write-tmp-then-link/rename with a per-writer unique
    * tmp name, so a half-written manifest is never visible under a
    * committed name and concurrent writers never touch each other's
    * tmp. The publish step is atomic-if-absent: on HDFS-like stores
    * rename-to-existing fails by contract; on the local filesystem
    * (where POSIX rename would silently REPLACE an existing target)
    * the manifest is published via a hard link, which fails atomically
    * if the target exists — so of two racers exactly one wins.
    */
  def commitManifest(
      spark: SparkSession, path: String, files: Seq[String],
      expectedVersion: Option[Int] = None,
      headers: Map[String, String] = Map.empty): Int = {
    import org.apache.hadoop.fs.Path
    val (fs, root) = fsFor(spark, path)
    if (!fs.exists(root)) fs.mkdirs(root)
    val latest = latestVersion(fs, root).getOrElse(0)
    expectedVersion.foreach { v =>
      if (latest != v)
        throw new ManifestConflictException(
          s"manifest commit expected latest version $v but found $latest under $path")
    }
    val next = latest + 1
    atomicPublishListing(fs, root, s"$ManifestPrefix$next", files, headers,
      s"manifest version $next already committed by a concurrent writer under $path")
    next
  }

  /** Write a versioned listing (header lines + sorted file list) and
    * publish it atomic-if-absent under `targetName`: link(2) on a
    * local filesystem (POSIX rename would silently replace), rename
    * on HDFS-contract stores (fails when the destination exists).
    * Exactly one of two racers wins; the loser gets
    * [[ManifestConflictException]]. Shared by main-chain commits and
    * branch commits (lk38).
    */
  private def atomicPublishListing(
      fs: org.apache.hadoop.fs.FileSystem, root: org.apache.hadoop.fs.Path,
      targetName: String, files: Seq[String], headers: Map[String, String],
      conflictMsg: String): Unit = {
    import org.apache.hadoop.fs.Path
    // '#' header = commit metadata (readers drop '#' lines; legacy
    // manifests without one still read — see manifestLog). Extra
    // `headers` entries (e.g. the lk37 deletion-vector list, lk38's
    // fork pointer) ride the same mechanism: old readers skip them,
    // header-aware readers parse `# key=value` via [[manifestHeaders]].
    headers.keys.foreach { k =>
      require(k.nonEmpty && k != "committed_ms" &&
        k.forall(c => c.isLetterOrDigit || c == '-' || c == '_'),
        s"manifest header key must be [A-Za-z0-9_-]+ and not committed_ms, got '$k'")
    }
    require(headers.values.forall(v => !v.contains('\n')),
      "manifest header values must be single-line")
    val tmp = new Path(root,
      s"._graft_manifest.tmp.${java.util.UUID.randomUUID().toString.take(12)}")
    val out = fs.create(tmp, true)
    val headerLines = (s"# committed_ms=${System.currentTimeMillis()}" +:
      headers.toSeq.sortBy(_._1).map { case (k, v) => s"# $k=$v" })
      .mkString("", "\n", "\n")
    try out.write((headerLines +
      files.sorted.mkString("", "\n", "\n")).getBytes("UTF-8"))
    finally out.close()
    val target = new Path(root, targetName)
    val localFs = fs.isInstanceOf[org.apache.hadoop.fs.LocalFileSystem] ||
      fs.isInstanceOf[org.apache.hadoop.fs.RawLocalFileSystem]
    try {
      if (localFs) {
        try
          java.nio.file.Files.createLink(
            java.nio.file.Paths.get(target.toUri.getPath),
            java.nio.file.Paths.get(tmp.toUri.getPath))
        catch {
          case _: java.nio.file.FileAlreadyExistsException =>
            throw new ManifestConflictException(conflictMsg)
        }
      } else {
        if (fs.exists(target) || !fs.rename(tmp, target))
          throw new ManifestConflictException(conflictMsg)
      }
    } finally fs.delete(tmp, false)
  }

  /** Bootstrap a manifest from the lake's current directory listing
    * (for lakes written by [[writePartitioned]], a streaming sink, or
    * a plain unpartitioned `df.write.parquet` — root-level part files
    * are manifested alongside one level of partition directories).
    */
  def snapshotManifest(spark: SparkSession, path: String): Int = {
    val (fs, root) = fsFor(spark, path)
    val top = fs.listStatus(root)
    val flat = top
      .filter(f => f.isFile && f.getPath.getName.startsWith("part-"))
      .map(_.getPath.getName)
    val partitioned = top
      .filter(isPartitionDir)
      .flatMap(d => fs.listStatus(d.getPath))
      .filter(f => f.isFile && f.getPath.getName.startsWith("part-"))
      .map(f => s"${f.getPath.getParent.getName}/${f.getPath.getName}")
    commitManifest(spark, path, (flat ++ partitioned).toSeq)
  }

  /** Read the lake through a committed manifest (latest by default):
    * exactly the snapshot's files, whatever concurrent maintenance is
    * doing to the directories. `basePath` keeps the
    * `p_date=`/`shard=` partition columns.
    *
    * `mergeSchema = true` enables additive schema evolution: a
    * snapshot whose newer files carry extra columns reads as the
    * union schema, with nulls for rows from older files — the
    * standard way a long-lived lake gains a column without rewriting
    * history (the footer-merge cost is per-FILE and paid at planning
    * time, so keep it off for fixed-schema reads).
    */
  def readManifested(
      spark: SparkSession, path: String, version: Option[Int] = None,
      mergeSchema: Boolean = false): DataFrame = {
    val files = readManifest(spark, path, version).getOrElse(
      throw new IllegalStateException(s"no committed manifest under $path"))
    spark.read.option("basePath", path)
      .option("mergeSchema", mergeSchema)
      .parquet(files.map(f => s"$path/$f"): _*)
  }

  /** Incremental (change-data-feed-style) read: the rows of every
    * data file present in manifest `toVersion` (latest by default)
    * but absent from manifest `fromVersion` — the delta a downstream
    * incremental job consumes instead of re-scanning the lake. At
    * 100 TB this is the difference between processing a day's ingest
    * and re-reading everything: the diff is computed on the manifest
    * LISTINGS (two small text files), and only the added files are
    * scanned.
    *
    * File-grain contract: for append-only commits (streaming ingest,
    * merges that only insert into fresh partitions) the delta is
    * exactly the new rows. A copy-on-write rewrite (compaction, a
    * merge updating an existing partition) re-emits the whole
    * rewritten partition — consumers needing row-level changes
    * should diff on a key over that slice (q18's latest-compact
    * shape) or consume between append commits. `fromVersion = 0`
    * means "from the empty lake": the full `toVersion` snapshot.
    *
    * `mergeSchema = true` (mirroring [[readManifested]]) makes a
    * delta that spans an additive-schema-evolution commit read as the
    * union schema of its files; without it parquet samples one file's
    * footer, so whether the evolved column appears would depend on
    * which file Spark sampled.
    */
  def readIncremental(
      spark: SparkSession, path: String,
      fromVersion: Int, toVersion: Option[Int] = None,
      mergeSchema: Boolean = false): DataFrame = {
    val baseline: Set[String] =
      if (fromVersion == 0) Set.empty
      else readManifest(spark, path, Some(fromVersion)).map(_.toSet).getOrElse(
        throw new IllegalStateException(s"no committed manifest under $path"))
    val target = readManifest(spark, path, toVersion).getOrElse(
      throw new IllegalStateException(s"no committed manifest under $path"))
    val added = target.filterNot(baseline)
    if (added.isEmpty)
      readManifested(spark, path, toVersion, mergeSchema).where(lit(false))
    else spark.read.option("basePath", path)
      .option("mergeSchema", mergeSchema)
      .parquet(added.map(f => s"$path/$f"): _*)
  }

  /** [[compact]] with atomic visibility: EXACTLY the manifest's files
    * are rewritten (orphans from a crashed prior run, or files
    * appended after the manifest commit, are never folded in), the
    * compacted files land alongside the old ones, and a single new
    * manifest version flips all partitions at once. Replaced files
    * are NOT deleted here — they stay referenced by the older
    * retained manifest versions, so a reader holding any RETAINED
    * committed version sees a complete, duplicate-free snapshot at
    * every instant; [[vacuum]] is the only deletion point. A crash at
    * any step leaves the previous snapshot intact (half-written
    * compaction output is unreferenced garbage, not duplicates).
    * Requires a committed manifest ([[snapshotManifest]] to
    * bootstrap).
    */
  def compactManifested(
      spark: SparkSession, path: String,
      targetFileBytes: Long = 128L << 20,
      sortCols: Seq[String] = Nil,
      parallelism: Int = 8): Seq[CompactionStat] = {
    import org.apache.hadoop.fs.Path
    val (fs, root) = fsFor(spark, path)
    val currentVersion = headVersion(fs, root, path)
    requireNoPendingDv(spark, path, currentVersion, "compactManifested")
    val current = readManifest(spark, path, Some(currentVersion)).get
    val byPartition = current.groupBy(_.split('/').head)
    val results = inParallel(byPartition.toSeq.sortBy(_._1), parallelism) {
      case (part, files) =>
        val partDir = new Path(root, part)
        val bytes = files.map(f => fs.getFileStatus(new Path(root, f)).getLen).sum
        val nOut = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
        if (files.length <= nOut) (part, files, None)
        else {
          val aside = rewriteAside(
            spark, fs, partDir, files.map(f => new Path(root, f)), nOut, sortCols)
          // renameOrThrow, not bare rename: a silently-failed rename
          // would still be committed into the manifest, and the next
          // readManifested of that snapshot would fail on a missing file
          val newFiles = aside.map { f =>
            renameOrThrow(fs, f, new Path(partDir, f.getName))
            s"$part/${f.getName}"
          }
          fs.delete(asideDir(partDir), true)
          (part, newFiles, Some(CompactionStat(part, files.length, nOut)))
        }
    }
    val stats = results.flatMap(_._3)
    // CAS at the version this compaction planned against: if a merge
    // or ingest committed meanwhile, committing our file list would
    // silently DROP their files from the snapshot — fail loudly
    // instead (compaction is cheap to re-run; lost commits are not).
    // The compacted files stay on disk as unreferenced garbage for
    // [[vacuum]].
    if (stats.nonEmpty)
      commitManifest(spark, path, results.flatMap(_._2), Some(currentVersion))
    stats
  }

  /** MERGE INTO for the manifested lake: applies a change batch to
    * the current snapshot by `keyCols` — matched target rows are
    * replaced by their source row (update), unmatched source rows are
    * inserted, and source rows flagged true in `deleteCol` (when
    * given) are tombstones: the matched target row is removed and
    * nothing inserted. This is the CDC-apply operation a continuously
    * ingested 100 TB lake needs (q18_latest_compact is its query-side
    * twin).
    *
    * Copy-on-write at the PARTITION grain: only partitions that hold
    * a matched key or receive an insert are rewritten (target-side
    * anti-join on the keys + union of the source rows); every other
    * partition's files carry over into the new manifest version
    * byte-untouched — at TPC-H-ish daily partitioning a merge of one
    * day's changes rewrites one partition, not the lake. A key whose
    * source row carries a different partition value moves partitions
    * correctly (the old partition is matched via the key join, the
    * new one via the source's partition values).
    *
    * Visibility and crash-safety inherit the manifest contract:
    * rewritten files land beside the old ones and ONE manifest commit
    * flips the snapshot; replaced files stay referenced by retained
    * older versions ([[vacuum]] is the only deletion point); a crash
    * before the commit leaves unreferenced garbage, never duplicates.
    *
    * MULTI-WRITER safe via optimistic concurrency: the commit is a
    * compare-and-swap at the snapshot version the merge planned
    * against ([[commitManifest]]'s `expectedVersion`), and on
    * conflict the merge REBASES — re-reads the new current snapshot,
    * recomputes the rewrite against it, and retries ([[rebasing]]).
    * Two concurrent merges therefore serialize: both batches land,
    * in commit order. A lost attempt's
    * already-renamed files are unreferenced garbage for [[vacuum]],
    * never duplicates (readers only see committed manifests). Returns
    * the committed manifest version (the current one when the merge
    * is a no-op).
    *
    * `source` must carry `keyCols` plus `partCol`; other columns
    * align by NAME, null-filling in either direction (so merges work
    * across additive schema evolution — see the cross-evolution spec).
    * Reference semantics parallel: the Kinesis reader's at-least-once
    * re-delivery (kinesis_logs_reader.py:80-97) becomes idempotent
    * exactly here — replaying a batch re-matches the same keys and
    * rewrites to the same rows.
    */
  def mergeManifested(
      spark: SparkSession, path: String, source: DataFrame,
      keyCols: Seq[String], partCol: String = "p_date",
      deleteCol: Option[String] = None): Int = {
    require(keyCols.nonEmpty, "mergeManifested needs at least one key column")
    // the change batch is read several times (matched-partition probe,
    // anti-join, insert union) and by every rebase attempt —
    // materialize once
    val src = source.localCheckpoint(eager = true)
    rebasing("mergeManifested", path)(
      mergeAttempt(spark, path, src, keyCols, partCol, deleteCol))
  }

  private def mergeAttempt(
      spark: SparkSession, path: String, src: DataFrame,
      keyCols: Seq[String], partCol: String,
      deleteCol: Option[String]): Int = {
    import org.apache.hadoop.fs.Path
    val (fs, root) = fsFor(spark, path)
    val currentVersion = headVersion(fs, root, path)
    requireNoPendingDv(spark, path, currentVersion, "mergeManifested")
    val current = readManifest(spark, path, Some(currentVersion)).get
    val isDelete = deleteCol.map(c => coalesce(col(c).cast("boolean"), lit(false)))
      .getOrElse(lit(false))
    val upserts = deleteCol.foldLeft(src.where(!isDelete))((d, c) => d.drop(c))
    val srcKeys = src.select(keyCols.map(col): _*).distinct()
    val tgt = readManifested(spark, path, Some(currentVersion))
    // partitions to rewrite: those holding a matched key, plus those
    // receiving inserts. Both are partition-count-bounded collects.
    val matchedParts = tgt.join(srcKeys, keyCols)
      .select(col(partCol).cast("string")).distinct()
      .collect().map(_.getString(0))
    val insertParts = upserts
      .select(col(partCol).cast("string")).distinct()
      .collect().map(_.getString(0))
    val affectedDirs = (matchedParts ++ insertParts).distinct.map(v => s"$partCol=$v").toSet
    if (affectedDirs.isEmpty) return currentVersion
    val carried = current.filterNot(f => affectedDirs.contains(f.split('/').head))
    val rewriteInputs = current.filter(f => affectedDirs.contains(f.split('/').head))
    val survivors =
      if (rewriteInputs.isEmpty) None
      else Some(
        spark.read.option("basePath", path)
          // an affected partition may span an additive-schema-
          // evolution commit (lk17): without footer-merge the rewrite
          // would adopt ONE sampled file's schema and silently drop
          // the evolved column from the whole rewritten partition
          .option("mergeSchema", true)
          .parquet(rewriteInputs.map(f => s"$path/$f"): _*)
          .join(srcKeys, keyCols, "left_anti"))
    // union by NAME with null-fill in both directions: a source from
    // a pre-evolution producer null-fills the evolved column; a WIDER
    // source evolves the rewritten partitions additively (the other
    // partitions evolve at their own next rewrite — readManifested
    // with mergeSchema reads the union either way)
    val newData = survivors
      .map(_.unionByName(upserts, allowMissingColumns = true))
      .getOrElse(upserts)
    // write-aside, then rename into the live partition dirs; the files
    // are invisible until the manifest commit below
    val aside = new Path(root, s".merge_${java.util.UUID.randomUUID().toString.take(12)}")
    newData.repartition(col(partCol))
      .write.mode("overwrite").partitionBy(partCol).parquet(aside.toString)
    val moved = fs.listStatus(aside)
      .filter(isPartitionDir)
      .flatMap { d =>
        val dst = new Path(root, d.getPath.getName)
        if (!fs.exists(dst)) fs.mkdirs(dst)
        fs.listStatus(d.getPath)
          .filter(f => f.isFile && f.getPath.getName.startsWith("part-"))
          .map { f =>
            renameOrThrow(fs, f.getPath, new Path(dst, f.getPath.getName))
            s"${d.getPath.getName}/${f.getPath.getName}"
          }
      }.toSeq
    fs.delete(aside, true)
    // CAS at the snapshot this attempt planned against — a concurrent
    // commit means `carried` is stale, so the conflict propagates to
    // the rebase loop; this attempt's moved files become unreferenced
    // garbage for [[vacuum]]
    commitManifest(spark, path, carried ++ moved, Some(currentVersion))
  }

  /** Copy-on-write rewrite of `affected` snapshot files as ONE
    * distributed Spark job per partition SCHEME — never one job per
    * file. The affected set is grouped by the partition-column list
    * its directory layout encodes (a handful of schemes under
    * partition evolution, exactly one for a stable lake — bounded by
    * evolution history, not file count); each group is read in a
    * single snapshot-schema-pinned scan, passed through `transform`
    * (which sees partition columns as data columns via basePath and
    * must keep them), and written once with dynamic partitioning into
    * an aside directory whose part files are then renamed into the
    * lake layout. At 10⁴-10⁵ affected files this is O(schemes) job
    * scheduling instead of O(files) — the driver-dispatch bottleneck
    * the per-file loop had — while output file grain still tracks
    * input splits (tasks = affected-file splits; no shuffle is
    * introduced). A rewritten file left with zero surviving rows is
    * dropped, not registered: one metadata-cheap count-by-file job
    * per group separates empty part files (parity with the old
    * per-file `keep.isEmpty` gate — "a file whose every row matches
    * drops out of the manifest"). Returns the new manifest-relative
    * file names.
    */
  private def cowRewriteGrouped(
      spark: SparkSession, path: String,
      snapshotSchema: org.apache.spark.sql.types.StructType,
      affected: Seq[String], tag: String)(
      transform: DataFrame => DataFrame): Seq[String] = {
    import org.apache.hadoop.fs.Path
    val (fs, root) = fsFor(spark, path)
    val bySchemes = affected
      .groupBy(_.split('/').dropRight(1).filter(_.contains('='))
        .map(_.split('=')(0)).toSeq)
      .toSeq.sortBy(_._1.mkString(","))
    bySchemes.flatMap { case (partCols, rels) =>
      val src = spark.read.schema(snapshotSchema).option("basePath", path)
        .parquet(rels.map(r => new Path(root, r).toString): _*)
      val out = transform(src)
      val aside = new Path(root, s".$tag${java.util.UUID.randomUUID().toString.take(12)}")
      val writer = out.write.mode("overwrite")
      (if (partCols.isEmpty) writer else writer.partitionBy(partCols: _*))
        .parquet(aside.toString)
      // which written files actually hold rows? Empty tasks can leave
      // zero-row part files; those must not enter the manifest
      val asidePath = fs.makeQualified(aside).toUri.getPath
      // explicit schema: an all-rows-deleted group leaves an aside
      // with no part files, which schema inference would refuse
      val nonEmpty = spark.read.schema(out.schema).option("basePath", aside.toString)
        .parquet(aside.toString)
        .select(relFileCol(asidePath).as("f")).distinct()
        .collect().map(_.getString(0)).toSet
      val moved = fs.listStatus(aside)
        .flatMap { e =>
          if (e.isFile) Seq(e).filter(_.getPath.getName.startsWith("part-"))
            .map(f => (Seq.empty[String], f))
          else if (isPartitionDir(e))
            fs.listStatus(e.getPath)
              .filter(f => f.isFile && f.getPath.getName.startsWith("part-"))
              .map(f => (Seq(e.getPath.getName), f)).toSeq
          else Seq.empty[(Seq[String], org.apache.hadoop.fs.FileStatus)]
        }
        .filter { case (dirRel, f) =>
          nonEmpty.contains((dirRel :+ f.getPath.getName).mkString("/"))
        }
        .map { case (dirRel, f) =>
          val dstDir = dirRel.foldLeft(root)((p, d) => new Path(p, d))
          if (!fs.exists(dstDir)) fs.mkdirs(dstDir)
          renameOrThrow(fs, f.getPath, new Path(dstDir, f.getPath.getName))
          (dirRel :+ f.getPath.getName).mkString("/")
        }.toSeq
      fs.delete(aside, true)
      moved
    }
  }

  /** DELETE WHERE for the manifested lake: copy-on-write at the FILE
    * grain. Candidate discovery is one snapshot scan whose predicate
    * pushes down to parquet row-group stats (and can be composed with
    * [[readManifestedPruned]]'s sidecar skipping by the caller), and
    * it returns only the distinct file names holding a matching row —
    * a manifest-bounded collect. Only those files are rewritten
    * (filtered to the surviving rows, written beside the originals);
    * every other file carries into the new manifest version
    * byte-untouched. A file whose every row matches simply drops out
    * of the manifest. At daily partitioning a "delete one bad hour"
    * predicate rewrites a handful of files, not the lake —
    * [[mergeManifested]]'s partition-grain rewrite is the key-driven
    * sibling; this is the predicate-driven one.
    *
    * The predicate may reference partition columns (`p_date=...`
    * values are reconstructed from the directory layout for both the
    * probe and the rewrite). Visibility, crash-safety, and
    * multi-writer semantics inherit the manifest contract: one CAS
    * commit at the planned-against version flips the snapshot,
    * conflicts rebase and retry, replaced files stay referenced by
    * retained older versions ([[vacuum]] is the only deletion point),
    * and a crash before the commit leaves unreferenced garbage, never
    * a torn snapshot. Returns the committed version (the current one
    * when nothing matches).
    */
  def deleteManifested(
      spark: SparkSession, path: String, predicate: Column): Int =
    rebasing("deleteManifested", path)(deleteAttempt(spark, path, predicate))

  private def deleteAttempt(
      spark: SparkSession, path: String, predicate: Column): Int = {
    import org.apache.hadoop.fs.Path
    val (fs, root) = fsFor(spark, path)
    val currentVersion = headVersion(fs, root, path)
    requireNoPendingDv(spark, path, currentVersion, "deleteManifested")
    val current = readManifest(spark, path, Some(currentVersion)).get
    // which files hold a matching row? One pushed-down scan, file names
    // only — the same bounded-collect class as the manifest listing
    val rootPath = fs.makeQualified(root).toUri.getPath
    val snapshot = readManifested(spark, path, Some(currentVersion), mergeSchema = true)
    val affected = snapshot
      .where(predicate)
      .select(input_file_name().as("f")).distinct()
      .collect()
      .map(r => new java.net.URI(r.getString(0)).getPath.stripPrefix(rootPath).stripPrefix("/"))
      .toSeq.sorted
    if (affected.isEmpty) return currentVersion
    val unknown = affected.filterNot(current.contains)
    require(unknown.isEmpty,
      s"delete probe returned files outside the snapshot: ${unknown.take(3).mkString(",")}")
    // grouped rewrite: keep the non-matching rows — ONE distributed
    // job per partition scheme over every affected file (see
    // [[cowRewriteGrouped]]), with partition values flowing directory
    // → basePath column → dynamic-partition write. The read is pinned
    // to the SNAPSHOT's union schema: under additive evolution a
    // predicate may reference a column a pre-evolution file lacks
    // (`newcol IS NULL` matches its every row) — the aligned read
    // null-fills it instead of failing, and the rewrite carries the
    // evolved column like compaction would
    val rewritten = cowRewriteGrouped(
      spark, path, snapshot.schema, affected, "delete_")(_.where(!predicate))
    commitManifest(spark, path,
      current.filterNot(affected.contains) ++ rewritten, Some(currentVersion))
  }

  /** UPDATE … SET for the manifested lake: copy-on-write at the FILE
    * grain — [[deleteManifested]]'s row-edit sibling. Candidate
    * discovery is the same single pushed-down snapshot scan returning
    * only the distinct file names that hold a matching row; only
    * those files are rewritten, with `set`'s expressions applied to
    * the MATCHING rows (each value cast back to the column's existing
    * type, so the file schema never drifts) and every other row
    * carried bit-for-bit. Untouched files carry into the new manifest
    * version verbatim, which is what keeps [[changeFeed]] churn-
    * bounded: the feed between the pre- and post-update versions
    * emits exactly the matched rows as `update_preimage`/
    * `update_postimage` pairs (plus byte-identical carried neighbors
    * collapsing to no change).
    *
    * SET columns must be existing data columns — partition columns
    * are the directory layout, so changing one is a row MOVE between
    * files, which is [[mergeManifested]]'s job (delete + re-insert),
    * not an in-place file rewrite. Visibility, crash-safety, and
    * multi-writer semantics inherit the manifest CAS contract
    * (conflicts rebase and retry; replaced files stay referenced by
    * retained older versions until [[vacuum]]). Returns the committed
    * version (the current one when nothing matches).
    */
  def updateManifested(
      spark: SparkSession, path: String, predicate: Column,
      set: Map[String, Column]): Int = {
    require(set.nonEmpty, "updateManifested needs at least one SET column")
    rebasing("updateManifested", path)(updateAttempt(spark, path, predicate, set))
  }

  private def updateAttempt(
      spark: SparkSession, path: String, predicate: Column,
      set: Map[String, Column]): Int = {
    import org.apache.hadoop.fs.Path
    val (fs, root) = fsFor(spark, path)
    val currentVersion = headVersion(fs, root, path)
    requireNoPendingDv(spark, path, currentVersion, "updateManifested")
    val current = readManifest(spark, path, Some(currentVersion)).get
    val rootPath = fs.makeQualified(root).toUri.getPath
    val snapshot = readManifested(spark, path, Some(currentVersion), mergeSchema = true)
    val unknownCols = set.keySet -- snapshot.columns.toSet
    require(unknownCols.isEmpty,
      s"SET columns missing from the lake schema: ${unknownCols.mkString(",")}")
    val affected = snapshot
      .where(predicate)
      .select(input_file_name().as("f")).distinct()
      .collect()
      .map(r => new java.net.URI(r.getString(0)).getPath.stripPrefix(rootPath).stripPrefix("/"))
      .toSeq.sorted
    if (affected.isEmpty) return currentVersion
    val unknown = affected.filterNot(current.contains)
    require(unknown.isEmpty,
      s"update probe returned files outside the snapshot: ${unknown.take(3).mkString(",")}")
    val affectedPartCols = affected
      .flatMap(_.split('/').dropRight(1).filter(_.contains('='))
        .map(_.split('=')(0))).toSet
    val illegal = set.keySet.intersect(affectedPartCols)
    require(illegal.isEmpty,
      s"cannot UPDATE partition column(s) ${illegal.mkString(",")}: partition values " +
        "are the directory layout — use mergeManifested to move rows")
    // grouped rewrite (ONE distributed job per partition scheme, see
    // [[cowRewriteGrouped]]); snapshot-schema-aligned read, same
    // reason as deleteAttempt: predicates (and SETs) may reference
    // evolved columns a pre-evolution file lacks; the aligned read
    // null-fills them
    val rewritten = cowRewriteGrouped(
      spark, path, snapshot.schema, affected, "update_") { src =>
      src.select(src.schema.fields.map { f =>
        set.get(f.name)
          .map(v => when(predicate, v.cast(f.dataType)).otherwise(col(f.name)).as(f.name))
          .getOrElse(col(f.name))
      }.toSeq: _*)
    }
    commitManifest(spark, path,
      current.filterNot(affected.contains) ++ rewritten, Some(currentVersion))
  }

  /** Row-level change feed between two committed snapshots, computed
    * from the manifest diff: only files ADDED or REMOVED between the
    * versions are scanned (churn-bounded, never lake-sized — the
    * row-level refinement of [[readIncremental]]'s file-grain delta).
    * Rows are matched across the two sides by `keyCols` (unique per
    * snapshot, [[mergeManifested]]'s contract) and emitted with a
    * `_change_type` column: `insert` (key only in `toVersion`),
    * `delete` (key only in `fromVersion`, carrying the pre-image),
    * and `update_preimage`/`update_postimage` pairs when the key
    * exists on both sides with different non-key values. A row
    * rewritten byte-identically — compaction, a merge carrying
    * neighbors of a changed key — appears on both sides with equal
    * fingerprints and is NOT a change: compacting a lake yields an
    * EMPTY feed (spec-pinned). Columns align by name across additive
    * schema evolution, null-filling the narrower side.
    */
  def changeFeed(
      spark: SparkSession, path: String,
      fromVersion: Int, keyCols: Seq[String],
      toVersion: Option[Int] = None): DataFrame = {
    require(keyCols.nonEmpty, "changeFeed needs at least one key column")
    val fromFiles = readManifest(spark, path, Some(fromVersion)).get.toSet
    val toFiles = readManifest(spark, path, toVersion).getOrElse(
      throw new IllegalStateException(s"no committed manifest under $path")).toSet
    def side(files: Set[String], other: Set[String]): DataFrame = {
      val only = (files -- other).toSeq.sorted
      if (only.isEmpty) null
      else spark.read.option("basePath", path).option("mergeSchema", true)
        .parquet(only.map(f => s"$path/$f"): _*)
    }
    val preRaw = side(fromFiles, toFiles)
    val postRaw = side(toFiles, fromFiles)
    val template = if (postRaw != null) postRaw else if (preRaw != null) preRaw
      else readManifested(spark, path, toVersion, mergeSchema = true)
    // union schema across evolution: align by name, null-fill
    val sides = Seq(Option(preRaw), Option(postRaw)).flatten
    val fields = sides.flatMap(_.schema.fields)
      .groupBy(_.name).map { case (n, fs) => n -> fs.head.dataType }
    val allCols = (template.columns.toSeq ++
      sides.flatMap(_.columns).distinct
        .filterNot(template.columns.contains)).distinct
    val valCols = allCols.filterNot(keyCols.contains)
    def aligned(df: DataFrame): DataFrame =
      df.select(allCols.map(c =>
        if (df.columns.contains(c)) col(c)
        else lit(null).cast(fields(c)).as(c)): _*)
    val empty = aligned(template).where(lit(false))
    val pre = aligned(Option(preRaw).getOrElse(empty))
    val post = aligned(Option(postRaw).getOrElse(empty))
    // fingerprint of the non-key image: JSON of a name-ordered struct —
    // null and missing-by-evolution collapse together, which is the
    // right equality for "did this row's visible value change"
    def fp(df: DataFrame) =
      md5(to_json(struct(valCols.sorted.map(col): _*)))
    val kCols = keyCols.map(col)
    val j = pre
      .select(kCols :+ struct(valCols.map(col): _*).as("__prev") :+ fp(pre).as("__pre_fp"): _*)
      .join(
        post.select(kCols :+ struct(valCols.map(col): _*).as("__newv") :+ fp(post).as("__post_fp"): _*),
        keyCols, "full_outer")
      .localCheckpoint(eager = true) // four legs below share one join
    def leg(cond: Column, image: String, op: String) =
      j.where(cond).select(
        lit(op).as("_change_type") +:
          kCols ++: valCols.map(c => col(s"$image.$c").as(c)): _*)
    leg(col("__post_fp").isNull, "__prev", "delete")
      .unionByName(leg(col("__pre_fp").isNull, "__newv", "insert"))
      .unionByName(leg(
        col("__pre_fp").isNotNull && col("__post_fp").isNotNull &&
          col("__pre_fp") =!= col("__post_fp"), "__prev", "update_preimage"))
      .unionByName(leg(
        col("__pre_fp").isNotNull && col("__post_fp").isNotNull &&
          col("__pre_fp") =!= col("__post_fp"), "__newv", "update_postimage"))
  }

  case class FsckReport(orphans: Seq[String], missing: Seq[String])

  /** Lake fsck — the read-only integrity report an operator runs
    * before trusting or cleaning a lake:
    *   - `orphans`: data files on disk that NO retained manifest
    *     references — crashed compaction/merge leftovers, i.e.
    *     exactly [[vacuum]]'s deletion candidates;
    *   - `missing`: manifest entries whose file is gone from disk —
    *     external deletion; time travel to a version listing them
    *     would fail, so this is the data-loss alarm.
    * Costs two listings (manifests + partition dirs) and no data
    * reads; the repair actions stay where they are (vacuum deletes
    * orphans, recoverInterrupted finishes swaps) — fsck never
    * mutates.
    */
  // ---------------------------------------------------------------
  // lk37: merge-on-read DELETE via deletion vectors.

  /** Lake-relative rel-path of a scanned row's file, derived from the
    * `_metadata.file_path` URI — the join key between data rows and
    * deletion-vector entries.
    */
  private def relFileCol(rootPath: String): Column =
    regexp_replace(col("_metadata.file_path"),
      "^.*" + java.util.regex.Pattern.quote(rootPath + "/"), "")

  /** Merge-on-read DELETE: marks the matching rows of the CURRENT
    * snapshot deleted by writing their `(file, position)` pairs as a
    * deletion vector, committing a manifest whose FILE LIST IS
    * UNCHANGED — no data file is rewritten. At 100 TB this is the
    * difference between a GDPR erasure of one user rewriting a
    * fingerprint-scattered third of the lake (copy-on-write
    * [[deleteManifested]] rewrites every file holding a match) and
    * writing a few KB of positions: delete cost is proportional to
    * MATCHED ROWS, not to the bytes of the files they sit in. The
    * rewrite is deferred to [[materializeDeletes]] (typically folded
    * into scheduled compaction).
    *
    * Readers: [[readManifestedMoR]] applies pending vectors; the
    * plain snapshot readers ([[readManifested]], pruned/bloom reads)
    * see pre-delete data by design — they read a FILE listing, and
    * the files are untouched. Deletes stack: each call appends a
    * vector, all of which apply. Time travel holds: a pre-delete
    * version has no `dv` header and reads in full.
    *
    * Copy-on-write maintenance (compaction, merge, recluster,
    * repartition, COW delete/update) REFUSES while vectors are
    * pending — it would commit a fresh header and resurrect the rows
    * — so the lifecycle is deleteVectored* → materializeDeletes →
    * maintenance. The file-grain [[changeFeed]]/[[readIncremental]]
    * see a vectored delete as an empty file diff (documented
    * file-grain contract); consume row-level deletes via the vectors
    * themselves.
    *
    * Multi-writer safe: the commit is a CAS at the probed version,
    * rebasing like [[deleteManifested]] on conflict. Returns the
    * committed version (the current one when nothing matched).
    */
  def deleteVectored(
      spark: SparkSession, path: String, predicate: Column): Int =
    rebasing("deleteVectored", path)(deleteVectoredAttempt(spark, path, predicate))

  private def deleteVectoredAttempt(
      spark: SparkSession, path: String, predicate: Column): Int = {
    import org.apache.hadoop.fs.Path
    val (fs, root) = fsFor(spark, path)
    val currentVersion = headVersion(fs, root, path)
    val current = readManifest(spark, path, Some(currentVersion)).get
    val rootPath = fs.makeQualified(root).toUri.getPath
    val prior = dvList(spark, path, Some(currentVersion))
    // positions tag onto the SCAN relation (metadata columns resolve
    // there), then already-vectored rows are anti-joined away so a
    // replayed delete is a no-op — one pushed-down pass, and the
    // vector carries positions only, never row data
    val tagged = readManifested(spark, path, Some(currentVersion), mergeSchema = true)
      .withColumn("_graft_dv_file", relFileCol(rootPath))
      .withColumn("_graft_dv_pos", col("_metadata.row_index"))
      .where(predicate)
    val fresh =
      if (prior.isEmpty) tagged
      else {
        val pdv = spark.read.parquet(prior.map(f => s"$path/$f"): _*)
        tagged.join(broadcast(pdv),
          tagged("_graft_dv_file") === pdv("file") &&
            tagged("_graft_dv_pos") === pdv("pos"),
          "left_anti")
      }
    val hits = fresh.select(col("_graft_dv_file").as("file"),
      col("_graft_dv_pos").as("pos"))
    val dvRel = s"$DvDir/dv_${java.util.UUID.randomUUID().toString.take(12)}"
    val aside = new Path(root, dvRel)
    hits.coalesce(1).write.mode("errorifexists").parquet(aside.toString)
    if (spark.read.parquet(aside.toString).isEmpty) {
      fs.delete(aside, true)
      return currentVersion
    }
    val all = dvList(spark, path, Some(currentVersion)) :+ dvRel
    commitManifest(spark, path, current, Some(currentVersion),
      headers = Map(DvHeaderKey -> all.mkString(",")))
  }

  /** Read a snapshot with its pending deletion vectors applied — the
    * merge-on-read twin of [[readManifested]]. The vectors (a
    * position-only relation, KBs against TBs) broadcast into a
    * left-anti hash join on `(file, position)`: map-side, no shuffle
    * of the data rows, and the scan's own pushdown/pruning still
    * applies underneath.
    */
  def readManifestedMoR(
      spark: SparkSession, path: String, version: Option[Int] = None,
      mergeSchema: Boolean = false): DataFrame = {
    val (fs, root) = fsFor(spark, path)
    val latest = headVersion(fs, root, path)
    val v = version.getOrElse(latest)
    val base = readManifested(spark, path, Some(v), mergeSchema)
    applyDvAntiJoin(spark, path, base, dvList(spark, path, Some(v)))
  }

  /** The merge-on-read reader core: anti-join `base` against the
    * union of the given deletion-vector relations on
    * `(file, position)` — broadcast, map-side, no shuffle of the
    * data rows. No-op when `dvs` is empty.
    */
  private def applyDvAntiJoin(
      spark: SparkSession, path: String, base: DataFrame,
      dvs: Seq[String]): DataFrame = {
    if (dvs.isEmpty) return base
    val (fs, root) = fsFor(spark, path)
    val rootPath = fs.makeQualified(root).toUri.getPath
    val dv = spark.read.parquet(dvs.map(f => s"$path/$f"): _*)
    val tagged = base
      .withColumn("_graft_dv_file", relFileCol(rootPath))
      .withColumn("_graft_dv_pos", col("_metadata.row_index"))
    tagged.join(broadcast(dv),
        tagged("_graft_dv_file") === dv("file") &&
          tagged("_graft_dv_pos") === dv("pos"),
        "left_anti")
      .drop("_graft_dv_file", "_graft_dv_pos")
  }

  /** lk39: merge-on-read UPSERT — [[mergeManifested]]'s
    * position-grain sibling, built on lk37's vectors: matched target
    * rows are tombstoned by POSITION (a deletion vector, a few bytes
    * per matched row) and the source batch appends as new files, all
    * in ONE atomic manifest commit — no reader ever sees the
    * between-state, and NO existing file or partition is rewritten.
    * At 100 TB this is the CDC-apply shape when the change batch's
    * keys scatter across many partitions: copy-on-write merge
    * rewrites every touched partition (fine for partition-clustered
    * changes, catastrophic for scattered ones); merge-on-read's cost
    * is positions written + the batch itself, deferring the rewrite
    * to [[materializeDeletes]]/compaction.
    *
    * Semantics match [[mergeManifested]]: matched rows are replaced
    * by their source row, unmatched source rows insert, and source
    * rows flagged in `deleteCol` tombstone without inserting.
    * Readers use [[readManifestedMoR]] until materialization.
    * Multi-writer safe via the same CAS + rebase loop.
    */
  def mergeOnRead(
      spark: SparkSession, path: String, source: DataFrame,
      keyCols: Seq[String], partCol: Option[String] = None,
      deleteCol: Option[String] = None): Int = {
    require(keyCols.nonEmpty, "mergeOnRead needs at least one key column")
    val src = source.localCheckpoint(eager = true)
    rebasing("mergeOnRead", path)(
      mergeOnReadAttempt(spark, path, src, keyCols, partCol, deleteCol))
  }

  private def mergeOnReadAttempt(
      spark: SparkSession, path: String, src: DataFrame,
      keyCols: Seq[String], partCol: Option[String],
      deleteCol: Option[String]): Int = {
    import org.apache.hadoop.fs.Path
    val (fs, root) = fsFor(spark, path)
    val currentVersion = headVersion(fs, root, path)
    val current = readManifest(spark, path, Some(currentVersion)).get
    val rootPath = fs.makeQualified(root).toUri.getPath
    val prior = dvList(spark, path, Some(currentVersion))
    // tombstone every CURRENT row whose key appears in the batch: a
    // broadcast-able key set (change batches are small by contract)
    // semi-joins against one tagged snapshot scan — positions out,
    // no data shuffled
    val keys = src.select(keyCols.map(col): _*).distinct()
    val tagged = readManifested(spark, path, Some(currentVersion), mergeSchema = true)
      .withColumn("_graft_dv_file", relFileCol(rootPath))
      .withColumn("_graft_dv_pos", col("_metadata.row_index"))
      .join(broadcast(keys), keyCols, "left_semi")
    val fresh =
      if (prior.isEmpty) tagged
      else {
        val pdv = spark.read.parquet(prior.map(f => s"$path/$f"): _*)
        tagged.join(broadcast(pdv),
          tagged("_graft_dv_file") === pdv("file") &&
            tagged("_graft_dv_pos") === pdv("pos"), "left_anti")
      }
    val dvRel = s"$DvDir/dv_${java.util.UUID.randomUUID().toString.take(12)}"
    fresh.select(col("_graft_dv_file").as("file"), col("_graft_dv_pos").as("pos"))
      .coalesce(1).write.mode("errorifexists").parquet(new Path(root, dvRel).toString)
    val tombstoned = !spark.read.parquet(new Path(root, dvRel).toString).isEmpty
    if (!tombstoned) fs.delete(new Path(root, dvRel), true)
    // inserts + replacements: every non-tombstone source row appends
    // (lk33 schema gate, as for any append)
    val inserts = deleteCol.map(c => src.where(!col(c)).drop(c)).getOrElse(src)
    schemaGate(spark, path, Some(current), inserts, allowEvolution = false)
    val moved = writeDataFiles(spark, path, inserts, partCol)
    if (!tombstoned && moved.isEmpty) return currentVersion
    val dvs = prior ++ (if (tombstoned) Seq(dvRel) else Seq.empty)
    commitManifest(spark, path, current ++ moved, Some(currentVersion),
      headers = if (dvs.isEmpty) Map.empty
        else Map(DvHeaderKey -> dvs.mkString(",")))
  }

  /** Apply every pending deletion vector as a copy-on-write rewrite
    * of exactly the files they touch, committing a vector-free
    * snapshot — after which plain and MoR reads agree and
    * copy-on-write maintenance is unblocked. Rewrite cost is
    * proportional to the files that actually HOLD deleted rows, paid
    * once and scheduled (compaction-time), not per delete. The spent
    * vector files stay on disk for retained older versions'
    * [[readManifestedMoR]]; [[vacuum]] sweeps them once unreferenced.
    */
  def materializeDeletes(spark: SparkSession, path: String): Int =
    rebasing("materializeDeletes", path)(materializeAttempt(spark, path))

  private def materializeAttempt(spark: SparkSession, path: String): Int = {
    import org.apache.hadoop.fs.Path
    val (fs, root) = fsFor(spark, path)
    val currentVersion = headVersion(fs, root, path)
    val dvs = dvList(spark, path, Some(currentVersion))
    if (dvs.isEmpty) return currentVersion
    val current = readManifest(spark, path, Some(currentVersion)).get
    val rootPath = fs.makeQualified(root).toUri.getPath
    val dv = spark.read.parquet(dvs.map(f => s"$path/$f"): _*)
      .localCheckpoint(eager = true)
    val affected = dv.select("file").distinct()
      .collect().map(_.getString(0)).toSeq.sorted
    val unknown = affected.filterNot(current.contains)
    require(unknown.isEmpty,
      s"deletion vectors reference files outside the snapshot: ${unknown.take(3).mkString(",")}")
    val snapshot = readManifested(spark, path, Some(currentVersion), mergeSchema = true)
    // grouped rewrite (ONE distributed job per partition scheme, see
    // [[cowRewriteGrouped]]): every affected file anti-joins its
    // (file, position) pairs against the broadcast vector union in a
    // single scan — _metadata.row_index is per physical file, so the
    // positions stay correct however the scan bundles files into tasks
    val rewritten = cowRewriteGrouped(
      spark, path, snapshot.schema, affected, "dvmat_") { src =>
      val one = src
        .withColumn("_graft_dv_file", relFileCol(rootPath))
        .withColumn("_graft_dv_pos", col("_metadata.row_index"))
      one.join(broadcast(dv),
          one("_graft_dv_file") === dv("file") &&
            one("_graft_dv_pos") === dv("pos"),
          "left_anti")
        .drop("_graft_dv_file", "_graft_dv_pos")
    }
    commitManifest(spark, path,
      current.filterNot(affected.contains) ++ rewritten, Some(currentVersion))
  }

  /** t32: cross-snapshot corpus diff — what an ingest/merge actually
    * changed, in the units a training pipeline budgets in: per
    * (source, change type) doc and TOKEN deltas between two manifest
    * versions. Rides [[changeFeed]], so only the files that differ
    * between the snapshots are read (never the lake), and the token
    * counts fold at that scan. The report a data curator reads
    * before promoting yesterday's ingest: which sources grew, by how
    * many tokens, and whether anything was deleted or rewritten.
    */
  def corpusDiffReport(
      spark: SparkSession, path: String, fromVersion: Int,
      toVersion: Option[Int] = None,
      idCol: String = "doc_id", textCol: String = "text",
      groupCol: String = "source"): DataFrame =
    changeFeed(spark, path, fromVersion, Seq(idCol), toVersion)
      .select(col("_change_type"), col(groupCol),
        size(graft.functions.TextFunctions.tokens(col(textCol)))
          .cast("long").as("n_tok"))
      .groupBy(col(groupCol), col("_change_type"))
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))
      .orderBy(col(groupCol), col("_change_type"))

  /** lk40: maintenance planner — ONE metadata-only call that turns
    * the lake's own reports into an ordered action list, so the
    * nightly maintenance job is `maintenancePlan(...).collect.foreach
    * (dispatch)` instead of a hand-curated runbook. Sources: pending
    * deletion vectors (lk37 — blocks every copy-on-write op, so it
    * sorts first), per-partition small-file shares ([[lakeHealth]]),
    * clustering depth from the stats sidecar ([[clusteringReport]],
    * when a sort column is given), a missing stats sidecar for the
    * head version (skipping silently off is a silent perf loss),
    * unreferenced files on disk ([[fsck]] orphans → [[vacuum]]), and
    * stale branches (lk38). Everything reads manifests, refs, and
    * file statuses — zero data scanned, cost bounded by the manifest.
    * Output: (priority, action, target, reason), priority-ordered.
    */
  def maintenancePlan(
      spark: SparkSession, path: String,
      sortCol: Option[String] = None,
      smallFileBytes: Long = 32L * 1024 * 1024,
      maxAvgOverlap: Double = 4.0): DataFrame = {
    import org.apache.hadoop.fs.Path
    import spark.implicits._
    val (fs, root) = fsFor(spark, path)
    val head = headVersion(fs, root, path)
    val actions = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, String)]
    // 1. pending deletion vectors gate everything copy-on-write
    val dvs = dvList(spark, path, Some(head))
    if (dvs.nonEmpty)
      actions += ((1, "materialize_deletes", "<lake>",
        s"${dvs.length} pending deletion vector(s) block compaction/merge/recluster"))
    // 2. small-file compaction, per partition
    lakeHealth(spark, path, smallFileBytes)
      .where(col("needs_compaction"))
      .collect().foreach { r =>
        actions += ((2, "compact", r.getString(0),
          s"${r.getLong(2)} of ${r.getLong(1)} files under ${smallFileBytes >> 20} MiB"))
      }
    // 3. clustering decay (only when a sort column and sidecar exist)
    sortCol.foreach { c =>
      if (fs.exists(new Path(root, s"$StatsPrefix$head"))) {
        val rep = clusteringReport(spark, path, c).head()
        val avg = rep.getAs[Double]("avg_file_overlaps")
        if (avg > maxAvgOverlap)
          actions += ((3, "recluster", c,
            f"avg file overlap $avg%.1f exceeds $maxAvgOverlap%.1f — range skipping is ineffective"))
      } else {
        actions += ((3, "build_file_stats", c,
          s"no stats sidecar for head v$head — file skipping is off"))
      }
    }
    // 4. unreferenced files: garbage to sweep
    val orphans = fsck(spark, path).orphans
    if (orphans.nonEmpty)
      actions += ((4, "vacuum", "<lake>",
        s"${orphans.length} unreferenced data file(s) on disk"))
    // 5. stale branches hold files live and age away from main
    branches(spark, path).foreach { case (name, vs) =>
      actions += ((5, "publish_or_drop_branch", name,
        s"branch at v${vs.max} holds ${vs.length} listing(s) pinning files"))
    }
    actions.sortBy(a => (a._1, a._3)).toSeq
      .toDF("priority", "action", "target", "reason")
  }

  def fsck(spark: SparkSession, path: String): FsckReport = {
    val (fs, root) = fsFor(spark, path)
    // staged-but-unpublished WAP files are intentional, not orphans
    val referenced: Set[String] = (manifestVersions(fs, root).flatMap { case (v, _) =>
      readManifest(spark, path, Some(v)).getOrElse(Seq.empty)
    } ++ stagedManifests(spark, path).values.flatten ++
      allBranchFiles(spark, path)).toSet
    val onDisk: Set[String] = fs.listStatus(root)
      .filter(isPartitionDir)
      .flatMap(d => fs.listStatus(d.getPath))
      .filter(f => f.isFile && f.getPath.getName.startsWith("part-"))
      .map(f => s"${f.getPath.getParent.getName}/${f.getPath.getName}")
      .toSet
    FsckReport(
      orphans = (onDisk -- referenced).toSeq.sorted,
      missing = (referenced -- onDisk).toSeq.sorted)
  }

  /** The only deletion point of the manifested lake. Drops manifest
    * versions older than the latest `keepVersions`, then deletes data
    * files referenced by NONE of the remaining manifests (replaced
    * compaction inputs whose manifests have aged out, half-written
    * output of a crashed compaction). Every retained version stays
    * fully readable ([[readManifested]] with an explicit version).
    *
    * Unreferenced files younger than `retainMillis` are SKIPPED
    * (Delta-style vacuum retention): a concurrent
    * [[compactManifested]] renames its output into the partition dirs
    * before committing the new manifest, and a concurrent append sits
    * unreferenced until [[snapshotManifest]] runs — deleting either
    * in that window would make the next committed manifest reference
    * missing files. The default 7-day horizon is far longer than any
    * in-flight write; pass `retainMillis = 0` only when no writer or
    * compaction can be running. Returns the deleted lake-relative
    * paths.
    */
  def vacuum(
      spark: SparkSession, path: String, keepVersions: Int = 2,
      retainMillis: Long = 7L * 24 * 60 * 60 * 1000): Seq[String] = {
    import org.apache.hadoop.fs.Path
    val (fs, root) = fsFor(spark, path)
    // an interrupted plain-compact swap (COMMIT marker present) means
    // an aside dir holds the ONLY copy of already-deleted originals —
    // no deletion sweep may run until that swap is finished
    if (fs.exists(root)) {
      val pending = fs.listStatus(root).filter(s =>
        s.isFile && s.getPath.getName.startsWith(".compact_") &&
          s.getPath.getName.endsWith(".COMMIT"))
      if (pending.nonEmpty)
        throw new IllegalStateException(
          s"vacuum refused: interrupted compact() swap(s) pending under $path " +
            s"(${pending.map(_.getPath.getName).mkString(", ")}); " +
            "run compact() or recoverInterrupted first")
    }
    val versions = manifestVersions(fs, root)
    if (versions.isEmpty) return Seq.empty
    // tagged versions are PINNED: a "dataset release" ref must stay
    // replayable no matter how retention is configured (lk22)
    val pinned = manifestTags(spark, path).values.toSet
    val retained = versions.takeRight(math.max(1, keepVersions)).map(_._1).toSet
    val oldManifests = versions.filterNot(v =>
      retained(v._1) || pinned(v._1))
    oldManifests.foreach { case (v, p) =>
      fs.delete(p, false)
      // a dropped version's stats/bloom sidecars go with it
      fs.delete(new Path(root, s"$StatsPrefix$v"), false)
      fs.delete(new Path(root, s"$BloomPrefix$v"), true)
    }
    val kept = versions.filter(v => retained(v._1) || pinned(v._1))
    // a staged-but-unpublished WAP append's files are referenced by
    // its staging ref — deleting them would tear a later publish
    val referenced = (kept.flatMap { case (v, _) =>
      readManifest(spark, path, Some(v)).getOrElse(Seq.empty)
    } ++ stagedManifests(spark, path).values.flatten ++
      allBranchFiles(spark, path)).toSet
    val horizon = System.currentTimeMillis() - math.max(0L, retainMillis)
    val dataOrphans = fs.listStatus(root)
      .filter(isPartitionDir)
      .flatMap(d => fs.listStatus(d.getPath))
      .filter(f => f.isFile && f.getPath.getName.startsWith("part-"))
      .filter(_.getModificationTime <= horizon)
      .map(f => s"${f.getPath.getParent.getName}/${f.getPath.getName}")
      .filterNot(referenced)
      .toSeq
    dataOrphans.foreach(f => fs.delete(new Path(root, f), false))
    // deletion vectors referenced by NO retained manifest header are
    // spent (materialized, or their version aged out) — same horizon
    // guard as data files for in-flight deleteVectored commits.
    // Branch headers count too: a long-lived branch forked before
    // materialization still needs its vectors for the MoR read,
    // however old they are on main
    val branchDv = branches(spark, path).toSeq.flatMap { case (n, vs) =>
      vs.flatMap(v => branchListing(spark, path, n, Some(v))._3
        .get(DvHeaderKey).toSeq.flatMap(_.split(',')).filter(_.nonEmpty))
    }
    val keptDv = (kept.flatMap { case (v, _) =>
      dvList(spark, path, Some(v))
    } ++ branchDv).toSet
    val dvRoot = new Path(root, DvDir)
    val dvOrphans =
      if (!fs.exists(dvRoot)) Seq.empty[String]
      else fs.listStatus(dvRoot).toSeq
        .filter(d => d.isDirectory && d.getModificationTime <= horizon)
        .map(d => s"$DvDir/${d.getPath.getName}")
        .filterNot(keptDv)
    dvOrphans.foreach(f => fs.delete(new Path(root, f), true))
    dataOrphans ++ dvOrphans ++ oldManifests.map(_._2.getName)
  }

  // ---------------------------------------------------------------
  // lk45: incremental materialized aggregate (matview) — a
  // count/sum/min/max rollup over the lake maintained from the
  // MANIFEST DIFF, so the daily refresh of a corpus-wide report costs
  // the day's appended files, not a 100 TB rescan. The algebra is
  // deliberately the self-maintainable one: count and sum merge by
  // addition, min/max by min/max, so an append-only diff folds the
  // NEW files' partials into the stored group rows with one
  // group-sized merge. Anything that rewrites or tombstones history
  // (compaction, COW delete/update, a changed deletion-vector set)
  // breaks pure addition — min/max are not subtractable — and the
  // refresh honestly falls back to one full recompute of the
  // merge-on-read view rather than risk a silently-stale rollup.
  // Storage is the lake's own mechanism: a versioned CAS listing
  // `_graft_matview_<name>.v<N>` whose headers pin the main version
  // the rollup reflects (base) and the refresh mode, pointing at a
  // group-sized parquet snapshot under the lake root.

  /** One refresh outcome: the matview version now current, how it was
    * produced (`full` | `incremental` | `noop`), how many data files
    * the refresh scanned (the cost receipt: `incremental` scans
    * exactly the appended files), and the main version it reflects.
    */
  final case class MatviewRefresh(
      version: Int, mode: String, scannedFiles: Int, baseVersion: Int)

  private def matviewPrefix(name: String): String = {
    require(name.nonEmpty && name.forall(c =>
      c.isLetterOrDigit || c == '-' || c == '_'),
      s"matview name must be [A-Za-z0-9_-]+, got '$name'")
    s"_graft_matview_${name}.v"
  }

  private def matviewVersions(
      fs: org.apache.hadoop.fs.FileSystem, root: org.apache.hadoop.fs.Path,
      name: String): Seq[(Int, org.apache.hadoop.fs.Path)] = {
    val prefix = matviewPrefix(name)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq
      .filter(s => s.isFile && s.getPath.getName.startsWith(prefix))
      .map(s => s.getPath.getName.stripPrefix(prefix).toInt -> s.getPath)
      .sortBy(_._1)
  }

  // cnt_<m> (per-measure non-null count) rides beside sum_<m> so the
  // derived average divides by the rows sum() actually saw — SQL AVG
  // semantics — not by n_rows, which counts null-measure rows too
  private def matviewAggregate(
      df: DataFrame, keys: Seq[String], measures: Seq[String]): DataFrame =
    df.groupBy(keys.map(col): _*).agg(
      count(lit(1)).as("n_rows"),
      measures.flatMap(m => Seq(
        sum(col(m)).as(s"sum_$m"), count(col(m)).as(s"cnt_$m"),
        min(col(m)).as(s"min_$m"), max(col(m)).as(s"max_$m"))): _*)

  private def matviewMerge(
      partials: DataFrame, keys: Seq[String], measures: Seq[String]): DataFrame =
    partials.groupBy(keys.map(col): _*).agg(
      sum(col("n_rows")).as("n_rows"),
      measures.flatMap(m => Seq(
        sum(col(s"sum_$m")).as(s"sum_$m"),
        sum(col(s"cnt_$m")).as(s"cnt_$m"),
        min(col(s"min_$m")).as(s"min_$m"),
        max(col(s"max_$m")).as(s"max_$m"))): _*)

  /** Bring the matview `name` up to the lake's current head. First
    * call builds it full; later calls read the manifest diff since
    * the recorded base version and take the cheapest SOUND path —
    * `noop` when main hasn't moved, `incremental` (scan exactly the
    * appended files, merge partials) when the diff is append-only
    * and the deletion-vector set is unchanged, `full` (recompute
    * from the MoR view) otherwise. `keys`/`measures` must match
    * across refreshes of the same name (the stored schema is the
    * contract). Multi-refresher safe via the listing CAS: a loser
    * deletes its unpublished data dir and re-reads and retries
    * against the new state ([[rebasing]]).
    */
  def matviewRefresh(
      spark: SparkSession, path: String, name: String,
      keys: Seq[String], measures: Seq[String] = Seq.empty): MatviewRefresh = {
    require(keys.nonEmpty, "matview needs at least one key column")
    rebasing("matviewRefresh", s"$path/$name")(
      matviewRefreshAttempt(spark, path, name, keys, measures))
  }

  private def matviewRefreshAttempt(
      spark: SparkSession, path: String, name: String,
      keys: Seq[String], measures: Seq[String]): MatviewRefresh = {
    val (fs, root) = fsFor(spark, path)
    val headV = headVersion(fs, root, path)
    val headFiles = readManifest(spark, path, Some(headV)).get
    val headDvs = dvList(spark, path, Some(headV)).sorted
    val prev = matviewVersions(fs, root, name).lastOption
    val prevState = prev.map { case (v, p) =>
      val lines = manifestLines(fs, p)
      val headers = lines.filter(_.startsWith("# ")).flatMap { l =>
        val kv = l.stripPrefix("# "); val i = kv.indexOf('=')
        if (i > 0) Some(kv.take(i) -> kv.drop(i + 1)) else None
      }.toMap
      (v, lines.filterNot(_.startsWith("#")), headers("base").toInt)
    }
    prevState match {
      case Some((v, _, base)) if base == headV =>
        return MatviewRefresh(v, "noop", 0, headV)
      case _ =>
    }
    // decide incremental vs full: the base manifest must still be
    // retained (vacuum may have dropped it), the diff append-only,
    // and the dv set unchanged
    val incremental: Option[Seq[String]] = prevState.flatMap { case (_, _, base) =>
      val baseFiles = try readManifest(spark, path, Some(base))
        catch { case _: IllegalArgumentException => None }
      baseFiles.flatMap { bf =>
        val baseDvs = dvList(spark, path, Some(base)).sorted
        val removed = bf.filterNot(headFiles.toSet)
        if (removed.isEmpty && baseDvs == headDvs)
          Some(headFiles.filterNot(bf.toSet))
        else None
      }
    }
    val (mode, scanned, merged) = incremental match {
      case Some(added) =>
        val mvFiles = prevState.get._2
        val stored = spark.read.option("basePath", path)
          .parquet(mvFiles.map(f => s"$path/$f"): _*)
        // legacy matviews (written before the per-measure cnt_
        // partials) can't merge incrementally — their partial schema
        // lacks the non-null counts; one full recompute upgrades them
        val legacy = measures.exists(m => !stored.columns.contains(s"cnt_$m"))
        if (legacy)
          ("full", headFiles.length,
            matviewAggregate(readManifestedMoR(spark, path, Some(headV)),
              keys, measures))
        else if (added.isEmpty) ("incremental", 0, stored)
        else {
          val fresh = matviewAggregate(
            spark.read.option("basePath", path)
              .parquet(added.map(f => s"$path/$f"): _*),
            keys, measures)
          ("incremental", added.length,
            matviewMerge(stored.unionByName(fresh), keys, measures))
        }
      case None =>
        ("full", headFiles.length,
          matviewAggregate(readManifestedMoR(spark, path, Some(headV)),
            keys, measures))
    }
    val nextV = prevState.map(_._1 + 1).getOrElse(1)
    // Attempt-unique staging dir (same discipline as publishStaged's
    // stage names): two racing refreshers both compute nextV from the
    // same prevState, and a shared `v$nextV` dir would let the CAS
    // loser's overwrite/cleanup delete the winner's published part
    // files. The listing records the actual per-file paths, so
    // readers never derive the dir from the version number.
    val dataDir = s"_graft_matview_data_$name/v$nextV-" +
      java.util.UUID.randomUUID().toString.take(8)
    merged.write.mode("overwrite").parquet(s"$path/$dataDir")
    val parts = fs.listStatus(new org.apache.hadoop.fs.Path(root, dataDir))
      .toSeq.filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(s => s"$dataDir/${s.getPath.getName}")
    try atomicPublishListing(fs, root, s"${matviewPrefix(name)}$nextV",
      parts, Map("base" -> headV.toString, "mode" -> mode),
      s"matview '$name' version $nextV already committed by a concurrent refresher under $path")
    catch {
      case e: ManifestConflictException =>
        // no listing will ever reference the loser's attempt-unique dir
        fs.delete(new org.apache.hadoop.fs.Path(root, dataDir), true)
        throw e
    }
    // retain the previous snapshot for in-flight readers; sweep
    // older — data dirs are derived from each swept listing's own
    // part paths (dirs are attempt-unique, never version-derived)
    matviewVersions(fs, root, name).dropRight(2).foreach { case (_, p) =>
      val oldDirs = manifestLines(fs, p).filterNot(_.startsWith("#"))
        .map(f => f.take(f.lastIndexOf('/'))).filter(_.nonEmpty).distinct
      fs.delete(p, false)
      oldDirs.foreach(d =>
        fs.delete(new org.apache.hadoop.fs.Path(root, d), true))
    }
    MatviewRefresh(nextV, mode, scanned, headV)
  }

  /** Read the matview's current rollup: the stored group rows plus a
    * derived `avg_<m>` per measure. Group-sized — the whole point is
    * that readers (and the refresh itself) never touch the fact data.
    */
  def matviewRead(
      spark: SparkSession, path: String, name: String,
      measures: Seq[String] = Seq.empty): DataFrame = {
    val (fs, root) = fsFor(spark, path)
    val (_, p) = matviewVersions(fs, root, name).lastOption.getOrElse(
      throw new IllegalArgumentException(s"no matview '$name' under $path"))
    val files = manifestLines(fs, p).filterNot(_.startsWith("#"))
    val df = spark.read.option("basePath", path)
      .parquet(files.map(f => s"$path/$f"): _*)
    // avg = sum / non-null count (SQL AVG): null for all-null groups
    // (Divide yields null on a zero divisor), never a diluted quotient.
    // A legacy matview (pre-cnt_ partials) falls back to the all-rows
    // denominator it was written with; its next refresh upgrades it.
    measures.foldLeft(df)((d, m) =>
      d.withColumn(s"avg_$m",
        if (df.columns.contains(s"cnt_$m"))
          col(s"sum_$m") / when(col(s"cnt_$m") > 0, col(s"cnt_$m"))
        else col(s"sum_$m") / col("n_rows")))
  }

  /** How the matview's current version was produced
    * (`full` | `incremental` | `noop` — the cost receipt a continuous
    * maintenance job audits: incremental is the contract, full means
    * something rewrote history).
    */
  def matviewMode(spark: SparkSession, path: String, name: String): String = {
    val (fs, root) = fsFor(spark, path)
    val (_, p) = matviewVersions(fs, root, name).lastOption.getOrElse(
      throw new IllegalArgumentException(s"no matview '$name' under $path"))
    manifestLines(fs, p).find(_.startsWith("# mode=")).map(
      _.stripPrefix("# mode=")).getOrElse(
      throw new IllegalStateException(s"matview '$name' has no mode header"))
  }

  /** The main version the matview currently reflects (its staleness
    * probe: compare against the lake head before trusting it).
    */
  def matviewBase(spark: SparkSession, path: String, name: String): Int = {
    val (fs, root) = fsFor(spark, path)
    val (_, p) = matviewVersions(fs, root, name).lastOption.getOrElse(
      throw new IllegalArgumentException(s"no matview '$name' under $path"))
    manifestLines(fs, p).find(_.startsWith("# base=")).map(
      _.stripPrefix("# base=").toInt).getOrElse(
      throw new IllegalStateException(s"matview '$name' has no base header"))
  }
}
