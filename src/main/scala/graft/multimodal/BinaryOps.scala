package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing (SURVEY §2.6): treat image/audio/video
  * payloads as opaque `binary` columns with typed metadata, and
  * process them in fixed-size frames.
  *
  * The video/audio *decode* step is STUBBED — this container has no
  * media codecs — with a deterministic fake (md5 of the frame bytes
  * as the "feature", byte-sum as the "energy"). Everything Spark-side
  * is real: the binary column, the frame/stride arithmetic, the
  * per-partition batch iteration, and the output schema a real
  * decoder would produce. The IMAGE path is fully real: the JDK ships
  * ImageIO, so [[renderImages]] emits genuine PNG/JPEG/GIF/BMP bytes
  * and [[graft.functions.imageMeta]] parses format + dimensions back
  * out of the headers natively (m11).
  */
object BinaryOps {

  // PROCESS-GLOBAL SIDE EFFECT (documented public behavior): loading
  // this object turns OFF ImageIO's disk-backed stream cache for the
  // whole JVM. The default cache backs EVERY ImageIO.read/write
  // against an in-memory byte stream with a TEMP FILE on disk
  // (FileCacheImage{Input,Output}Stream): at 32 concurrent decode
  // tasks that is thousands of create/write/delete syscalls racing in
  // the same tmpdir — measured 7-10x on the codec-bound rows at
  // local[32] vs local[4] (r14). Memory-cached streams remove the
  // disk round-trip entirely; payloads here are KB-scale, so the
  // memory cost is noise. It runs in the object initializer — not a
  // bench main — because the codec paths live in mapPartitions
  // closures: on a real cluster each EXECUTOR JVM loads this object
  // and needs the same setting, and no main() runs there. An
  // embedding application that wants ImageIO's disk cache for its own
  // large-stream work opts out with -Dgraft.imageio.keepCache=true
  // (set before this class loads); graft's own codec paths hand
  // ImageIO KB-scale byte arrays and are correct either way.
  if (!java.lang.Boolean.getBoolean("graft.imageio.keepCache"))
    javax.imageio.ImageIO.setUseCache(false)

  val FrameBytes = 256

  /** Typed metadata for an opaque binary payload: byte length, a
    * sniffed format tag (magic-prefix heuristic), and the number of
    * fixed-size frames it splits into.
    */
  def withMeta(df: DataFrame, binCol: String): DataFrame =
    df.withColumn("n_bytes", length(col(binCol)))
      .withColumn("format",
        when(substr(col(binCol), lit(1), lit(3)) === lit("the".getBytes), "type_the")
          .when(substr(col(binCol), lit(1), lit(2)) === lit("a ".getBytes), "type_a")
          .otherwise("type_raw"))
      .withColumn("n_frames",
        floor((col("n_bytes").cast("long") + (FrameBytes - 1)) / FrameBytes).cast("long"))

  /** Sample every `stride`-th fixed-size frame: one output row per
    * sampled frame with its offset, byte slice, and stubbed features.
    * Pure column ops (codegen'd) — the shape a real frame decoder
    * would fan out to.
    */
  def sampleFrames(df: DataFrame, binCol: String, idCol: String, stride: Int): DataFrame =
    withMeta(df, binCol)
      .select(col(idCol).as("id"), col(binCol).as("bin"), col("n_bytes"), col("n_frames"))
      .withColumn("frame_idx",
        explode(sequence(lit(0L), col("n_frames") - 1, lit(stride.toLong))))
      .withColumn("frame_off", col("frame_idx") * FrameBytes)
      .withColumn("frame", substr(col("bin"), col("frame_off") + 1, lit(FrameBytes)))
      // STUB decode: md5 stands in for the real feature extractor
      .withColumn("frame_feature", md5(col("frame")))
      .withColumn("frame_len", length(col("frame")))
      .select("id", "frame_idx", "frame_off", "frame_len", "frame_feature")

  /** Binary near-dup fingerprint: 64-bit SimHash over the payload's
    * overlapping byte-4-gram tokens (hex-encoded) — the binary twin of
    * the text pipeline's d3. Payloads differing in a few bytes land
    * within small Hamming distance; bucketing/verification then reuse
    * the text dedup machinery unchanged.
    */
  def simhashBinary(df: DataFrame, binCol: String, idCol: String): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)
      // fused native kernel (r18): one pass over the raw bytes — the
      // previous hex() + transform(sequence…substr) composition
      // materialized a payload-sized hex string plus one UTF8String
      // per byte position per row (the suite's hottest CPU row at
      // 9.4 task-CPU-s, and GC-bound). Token derivation and votes are
      // byte-identical (SimHashOps.simhashBytes documents the
      // contract); the coalesce preserves the composition's null
      // behavior (null payload → one null token → zero votes → 0L).
      .select(col(idCol).as("id"),
        lpad(hex(coalesce(graft.functions.simhashBytes(col(binCol)), lit(0L))), 16, "0")
          .as("simhash"))

  /** lk43: the blob-grain chunk index as a lake table — the binary
    * member of the index-gated ingest family, whose contract is on
    * [[graft.operators.IndexGate]]. The index is the corpus's DISTINCT
    * CDC chunk fingerprints (bytes never stored or shuffled). A blob
    * whose distinct chunks are ≥ `maxContainment` indexed is a
    * near-copy (edited image, re-encoded header + same body) and
    * rejects; admitted blobs extend the index distinct-against-it, so
    * its size tracks unique content bytes. Intra-increment near-copies
    * are NOT resolved here (run [[cdcNearDupPairs]] first when that
    * matters); a redelivered copy counts in `rejectedContained`. A
    * null/empty payload has zero chunks: it ADMITS into
    * `admittedChunkless` and, never entering the index, re-admits on
    * replay — gate on lk41 exact fingerprints first when that matters.
    */
  def chunkIndexInit(
      spark: org.apache.spark.sql.SparkSession, indexPath: String,
      corpus: DataFrame, binCol: String, idCol: String,
      minLen: Int = 64, maskBits: Int = 8, maxLen: Int = 4096): Int =
    graft.operators.IndexGate.seed(spark, indexPath, corpus
      .select(explode(graft.functions.cdcChunks(col(binCol), minLen, maskBits, maxLen)).as("fp"))
      .distinct())

  final case class ChunkIngestReport(
      admitted: Long, rejectedContained: Long,
      dataVersion: Int, indexVersion: Int,
      admittedChunkless: Long = 0L)

  def chunkGatedIngest(
      spark: org.apache.spark.sql.SparkSession,
      dataPath: String, indexPath: String,
      increment: DataFrame, binCol: String, idCol: String,
      maxContainment: Double = 0.5,
      minLen: Int = 64, maskBits: Int = 8, maxLen: Int = 4096): ChunkIngestReport =
    fpGatedIngest(spark, dataPath, indexPath, increment, binCol, idCol,
      maxContainment, "chunk")(inc => inc
        .select(col(idCol).as("id"),
          explode(graft.functions.cdcChunks(col(binCol), minLen, maskBits, maxLen)).as("fp"))
        .distinct())

  /** The shared containment decision of the index-gated BLOB ingest
    * family (lk43 chunk grain / lk46 frame grain): given the
    * increment's distinct (id, fp) fingerprint relation, reject rows
    * whose fingerprints are ≥ maxContainment contained in the
    * persisted index, land the rest, and extend the index
    * distinct-against-it — one membership join against the index,
    * corpus never rescanned, bytes never shuffled (only fingerprints
    * move). Fingerprint-less rows (empty/corrupt payloads — zero
    * CDC chunks, undecodable containers) admit explicitly in their
    * own report bucket, never silently dropped.
    */
  private def fpGatedIngest(
      spark: org.apache.spark.sql.SparkSession,
      dataPath: String, indexPath: String,
      increment: DataFrame, binCol: String, idCol: String,
      maxContainment: Double, stagePrefix: String)(
      fpRelation: DataFrame => DataFrame): ChunkIngestReport = {
    val o = graft.operators.IndexGate.ingest(
      spark, dataPath, indexPath, stagePrefix, increment, idCol, binCol) { (inc, index) =>
      val chunks = fpRelation(inc)
        .localCheckpoint(eager = true) // feeds containment AND the index append
      val contained = chunks
        .join(index.select(col("fp"), lit(true).as("hit")), Seq("fp"), "left")
        .groupBy("id")
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("hit"), 1L).otherwise(0L)).as("n_hit"))
        .withColumn("reject",
          col("n_hit").cast("double") / col("n_chunks") >= maxContainment)
        .localCheckpoint(eager = true)
      // a chunkless (null/empty) payload has no row in `contained`: a
      // semi-join on the admits would silently drop it, so anti-join
      // the rejects and count the chunkless rows in their own tally
      graft.operators.IndexGate.Decision(
        admitted = inc.join(
          contained.where(col("reject")).select(col("id").as(idCol)), Seq(idCol), "left_anti"),
        indexRows = admitted => chunks
          .join(admitted.select(col(idCol).as("id")), Seq("id"), "left_semi")
          .select("fp").distinct()
          .join(index, Seq("fp"), "left_anti"),
        tallies = Seq(inc.join(contained.select(col("id").as(idCol)), Seq(idCol), "left_anti")))
    }
    ChunkIngestReport(o.admitted, o.rest, o.dataVersion, o.indexVersion, o.tallies.head)
  }

  /** The increment's distinct (id, frame-hash) relation via the REAL
    * multi-frame decode ([[gifFrameHashes]]): only ok frames count —
    * an undecodable blob contributes no fingerprints and lands in the
    * gate's frameless bucket.
    */
  private def frameFps(df: DataFrame, binCol: String, idCol: String): DataFrame = {
    import df.sparkSession.implicits._
    gifFrameHashes(
      df.select(col(idCol).cast("long"), col(binCol)).as[(Long, Array[Byte])])
      .toDF()
      .where(col("ok"))
      .select(col("id"), col("ahash").as("fp"))
      .distinct()
  }

  /** lk46: persisted FRAME-HASH index init — the video-grain member
    * of the index-gated ingest family: the corpus's distinct
    * perceptual frame hashes from the real ImageIO multi-frame decode,
    * so a re-encoded or re-muxed copy of seen footage still collides.
    */
  def frameIndexInit(
      spark: org.apache.spark.sql.SparkSession, indexPath: String,
      corpus: DataFrame, binCol: String, idCol: String): Int =
    graft.operators.IndexGate.seed(spark, indexPath,
      frameFps(corpus, binCol, idCol).select("fp").distinct())

  /** lk46: frame-gated blob ingest — a multi-frame blob rejects when
    * ≥ maxContainment of its decoded frames' perceptual hashes are
    * indexed (the re-uploaded clip with a new intro, the re-encoded
    * copy: the PIXELS survive re-encoding, the bytes don't); admitted
    * blobs extend the index by exactly their unseen frame hashes. One
    * decode pass over the increment + one membership join per batch;
    * a redelivered copy counts in `rejectedContained`.
    */
  def frameGatedIngest(
      spark: org.apache.spark.sql.SparkSession,
      dataPath: String, indexPath: String,
      increment: DataFrame, binCol: String, idCol: String,
      maxContainment: Double = 0.5): ChunkIngestReport =
    fpGatedIngest(spark, dataPath, indexPath, increment, binCol, idCol,
      maxContainment, "frame")(frameFps(_, binCol, idCol))

  /** Chunk-grain dedup accounting over binary payloads via
    * content-defined chunking ([[graft.functions.CdcOps]]): each
    * payload becomes its ordered chunk-fingerprint list (one native
    * codegen'd pass per row), corpus-wide chunk multiplicity comes
    * from ONE groupBy over (fingerprint) — fingerprints only, bytes
    * never shuffle — and the per-payload report counts how many of
    * its chunks also occur elsewhere. Near-copies (same blob with an
    * edit, re-encoded container with shared streams) that
    * document-grain exact dedup scores as distinct show up here with
    * shared_chunks ≈ n_chunks. Returns (id, n_chunks, shared_chunks).
    */
  def cdcDedupReport(
      df: DataFrame, binCol: String, idCol: String,
      minLen: Int = 64, maskBits: Int = 8, maxLen: Int = 4096): DataFrame = {
    val chunks = df
      .select(col(idCol).as("id"),
        explode(graft.functions.cdcChunks(col(binCol), minLen, maskBits, maxLen)).as("fp"))
      .localCheckpoint(eager = true) // feeds the multiplicity agg AND the join
    val mult = chunks.groupBy("fp").agg(count(lit(1)).as("n_occ"))
    chunks.join(mult, "fp")
      .groupBy("id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("n_occ") > 1, 1L).otherwise(0L)).as("shared_chunks"))
  }

  /** m8: blob near-dup PAIRS via shared content-defined chunks — the
    * pairing refinement of [[cdcDedupReport]]'s per-doc counters: two
    * payloads that share ≥ `pct`% of the smaller side's distinct
    * chunk fingerprints are a near-copy pair (an edited image, a
    * re-encoded header + same body, a v2 re-crawl), even though
    * document-grain exact dedup sees distinct payloads. The d20
    * containment measure applied at the chunk grain.
    *
    * Scale shape: bytes never shuffle — the chunk expression folds
    * each payload to its fingerprint list in one codegen'd pass, and
    * everything downstream is (fp, id) longs. Candidates come from
    * the chunk inverted index; `maxOcc` drops fingerprints present in
    * more payloads than that (boilerplate chunks — every posting list
    * of length n yields n² pair rows, and a chunk in half the corpus
    * is evidence of a TEMPLATE, not a near-copy). The cap is
    * conservative: it can only lower a pair's measured containment,
    * never invent a pair.
    */
  def cdcNearDupPairs(
      df: DataFrame, binCol: String, idCol: String, pct: Int,
      minLen: Int = 64, maskBits: Int = 8, maxLen: Int = 4096,
      maxOcc: Int = 64): DataFrame = {
    val sets = df
      .select(col(idCol).as("id"),
        explode(graft.functions.cdcChunks(col(binCol), minLen, maskBits, maxLen)).as("fp"))
      .distinct() // set semantics: a repeated chunk counts once
      .localCheckpoint(eager = true) // feeds sizes, occurrence cap, and the pair join
    val sizes = sets.groupBy("id").agg(count(lit(1)).as("n_ch"))
    val rare = sets.join(
      sets.groupBy("fp").agg(count(lit(1)).as("n_occ"))
        .where(col("n_occ") <= maxOcc),
      "fp")
    val common = rare.select(col("id").as("id_a"), col("fp"))
      .join(rare.select(col("id").as("id_b"), col("fp")), Seq("fp"))
      .where(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_common"))
    common
      .join(sizes.toDF("id_a", "n_a"), Seq("id_a"))
      .join(sizes.toDF("id_b", "n_b"), Seq("id_b"))
      .where(lit(100L) * col("n_common") >= lit(pct.toLong) * least(col("n_a"), col("n_b")))
      .select(
        col("id_a"), col("id_b"), col("n_common"), col("n_a"), col("n_b"),
        round(col("n_common").cast("double") / col("n_a"), 4).as("cont_a"),
        round(col("n_common").cast("double") / col("n_b"), 4).as("cont_b"))
  }

  /** Modality routing: write a mixed binary corpus partitioned by the
    * sniffed format tag, so each modality's downstream pipeline
    * (image decode, audio resample, text tokenize) scans ONLY its own
    * `format=...` directories — directory-level pruning does the
    * routing at read time, no per-row filtering of the other
    * modalities' bytes. The sniff is [[withMeta]]'s magic-prefix
    * heuristic; `repartition(format)` keeps one writer task per
    * modality partition (no tiny-file fanout at 100 TB — compaction
    * handles the rest, see ParquetLake.compact).
    */
  def routeByModality(df: DataFrame, binCol: String, idCol: String, outPath: String): Unit =
    withMeta(df, binCol)
      .select(col(idCol).as("id"), col(binCol).as("payload"),
        col("n_bytes").cast("long").as("n_bytes"), col("format"))
      .repartition(col("format"))
      .write.mode("overwrite").partitionBy("format").parquet(outPath)

  /** One stub "embedding" row per input payload: the 8 ints are the
    * md5 hex digest split into 4-hex-digit chunks (the deterministic
    * stand-in for model logits); norm is computed from them in fixed
    * array order so it is bit-identical across engines.
    */
  case class StubEmbedding(id: Long, nDims: Int, intSum: Long, eMd5: String, norm: Double)

  /** Batched model inference over an opaque payload column — the
    * mapPartitions shape a real encoder runs in at 100 TB: ONE model
    * handle per partition (initialized where the comment marks it,
    * amortized over the partition), inputs buffered into fixed-size
    * batches (`grouped(batchSize)` — a GPU encoder wants dense
    * batches, not row-at-a-time calls), one output row per input.
    * The model itself is STUBBED deterministically (md5 chunks as
    * logits — no model runtime in this container); the plumbing
    * (partitioning, batch shape, output schema) is the real thing
    * and the output is exactly replayable by the DuckDB oracle.
    * Output is independent of partitioning and batch size (spec m5).
    */
  def embedBatched(
      payloads: Dataset[(Long, Array[Byte])], batchSize: Int = 16): Dataset[StubEmbedding] = {
    import payloads.sparkSession.implicits._
    payloads.mapPartitions { it =>
      // real binding would load the model/codec handle once per partition here
      val digest = java.security.MessageDigest.getInstance("MD5")
      it.grouped(batchSize).flatMap { batch =>
        // real binding would run ONE forward pass over the whole batch
        batch.map { case (id, bytes) =>
          digest.reset()
          val hx = digest.digest(bytes).map(b => f"$b%02x").mkString
          val ks = Array.tabulate(8)(j => java.lang.Long.parseLong(hx.substring(j * 4, j * 4 + 4), 16))
          val dims = ks.map(k => k / 65535.0 * 2 - 1)
          var ss = 0.0
          dims.foreach(d => ss += d * d)
          digest.reset()
          val eMd5 = digest.digest(ks.mkString(",").getBytes("UTF-8"))
            .map(b => f"$b%02x").mkString
          StubEmbedding(id, 8, ks.sum, eMd5, math.sqrt(ss))
        }
      }
    }
  }

  /** A rendered image: encode spec + the REAL container bytes the
    * JDK's ImageIO produced for it.
    */
  case class RenderedImage(id: Long, fmt: String, w: Int, h: Int, payload: Array[Byte])

  /** Render real image containers from (id, width, height, format)
    * specs — javax.imageio is part of the JDK, so unlike the frame /
    * embedding decoders this path is NOT stubbed: the bytes are
    * genuine PNG / JPEG / GIF / BMP files with deterministic pixel
    * content derived from (id, x, y). Same mapPartitions shape as
    * [[embedBatched]] (encoder state amortized per partition); used
    * with [[graft.functions.imageMeta]] it closes the loop
    * encode → opaque binary column → header-sniffed typed metadata
    * with no fake anywhere.
    */
  /** One deterministic grayscale container (see [[renderImages]]):
    * the raster is a pure function of (seed, x, y), so two renders
    * with the same (seed, w, h) are pixel-identical whatever the
    * container format — the property m13's cross-format dedup rests
    * on. 8-bit grayscale, raster written directly: deterministic
    * bytes (no colorspace conversion) and ≤256 colors, which every
    * JDK writer (incl. GIF's palette quantizer) accepts.
    */
  private def rasterize(seed: Long, w: Int, h: Int): java.awt.image.BufferedImage = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    // splitmix64 scramble: consecutive seeds must yield unrelated
    // rasters (a LINEAR seed term shifts values mod 256, which can
    // leave two seeds' 8×8 threshold patterns — and thus their
    // aHashes — identical)
    val z = graft.functions.splitmix64(seed * 0x9e3779b97f4a7c15L + 0x2545f4914f6cdd1dL)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        raster.setSample(x, y, 0,
          (((x * 31 + y * 17) + (z >>> ((x + y) & 56)) + z) & 0xffL).toInt)
        x += 1
      }
      y += 1
    }
    img
  }

  private def renderOne(seed: Long, w: Int, h: Int, fmt: String): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(rasterize(seed, w, h), fmt, bos)
    bos.toByteArray
  }

  /** Fan a small-bytes/high-CPU relation out to the cluster's
    * parallelism before a codec-bound mapPartitions: a spec or blob
    * relation read from one small parquet file arrives as 1-2
    * partitions (the scan partitions by BYTES), which would pin the
    * whole encode/decode stage to 1-2 cores while the rest idle —
    * the classic CPU-bound-narrow-stage trap. Only widens (an
    * already-parallel input is left alone, so at 100 TB where the
    * scan is thousands of partitions this is a no-op); the shuffle
    * it adds moves the small spec rows, never rendered bytes.
    */
  private def fanOut[T](ds: Dataset[T]): Dataset[T] = {
    val target = ds.sparkSession.sparkContext.defaultParallelism
    if (ds.rdd.getNumPartitions < target) ds.repartition(target) else ds
  }

  def renderImages(specs: Dataset[(Long, Int, Int, String)]): Dataset[RenderedImage] = {
    import specs.sparkSession.implicits._
    fanOut(specs).mapPartitions { it =>
      // real binding would initialize the codec once per partition here
      it.map { case (id, w, h, fmt) =>
        RenderedImage(id, fmt, w, h, renderOne(id, w, h, fmt))
      }
    }
  }

  /** [[renderImages]] with the raster seed decoupled from the row id:
    * rows sharing a seed are pixel-identical duplicates under
    * different ids (and possibly different container formats) — the
    * fixture generator for image-dedup operators.
    */
  def renderImagesSeeded(
      specs: Dataset[(Long, Long, Int, Int, String)]): Dataset[(Long, Array[Byte])] = {
    import specs.sparkSession.implicits._
    fanOut(specs).mapPartitions { it =>
      it.map { case (id, seed, w, h, fmt) => (id, renderOne(seed, w, h, fmt)) }
    }
  }

  /** m16: one row of the full-resolution pixel round-trip audit —
    * the decode-side twin of [[RenderedImage]]'s encode claim.
    */
  case class PixelRoundtrip(
      id: Long, fmt: String, w: Int, h: Int, nPix: Long,
      decodeOk: Boolean, exact: Boolean)

  /** m16: render → decode → compare EVERY pixel against the
    * construction raster. m11 pins header round-trips and m13 pins an
    * 8×8 perceptual thumb; this is the strongest claim in the family:
    * for each raster-exact container (png/bmp; the JDK GIF writer
    * palette-quantizes dense-gray rasters, measured ~18% off-by-a-
    * level on the m11 spec mix, which is why the GIF-grain operators
    * m13/m15 hash a thumb instead), the decoded image must reproduce
    * the encoder's full-resolution samples bit-for-bit. The whole
    * chain is partition-local (render, decode, and compare never
    * leave the task); only (fmt, flags, dims) aggregate afterwards —
    * bytes and pixels never shuffle, so the audit is linear in corpus
    * and embarrassingly parallel at 100 TB.
    *
    * Sample extraction avoids colorspace math entirely: single-band
    * rasters are read directly; palette (GIF) rasters map the index
    * through the IndexColorModel's red channel (entries are (v,v,v)
    * grays, so red IS the sample) — no luminance weighting, no sRGB
    * gamma, nothing that could be off-by-one.
    */
  def pixelRoundtrip(
      specs: Dataset[(Long, Int, Int, String)]): Dataset[PixelRoundtrip] = {
    import specs.sparkSession.implicits._
    fanOut(specs).mapPartitions { it =>
      it.map { case (id, w, h, fmt) =>
        val bytes = renderOne(id, w, h, fmt)
        val src =
          try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
          catch { case _: java.io.IOException => null }
        if (src == null) PixelRoundtrip(id, fmt, w, h, 0L, decodeOk = false, exact = false)
        else {
          val want = rasterize(id, w, h).getRaster
          val got = src.getRaster
          val icm = src.getColorModel match {
            case m: java.awt.image.IndexColorModel => m
            case _ => null
          }
          var ok = src.getWidth == w && src.getHeight == h &&
            (icm != null || got.getNumBands == 1)
          var y = 0
          while (ok && y < h) {
            var x = 0
            while (ok && x < w) {
              val s = got.getSample(x, y, 0)
              val v = if (icm != null) icm.getRed(s) else s
              ok = v == want.getSample(x, y, 0)
              x += 1
            }
            y += 1
          }
          PixelRoundtrip(id, fmt, w, h, w.toLong * h, decodeOk = true, exact = ok)
        }
      }
    }
  }

  /** A rendered audio clip: encode spec + the REAL container bytes
    * the JDK's sound stack produced for it.
    */
  case class RenderedAudio(
      id: Long, fmt: String, sampleRate: Int, channels: Int,
      nFrames: Int, payload: Array[Byte])

  /** Render real audio containers from (id, sampleRate, channels,
    * nFrames, format) specs — javax.sound.sampled ships with the JDK
    * (like ImageIO for [[renderImages]]), so the bytes are genuine
    * WAV / AIFF / AU files: RIFF chunk layout, AIFF's 80-bit
    * extended-float rate, AU's word header all come from the real
    * encoder, and [[graft.functions.audioMeta]] closes the loop
    * encode → opaque binary → header-sniffed typed metadata with no
    * fake anywhere. 16-bit signed PCM throughout (every JDK file
    * writer accepts it); samples are a deterministic function of
    * (id, frame, channel) — content is irrelevant to the metadata
    * path but must be reproducible for byte-grain fixtures. Same
    * mapPartitions shape as [[renderImages]].
    */
  def renderAudio(
      specs: Dataset[(Long, Int, Int, Int, String)]): Dataset[RenderedAudio] = {
    import specs.sparkSession.implicits._
    fanOut(specs).mapPartitions { it =>
      it.map { case (id, rate, ch, frames, fmt) =>
        RenderedAudio(id, fmt, rate, ch, frames,
          renderOneAudio(id, rate, ch, frames, fmt))
      }
    }
  }

  private def renderOneAudio(
      seed: Long, rate: Int, ch: Int, frames: Int, fmt: String): Array[Byte] = {
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    // WAVE is little-endian PCM by spec; AIFF and AU are big-endian
    val bigEndian = fmt != "wav"
    val af = new AudioFormat(rate.toFloat, 16, ch, true, bigEndian)
    val pcm = new Array[Byte](frames * ch * 2)
    val z = graft.functions.splitmix64(seed * 0x9e3779b97f4a7c15L + 0x2545f4914f6cdd1dL)
    var i = 0
    while (i < frames * ch) {
      val s = ((z >>> ((i & 3) * 16)) + i * 2654435761L).toShort
      if (bigEndian) {
        pcm(2 * i) = (s >> 8).toByte; pcm(2 * i + 1) = s.toByte
      } else {
        pcm(2 * i) = s.toByte; pcm(2 * i + 1) = (s >> 8).toByte
      }
      i += 1
    }
    val tpe = fmt match {
      case "wav" => AudioFileFormat.Type.WAVE
      case "aiff" => AudioFileFormat.Type.AIFF
      case "au" => AudioFileFormat.Type.AU
      case other => throw new IllegalArgumentException(
        s"unsupported audio container '$other' (wav|aiff|au)")
    }
    val in = new AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), af, frames.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    try AudioSystem.write(in, tpe, bos) finally in.close()
    bos.toByteArray
  }

  /** [[renderAudio]] with the PCM seed decoupled from the row id —
    * rows sharing a seed carry sample-identical audio under different
    * ids and (by id-driven format choice) different containers: the
    * fixture generator for audio-content dedup, exactly
    * [[renderImagesSeeded]]'s role for images.
    */
  def renderAudioSeeded(
      specs: Dataset[(Long, Long, Int, Int, Int, String)]): Dataset[(Long, Array[Byte])] = {
    import specs.sparkSession.implicits._
    fanOut(specs).mapPartitions { it =>
      it.map { case (id, seed, rate, ch, frames, fmt) =>
        (id, renderOneAudio(seed, rate, ch, frames, fmt))
      }
    }
  }

  /** One audio content fingerprint row. */
  case class AudioFingerprint(id: Long, fp: String, ok: Boolean)

  /** m17: container-invariant audio CONTENT fingerprint — m13's audio
    * twin. The JDK decodes the container (javax.sound.sampled reads
    * WAV/AIFF/AU), the frames are re-serialized to a canonical form
    * (16-bit samples big-endian in frame order, prefixed by the
    * channel count), and the md5 of that canonical PCM is the
    * fingerprint: the same recording shipped as little-endian WAV and
    * big-endian AIFF/AU hashes identically, while byte-grain dedup
    * sees three distinct blobs. 16-bit PCM is lossless in every JDK
    * container writer, so — unlike gif pixels (see
    * [[pixelRoundtrip]]) — content equality here is sample-exact, not
    * perceptual. Decode and hash are partition-local; only the
    * 32-char fingerprint shuffles, never samples. Malformed bytes
    * yield ok=false, never a throw.
    */
  def audioFingerprint(
      clips: Dataset[(Long, Array[Byte])]): Dataset[AudioFingerprint] = {
    import clips.sparkSession.implicits._
    clips.mapPartitions { it =>
      it.map { case (id, bytes) =>
        try {
          val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
            new java.io.ByteArrayInputStream(bytes))
          try {
            val f = in.getFormat
            if (f.getSampleSizeInBits != 16) AudioFingerprint(id, "", ok = false)
            else {
              val raw = in.readAllBytes()
              val canon = new Array[Byte](raw.length + 1)
              canon(0) = f.getChannels.toByte
              var i = 0
              while (i + 1 < raw.length) {
                // normalize to big-endian sample order
                if (f.isBigEndian) {
                  canon(i + 1) = raw(i); canon(i + 2) = raw(i + 1)
                } else {
                  canon(i + 1) = raw(i + 1); canon(i + 2) = raw(i)
                }
                i += 2
              }
              val md = java.security.MessageDigest.getInstance("MD5")
              AudioFingerprint(id,
                md.digest(canon).map(b => f"$b%02x").mkString, ok = true)
            }
          } finally in.close()
        } catch {
          case _: Exception => AudioFingerprint(id, "", ok = false)
        }
      }
    }
  }

  /** An image thumbnail: source id + the re-encoded PNG bytes. */
  case class ResizedImage(id: Long, srcW: Int, srcH: Int, payload: Array[Byte])

  /** REAL image resize — decode (ImageIO.read), scale, re-encode
    * (PNG) — the thumbnail/normalize step of an image-corpus
    * pipeline, with no stub anywhere: the input bytes are a genuine
    * container, the decode is the JDK's, and the output is a genuine
    * PNG whose dimensions [[graft.functions.imageMeta]] can verify.
    * Target dims use INTEGER arithmetic so an external oracle can
    * replay them exactly: max(w,h) ≤ maxDim keeps the source size,
    * else each side maps to max(1, side*maxDim / max(w,h)) with floor
    * division. An undecodable payload maps to (-1,-1) source dims and
    * empty bytes — flagged, never thrown, same corpus-robustness
    * contract as the sniffer.
    */
  def resizeImages(
      images: Dataset[(Long, Array[Byte])], maxDim: Int): Dataset[ResizedImage] = {
    import images.sparkSession.implicits._
    images.mapPartitions { it =>
      it.map { case (id, bytes) =>
        val src =
          try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
          catch { case _: java.io.IOException => null }
        if (src == null) ResizedImage(id, -1, -1, Array.empty[Byte])
        else {
          val w = src.getWidth; val h = src.getHeight
          val mx = math.max(w, h)
          val (tw, th) =
            if (mx <= maxDim) (w, h)
            else (math.max(1, w * maxDim / mx), math.max(1, h * maxDim / mx))
          val dst = new java.awt.image.BufferedImage(
            tw, th, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
          val g = dst.createGraphics()
          try {
            g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
              java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
            g.drawImage(src, 0, 0, tw, th, null) // synchronous for BufferedImage sources
          } finally g.dispose()
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(dst, "png", bos)
          ResizedImage(id, w, h, bos.toByteArray)
        }
      }
    }
  }

  /** A perceptual image hash row: 64-bit average-hash as 16 hex
    * chars; ok=false (empty hash) for undecodable payloads.
    */
  case class ImageHash(id: Long, ahash: String, ok: Boolean)

  /** REAL perceptual image hashing (aHash, the average-hash family
    * used for image-corpus near-dup detection): decode the container
    * (ImageIO), bilinear-scale to an 8×8 grayscale thumb, threshold
    * each cell against the thumb's mean → 64 bits, hex-encoded.
    * Because the hash is computed from decoded PIXELS, the same image
    * re-encoded in a different lossless container (PNG vs BMP vs GIF)
    * hashes IDENTICALLY — which is exactly what byte-grain dedup
    * (d1/lk41) can never see — and a lossy JPEG re-encode lands
    * within small Hamming distance, pairing via the same
    * Hamming-bucket machinery as d3's text SimHash. Map-only per row
    * (bytes never shuffle; the 16-char hash is what aggregates), cost
    * bounded by decode + 64 samples. Undecodable payloads flag
    * ok=false, never throw.
    */
  /** aHash of an already-decoded image: bilinear 8×8 gray thumb,
    * threshold against the thumb mean, 64 bits hex-encoded. Shared by
    * the single-image and per-GIF-frame hashers, so a frame decoded
    * out of an animated container hashes identically to the same
    * raster rendered standalone.
    */
  private def hashDecoded(src: java.awt.image.BufferedImage): String = {
    val thumb = new java.awt.image.BufferedImage(
      8, 8, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val g = thumb.createGraphics()
    try {
      g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
        java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
      g.drawImage(src, 0, 0, 8, 8, null)
    } finally g.dispose()
    val px = new Array[Int](64)
    var i = 0
    while (i < 64) {
      px(i) = thumb.getRaster.getSample(i % 8, i / 8, 0)
      i += 1
    }
    var sum = 0L
    px.foreach(sum += _)
    val mean = sum / 64.0
    var bits = 0L
    i = 0
    while (i < 64) {
      if (px(i) > mean) bits |= (1L << (63 - i))
      i += 1
    }
    f"$bits%016x"
  }

  def aHash(images: Dataset[(Long, Array[Byte])]): Dataset[ImageHash] = {
    import images.sparkSession.implicits._
    images.mapPartitions { it =>
      it.map { case (id, bytes) =>
        val src =
          try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
          catch { case _: java.io.IOException => null }
        if (src == null) ImageHash(id, "", ok = false)
        else ImageHash(id, hashDecoded(src), ok = true)
      }
    }
  }

  /** Render a real ANIMATED GIF per spec row — a genuine multi-frame
    * video-like container from the JDK's ImageIO sequence writer (no
    * stub): frame f of a row is the deterministic [[rasterize]] of
    * `frameSeeds(f)`, so two blobs sharing a seed at any frame
    * position carry pixel-identical frames — the fixture property
    * frame-grain dedup (m15) rests on. The GIF palette encode is
    * deterministic but NOT sample-exact on dense-gray rasters (the
    * m16 audit measures the quantization) — identical inputs still
    * produce identical outputs, and m15 compares frames through the
    * quantization-absorbing 8×8 aHash, so dedup is unaffected.
    */
  def renderAnimatedGifs(
      specs: Dataset[(Long, Int, Int, Array[Long])]): Dataset[(Long, Array[Byte])] = {
    import specs.sparkSession.implicits._
    fanOut(specs).mapPartitions { it =>
      it.map { case (id, w, h, frameSeeds) =>
        val writer =
          javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
        val bos = new java.io.ByteArrayOutputStream()
        val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
        try {
          writer.setOutput(ios)
          writer.prepareWriteSequence(null)
          frameSeeds.foreach { seed =>
            writer.writeToSequence(
              new javax.imageio.IIOImage(rasterize(seed, w, h), null, null), null)
          }
          writer.endWriteSequence()
        } finally { writer.dispose(); ios.close() }
        (id, bos.toByteArray)
      }
    }
  }

  case class FrameHash(id: Long, frameIdx: Int, ahash: String, ok: Boolean)

  /** REAL frame extraction — the de-stubbed core of the m2 shape for
    * the one multi-frame container the JDK can decode: an ImageIO GIF
    * reader walks every frame of the animated container and each
    * decoded frame gets the same perceptual [[hashDecoded]] as a
    * standalone image, so frame-grain dedup sees repeats ACROSS blobs
    * and frame positions (shared intros, repeated stills) that
    * byte-grain dedup cannot. Map-only per row — bytes never shuffle,
    * only (id, frameIdx, 16-char hash) rows leave the scan; per-row
    * cost ∝ payload frames. Undecodable payloads yield one
    * ok=false row, never throw (at corpus scale some blob is always
    * corrupt; the gate must not kill the job).
    */
  def gifFrameHashes(
      images: Dataset[(Long, Array[Byte])]): Dataset[FrameHash] = {
    import images.sparkSession.implicits._
    images.mapPartitions { it =>
      it.flatMap { case (id, bytes) =>
        try {
          val reader =
            javax.imageio.ImageIO.getImageReadersByFormatName("gif").next()
          val iis = javax.imageio.ImageIO.createImageInputStream(
            new java.io.ByteArrayInputStream(bytes))
          try {
            reader.setInput(iis, false, false)
            val n = reader.getNumImages(true)
            if (n <= 0) Seq(FrameHash(id, -1, "", ok = false))
            else (0 until n).map { i =>
              FrameHash(id, i, hashDecoded(reader.read(i)), ok = true)
            }
          } finally { reader.dispose(); iis.close() }
        } catch {
          case _: Exception => Seq(FrameHash(id, -1, "", ok = false))
        }
      }
    }
  }

  /** Per-partition batch "decoder" — the mapPartitions shape a real
    * codec binding would use (one codec instance per partition, rows
    * streamed through it). Decode itself is the deterministic stub.
    */
  case class DecodedFrame(id: Long, frameIdx: Int, energy: Long)

  def decodePartitions(frames: Dataset[(Long, Int, Array[Byte])]): Dataset[DecodedFrame] = {
    import frames.sparkSession.implicits._
    frames.mapPartitions { it =>
      // real binding would initialize the codec once per partition here
      it.map { case (id, idx, bytes) =>
        var e = 0L
        var i = 0
        while (i < bytes.length) { e += (bytes(i) & 0xff); i += 1 }
        DecodedFrame(id, idx, e % 100000L)
      }
    }
  }
}
