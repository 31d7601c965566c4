package graft

import org.apache.spark.sql.functions._

import graft.operators.{ConnectedComponents, Dedup, Similarity}

/** Degenerate-input behavior: every operator must return an empty
  * (or well-defined) result on empty input, never throw — at 100 TB
  * some partition, date, or source is always empty.
  */
class EdgeCaseSpec extends SparkSpec {
  import spark.implicits._

  private lazy val noDocs =
    Seq.empty[(Long, String)].toDF("doc_id", "text")
  private lazy val noVecs =
    Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")

  test("dedup family on an empty corpus returns empty, not an error") {
    assert(Dedup.exact(noDocs, "text", "doc_id").count() === 0)
    assert(Dedup.minhashCandidates(noDocs, "text", "doc_id").count() === 0)
    assert(Dedup.jaccardVerified(noDocs, "text", "doc_id", 0.5).count() === 0)
    assert(Dedup.simhashPairs(noDocs, "text", "doc_id", 3).count() === 0)
    assert(Dedup.embeddingPairs(noVecs, "embedding", "vec_id", 0.5).count() === 0)
    assert(Dedup.embeddingPairsLsh(noVecs, "embedding", "vec_id", 0.5).count() === 0)
    assert(Dedup.decontaminateBloom(noDocs, "text", "doc_id", lit(false)).count() === 0)
  }

  test("bloom decontamination with an empty benchmark flags nothing") {
    val docs = Seq((1L, "alpha beta gamma delta"), (2L, "epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    // no doc satisfies the benchmark predicate → null sketch → every
    // corpus doc must come back uncontaminated, not throw
    val out = Dedup.decontaminateBloom(docs, "text", "doc_id", lit(false)).collect()
    assert(out.length === 2)
    assert(out.forall(!_.getAs[Boolean]("contaminated")))
    // and all-benchmark means an empty corpus result
    assert(Dedup.decontaminateBloom(docs, "text", "doc_id", lit(true)).count() === 0)
  }

  test("semdedup on empty/single/solo-only input keeps everything, never throws") {
    assert(Dedup.semDedup(noVecs, "embedding", "vec_id", 0.9).count() === 0)
    val one = Seq((3L, Array.fill(64)(1.0f))).toDF("vec_id", "embedding")
    val oneOut = Dedup.semDedup(one, "embedding", "vec_id", 0.9).collect()
    assert(oneOut.length === 1 && oneOut.head.getAs[Boolean]("keep"))
    // fewer vectors than nlist: every seed is its own centroid, all kept
    val few = Seq(
      (1L, Array.tabulate(64)(i => if (i == 0) 1.0f else 0.0f)),
      (2L, Array.tabulate(64)(i => if (i == 1) 1.0f else 0.0f)),
      (3L, Array.tabulate(64)(i => if (i == 2) 1.0f else 0.0f)))
      .toDF("vec_id", "embedding")
    val fewOut = Dedup.semDedup(few, "embedding", "vec_id", 0.9, nlist = 16).collect()
    assert(fewOut.length === 3)
    assert(fewOut.forall(_.getAs[Boolean]("keep")))
  }

  test("similarity search with an empty corpus or empty query set returns empty") {
    val queries = Seq((0L, Array.fill(64)(1.0f)))
      .toDF("q_id", "q_vec")
    val noQueries = Seq.empty[(Long, Array[Float])].toDF("q_id", "q_vec")
    assert(Similarity.bruteKnn(noVecs, "embedding", "vec_id", queries, 5).count() === 0)
    val corpus = spark.read.parquet(s"$sf/embeddings.parquet")
    assert(Similarity.bruteKnn(corpus, "embedding", "vec_id", noQueries, 5).count() === 0)
    assert(Similarity.lshKnn(corpus, "embedding", "vec_id", noQueries, 5).count() === 0)
    assert(Similarity.ivfKnn(corpus, "embedding", "vec_id", noQueries, 5).count() === 0)
  }

  test("range search and batched embedding handle empty/degenerate input") {
    val queries = Seq((0L, Array.fill(64)(1.0f))).toDF("q_id", "q_vec")
    val noQueries = Seq.empty[(Long, Array[Float])].toDF("q_id", "q_vec")
    assert(Similarity.rangeSearch(noVecs, "embedding", "vec_id", queries, 0.5).count() === 0)
    val corpus = spark.read.parquet(s"$sf/embeddings.parquet")
    assert(Similarity.rangeSearch(corpus, "embedding", "vec_id", noQueries, 0.5).count() === 0)
    // radius above any attainable cosine: empty, not an error
    assert(Similarity.rangeSearch(corpus, "embedding", "vec_id", queries, 1.1).count() === 0)

    import graft.multimodal.BinaryOps
    val noPayloads = Seq.empty[(Long, Array[Byte])].toDS()
    assert(BinaryOps.embedBatched(noPayloads).count() === 0)
    // batch larger than the data still yields one row per input
    val two = Seq((1L, "abc".getBytes), (2L, Array.empty[Byte])).toDS()
    val out = BinaryOps.embedBatched(two, batchSize = 100).collect().sortBy(_.id)
    assert(out.length === 2)
    assert(out.forall(_.nDims === 8))
  }

  test("incremental read rejects unknown versions; empty delta keeps schema") {
    import graft.sources.ParquetLake
    val dir = java.nio.file.Files.createTempDirectory("graft_incr_edge").toString
    graft.queries.events(spark, sf).limit(10)
      .select("event_id", "user_id", "event_type", "ts_ms")
      .createOrReplaceTempView("incr_edge_src")
    ParquetLake.writePartitioned(
      spark.table("incr_edge_src"), dir, "ts_ms", sortCols = Seq("user_id"))
    val v1 = ParquetLake.snapshotManifest(spark, dir)
    intercept[IllegalArgumentException] {
      ParquetLake.readIncremental(spark, dir, fromVersion = 99).count()
    }
    val empty = ParquetLake.readIncremental(spark, dir, v1, Some(v1))
    assert(empty.count() === 0)
    assert(empty.columns.contains("event_id"))
  }

  test("connected components of an empty edge set is empty (both paths)") {
    val noEdges = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(ConnectedComponents.run(noEdges).count() === 0)
    val st = ConnectedComponents.runWithStatsDistributed(noEdges)
    assert(st.labels.count() === 0)
  }

  test("single-document corpus: no pairs anywhere, exact keeps the doc") {
    val one = Seq((7L, "a single lonely document about nothing")).toDF("doc_id", "text")
    assert(Dedup.exact(one, "text", "doc_id").count() === 1)
    assert(Dedup.minhashCandidates(one, "text", "doc_id").count() === 0)
    assert(Dedup.jaccardVerified(one, "text", "doc_id", 0.5).count() === 0)
    val oneVec = Seq((7L, Array.fill(64)(0.5f))).toDF("vec_id", "embedding")
    assert(Dedup.embeddingPairs(oneVec, "embedding", "vec_id", 0.1).count() === 0)
  }

  test("documents with empty/whitespace text flow through fingerprints") {
    val weird = Seq((1L, ""), (2L, "   "), (3L, "\t\n"), (4L, "real text here"))
      .toDF("doc_id", "text")
    // all-whitespace normalizes to the same fingerprint; no throws
    val fp = Dedup.exact(weird, "text", "doc_id").collect()
    assert(fp.map(_.getAs[Long]("n_copies")).sum === 4L)
    assert(Dedup.simhashFingerprints(weird, "text", "doc_id").count() === 4)
  }

  test("global shuffle: empty input, salt independence, determinism") {
    import graft.operators.Shuffle
    assert(Shuffle.globalPermutation(noDocs, "doc_id", "e0").count() === 0)
    val docs = (1L to 200L).map(i => (i, s"d$i")).toDF("doc_id", "text")
    def perm(salt: String) =
      Shuffle.globalPermutation(docs, "doc_id", salt)
        .select("doc_id", "shuffle_rank")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val (e0, e0again, e1) = (perm("epoch0"), perm("epoch0"), perm("epoch1"))
    assert(e0 === e0again)            // same salt → identical permutation
    assert(e0 !== e1)                 // different salt → a different epoch order
    assert(e1.values.toSeq.sorted === (1L to 200L)) // still a dense permutation
    intercept[IllegalArgumentException] {
      Shuffle.globalPermutation(docs, "doc_id", "e0", prefixHexChars = 0)
    }
  }

  test("BPE: zero merges, empty corpus, single-char words") {
    import graft.operators.Bpe
    // the public entry point and both learners it picks between
    Seq[(org.apache.spark.sql.DataFrame, String, Int) => org.apache.spark.sql.DataFrame](
      Bpe.learnMerges, Bpe.learnMergesOnDriver, Bpe.learnMergesDistributed).foreach { learn =>
      assert(learn(noDocs, "text", 4).count() === 0)
      assert(learn(Seq((1L, "hello world")).toDF("doc_id", "text"), "text", 0).count() === 0)
      // single-char words carry no pairs: merge learning stops early
      assert(learn(Seq((1L, "a b c a b")).toDF("doc_id", "text"), "text", 8).count() === 0)
    }
  }

  test("session-5 edges: empty ingest increment, no-match vectored delete, single-event resample") {
    import java.nio.file.Files
    import graft.operators.Dedup
    import graft.sources.ParquetLake
    import org.apache.spark.sql.functions._
    // empty increment through the lk41 gate: no commit, no crash,
    // zeroed report with the 0-sentinel versions
    val dataPath = Files.createTempDirectory("graft_edge_data").toString + "/lake"
    val indexPath = Files.createTempDirectory("graft_edge_idx").toString + "/index"
    val docs = graft.queries.table(spark, sf, "documents")
      .select("doc_id", "source", "text")
    docs.write.parquet(dataPath)
    ParquetLake.snapshotManifest(spark, dataPath)
    Dedup.dedupIndexInit(spark, indexPath, docs, "text", "doc_id")
    val before = ParquetLake.readManifest(spark, dataPath, None).get
    val r = Dedup.indexedIngest(spark, dataPath, indexPath,
      docs.where(lit(false)), "text", "doc_id")
    assert(r === Dedup.IngestReport(0L, 0L, 0L, 0, 0))
    assert(ParquetLake.readManifest(spark, dataPath, None).get === before)

    // the rest of the index-gated family on an empty increment: the
    // same zeroed report, and neither the data nor the index lake
    // gains a commit
    import graft.multimodal.BinaryOps
    def emptyIngest[R](corpus: org.apache.spark.sql.DataFrame, initIndex: String => Int)(
        ingest: (String, String, org.apache.spark.sql.DataFrame) => R): R = {
      val d = Files.createTempDirectory("graft_edge_gdata").toString + "/lake"
      val i = Files.createTempDirectory("graft_edge_gidx").toString + "/index"
      corpus.write.parquet(d)
      ParquetLake.snapshotManifest(spark, d)
      initIndex(i)
      def state() = Seq(d, i).map(p =>
        (ParquetLake.manifestLog(spark, p).map(_._1), ParquetLake.readManifest(spark, p, None)))
      val before = state()
      val report = ingest(d, i, corpus.where(lit(false)))
      assert(state() === before)
      report
    }
    assert(emptyIngest(docs, Dedup.lineIndexInit(spark, _, docs, "text", "doc_id"))(
      Dedup.lineGatedIngest(spark, _, _, _, "text", "doc_id")) ===
      Dedup.LineIngestReport(0L, 0L, 0L, 0L, 0L, 0, 0))
    assert(emptyIngest(docs, Dedup.nearDupIndexInit(spark, _, docs, "text", "doc_id"))(
      Dedup.nearDupIngest(spark, _, _, _, "text", "doc_id")) ===
      Dedup.NearDupIngestReport(0L, 0L, 0L, 0, 0))
    val blobs = Seq((1L, "chunk gate payload " * 20)).toDF("blob_id", "t")
      .select(col("blob_id"), col("t").cast("binary").as("payload"))
    assert(emptyIngest(blobs, BinaryOps.chunkIndexInit(spark, _, blobs, "payload", "blob_id"))(
      BinaryOps.chunkGatedIngest(spark, _, _, _, "payload", "blob_id")) ===
      BinaryOps.ChunkIngestReport(0L, 0L, 0, 0, 0L))
    val clips = BinaryOps.renderAnimatedGifs(
      Seq((1L, 16, 16, Array(1L, 2L))).toDS()).toDF("blob_id", "payload")
    assert(emptyIngest(clips, BinaryOps.frameIndexInit(spark, _, clips, "payload", "blob_id"))(
      BinaryOps.frameGatedIngest(spark, _, _, _, "payload", "blob_id")) ===
      BinaryOps.ChunkIngestReport(0L, 0L, 0, 0, 0L))
    val vecs = Seq(1L -> Seq.fill(64)(1.0f)).toDF("vec_id", "embedding")
    assert(emptyIngest(vecs, Similarity.embedIndexInit(spark, _, vecs, "embedding", "vec_id"))(
      Similarity.embedGatedIngest(spark, _, _, _, "embedding", "vec_id")) ===
      Dedup.NearDupIngestReport(0L, 0L, 0L, 0, 0))

    // vectored delete matching nothing: version unchanged, no dv
    // header, no stray .dv dir referenced
    val lakeDir = Files.createTempDirectory("graft_edge_dv").toString
    ParquetLake.writePartitioned(
      graft.queries.events(spark, sf).select("event_id", "user_id", "event_type", "ts_ms"),
      lakeDir, "ts_ms", sortCols = Nil)
    val v1 = ParquetLake.snapshotManifest(spark, lakeDir)
    assert(ParquetLake.deleteVectored(spark, lakeDir, col("event_id") === -1L) === v1)
    assert(!ParquetLake.manifestHeaders(spark, lakeDir).contains("dv"))

    // q56 resample: a single-event user yields exactly one grid point
    // carrying that value (its own day bucket)
    import spark.implicits._
    val one = Seq((99L, 86400123L, 7L, 2.5)).toDF("user_id", "ts_ms", "event_id", "value")
    val dir2 = Files.createTempDirectory("graft_edge_rs").toString
    // run the same operator shape directly over the tiny relation
    val step = 86400000L
    val e = one.groupBy(col("user_id"), col("ts_ms").as("t"))
      .agg(max_by(col("value"), col("event_id")).as("value"))
    val grid = e.groupBy("user_id")
      .agg(expr(s"min(t) div $step").as("b0"), expr(s"max(t) div $step").as("b1"))
      .select(col("user_id"), explode(sequence(col("b0"), col("b1"))).as("bk"))
      .select(col("user_id"), (col("bk") * step).as("t"))
    assert(grid.count() === 1L)
    assert(grid.head().getLong(1) === 86400000L)
  }

  test("lk41-lk47: a row redelivered with the same id lands once through every index gate, its copy counted, a replay admits 0") {
    import java.nio.file.Files
    import graft.multimodal.BinaryOps
    import graft.sources.ParquetLake
    // the increment: `first` delivered twice (same id and payload),
    // then `other` — both fresh against the corpus and each other.
    // Each id lands once, the index gains no duplicate rows, and a
    // replay of the whole increment admits nothing
    def redelivered[R](corpus: org.apache.spark.sql.DataFrame, idCol: String,
        first: org.apache.spark.sql.DataFrame, other: org.apache.spark.sql.DataFrame)(
        initIndex: String => Int)(
        ingest: (String, String, org.apache.spark.sql.DataFrame) => R)(
        admitted: R => Long): R = {
      val d = Files.createTempDirectory("graft_edge_rdata").toString + "/lake"
      val i = Files.createTempDirectory("graft_edge_ridx").toString + "/index"
      corpus.write.parquet(d)
      ParquetLake.snapshotManifest(spark, d)
      initIndex(i)
      val inc = first.unionByName(first).unionByName(other)
      val report = ingest(d, i, inc)
      val landed = ParquetLake.readManifested(spark, d)
        .join(inc.select(idCol).distinct(), Seq(idCol), "left_semi")
        .groupBy(idCol).count()
      assert(landed.count() === 2L, report.toString)
      assert(landed.where(col("count") =!= 1L).isEmpty, report.toString)
      val index = ParquetLake.readManifested(spark, i)
      assert(index.count() === index.distinct().count(), report.toString)
      assert(admitted(ingest(d, i, inc)) === 0L)
      report
    }
    def text(rows: (Long, String)*) = rows.toDF("doc_id", "text")
    val docs = text(1L -> "the corpus document. it has two sentences")
    // per-doc-unique vocabulary: no shingle overlap between any two docs
    def words(i: Int): String = (0 until 30).map(j => s"w${i}x$j").mkString(" ")
    val (doc10, doc11) = (text(10L -> words(10)), text(11L -> words(11)))
    assert(redelivered(docs, "doc_id", doc10, doc11)(
      Dedup.dedupIndexInit(spark, _, docs, "text", "doc_id"))(
      Dedup.indexedIngest(spark, _, _, _, "text", "doc_id"))(_.admitted) ===
      Dedup.IngestReport(2L, 0L, 1L, 2, 2))
    val nearCorpus = text(1L -> words(1))
    assert(redelivered(nearCorpus, "doc_id", doc10, doc11)(
      Dedup.nearDupIndexInit(spark, _, nearCorpus, "text", "doc_id"))(
      Dedup.nearDupIngest(spark, _, _, _, "text", "doc_id"))(_.admitted) ===
      Dedup.NearDupIngestReport(2L, 0L, 1L, 2, 2))
    // the copy scrubs to empty against its first copy; sentence counts
    // cover the increment without the copy
    assert(redelivered(docs, "doc_id", text(10L -> "fresh one. fresh two"),
      text(11L -> "other one"))(
      Dedup.lineIndexInit(spark, _, docs, "text", "doc_id"))(
      Dedup.lineGatedIngest(spark, _, _, _, "text", "doc_id"))(_.docsAdmitted) ===
      Dedup.LineIngestReport(3L, 2L, 1L, 3L, 3L, 2, 2))
    def blob(id: Long, s: String) = Seq((id, s * 20)).toDF("blob_id", "t")
      .select(col("blob_id"), col("t").cast("binary").as("payload"))
    val blobs = blob(1L, "chunk gate corpus payload ")
    assert(redelivered(blobs, "blob_id", blob(10L, "a fresh blob body "),
      blob(11L, "another fresh payload "))(
      BinaryOps.chunkIndexInit(spark, _, blobs, "payload", "blob_id"))(
      BinaryOps.chunkGatedIngest(spark, _, _, _, "payload", "blob_id"))(_.admitted) ===
      BinaryOps.ChunkIngestReport(2L, 1L, 2, 2, 0L))
    def clip(id: Long, seeds: Long*) = BinaryOps.renderAnimatedGifs(
      Seq((id, 16, 16, seeds.toArray)).toDS()).toDF("blob_id", "payload")
    val clips = clip(1L, 1L, 2L)
    assert(redelivered(clips, "blob_id", clip(10L, 10L, 11L), clip(11L, 20L, 21L))(
      BinaryOps.frameIndexInit(spark, _, clips, "payload", "blob_id"))(
      BinaryOps.frameGatedIngest(spark, _, _, _, "payload", "blob_id"))(_.admitted) ===
      BinaryOps.ChunkIngestReport(2L, 1L, 2, 2, 0L))
    // Hamming 32 between every pair of the three sign patterns
    def vec(id: Long, v: Int => Float) =
      Seq(id -> (0 until 64).map(v)).toDF("vec_id", "embedding")
    val vecs = vec(1L, _ => 1.0f)
    assert(redelivered(vecs, "vec_id", vec(10L, i => if (i % 2 == 0) 1.0f else -1.0f),
      vec(11L, i => if (i % 4 < 2) 1.0f else -1.0f))(
      Similarity.embedIndexInit(spark, _, vecs, "embedding", "vec_id"))(
      Similarity.embedGatedIngest(spark, _, _, _, "embedding", "vec_id"))(_.admitted) ===
      Dedup.NearDupIngestReport(2L, 0L, 1L, 2, 2))
  }

  test("a13/q58 degenerate shapes: single-day churn is empty; a thin customer keeps its <3 orders") {
    import spark.implicits._
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft_edge_new").toString
    // single-day events: no (d, d-1) pair exists → churn is EMPTY, not a throw
    Seq((1L, java.sql.Timestamp.valueOf("2024-03-01 10:00:00"), 7L, "click", 1.0, "{}"),
        (2L, java.sql.Timestamp.valueOf("2024-03-01 11:00:00"), 8L, "view", 2.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    assert(graft.queries.AnalyticsQueries.queries("a13_theta_diff")(spark, dir).count() === 0L)
    // one customer, two orders: top-3 emits exactly the 2 that exist,
    // ranked, no padding and no throw
    val ts = java.sql.Timestamp.valueOf("2024-03-01 00:00:00")
    Seq((10L, 5L, "O", 1.0, ts, "1-URGENT"), (11L, 5L, "O", 1.0, ts, "1-URGENT"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority")
      .write.parquet(s"$dir/orders.parquet")
    Seq((10L, 1L, 1L, 1, 1.0, 100.0, 0.0, 0.0, "N", "O", ts),
        (11L, 1L, 1L, 1, 1.0, 300.0, 0.5, 0.0, "N", "O", ts))
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate")
      .write.parquet(s"$dir/lineitem.parquet")
    val rows = graft.queries.AnalyticsQueries.queries("q58_topk_per_group")(spark, dir).collect()
    assert(rows.length === 2)
    // order 11 nets 150.0 (300 at 50% discount) > order 10's 100.0
    assert(rows.map(r => (r.getAs[Long]("rank"), r.getAs[Long]("o_orderkey"))).toSeq
      === Seq((1L, 11L), (2L, 10L)))
  }

  test("QC sampling knobs fail fast and rewrite only whole-word FROM sources") {
    import graft.queries.{parseQcSamplePct, sampledSqlAt}
    // in-range parses; 0/100 (full-corpus traps) and junk refuse loudly
    assert(parseQcSamplePct("2") === 2)
    assert(parseQcSamplePct("99") === 99)
    for (bad <- Seq("0", "100", "-3"))
      assert(intercept[IllegalArgumentException](parseQcSamplePct(bad))
        .getMessage.contains("[1, 99]"), bad)
    assert(intercept[IllegalArgumentException](parseQcSamplePct("two"))
      .getMessage.contains("integer"))
    // whole-word FROM rewrite: a prefix-sharing table name and an
    // id-join mention survive untouched; lowercase keyword + newline
    // between FROM and the name still rewrite
    val sql = "SELECT * from\n  documents d JOIN documents_meta m ON d.doc_id = m.doc_id"
    val out = sampledSqlAt(sql, "documents", "doc_id", 5)
    assert(out.contains("FROM (SELECT * FROM documents WHERE"))
    assert(out.contains("JOIN documents_meta m"), out)
    assert(!out.contains("documents_meta WHERE"), out)
    // no FROM source at all → loud failure, never a silent full replay
    assert(intercept[IllegalArgumentException](
      sampledSqlAt("SELECT * FROM embeddings", "documents", "doc_id", 5))
      .getMessage.contains("no 'FROM documents'"))
  }

  test("Bench.runQuery runs a listed row under the lifted object-agg fallback and a plain row without it") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import scala.jdk.CollectionConverters._
    val key = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    // the threshold each SQL job ran under: SQL execution propagates
    // the session conf into the job's local properties
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit =
        Option(s.properties).flatMap(p => Option(p.getProperty(key))).foreach(seen.add)
    }
    // the listener bus is async; settle by polling until the count
    // stops moving before the listener is removed
    def thresholds(name: String): Set[String] = {
      seen.clear()
      spark.sparkContext.addSparkListener(listener)
      try {
        Bench.runQuery(spark, name, sf)
        var prev = -1
        while (seen.size != prev) { prev = seen.size; Thread.sleep(200) }
      } finally spark.sparkContext.removeSparkListener(listener)
      seen.asScala.toSet
    }
    val before = spark.conf.getOption(key)
    assert(SparkEntry.boundedObjectAggQueries("a2_sketch_merge"))
    assert(!SparkEntry.boundedObjectAggQueries("q1_pricing_summary"))
    assert(thresholds("a2_sketch_merge") === Set("10000000"))
    assert(spark.conf.getOption(key) === before)
    assert(thresholds("q1_pricing_summary") === Set("65536"))
    assert(spark.conf.getOption(key) === before)
  }

  test("every bounded-object-agg row and every codec-tail row is a SparkEntry query") {
    // a renamed row would otherwise silently lose its scope in
    // Bench.runQuery or its tail placement in the timing mains
    val names = SparkEntry.queries.keySet
    assert(SparkEntry.boundedObjectAggQueries -- names === Set.empty[String])
    assert(Bench.codecTail -- names === Set.empty[String])
  }
}
