package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Dedup operators against planted duplicates (the driver data has
  * near-dups but no exact dups, so we plant our own here).
  */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = spark.read.parquet(s"$sf/documents.parquet")

  /** documents ∪ copies of the first 20 docs (new ids, same text,
    * one with extra whitespace/case noise that normalization removes).
    */
  private lazy val withDups = {
    val copies = docs.orderBy("doc_id").limit(20)
      .withColumn("doc_id", col("doc_id") + 100000L)
      .withColumn("text", concat(upper(substring(col("text"), 1, 5)),
        substring(col("text"), 6, 1000000), lit("  ")))
    docs.unionByName(copies)
  }

  test("d1: exact dedup collapses normalized duplicates") {
    val out = Dedup.exact(withDups, "text", "doc_id")
    assert(out.count() === docs.count()) // 20 dups collapsed
    assert(out.where(col("n_copies") === 2).count() === 20)
    // keeper is always the original (minimum) id
    assert(out.where(col("n_copies") === 2).where(col("keep_id") >= 100000L).count() === 0)
  }

  test("d2: minhash LSH surfaces planted exact dups as candidates") {
    val cands = Dedup.minhashCandidates(withDups, "text", "doc_id")
      .where(col("id_b") >= 100000L && col("id_a") === col("id_b") - 100000L)
    assert(cands.count() === 20) // every planted pair collides in all bands
    assert(cands.where(col("n_bands") === 4).count() === 20)
  }

  test("d11: incremental probe equals the full run restricted to cross pairs") {
    val corpus = withDups.where(col("doc_id") < 100000L)
    val inc = withDups.where(col("doc_id") >= 100000L)
    val incr = Dedup.minhashCandidatesIncremental(corpus, inc, "text", "doc_id")
      .select("id_new", "id_old", "n_bands")
      .as[(Long, Long, Long)].collect().toSet
    // every planted copy collides with its original in all 4 bands
    assert(incr.count { case (n, o, b) => n == o + 100000L && b == 4 } === 20)
    // ≡ the full-corpus run restricted to pairs that cross the split
    // (id_a < id_b and new ids are all larger, so id_b is the new side)
    val full = Dedup.minhashCandidates(withDups, "text", "doc_id")
      .where(col("id_b") >= 100000L && col("id_a") < 100000L)
      .select(col("id_b"), col("id_a"), col("n_bands"))
      .as[(Long, Long, Long)].collect().toSet
    assert(incr === full)
  }

  test("d12: span dedup removes repeated 5-gram spans, keeps first occurrences") {
    val tiny = Seq(
      (1L, "a b c d e x y"),       // holds the first occurrence — untouched
      (2L, "z a b c d e w"),       // repeated gram at pos 1 → tokens 1-5 drop
      (3L, "a b c d e"),           // the whole doc is a repeated gram → empty
      (4L, "p q r s"),             // shorter than n → untouched
      (5L, "m n o p q m n o p q")  // intra-doc repeat at pos 5 → tail drops
    ).toDF("doc_id", "text")
    val out = Dedup.spanDedup(tiny, "text", "doc_id")
      .select("doc_id", "n_tok", "n_removed", "kept_text")
      .as[(Long, Long, Long, String)].collect().sortBy(_._1).toSeq
    assert(out === Seq(
      (1L, 7L, 0L, "a b c d e x y"),
      (2L, 7L, 5L, "z w"),
      (3L, 5L, 5L, ""),
      (4L, 4L, 0L, "p q r s"),
      (5L, 10L, 5L, "m n o p q")))
  }

  test("d12: packed and struct first-occurrence paths agree") {
    // ids past 2^31 force the min(struct) fallback; shifting every id
    // by a constant preserves id order, so the first-occurrence policy
    // must produce identical per-doc output under either aggregate
    val tiny = Seq(
      (1L, "a b c d e x y"),
      (2L, "z a b c d e w"),
      (5L, "m n o p q m n o p q")).toDF("doc_id", "text")
    val packed = Dedup.spanDedup(tiny, "text", "doc_id")
      .select("n_tok", "n_removed", "kept_text")
      .as[(Long, Long, String)].collect().sortBy(_._3).toSeq
    val unpackable = Dedup.spanDedup(
        tiny.withColumn("doc_id", col("doc_id") + lit(1L << 40)), "text", "doc_id")
      .select("n_tok", "n_removed", "kept_text")
      .as[(Long, Long, String)].collect().sortBy(_._3).toSeq
    assert(packed === unpackable)
    // IntegerType ids take the packed path too (the guard passes for
    // any int); without the pre-shift long cast, <<32 on an int is a
    // Java no-op and the key collapses to doc_id + pos across docs
    val intIds = Dedup.spanDedup(
        tiny.withColumn("doc_id", col("doc_id").cast("int")), "text", "doc_id")
      .select("n_tok", "n_removed", "kept_text")
      .as[(Long, Long, String)].collect().sortBy(_._3).toSeq
    assert(intIds === packed)
  }

  test("d12: span dedup is conservative on the real corpus") {
    val out = Dedup.spanDedup(docs, "text", "doc_id")
    // one row per doc, token accounting exact
    assert(out.count() === docs.count())
    assert(out.where(col("n_removed") < 0 || col("n_removed") > col("n_tok")).count() === 0)
    // the small-vocab corpus genuinely shares 5-grams
    assert(out.agg(sum("n_removed")).as[Long].head() > 0)
    // untouched docs keep their exact normalized text
    val norm = docs.select(col("doc_id"),
      trim(regexp_replace(lower(col("text")), "\\s+", " ")).as("norm"))
    val joined = out.where(col("n_removed") === 0).join(norm, "doc_id")
    assert(joined.where(col("kept_text") =!= col("norm")).count() === 0)
  }

  test("d3: simhash of planted dup pairs has hamming 0; distinct docs differ") {
    val fp = Dedup.simhashFingerprints(withDups, "text", "doc_id")
    val a = fp.toDF("id_a", "sh_a")
    val b = fp.toDF("id_b", "sh_b")
    val planted = a.join(b, col("id_b") === col("id_a") + 100000L)
    assert(planted.count() === 20)
    assert(planted.where(col("sh_a") === col("sh_b")).count() === 20)
    assert(fp.select("simhash").distinct().count() > 400)
  }

  test("d3: simhashPairs finds planted dups within hamming bound") {
    val pairs = Dedup.simhashPairs(withDups, "text", "doc_id", maxHamming = 3)
    val planted = pairs.where(col("id_b") >= 100000L && col("id_a") === col("id_b") - 100000L)
    assert(planted.count() === 20)
  }

  test("d4: jaccard pairs include the driver data's near-dups at >= 0.9") {
    val pairs = Dedup.jaccardPairs(docs, "text", "doc_id", 0.5)
    assert(pairs.where(col("jaccard") >= 0.9).count() > 0)
  }

  test("d5: embedding pairs are symmetric-safe (id_a < id_b) and thresholded") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val pairs = Dedup.embeddingPairs(emb, "embedding", "vec_id", 0.45)
    assert(pairs.where(col("id_a") >= col("id_b")).count() === 0)
    assert(pairs.where(col("cos_sim") < 0.45).count() === 0)
  }

  test("d5: block-matrix join equals the naive all-pairs join exactly") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val blocked = Dedup.embeddingPairs(emb, "embedding", "vec_id", 0.3, blocks = 5)
      .orderBy("id_a", "id_b").collect()
    // reference: naive O(N²) cross join, same cosine kernel
    val e = emb.select(col("vec_id").as("id"), col("embedding").as("v"))
    val naive = e.toDF("id_a", "v_a").join(e.toDF("id_b", "v_b"), col("id_a") < col("id_b"))
      .withColumn("cos_sim", graft.functions.cosine(col("v_a"), col("v_b")))
      .where(col("cos_sim") >= 0.3)
      .select(col("id_a"), col("id_b"), round(col("cos_sim"), 4).as("cos_sim"))
      .orderBy("id_a", "id_b").collect()
    assert(blocked.toSeq === naive.toSeq)
  }

  /** Planted tight clusters for the LSH-bucketed path: 10 clusters ×
    * 5 members at cos ≈ 0.999 (tiny deterministic per-member noise)
    * plus 50 diffuse solo vectors.
    */
  private lazy val planted = {
    val dim = 64
    // splitmix-style scramble → pseudo-random centers, near-orthogonal
    // in 64-d (cross-cluster cos ~ N(0, 1/8)), so only within-cluster
    // pairs clear a 0.9 threshold
    def rnd(seed: Long): Double = {
      var z = seed * 0x9e3779b97f4a7c15L + 0x1234567L
      z ^= z >>> 30; z *= 0xbf58476d1ce4e5b9L
      z ^= z >>> 27; z *= 0x94d049bb133111ebL
      z ^= z >>> 31
      (z % 1001L) / 1000.0
    }
    def base(c: Int): Array[Float] =
      Array.tabulate(dim)(d => rnd(c * 1000L + d).toFloat)
    val members = for (c <- 0 until 10; m <- 0 until 5) yield {
      val b = base(c)
      (c * 5L + m, b.zipWithIndex.map { case (x, d) =>
        x + 0.01f * rnd(900000L + m * 64L + d).toFloat })
    }
    val solos = for (i <- 0 until 50) yield
      (1000L + i, base(5000 + i))
    (members ++ solos).toDF("vec_id", "embedding")
  }

  test("d5-lsh: bucketed pairs equal exact pairs on clustered data (recall 1)") {
    val exact = Dedup.embeddingPairs(planted, "embedding", "vec_id", 0.9)
      .orderBy("id_a", "id_b").collect()
    val lsh = Dedup.embeddingPairsLsh(planted, "embedding", "vec_id", 0.9)
      .orderBy("id_a", "id_b").collect()
    assert(exact.length === 10 * (5 * 4 / 2)) // every within-cluster pair
    assert(lsh.toSeq === exact.toSeq)
  }

  test("d10: semdedup keeps exactly one representative per planted cluster") {
    // every planted 5-pack is near-identical, so its members share a
    // nearest k-means centroid and form one within-cell dup component;
    // solos have no neighbor above the threshold anywhere
    val rows = Dedup.semDedup(planted, "embedding", "vec_id", 0.9, nlist = 10, lloydIters = 2)
      .collect()
    assert(rows.length === 10 * 5 + 50)
    val kept = rows.filter(_.getAs[Boolean]("keep")).map(_.getAs[Long]("id")).toSet
    // one representative per planted cluster: the min id of the pack
    (0 until 10).foreach { c =>
      val pack = (0 until 5).map(m => c * 5L + m)
      assert(pack.count(kept) === 1, s"cluster $c kept ${pack.filter(kept)}")
      assert(kept(pack.min), s"representative of cluster $c must be min id")
    }
    // every solo survives
    (0 until 50).foreach(i => assert(kept(1000L + i)))
  }

  test("d10: semdedup output invariants on the embeddings table") {
    val emb = graft.queries.table(spark, sf, "embeddings")
    val rows = graft.queries.DedupQueries.queries("d10_semdedup")(spark, sf).collect()
    assert(rows.length === emb.count())
    // ids unique, each assigned to exactly one cell
    assert(rows.map(_.getAs[Long]("id")).distinct.length === rows.length)
    // dedup only ever removes rows, never all of a cell's rows
    val byCell = rows.groupBy(_.getAs[Long]("c_id"))
    byCell.foreach { case (cell, members) =>
      assert(members.exists(_.getAs[Boolean]("keep")), s"cell $cell kept nothing")
    }
  }

  test("d9: two live bloom builds on one session do not clobber each other") {
    import org.apache.spark.sql.functions.col
    val docs = graft.queries.table(spark, sf, "documents")
    // per-call uniquified temp views: the second build must not steal
    // the first's bench relation out from under its scalar subquery
    val first = Dedup.decontaminateBloom(docs, "text", "doc_id", col("doc_id") % 97 === 0)
    val second = Dedup.decontaminateBloom(docs, "text", "doc_id", col("doc_id") % 101 === 0)
    val n1 = first.where(col("contaminated")).count()
    val n2 = second.where(col("contaminated")).count()
    // different benchmark slices -> different (both nonzero) results
    assert(n1 > 0 && n2 > 0 && n1 != n2)
    // first still evaluates to ITS slice after second was built
    assert(first.where(col("contaminated")).count() === n1)
  }

  test("d17: the band planner picks (3 bands x 4 rows) for the 12-perm budget at tau 0.5") {
    val rows = Dedup.lshBandPlan(spark).collect()
    // every divisor split of 12, once
    assert(rows.length === 6)
    assert(rows.map(r => (r.getInt(0), r.getInt(1))).toSet ===
      Set((1, 12), (2, 6), (3, 4), (4, 3), (6, 2), (12, 1)))
    // capture probability is monotone in J for every config
    rows.foreach { r =>
      val ps = Seq(r.getAs[Double]("p_below"), r.getAs[Double]("p_at"),
        r.getAs[Double]("p_above"), r.getAs[Double]("p_neardup"))
      assert(ps.forall(p => p >= 0.0 && p <= 1.0), r.toString)
      assert(ps === ps.sorted, r.toString)
    }
    // hand-computed winner: (3,4) captures 95.93% at J=0.9 with only
    // 7.49% false candidates at J=0.4 — (4,3) is eligible too but
    // wastes 3x the verify work below threshold
    val best = rows.find(_.getAs[Long]("pick_rank") == 1L).get
    assert((best.getInt(0), best.getInt(1)) === ((3, 4)))
    assert(best.getAs[Double]("p_neardup") === 0.9593)
    assert(best.getAs[Double]("p_below") === 0.0749)
    // the sub-target configs rank strictly after every eligible one
    val eligible = rows.filter(_.getAs[Double]("p_neardup") >= 0.95)
      .map(_.getAs[Long]("pick_rank")).max
    val inel = rows.filter(_.getAs[Double]("p_neardup") < 0.95)
      .map(_.getAs[Long]("pick_rank")).min
    assert(eligible < inel)
  }

  test("d16: sampled-truth recall agrees with the full evaluation") {
    val docs = graft.queries.table(spark, sf, "documents")
    def row(pct: Int) =
      Dedup.lshRecallEval(docs, "text", "doc_id", 0.5, samplePct = pct).head()
    val full = row(100)
    val sampled = row(60)
    // the sample really shrinks the quadratic truth work
    assert(sampled.getAs[Long]("n_truth") < full.getAs[Long]("n_truth"))
    assert(sampled.getAs[Long]("n_cand") < full.getAs[Long]("n_cand"))
    assert(sampled.getAs[Long]("n_truth") > 0)
    // per-pair capture probability depends only on the pair's
    // Jaccard, so the sampled recall estimates the full recall
    assert(math.abs(sampled.getAs[Double]("recall") - full.getAs[Double]("recall")) <= 0.1,
      s"sampled=$sampled full=$full")
    // determinism: the hash sample is stable across runs
    assert(row(60) === sampled)
  }

  test("d6: decontamination excludes the benchmark slice and flags iff shared") {
    val rows = graft.queries.DedupQueries.queries("d6_decontaminate")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("doc_id") % 97 != 0L)
      assert(r.getAs[Boolean]("contaminated") === (r.getAs[Long]("n_shared") > 0))
      assert(r.getAs[Long]("n_shared") <= r.getAs[Long]("n_shingles"))
    }
  }

  test("d20: containment catches a quoted-inside dup that Jaccard-threshold dedup misses") {
    // doc 2 = doc 1 verbatim + a long unrelated tail: containment(1→2)
    // ≈ 1 while Jaccard is far below any near-dup threshold
    val short = (1 to 12).map(i => s"alpha$i").mkString(" ")
    val tail = (1 to 60).map(i => s"omega$i").mkString(" ")
    val fix = Seq(
      (1L, short),
      (2L, s"$short $tail"),
      (3L, (1 to 40).map(i => s"gamma$i").mkString(" "))) // unrelated
      .toDF("doc_id", "text")
    val pairs = Dedup.containmentPairs(fix, "text", "doc_id", 80)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(5), r.getDouble(6)))
    assert(pairs.map(p => (p._1, p._2)).toSeq === Seq((1L, 2L)))
    assert(pairs.head._3 === 1.0) // every shingle of the short doc is inside
    assert(pairs.head._4 < 0.5)
    // the same pair is invisible to Jaccard-verified dedup at τ=0.5
    assert(Dedup.jaccardVerified(fix, "text", "doc_id", 0.5).count() === 0)
    // sampled mode is a deterministic subset of the full run
    val full = Dedup.containmentPairs(docs, "text", "doc_id", 80)
      .collect().map(_.toString).toSet
    val sampled = Dedup.containmentPairs(docs, "text", "doc_id", 80, samplePct = 50)
      .collect().map(_.toString).toSet
    assert(sampled.subsetOf(full))
    assert(Dedup.containmentPairs(docs, "text", "doc_id", 80, samplePct = 50)
      .collect().map(_.toString).toSet === sampled)
  }

  test("d13 fixpoint: a deduped corpus re-dedups to itself — the pipeline is idempotent") {
    // run the one-call dedup on the dup-planted corpus, keep survivors
    val first = Dedup.dedupCorpus(withDups, "text", "doc_id", 0.5)
    val keepIds = first.where(col("keep")).select("id")
      .collect().map(_.getLong(0)).toSet
    assert(keepIds.size < withDups.count()) // something was actually removed
    val survivors = withDups.where(col("doc_id").isin(keepIds.toSeq: _*))
    // second pass: nothing left to dedup — every survivor keeps itself
    val second = Dedup.dedupCorpus(survivors, "text", "doc_id", 0.5)
    assert(second.where(!col("keep")).count() === 0)
    assert(second.count() === keepIds.size)
  }

  test("d18: dup weights conserve the corpus — sum(weight) = N, planted dups weigh 2") {
    val out = Dedup
      .dedupCorpusByQuality(withDups, "text", "doc_id", 0.5, col("n_chars"))
      .groupBy(col("kept_id").as("id"))
      .agg(count(lit(1)).as("weight"))
    val n = withDups.count()
    // soft dedup must lose nothing: every doc's mass lands on exactly
    // one representative
    assert(out.agg(sum("weight")).head().getLong(0) === n)
    // each planted copy pair collapses to one rep of weight >= 2, and
    // the rep is a real doc id
    val dupReps = out.where(col("weight") >= 2)
    assert(dupReps.count() >= 20L)
    assert(out.join(withDups.select(col("doc_id").as("id")), Seq("id"), "left_anti").count() === 0)
  }

  test("lk42: near-dup index gates ingest — LSH probe + exact verify, disjoint accounting, idempotent replay") {
    import java.nio.file.Files
    val dataPath = Files.createTempDirectory("graft_nd_data").toString + "/lake"
    val indexPath = Files.createTempDirectory("graft_nd_idx").toString + "/index"
    // per-doc-unique vocab → zero cross-doc shingle overlap, so every
    // candidate/verify outcome in this fixture is structural
    def doc(i: Int): String = (0 until 30).map(j => s"w${i}x$j").mkString(" ")
    val corpusA = (0 until 40).map(i => (i.toLong, doc(i))).toDF("doc_id", "text")
    corpusA.write.parquet(dataPath)
    graft.sources.ParquetLake.snapshotManifest(spark, dataPath)
    Dedup.nearDupIndexInit(spark, indexPath, corpusA, "text", "doc_id")

    val fresh = (40 until 60).map(i => (i.toLong, doc(i)))
    val exactRe = (0 until 5).map(i => (1000L + i, doc(i)))      // re-crawls
    val nearRe = (5 until 10).map(i => (2000L + i, doc(i) + " tail")) // mutated re-crawls
    val intra = Seq((3000L, doc(40)))                            // dup within the increment
    val inc = (fresh ++ exactRe ++ nearRe ++ intra).toDF("doc_id", "text")
    val r = Dedup.nearDupIngest(spark, dataPath, indexPath, inc, "text", "doc_id")
    // disjoint accounting covers the increment exactly
    assert(r.admitted + r.rejectedCorpusNear + r.rejectedIntraNear === 31L)
    // exact re-crawls are GUARANTEED corpus-near (identical bands,
    // Jaccard 1); mutated ones are near-certain under the fixed hash
    assert(r.rejectedCorpusNear >= 9L, r.toString)
    assert(r.rejectedIntraNear === 1L, r.toString)
    assert(r.admitted === 31L - 1L - r.rejectedCorpusNear)
    val lakeN = graft.sources.ParquetLake.readManifested(spark, dataPath).count()
    assert(lakeN === 40L + r.admitted)
    // replay: every row is now an exact dup of a landed row (escaped
    // mutations landed, caught ones match the corpus) → zero admits
    val r2 = Dedup.nearDupIngest(spark, dataPath, indexPath, inc, "text", "doc_id")
    assert(r2.admitted === 0L, r2.toString)
    assert(graft.sources.ParquetLake.readManifested(spark, dataPath).count() === lakeN)
  }

  test("lk41: persisted dedup index gates ingest — first-arrival wins, replays idempotent, index ≡ lake") {
    import java.nio.file.Files
    val dataPath = Files.createTempDirectory("graft_dedup_data").toString + "/lake"
    val indexPath = Files.createTempDirectory("graft_dedup_idx").toString + "/index"
    val docs = graft.queries.table(spark, sf, "documents")
      .select("doc_id", "source", "text")
    val corpusA = docs.where(col("doc_id") % 3 =!= 0)
    corpusA.write.parquet(dataPath)
    graft.sources.ParquetLake.snapshotManifest(spark, dataPath)
    Dedup.dedupIndexInit(spark, indexPath, corpusA, "text", "doc_id")

    // the increment: fresh docs, re-crawls of corpus docs (same text,
    // new ids), intra-increment repeats of fresh docs, and
    // at-least-once redeliveries (fresh docs repeated with the SAME id)
    val fresh = docs.where(col("doc_id") % 3 === 0)
    val dupOfA = corpusA.where(col("doc_id") % 7 === 1)
      .withColumn("doc_id", col("doc_id") + 100000L)
    val intra = fresh.where(col("doc_id") % 5 === 0)
      .withColumn("doc_id", col("doc_id") + 200000L)
    val redelivered = fresh.where(col("doc_id") % 11 === 0)
    assert(redelivered.count() > 0)
    val increment = fresh.unionByName(dupOfA).unionByName(intra)
      .unionByName(redelivered)
      .localCheckpoint(eager = false)
    val r = Dedup.indexedIngest(spark, dataPath, indexPath, increment, "text", "doc_id")
    assert(r.admitted === fresh.count())
    assert(r.rejectedIndexed === dupOfA.count())
    assert(r.rejectedIntra === intra.count() + redelivered.count())
    // the lake holds exactly one row per distinct fingerprint, and
    // the index IS the lake's fingerprint set
    val lake = graft.sources.ParquetLake.readManifested(spark, dataPath)
    assert(lake.count() === corpusA.count() + fresh.count())
    val lakeFps = lake.select(
      graft.functions.TextFunctions.contentFingerprint(col("text")).as("fingerprint"))
    assert(lakeFps.distinct().count() === lake.count())
    val index = graft.sources.ParquetLake.readManifested(spark, indexPath)
    assert(index.count() === lake.count())
    assert(index.join(lakeFps, Seq("fingerprint"), "left_anti").count() === 0)
    // first-arrival wins: a re-crawled doc's keeper is the ORIGINAL id
    val aDoc = corpusA.where(col("doc_id") % 7 === 1)
      .select(col("doc_id"),
        graft.functions.TextFunctions.contentFingerprint(col("text")).as("fingerprint"))
    val keepers = index.join(aDoc, Seq("fingerprint"))
    assert(keepers.where(col("keep_id") =!= col("doc_id")).count() === 0)
    // replaying the whole increment admits nothing
    val r2 = Dedup.indexedIngest(spark, dataPath, indexPath, increment, "text", "doc_id")
    assert(r2.admitted === 0L)
    assert(r2.rejectedIntra === 0L)
    assert(r2.rejectedIndexed === increment.count())
    assert(graft.sources.ParquetLake.readManifested(spark, dataPath).count() === lake.count())
  }

  test("lk44: line index scrubs ingest at sentence grain — rebuilds docs, drops boilerplate-only, replays to zero") {
    import java.nio.file.Files
    val dataPath = Files.createTempDirectory("graft_line_data").toString + "/lake"
    val indexPath = Files.createTempDirectory("graft_line_idx").toString + "/index"
    val corpus = Seq(
      (1L, "all rights reserved. alpha one. alpha two"),
      (2L, "beta one. beta two")).toDF("doc_id", "text")
    corpus.write.parquet(dataPath)
    graft.sources.ParquetLake.snapshotManifest(spark, dataPath)
    Dedup.lineIndexInit(spark, indexPath, corpus, "text", "doc_id")
    assert(graft.sources.ParquetLake.readManifested(spark, indexPath).count() === 5)

    val inc = Seq(
      (10L, "gamma one. gamma two"),                      // wholly fresh
      (11L, "all rights reserved. delta one"),            // corpus boilerplate scrubs
      (12L, "alpha one. beta two"),                       // wholly boilerplate → drops
      (13L, "epsilon shared. eps own"),                   // first holder of the shared line
      (14L, "epsilon shared. zeta own")                   // later occurrence scrubs
    ).toDF("doc_id", "text")
    val r = Dedup.lineGatedIngest(spark, dataPath, indexPath, inc, "text", "doc_id")
    assert(r.docsIn === 5L)
    assert(r.docsAdmitted === 4L, r.toString)
    assert(r.docsDroppedEmpty === 1L)
    assert(r.sentsIn === 10L)
    assert(r.sentsKept === 6L, r.toString) // gamma×2, delta, eps-shared, eps-own, zeta
    val landed = graft.sources.ParquetLake.readManifested(spark, dataPath)
      .where(col("doc_id") >= 10L)
      .select("doc_id", "text").collect()
      .map(x => x.getLong(0) -> x.getString(1)).toMap
    assert(landed === Map(
      10L -> "gamma one. gamma two",
      11L -> "delta one",
      13L -> "epsilon shared. eps own",
      14L -> "zeta own"))
    // index grew by exactly the surviving fingerprints
    assert(graft.sources.ParquetLake.readManifested(spark, indexPath).count() === 11)
    // replay: every sentence indexed now → all docs scrub to empty
    val r2 = Dedup.lineGatedIngest(spark, dataPath, indexPath, inc, "text", "doc_id")
    assert(r2.docsAdmitted === 0L, r2.toString)
    assert(r2.sentsKept === 0L)
    assert(graft.sources.ParquetLake.readManifested(spark, dataPath).count() === 6)
  }
}
