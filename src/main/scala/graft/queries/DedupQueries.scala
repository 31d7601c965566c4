package graft.queries

import graft.operators.Dedup

/** §2.3 — deduplication over `documents` / `embeddings`. */
object DedupQueries {

  // Shared DuckDB CTEs: normalized tokens and distinct 3-word shingles,
  // mirroring TextFunctions.normalize/tokens/wordShingles exactly.
  private val shingleCtes =
    """WITH toks AS (
      |  SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS t FROM documents
      |), sh AS (
      |  SELECT doc_id, list_distinct(CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
      |    ELSE list_transform(generate_series(1, len(t)-2), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) END) AS s
      |  FROM toks
      |)""".stripMargin

  // Affine MinHash signature over one md5-derived 28-bit base per
  // shingle — constants mirror Dedup.permA/permB/PermMod exactly.
  private val minhashSigSql: String = {
    val mins = (0 until 12).map(p =>
      s"min((b * ${graft.operators.Dedup.permA(p)} + ${graft.operators.Dedup.permB(p)}) % ${graft.operators.Dedup.PermMod}) AS m$p")
      .mkString(",\n  ")
    s""", ex AS (
       |  SELECT doc_id, unnest(s) AS sng FROM sh
       |), basehash AS (
       |  SELECT doc_id, ('0x' || substr(md5(sng), 1, 7))::BIGINT AS b FROM ex
       |), sig AS (
       |  SELECT doc_id,
       |  $mins
       |  FROM basehash GROUP BY doc_id
       |)""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "d1_exact_dedup" -> ((s, dir) =>
      Dedup.exact(table(s, dir, "documents"), "text", "doc_id")
        .orderBy("fingerprint")),

    "d2_minhash_lsh" -> ((s, dir) =>
      Dedup.minhashCandidates(table(s, dir, "documents"), "text", "doc_id")
        .orderBy("id_a", "id_b")),

    // analytic band planner: pure S-curve arithmetic over the divisor
    // configs of the 12-perm budget — touches no data by design (the
    // plan you compute BEFORE shingling 100 TB; d16 then validates
    // the pick empirically). `dir` is unused.
    "d17_lsh_band_plan" -> ((s, _) => Dedup.lshBandPlan(s)),

    // incremental probe: NEW docs (doc_id % 10 == 0) against the
    // existing corpus index — the daily-crawl shape; old×old pairs
    // are never re-examined (see Dedup.minhashCandidatesIncremental)
    "d11_incremental_lsh" -> ((s, dir) => {
      import org.apache.spark.sql.functions.col
      val docs = table(s, dir, "documents")
      Dedup.minhashCandidatesIncremental(
        docs.where(col("doc_id") % 10 =!= 0),
        docs.where(col("doc_id") % 10 === 0),
        "text", "doc_id")
        .orderBy("id_new", "id_old")
    }),

    // exact containment pairs — the subset/quote dup detector Jaccard
    // misses (short doc inside long one); complete inverted-index
    // candidates, integer-exact max-containment ≥ 0.8 cut. Runs in
    // the md5-sampled 50% mode (the 100 TB posture — posting-list
    // pair work ~p²; full-vs-sampled agreement spec'd in DedupSpec)
    "d20_containment" -> ((s, dir) =>
      Dedup.containmentPairs(table(s, dir, "documents"), "text", "doc_id", 80,
        samplePct = 50, maxDocs = 2048) // pct alone still scales ∝(pN)²
        .orderBy("id_a", "id_b")),

    // cross-source duplication matrix — the provenance report behind
    // a dedup decision: WHICH sources copy from which (mirror sites,
    // syndication, re-crawls). d4's verified near-dup pairs decorated
    // with both sides' source labels and aggregated to the
    // source×source grain; the matrix is |sources|²-bounded no matter
    // the corpus, and sources are ordered within a pair so each
    // unordered source pair counts once
    "d21_source_dup_matrix" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val docs = qcSampledByText(table(s, dir, "documents"))
      val src = docs.select(col("doc_id"), col("source"))
      Dedup.jaccardVerified(docs, "text", "doc_id", 0.5)
        .join(src.toDF("id_a", "src_a"), Seq("id_a"))
        .join(src.toDF("id_b", "src_b"), Seq("id_b"))
        .select(
          least(col("src_a"), col("src_b")).as("source_1"),
          greatest(col("src_a"), col("src_b")).as("source_2"))
        .groupBy("source_1", "source_2")
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy("source_1", "source_2")
    }),

    // incremental EXACT dedup — the daily-crawl admission check, the
    // exact sibling of d11 and the batch twin of st13's history gate:
    // new docs (doc_id % 10 == 0) probe the corpus fingerprint index;
    // admit = unseen in the corpus AND first within the increment
    "d19_incremental_exact" -> ((s, dir) => {
      import org.apache.spark.sql.functions.col
      val docs = table(s, dir, "documents")
      Dedup.incrementalExact(
        docs.where(col("doc_id") % 10 =!= 0),
        docs.where(col("doc_id") % 10 === 0),
        "text", "doc_id")
        .orderBy("doc_id")
    }),

    // cross-doc exact substring dedup (Lee et al. 2022 ExactSubstr):
    // drop every token covered by a repeated 5-gram span, keeping
    // each gram's globally-first occurrence
    "d12_span_dedup" -> ((s, dir) =>
      Dedup.spanDedup(table(s, dir, "documents"), "text", "doc_id")
        .orderBy("doc_id")),

    "d3_simhash" -> ((s, dir) =>
      Dedup.simhashFingerprints(table(s, dir, "documents"), "text", "doc_id")
        .orderBy("id")),

    // LSH-candidates -> exact-verify pipeline; the oracle is the full
    // pairwise ground truth (equal because J>=0.5 survivors here are
    // all J~0.99 near-dups, which LSH captures with prob ~1).
    "d4_ngram_jaccard" -> ((s, dir) =>
      Dedup.jaccardVerified(qcSampledByText(table(s, dir, "documents")), "text", "doc_id", 0.5)
        .orderBy("id_a", "id_b")),

    "d5_embedding_dedup" -> ((s, dir) =>
      Dedup.embeddingPairs(qcSampled(table(s, dir, "embeddings"), "vec_id"), "embedding", "vec_id", 0.45)
        .orderBy("id_a", "id_b")),

    // evaluation row: MinHash-LSH candidate recall/precision against
    // the EXACT all-pairs Jaccard truth (no LSH anywhere in the truth
    // side) — the measurement that justifies trusting d2's bands at a
    // given threshold before running them over 100 TB. One row:
    // counts + recall + precision. The oracle replays the full-corpus
    // evaluation; at scale the same operator runs in sampled-truth
    // mode (Dedup.lshRecallEval samplePct, spec'd vs full in
    // DedupSpec).
    "d16_lsh_recall_eval" -> ((s, dir) =>
      Dedup.lshRecallEval(table(s, dir, "documents"), "text", "doc_id", 0.5,
        maxDocs = 2048)), // absolute cap: truth pair work maxDocs²-bounded

    // MinHash ESTIMATOR calibration (d16 evaluates LSH candidate
    // recall; this evaluates the estimate itself): per truth pair
    // (exact Jaccard ≥ 0.3 on the capped doc set), the 12-perm
    // signature agreement k/12 vs the exact value, reported per
    // Jaccard decile with an integer-grid error mass — |est − j| is
    // floored to 0.1bp units per pair BEFORE summing, so the
    // aggregate is an order-independent integer sum, engine-stable
    // by construction. Same lowest-md5 2048-doc cap as d16/s10
    // (non-binding at oracle scale; pair work bounded at any corpus).
    "d24_jaccard_calibration" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      import graft.functions.{TextFunctions => T}
      val docs = Dedup.md5Sample(table(s, dir, "documents"), "doc_id", 100, 2048)
      // NOT shared with the truth leg's shingle checkpoint (r18 opt-2
      // A/B): on the 2048-doc capped set, re-shingling raw text here is
      // CHEAPER than deserializing the checkpointed array<string>
      // blocks a second time (CPU 1.06 → 2.2 s when shared — reverted)
      val truth = Dedup.exactJaccardPairs(docs, "text", "doc_id", 0.3)
      val sig = Dedup.minhashSignature(docs.select(col("doc_id").as("id"),
        explode(T.wordShingles(T.tokens(col("text")))).as("sng")), 12)
      val a = sig.toDF("id_a" +: (0 until 12).map(p => s"a$p"): _*)
      val bb = sig.toDF("id_b" +: (0 until 12).map(p => s"b$p"): _*)
      val agree = (0 until 12).map(p =>
        when(col(s"a$p") === col(s"b$p"), 1).otherwise(0)).reduce(_ + _)
      truth.join(a, "id_a").join(bb, "id_b")
        .withColumn("est", agree.cast("double") / 12.0)
        .withColumn("err_tenthbp",
          floor(abs(col("est") - col("jaccard")) * 10000 + 0.5).cast("long"))
        .groupBy(floor(col("jaccard") * 10).cast("long").as("band"))
        .agg(count(lit(1)).as("n_pairs"),
          sum("err_tenthbp").as("sum_err_tenthbp"))
        .orderBy("band")
    }),

    // sub-quadratic LSH-bucketed variant (recall < 1 at thresholds
    // near the bulk angle — recall spec'd on clustered data in
    // DedupSpec). Oracle since r15: the planes are deterministic, so
    // DuckDB replays the full bucket→probe→verify algorithm exactly
    // (the s2/s9 pinned-planes pattern) — the driver hash now checks
    // the LSH path's output, while the recall-vs-exact posture stays
    // a spec concern.
    "d8_embedding_lsh" -> ((s, dir) =>
      Dedup.embeddingPairsLsh(table(s, dir, "embeddings"), "embedding", "vec_id", 0.45)
        .orderBy("id_a", "id_b")),

    // SemDeDup-style semantic dedup: k-means cells → within-cell
    // near-dup pairs → keep one representative per connected group.
    // Lloyd's distributed fp averaging is not bit-replayable in SQL
    // (same reason as s3_knn_ivf) → rows-only + DedupSpec invariants
    // and a planted-cluster exactness spec.
    "d10_semdedup" -> ((s, dir) =>
      Dedup.semDedup(table(s, dir, "embeddings"), "embedding", "vec_id", 0.45)
        .orderBy("id")),

    // one-call corpus dedup: LSH candidates → exact Jaccard verify →
    // connected components → keep min-id representative per group
    // (the composition of d2/d4/d7 as a single operator; oracle
    // extends d7's recursive-CTE replay with the keep projection)
    "d13_dedup_corpus" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      Dedup.dedupCorpus(qcSampledByText(table(s, dir, "documents")), "text", "doc_id", 0.5)
        .orderBy("id")
    }),

    // token-mass accounting for the dedup decision: what d13's
    // near-dup dedup costs/saves PER SOURCE measured in TOKENS — the
    // unit a training run budgets in (docs are not; a source whose
    // dups are its longest docs loses far more than its doc-count
    // share suggests). Composes d13's (id, keep) relation — doc-count
    // sized, (long, bool) — with per-doc token counts folded at the
    // scan: the join and aggregate shuffle ids and counts only,
    // never text.
    "d23_token_mass" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      import graft.functions.{TextFunctions => T}
      val docs = qcSampledByText(table(s, dir, "documents"))
      val dec = Dedup.dedupCorpus(docs, "text", "doc_id", 0.5)
      docs.select(col("doc_id"), col("source"),
          size(T.tokens(col("text"))).cast("long").as("n_tokens"))
        .join(dec, col("doc_id") === col("id"))
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
          sum("n_tokens").as("tokens_total"),
          sum(when(col("keep"), col("n_tokens")).otherwise(0L))
            .as("tokens_kept"))
        .withColumn("dup_token_share",
          round((col("tokens_total") - col("tokens_kept")).cast("double") /
            col("tokens_total"), 4))
        .orderBy("source")
    }),

    // quality-aware retention: d13's pipeline but each dup cluster
    // keeps its longest member (tie → lowest id) and every doc learns
    // its cluster's surviving representative — the "keep the best
    // copy, remap the rest" step of a real training pipeline
    "d14_cluster_retention" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      Dedup.dedupCorpusByQuality(
          qcSampledByText(table(s, dir, "documents")), "text", "doc_id", 0.5, col("n_chars"))
        .orderBy("id")
    }),

    // soft dedup: instead of dropping duplicates, the surviving
    // representative carries weight = its cluster size — the
    // loss-weighting / upsampling table a training pipeline feeds the
    // sampler when it wants dedup'd data WITHOUT losing the
    // frequency signal. One extra count aggregate over d14's
    // (id → kept_id) mapping; singletons keep weight 1.
    "d18_dup_weights" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      Dedup.dedupCorpusByQuality(
          qcSampledByText(table(s, dir, "documents")), "text", "doc_id", 0.5, col("n_chars"))
        .groupBy(col("kept_id").as("id"))
        .agg(count(lit(1)).as("weight"))
        .orderBy("id")
    }),

    // near-dup clustering: verified pairs → connected components →
    // (id, component, cluster_size); the keep-one-per-cluster step of
    // a dedup pipeline (see operators.ConnectedComponents)
    "d7_dup_clusters" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val comp = Dedup.dupComponents(
        qcSampledByText(table(s, dir, "documents")), "text", "doc_id", 0.5)
      val sizes = comp.groupBy("component").agg(count(lit(1)).as("cluster_size"))
      comp.join(sizes, "component")
        .select(col("id"), col("component"), col("cluster_size"))
        .orderBy("id")
    }),

    // dup-MASS distribution — the policy report a pipeline reads
    // BEFORE committing to a dedup strategy at 100 TB: how many docs
    // sit in clusters of each size (giant clusters = boilerplate /
    // templates, cheap bulk wins; a fat tail of pairs = near-dup
    // noise that only pair-grain dedup removes). d7's verified-pair →
    // connected-components machinery, then two group-sized aggregates;
    // the singleton band is computed from one corpus count minus the
    // clustered mass (docs with no qualifying pair never enter the
    // component relation), so the report conserves the corpus:
    // sum(n_docs) = N.
    "d22_cluster_size_hist" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val docs = qcSampledByText(table(s, dir, "documents"))
      val sizes = Dedup.dupComponents(docs, "text", "doc_id", 0.5)
        .groupBy("component").agg(count(lit(1)).as("cluster_size"))
      val hist = sizes.groupBy("cluster_size")
        .agg(count(lit(1)).as("n_clusters"), sum("cluster_size").as("n_docs"))
      val singleton = docs.agg(count(lit(1)).as("n_total"))
        .crossJoin(sizes.agg(
          coalesce(sum("cluster_size"), lit(0L)).as("n_clustered")))
        .select(
          lit(1L).as("cluster_size"),
          (col("n_total") - col("n_clustered")).as("n_clusters"),
          (col("n_total") - col("n_clustered")).as("n_docs"))
      hist.unionByName(singleton).orderBy("cluster_size")
    }),

    // d6's scale path: bloom-sketch prefilter instead of a broadcast
    // string join — bit-identical output (no false negatives; false
    // positives die in the exact verify join), so it shares d6's
    // oracle. See Dedup.decontaminateBloom.
    "d9_decontaminate_bloom" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      Dedup.decontaminateBloom(
        table(s, dir, "documents"), "text", "doc_id",
        isBench = col("doc_id") % 97 === 0)
        .orderBy("doc_id")
    }),

    // benchmark decontamination: flag corpus docs sharing word-3-gram
    // shingles with a held-out "benchmark" slice (doc_id % 97 == 0).
    // The benchmark shingle set is tiny → broadcast hash join; the
    // corpus side stays a narrow explode of the checkpointed shingle
    // sets (eager: `shared` can be AQE-broadcast in the report join —
    // see Dedup.decontaminateBloom), no corpus-wide shuffle.
    "d6_decontaminate" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val docs = table(s, dir, "documents")
      val isBench = col("doc_id") % 97 === 0
      val corpus = Dedup.shingleRelation(docs.where(!isBench), "text", "doc_id")
      Dedup.contaminationReport(corpus,
          corpus.select(col("id"), explode(col("s")).as("s")),
          // fanned across cores like the corpus side (single-file
          // parquet arrives as one partition)
          broadcast(Dedup.benchShingles(
            docs.where(isBench).repartition(s.sparkContext.defaultParallelism), "text")))
        .orderBy("doc_id")
    }))

  // d17 oracle: the identical S-curve arithmetic, generated as
  // literal left-associated multiply chains from the SAME doubles
  // (Double.toString is shortest-roundtrip, so DuckDB parses the
  // exact bits — the lshPlanesSql trick applied to math).
  private val bandPlanSql: String = {
    val js = Seq(0.5 - 0.1, 0.5, 0.5 + 0.1, 0.9)
    def dlit(d: Double) = s"CAST($d AS DOUBLE)"
    def chain(expr: String, n: Int) = Seq.fill(n)(expr).mkString("(", " * ", ")")
    def capture(j: Double, r: Int, b: Int) =
      s"round(1 - ${chain(s"(1 - ${chain(dlit(j), r)})", b)}, 4)"
    val configs = (1 to 12).filter(12 % _ == 0).map { b =>
      val r = 12 / b
      s"SELECT $b AS n_bands, $r AS rows_per_band, " +
        s"${capture(js(0), r, b)} AS p_below, ${capture(js(1), r, b)} AS p_at, " +
        s"${capture(js(2), r, b)} AS p_above, ${capture(js(3), r, b)} AS p_neardup"
    }
    s"""WITH c AS (${configs.mkString(" UNION ALL ")})
       |SELECT n_bands, rows_per_band, p_below, p_at, p_above, p_neardup,
       |row_number() OVER (ORDER BY (CASE WHEN p_neardup >= 0.95 THEN 0 ELSE 1 END), p_below, n_bands) AS pick_rank
       |FROM c ORDER BY pick_rank""".stripMargin
  }

  private val oracleSqlRaw: Map[String, String] = Map(
    // d4's full-pairwise truth (LSH-complete at J≥0.5 near-dups)
    // decorated with sources, unordered-pair normalized
    "d21_source_dup_matrix" -> (shingleCtes +
      """
        |, pr AS (
        |  SELECT id_a, id_b FROM (
        |    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    len(list_intersect(a.s, b.s)) * 1.0 / len(list_distinct(list_concat(a.s, b.s))) AS jac
        |    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  ) WHERE jac >= 0.5
        |)
        |SELECT least(da.source, db.source) AS source_1,
        |greatest(da.source, db.source) AS source_2, count(*) AS n_pairs
        |FROM pr JOIN documents da ON pr.id_a = da.doc_id
        |JOIN documents db ON pr.id_b = db.doc_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    "d17_lsh_band_plan" -> bandPlanSql,
    "d1_exact_dedup" ->
      """SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint,
        |min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    // replay of the md5-derived SimHash bit votes (see simhashReplaySql)
    "d3_simhash" ->
      ("""WITH toks AS (
        |  SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS t FROM documents
        |), tk AS (
        |  SELECT doc_id AS id, unnest(t) AS tok FROM toks
        |), """.stripMargin + simhashReplaySql +
        "\nSELECT id, simhash FROM fp ORDER BY id"),
    "d2_minhash_lsh" -> (shingleCtes + minhashSigSql +
      """, bh AS (
        |  SELECT doc_id, unnest([0, 1, 2, 3]) AS band, * FROM sig
        |), keys AS (
        |  SELECT doc_id, band, CASE band
        |    WHEN 0 THEN md5(m0 || '|' || m1 || '|' || m2)
        |    WHEN 1 THEN md5(m3 || '|' || m4 || '|' || m5)
        |    WHEN 2 THEN md5(m6 || '|' || m7 || '|' || m8)
        |    ELSE md5(m9 || '|' || m10 || '|' || m11) END AS h FROM bh
        |)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_bands
        |FROM keys a JOIN keys b ON a.band = b.band AND a.h = b.h AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    // full-pairwise containment replay over the same md5 doc sample
    // (complete ≡ the inverted-index candidates at any positive τ)
    "d20_containment" -> (shingleCtes.replace(
      "FROM documents",
      "FROM (SELECT * FROM documents" +
        " WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 7))::BIGINT % 100 < 50" +
        " ORDER BY substr(md5(doc_id::VARCHAR), 1, 13), doc_id LIMIT 2048)") +
      """
        |SELECT id_a, id_b, n_common, n_a, n_b,
        |round(n_common * 1.0 / n_a, 4) AS cont_a,
        |round(n_common * 1.0 / n_b, 4) AS cont_b
        |FROM (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  len(list_intersect(a.s, b.s))::BIGINT AS n_common,
        |  len(a.s)::BIGINT AS n_a, len(b.s)::BIGINT AS n_b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |)
        |WHERE 100 * n_common >= 80 * least(n_a, n_b)
        |ORDER BY 1, 2""".stripMargin),
    // corpus index = min-id per fingerprint over old docs; increment
    // rows left-join it and take the within-increment min separately
    "d19_incremental_exact" ->
      """WITH fp AS (
        |  SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint
        |  FROM documents
        |), corpus AS (
        |  SELECT fingerprint, min(doc_id) AS corpus_keep_id FROM fp WHERE doc_id % 10 <> 0 GROUP BY 1
        |), inc AS (
        |  SELECT doc_id, fingerprint FROM fp WHERE doc_id % 10 = 0
        |), incmin AS (
        |  SELECT fingerprint, min(doc_id) AS inc_keep_id FROM inc GROUP BY 1
        |)
        |SELECT i.doc_id, i.fingerprint, c.corpus_keep_id,
        |(c.corpus_keep_id IS NULL AND i.doc_id = m.inc_keep_id) AS admit
        |FROM inc i JOIN incmin m USING (fingerprint) LEFT JOIN corpus c USING (fingerprint)
        |ORDER BY i.doc_id""".stripMargin,
    // same signature/band replay as d2, but the pair join is
    // restricted to new (doc_id % 10 = 0) × old — keys are per-doc,
    // so filtering keys ≡ splitting the corpus before signing
    "d11_incremental_lsh" -> (shingleCtes + minhashSigSql +
      """, bh AS (
        |  SELECT doc_id, unnest([0, 1, 2, 3]) AS band, * FROM sig
        |), keys AS (
        |  SELECT doc_id, band, CASE band
        |    WHEN 0 THEN md5(m0 || '|' || m1 || '|' || m2)
        |    WHEN 1 THEN md5(m3 || '|' || m4 || '|' || m5)
        |    WHEN 2 THEN md5(m6 || '|' || m7 || '|' || m8)
        |    ELSE md5(m9 || '|' || m10 || '|' || m11) END AS h FROM bh
        |)
        |SELECT n.doc_id AS id_new, o.doc_id AS id_old, count(*) AS n_bands
        |FROM keys n JOIN keys o ON n.band = o.band AND n.h = o.h
        |WHERE n.doc_id % 10 = 0 AND o.doc_id % 10 <> 0
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    // candidates = d2's band-key replay; truth = d4's full-pairwise
    // exact Jaccard — composed into one counts row, over the same
    // deterministic lowest-md5 maxDocs=2048 cut as the Spark side
    // (non-binding at oracle scale, pair-work bound at 100 TB)
    // same capped doc set, exact-jaccard truth (d4's SQL), and
    // 12-perm signature replay (d2's constants); est = k/12.0 and the
    // per-pair error floors to integer 0.1bp units before summing
    "d24_jaccard_calibration" -> (shingleCtes.replace(
      "FROM documents",
      "FROM (SELECT * FROM documents" +
        " ORDER BY substr(md5(doc_id::VARCHAR), 1, 13), doc_id LIMIT 2048)") +
      minhashSigSql +
      s""", tp AS (
         |  SELECT id_a, id_b, round(jac, 4) AS jaccard FROM (
         |    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |    len(list_intersect(a.s, b.s)) * 1.0 / len(list_distinct(list_concat(a.s, b.s))) AS jac
         |    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |  ) WHERE jac >= 0.3
         |), pe AS (
         |  SELECT tp.jaccard,
         |  (${(0 until 12).map(p => s"(CASE WHEN sa.m$p = sb.m$p THEN 1 ELSE 0 END)").mkString(" + ")}) / 12.0 AS est
         |  FROM tp JOIN sig sa ON sa.doc_id = tp.id_a
         |  JOIN sig sb ON sb.doc_id = tp.id_b
         |)
         |SELECT floor(jaccard * 10)::BIGINT AS band,
         |count(*)::BIGINT AS n_pairs,
         |sum(floor(abs(est - jaccard) * 10000 + 0.5))::BIGINT AS sum_err_tenthbp
         |FROM pe GROUP BY 1 ORDER BY 1""".stripMargin),
    "d16_lsh_recall_eval" -> (shingleCtes.replace(
      "FROM documents",
      "FROM (SELECT * FROM documents" +
        " ORDER BY substr(md5(doc_id::VARCHAR), 1, 13), doc_id LIMIT 2048)") +
      minhashSigSql +
      """, bh AS (
        |  SELECT doc_id, unnest([0, 1, 2, 3]) AS band, * FROM sig
        |), keys AS (
        |  SELECT doc_id, band, CASE band
        |    WHEN 0 THEN md5(m0 || '|' || m1 || '|' || m2)
        |    WHEN 1 THEN md5(m3 || '|' || m4 || '|' || m5)
        |    WHEN 2 THEN md5(m6 || '|' || m7 || '|' || m8)
        |    ELSE md5(m9 || '|' || m10 || '|' || m11) END AS h FROM bh
        |), cand AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM keys a JOIN keys b ON a.band = b.band AND a.h = b.h AND a.doc_id < b.doc_id
        |), truth AS (
        |  SELECT id_a, id_b FROM (
        |    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    len(list_intersect(a.s, b.s)) * 1.0 / len(list_distinct(list_concat(a.s, b.s))) AS jac
        |    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  ) WHERE jac >= 0.5
        |), h AS (
        |  SELECT count(*) AS n_hit FROM truth t JOIN cand c ON t.id_a = c.id_a AND t.id_b = c.id_b
        |)
        |SELECT (SELECT count(*) FROM truth)::BIGINT AS n_truth,
        |(SELECT count(*) FROM cand)::BIGINT AS n_cand,
        |n_hit::BIGINT AS n_hit,
        |round(n_hit * 1.0 / nullif((SELECT count(*) FROM truth), 0), 4) AS recall,
        |round(n_hit * 1.0 / nullif((SELECT count(*) FROM cand), 0), 4) AS precision
        |FROM h""".stripMargin),
    "d12_span_dedup" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS t FROM documents
        |), occ AS (
        |  SELECT doc_id, t, unnest(generate_series(0, len(t)-5)) AS pos FROM toks WHERE len(t) >= 5
        |), g AS (
        |  SELECT doc_id, pos, array_to_string(list_slice(t, pos+1, pos+5), ' ') AS gram FROM occ
        |), rk AS (
        |  SELECT doc_id, pos, row_number() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rn,
        |    count(*) OVER (PARTITION BY gram) AS cnt FROM g
        |), cov AS (
        |  SELECT DISTINCT doc_id, unnest(generate_series(pos, pos+4)) AS p
        |  FROM rk WHERE cnt >= 2 AND rn >= 2
        |), tp AS (
        |  SELECT doc_id, t, unnest(generate_series(0, len(t)-1)) AS pos FROM toks
        |), tok AS (
        |  SELECT doc_id, pos, t[pos+1] AS tok FROM tp
        |), kept AS (
        |  SELECT k.doc_id, count(*) AS n_kept, string_agg(k.tok, ' ' ORDER BY k.pos) AS kept_text
        |  FROM tok k LEFT JOIN cov c ON k.doc_id = c.doc_id AND k.pos = c.p
        |  WHERE c.doc_id IS NULL GROUP BY 1
        |)
        |SELECT t.doc_id, len(t.t)::BIGINT AS n_tok,
        |  (len(t.t) - coalesce(kept.n_kept, 0))::BIGINT AS n_removed,
        |  coalesce(kept.kept_text, '') AS kept_text
        |FROM toks t LEFT JOIN kept USING (doc_id) ORDER BY t.doc_id""".stripMargin,
    "d4_ngram_jaccard" -> (shingleCtes +
      """
        |SELECT id_a, id_b, round(jac, 4) AS jaccard FROM (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  len(list_intersect(a.s, b.s)) * 1.0 / len(list_distinct(list_concat(a.s, b.s))) AS jac
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |) WHERE jac >= 0.5 ORDER BY 1, 2""".stripMargin),
    "d13_dedup_corpus" -> (shingleCtes.replace("WITH toks", "WITH RECURSIVE toks") +
      """, pr AS (
        |  SELECT id_a, id_b FROM (
        |    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    len(list_intersect(a.s, b.s)) * 1.0 / len(list_distinct(list_concat(a.s, b.s))) AS jac
        |    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  ) WHERE jac >= 0.5
        |), ed AS (
        |  SELECT id_a AS s, id_b AS d FROM pr UNION SELECT id_b, id_a FROM pr
        |), reach(id, r) AS (
        |  SELECT DISTINCT s, s FROM ed
        |  UNION
        |  SELECT e.d, reach.r FROM reach JOIN ed e ON e.s = reach.id
        |), comp AS (
        |  SELECT id, min(r) AS component FROM reach GROUP BY id
        |)
        |SELECT d.doc_id AS id, coalesce(c.component = d.doc_id, TRUE) AS keep
        |FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
        |ORDER BY 1""".stripMargin),
    // d23 replays d13's keep decision, then weighs it in tokens
    "d23_token_mass" -> (shingleCtes.replace("WITH toks", "WITH RECURSIVE toks") +
      """, pr AS (
        |  SELECT id_a, id_b FROM (
        |    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    len(list_intersect(a.s, b.s)) * 1.0 / len(list_distinct(list_concat(a.s, b.s))) AS jac
        |    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  ) WHERE jac >= 0.5
        |), ed AS (
        |  SELECT id_a AS s, id_b AS d FROM pr UNION SELECT id_b, id_a FROM pr
        |), reach(id, r) AS (
        |  SELECT DISTINCT s, s FROM ed
        |  UNION
        |  SELECT e.d, reach.r FROM reach JOIN ed e ON e.s = reach.id
        |), comp AS (
        |  SELECT id, min(r) AS component FROM reach GROUP BY id
        |), kp AS (
        |  SELECT d.doc_id, d.source,
        |    len(string_split(trim(regexp_replace(lower(d.text), '\s+', ' ', 'g')), ' '))::BIGINT AS n_tokens,
        |    coalesce(c.component = d.doc_id, TRUE) AS keep
        |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
        |)
        |SELECT source, count(*) AS n_docs,
        |  sum(CASE WHEN keep THEN 1 ELSE 0 END)::BIGINT AS n_kept,
        |  sum(n_tokens)::BIGINT AS tokens_total,
        |  sum(CASE WHEN keep THEN n_tokens ELSE 0 END)::BIGINT AS tokens_kept,
        |  round((sum(n_tokens) - sum(CASE WHEN keep THEN n_tokens ELSE 0 END))::DOUBLE
        |    / sum(n_tokens), 4) AS dup_token_share
        |FROM kp GROUP BY 1 ORDER BY 1""".stripMargin),
    // d14 replays d13's clustering, then picks each cluster's
    // representative by (n_chars DESC, id ASC) — the same
    // deterministic argmax the Spark max_by(struct) computes
    "d14_cluster_retention" -> (shingleCtes.replace("WITH toks", "WITH RECURSIVE toks") +
      """, pr AS (
        |  SELECT id_a, id_b FROM (
        |    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    len(list_intersect(a.s, b.s)) * 1.0 / len(list_distinct(list_concat(a.s, b.s))) AS jac
        |    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  ) WHERE jac >= 0.5
        |), ed AS (
        |  SELECT id_a AS s, id_b AS d FROM pr UNION SELECT id_b, id_a FROM pr
        |), reach(id, r) AS (
        |  SELECT DISTINCT s, s FROM ed
        |  UNION
        |  SELECT e.d, reach.r FROM reach JOIN ed e ON e.s = reach.id
        |), comp AS (
        |  SELECT id, min(r) AS component FROM reach GROUP BY id
        |), ranked AS (
        |  SELECT c.id, c.component,
        |  row_number() OVER (PARTITION BY c.component
        |                     ORDER BY dd.n_chars DESC, c.id ASC) AS rn
        |  FROM comp c JOIN documents dd ON dd.doc_id = c.id
        |), best AS (
        |  SELECT component, id AS kept_id FROM ranked WHERE rn = 1
        |)
        |SELECT d.doc_id AS id,
        |coalesce(b.kept_id, d.doc_id) = d.doc_id AS keep,
        |coalesce(b.kept_id, d.doc_id) AS kept_id
        |FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
        |LEFT JOIN best b ON b.component = c.component
        |ORDER BY 1""".stripMargin),
    // d18 replays d14's clustering + representative choice, then
    // aggregates the mapping into per-representative weights
    "d18_dup_weights" -> (shingleCtes.replace("WITH toks", "WITH RECURSIVE toks") +
      """, pr AS (
        |  SELECT id_a, id_b FROM (
        |    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    len(list_intersect(a.s, b.s)) * 1.0 / len(list_distinct(list_concat(a.s, b.s))) AS jac
        |    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  ) WHERE jac >= 0.5
        |), ed AS (
        |  SELECT id_a AS s, id_b AS d FROM pr UNION SELECT id_b, id_a FROM pr
        |), reach(id, r) AS (
        |  SELECT DISTINCT s, s FROM ed
        |  UNION
        |  SELECT e.d, reach.r FROM reach JOIN ed e ON e.s = reach.id
        |), comp AS (
        |  SELECT id, min(r) AS component FROM reach GROUP BY id
        |), ranked AS (
        |  SELECT c.id, c.component,
        |  row_number() OVER (PARTITION BY c.component
        |                     ORDER BY dd.n_chars DESC, c.id ASC) AS rn
        |  FROM comp c JOIN documents dd ON dd.doc_id = c.id
        |), best AS (
        |  SELECT component, id AS kept_id FROM ranked WHERE rn = 1
        |)
        |SELECT coalesce(b.kept_id, d.doc_id) AS id, count(*)::BIGINT AS weight
        |FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
        |LEFT JOIN best b ON b.component = c.component
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    "d7_dup_clusters" -> (shingleCtes.replace("WITH toks", "WITH RECURSIVE toks") +
      """, pr AS (
        |  SELECT id_a, id_b FROM (
        |    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    len(list_intersect(a.s, b.s)) * 1.0 / len(list_distinct(list_concat(a.s, b.s))) AS jac
        |    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  ) WHERE jac >= 0.5
        |), ed AS (
        |  SELECT id_a AS s, id_b AS d FROM pr UNION SELECT id_b, id_a FROM pr
        |), reach(id, r) AS (
        |  SELECT DISTINCT s, s FROM ed
        |  UNION
        |  SELECT e.d, reach.r FROM reach JOIN ed e ON e.s = reach.id
        |), comp AS (
        |  SELECT id, min(r) AS component FROM reach GROUP BY id
        |), sizes AS (
        |  SELECT component, count(*) AS cluster_size FROM comp GROUP BY 1
        |)
        |SELECT c.id, c.component, s2.cluster_size
        |FROM comp c JOIN sizes s2 USING (component) ORDER BY c.id""".stripMargin),
    "d22_cluster_size_hist" -> (shingleCtes.replace("WITH toks", "WITH RECURSIVE toks") +
      """, pr AS (
        |  SELECT id_a, id_b FROM (
        |    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    len(list_intersect(a.s, b.s)) * 1.0 / len(list_distinct(list_concat(a.s, b.s))) AS jac
        |    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  ) WHERE jac >= 0.5
        |), ed AS (
        |  SELECT id_a AS s, id_b AS d FROM pr UNION SELECT id_b, id_a FROM pr
        |), reach(id, r) AS (
        |  SELECT DISTINCT s, s FROM ed
        |  UNION
        |  SELECT e.d, reach.r FROM reach JOIN ed e ON e.s = reach.id
        |), comp AS (
        |  SELECT id, min(r) AS component FROM reach GROUP BY id
        |), sizes AS (
        |  SELECT component, count(*) AS cluster_size FROM comp GROUP BY 1
        |), hist AS (
        |  SELECT cluster_size, count(*) AS n_clusters,
        |    sum(cluster_size)::BIGINT AS n_docs
        |  FROM sizes GROUP BY 1
        |), tot AS (SELECT count(*) AS n_total FROM documents),
        |cl AS (SELECT coalesce(sum(cluster_size), 0)::BIGINT AS n_clustered FROM sizes)
        |SELECT * FROM (
        |  SELECT cluster_size, n_clusters, n_docs FROM hist
        |  UNION ALL
        |  SELECT 1, n_total - n_clustered, n_total - n_clustered FROM tot, cl
        |) ORDER BY cluster_size""".stripMargin),
    // d9 is the bloom-prefiltered twin of d6 and must produce the
    // bit-identical relation — same oracle text
    "d9_decontaminate_bloom" -> (shingleCtes +
      """, bench AS (
        |  SELECT DISTINCT unnest(s) AS sng FROM sh WHERE doc_id % 97 = 0
        |), corpus AS (
        |  SELECT doc_id, s, len(s)::BIGINT AS n_shingles FROM sh WHERE doc_id % 97 <> 0
        |), ex2 AS (
        |  SELECT doc_id, unnest(s) AS sng FROM corpus
        |), shared AS (
        |  SELECT doc_id, count(*) AS n_shared FROM ex2 JOIN bench USING (sng) GROUP BY 1
        |)
        |SELECT c.doc_id, c.n_shingles,
        |coalesce(sh2.n_shared, 0)::BIGINT AS n_shared,
        |round(coalesce(sh2.n_shared, 0)::DOUBLE / c.n_shingles, 4) AS frac,
        |(coalesce(sh2.n_shared, 0) > 0) AS contaminated
        |FROM corpus c LEFT JOIN shared sh2 ON c.doc_id = sh2.doc_id
        |ORDER BY c.doc_id""".stripMargin),
    "d6_decontaminate" -> (shingleCtes +
      """, bench AS (
        |  SELECT DISTINCT unnest(s) AS sng FROM sh WHERE doc_id % 97 = 0
        |), corpus AS (
        |  SELECT doc_id, s, len(s)::BIGINT AS n_shingles FROM sh WHERE doc_id % 97 <> 0
        |), ex2 AS (
        |  SELECT doc_id, unnest(s) AS sng FROM corpus
        |), shared AS (
        |  SELECT doc_id, count(*) AS n_shared FROM ex2 JOIN bench USING (sng) GROUP BY 1
        |)
        |SELECT c.doc_id, c.n_shingles,
        |coalesce(sh2.n_shared, 0)::BIGINT AS n_shared,
        |round(coalesce(sh2.n_shared, 0)::DOUBLE / c.n_shingles, 4) AS frac,
        |(coalesce(sh2.n_shared, 0) > 0) AS contaminated
        |FROM corpus c LEFT JOIN shared sh2 ON c.doc_id = sh2.doc_id
        |ORDER BY c.doc_id""".stripMargin),
    "d5_embedding_dedup" ->
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings
        |), p AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  list_sum(list_transform(generate_series(1, len(a.v)), i -> a.v[i] * b.v[i]))
        |    / (sqrt(list_sum(list_transform(a.v, x -> x*x))) * sqrt(list_sum(list_transform(b.v, x -> x*x)))) AS c
        |  FROM e a JOIN e b ON a.vec_id < b.vec_id
        |)
        |SELECT id_a, id_b, round(c, 4) AS cos_sim FROM p WHERE c >= 0.45 ORDER BY 1, 2""".stripMargin,
    // d8: full algorithm replay — the operator's deterministic
    // splitmix-seeded hyperplanes render as a literal, so DuckDB
    // recomputes the SAME 8-bit buckets, the same Hamming-1 probe
    // set, and d5's exact cosine on the surviving candidate pairs
    // (sign(dot)=sign(cosine), the s2/s9-proven replay form). This
    // checks the LSH path's OUTPUT exactly; recall vs the exact d5
    // pair set stays spec'd in DedupSpec (it is < 1 by design).
    "d8_embedding_lsh" -> {
      def bit(p: Int): String =
        s"(CASE WHEN list_sum(list_transform(generate_series(1, len(v)), i -> v[i] * pl[${p + 1}][i])) >= 0 THEN ${1 << p} ELSE 0 END)"
      val probes = (Seq("bucket") ++ (0 until 8).map(i => s"xor(bucket, ${1 << i})"))
        .mkString("[", ", ", "]")
      s"""WITH e AS (
         |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings
         |), w AS (
         |  SELECT $d8PlanesSql AS pl
         |), b AS (
         |  SELECT vec_id, v,
         |  ${(0 until 8).map(bit).mkString(" + ")} AS bucket
         |  FROM e, w
         |), pr AS (
         |  SELECT vec_id AS id_a, v AS v_a, unnest($probes) AS bkt FROM b
         |), p AS (
         |  SELECT id_a, b.vec_id AS id_b,
         |  list_sum(list_transform(generate_series(1, len(v_a)), i -> v_a[i] * b.v[i]))
         |    / (sqrt(list_sum(list_transform(v_a, x -> x*x))) * sqrt(list_sum(list_transform(b.v, x -> x*x)))) AS c
         |  FROM pr JOIN b ON pr.bkt = b.bucket AND pr.id_a < b.vec_id
         |)
         |SELECT id_a, id_b, round(c, 4) AS cos_sim FROM p WHERE c >= 0.45 ORDER BY 1, 2""".stripMargin
    })

  /** The deliberately-quadratic ground-truth rows: their all-pairs
    * oracles are tractable at the sf0.01 gate by design and TIMEOUT
    * at a 100x replay. Under SPARK_GRAFT_QC_SAMPLE_PCT both the Spark
    * closure (qcSampled at the source, above) and the dumped oracle
    * SQL (qcSampledSql here) restrict to the identical md5-bucket doc
    * sample, so the sf1 oracle replay checks the full algorithm on a
    * deterministic subset instead of skipping the family. Unset = the
    * driver's gate semantics, byte-identical to before.
    */
  private val qcQuadraticDocRows = Set(
    "d4_ngram_jaccard", "d7_dup_clusters", "d13_dedup_corpus",
    "d14_cluster_retention", "d18_dup_weights", "d21_source_dup_matrix",
    "d22_cluster_size_hist", "d23_token_mass")

  val oracleSql: Map[String, String] = oracleSqlRaw.map { case (k, v) =>
    k -> (if (qcQuadraticDocRows(k)) qcSampledSql(v, "documents", qcTextKeySql)
          else if (k == "d5_embedding_dedup") qcSampledSql(v, "embeddings", "vec_id::VARCHAR")
          else v)
  }

  /** d8's LSH hyperplanes as a DuckDB list literal — the operator's
    * own deterministic planes (Similarity.hyperplanes(8, 64)), so the
    * oracle replays identical bucket signatures.
    */
  private def d8PlanesSql: String =
    graft.operators.Similarity.hyperplanes(8, 64)
      .map(p => p.mkString("[", ", ", "]")).mkString("[", ", ", "]")
}
