package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{cosine, topk, vecsum}

/** Similarity search over embedding columns (SURVEY §2.4).
  *
  * bruteKnn is the exact baseline: score = one codegen'd cosine kernel
  * per (query, vector) pair, queries broadcast, top-k via the
  * graft_topk bounded-heap aggregate (map-side partial combine; the
  * scored set itself is never shuffled or sorted). lshKnn and ivfKnn
  * are the scale paths: bucket/partition the corpus so each query
  * scores only a fraction of it, same output shape.
  */
object Similarity {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Shared guard telemetry for the quadratic truth legs (s9/s17).
    * With a cap: WARN only when the PRE-cap sample actually exceeded
    * `maxQueries` — `nQ == maxQueries` alone can be a coincidence (the
    * sample landing exactly on the cap without it binding). Without
    * one: WARN when the sampled query count is large enough that the
    * |q| × N exact-truth leg is a scale hazard — the cap default is
    * OFF so existing callers' recall never re-bases silently, and this
    * is the tripwire that makes the quadratic cost visible instead.
    */
  private def truthLegGuardWarn(
      op: String, maxQueries: Int, nQ: Long, preCap: Long): Unit =
    if (maxQueries > 0) {
      if (preCap > maxQueries)
        log.warn(s"$op maxQueries=$maxQueries bound the sampled query set " +
          s"($preCap sampled) — recall is estimated on the capped subset")
    } else if (nQ > 4096)
      log.warn(s"$op maxQueries=0: the exact truth leg scores $nQ queries " +
        "against the full corpus (quadratic at scale) — set maxQueries to cap it")

  /** Exact top-k cosine neighbors for each query vector.
    * `queries`: (q_id, q_vec). Self-matches (same id) are excluded.
    */
  def bruteKnn(
      corpus: DataFrame, vecCol: String, idCol: String,
      queries: DataFrame, k: Int): DataFrame = {
    val data = corpus.select(col(idCol).as("n_id"), col(vecCol).as("n_vec"))
    val scored = data.crossJoin(broadcast(queries))
      .where(col("n_id") =!= col("q_id"))
      .select(col("q_id"), cosine(col("q_vec"), col("n_vec")).as("cos_exact"), col("n_id"))
    topKOut(scored, k)
  }

  /** Metadata-FILTERED exact kNN — "nearest neighbors among rows
    * matching a predicate" (lang = 'en', license = permissive,
    * source != contaminated), the retrieval shape every RAG /
    * curriculum query actually runs. The predicate applies to the
    * corpus SCAN, before any scoring: Catalyst pushes it to the
    * parquet reader (PushedFilters), so the cosine kernel and the
    * bounded top-k heap only ever see the filtered set — cost ∝
    * selectivity, not corpus. This is the exact baseline;
    * [[ivfKnnFiltered]] is the index-served form.
    */
  def filteredKnn(
      corpus: DataFrame, vecCol: String, idCol: String, pred: Column,
      queries: DataFrame, k: Int): DataFrame =
    bruteKnn(corpus.where(pred), vecCol, idCol, queries, k)

  /** Metadata-filtered kNN served from a built IVF index: the
    * allowed-id set (the predicate, evaluated once against corpus
    * metadata) semi-joins the inverted cells BEFORE scoring, so the
    * exact-cosine work inside probed cells is filtered-set-sized.
    * The allowed relation broadcasts when the predicate is selective
    * (the common case — that's why you filter); pass
    * `broadcastAllowed = false` for broad predicates and the semi
    * join shuffles on n_id instead. The honest ANN caveat rides
    * along: a selective predicate thins every cell, so fixed nprobe
    * returns fewer than k for some queries — raise nprobe with
    * selectivity (the s17 sweep applies verbatim) or fall back to
    * [[filteredKnn]] below a corpus-size cutoff. Recall vs the exact
    * filtered baseline is spec-pinned.
    */
  def ivfKnnFiltered(
      index: IvfIndex, allowed: DataFrame, queries: DataFrame, k: Int,
      nprobe: Int = 4, broadcastAllowed: Boolean = true): DataFrame = {
    val ids = allowed.toDF("n_id")
    val cells = index.cells.join(
      if (broadcastAllowed) broadcast(ids) else ids, Seq("n_id"), "left_semi")
    ivfKnnWith(index.copy(cells = cells), queries, k, nprobe)
  }

  /** All corpus neighbors within a cosine radius of each query —
    * similarity range search, the retrieval twin of Dedup's
    * threshold pairs. Queries broadcast; scoring is the codegen'd
    * cosine kernel applied map-side over the corpus scan; there is
    * no top-k state and no shuffle — output size is the true
    * neighbor count, not Q·N. The radius test runs on the
    * 4-dp-rounded score, so the cut is bit-identical across engines
    * and partitionings (no fp boundary row can flip).
    */
  def rangeSearch(
      corpus: DataFrame, vecCol: String, idCol: String,
      queries: DataFrame, minCos: Double): DataFrame =
    corpus.select(col(idCol).as("n_id"), col(vecCol).as("n_vec"))
      .crossJoin(broadcast(queries))
      .where(col("n_id") =!= col("q_id"))
      .select(col("q_id"), col("n_id"),
        round(cosine(col("q_vec"), col("n_vec")), 4).as("cos_sim"))
      .where(col("cos_sim") >= minCos)

  /** Per-query top-k via the graft_topk bounded-heap aggregate:
    * partial aggregation keeps ≤ k rows per (partition, query) before
    * the shuffle — the scored set never moves, unlike a window sort.
    */
  private def topKOut(scored: DataFrame, k: Int): DataFrame =
    scored
      .groupBy("q_id")
      .agg(topk(col("cos_exact"), col("n_id"), k).as("tk"))
      .select(col("q_id"), posexplode(col("tk")).as(Seq("pos", "e")))
      .select(
        col("q_id"), (col("pos") + 1).cast("long").as("rank"),
        col("e.id").as("neighbor_id"),
        round(col("e.score"), 4).as("cos_sim"))

  /** s15: MMR diversified top-k re-rank (Carbonell & Goldstein 1998)
    * — retrieve-then-diversify: plain kNN happily returns k
    * near-copies of one document; MMR greedily re-picks k from the
    * top-`m` candidates trading relevance against redundancy with
    * what's already selected (λ·rel − (1−λ)·max-sim-to-selected).
    *
    * Scale shape: the corpus-sized work is exactly s1's codegen'd
    * scoring + bounded-heap top-m — nothing new. The re-rank then
    * runs on a Q-sized relation: the m candidate ids broadcast back
    * into one corpus scan to fetch vectors (map-side semi-join, no
    * corpus shuffle), each query gathers its ≤ m candidates
    * (bounded collect_list, m·dim floats per query), and the greedy
    * loop is the [[graft.functions.MmrSelect]] native expression —
    * O(k·m·dim) per query on Q rows. Deterministic: the expression
    * canonicalizes candidate order internally, so the gather order
    * never leaks.
    */
  def mmrRerank(
      corpus: DataFrame, vecCol: String, idCol: String,
      queries: DataFrame, k: Int = 10, m: Int = 32,
      lambda: Double = 0.7): DataFrame = {
    val cand = bruteKnn(corpus, vecCol, idCol, queries, m)
      .select(col("q_id"), col("neighbor_id"), col("cos_sim"))
    val withVec = corpus
      .select(col(idCol).as("n_id"), col(vecCol).as("n_vec"))
      .join(broadcast(cand), col("n_id") === col("neighbor_id"))
    withVec.groupBy("q_id")
      .agg(collect_list(struct(
        col("n_id").as("id"), col("cos_sim").as("rel"),
        col("n_vec").as("vec"))).as("cands"))
      .select(col("q_id"),
        posexplode(graft.functions.mmrSelect(col("cands"), k, lambda))
          .as(Seq("pos", "e")))
      .select(
        col("q_id"), (col("pos") + 1).cast("long").as("mmr_rank"),
        col("e.id").as("neighbor_id"),
        round(col("e.mmr"), 4).as("mmr_score"))
  }

  /** s16: embedding drift report — the QC a pipeline runs before
    * trusting that two corpus slices (yesterday's snapshot vs
    * today's, or two shards of one ingest) embed the same way: per
    * label, the cosine between the slices' centroid vectors (1.0 =
    * no drift; an embedding-model change or a poisoned shard shows
    * up as a per-label dip). Each slice's centroid reduces through
    * the fixed-size [[graft.functions.vecsum]] buffer — one
    * dim-length array per (label, slice) crosses the shuffle, never
    * vectors — and centroid cosine is computed on the SUMS
    * (scale-invariant, so the division by n is never materialized).
    * `sliceCol` must be a 0/1 column (defaults to `idCol % 2` as a
    * deterministic stand-in for a snapshot split).
    */
  def embedDrift(
      corpus: DataFrame, vecCol: String, idCol: String, labelCol: String,
      sliceCol: Option[Column] = None): DataFrame = {
    val half = sliceCol.getOrElse(col(idCol) % 2).cast("int")
    val agg = corpus
      .select(col(labelCol).as("label"), half.as("half"), col(vecCol).as("v"))
      .groupBy("label", "half")
      .agg(vecsum(col("v")).as("vs"))
      // eager (was lazy): the ref/cur join's broadcast side embeds this
      // relation — lock-inversion hardening (OPTIMIZATION_r18 deadlock
      // note); consumed by both slice legs
      .localCheckpoint(eager = true)
    val ref = agg.where(col("half") === 0)
      .select(col("label"), col("vs.sum").as("sr"), col("vs.n").as("n_ref"))
    val cur = agg.where(col("half") === 1)
      .select(col("label"), col("vs.sum").as("sc"), col("vs.n").as("n_cur"))
    ref.join(cur, Seq("label"))
      .select(col("label").cast("long").as("label"),
        col("n_ref"), col("n_cur"),
        round(cosine(col("sr"), col("sc")), 4).as("centroid_cos"))
      .orderBy("label")
  }

  /** s17: nprobe sweep — the recall/cost FRONTIER for an IVF config,
    * one row per nprobe: recall@k vs the exact truth on a
    * deterministic md5-sampled query set, beside the corpus fraction
    * each query scores (nprobe/nlist of the cells, the cost knob).
    * s9 measures ONE operating point; this is the curve a serving
    * job reads to pick the cheapest nprobe that clears its recall
    * SLO before probing a 100 TB corpus. The index builds ONCE and
    * the truth leg runs once — only the probe leg re-runs per sweep
    * point.
    *
    * `maxQueries` is the scale guard the r12 headroom run proved
    * necessary: a PERCENTAGE sample alone makes the truth leg
    * |sample| × N ∝ N² (measured 48× wall at 10× data), because the
    * query count grows with the corpus. The absolute cap (lowest-md5
    * rank cut, deterministic, applied after the pct filter) pins the
    * query count, so truth cost is maxQueries × N — linear — while a
    * ≤512-query recall estimate still carries a ~±2% CI. The cap
    * defaults OFF (0) on this public API so an existing caller's
    * recall numbers never shift silently; the benchmarked driver
    * rows opt in with 512, and a WARN is logged whenever the cap
    * actually binds so a changed number is traceable.
    *
    * The result is a LAZY frame: every action on it re-runs the whole
    * sweep (the probe join over the corpus, plus the brute truth leg
    * when max(nprobes) < nlist). Callers that read it more than once
    * (count then collect, show then write) should collect it once or
    * checkpoint it.
    */
  def nprobeSweep(
      corpus: DataFrame, vecCol: String, idCol: String, k: Int,
      nprobes: Seq[Int] = Seq(1, 2, 4, 8), nlist: Int = 8,
      samplePct: Int = 20, lloydIters: Int = 3,
      maxQueries: Int = 0): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // empty sweep: the pre-fusion per-np loop returned an empty frame
    // with the output schema; keep that contract instead of crashing
    // on effNps.max below
    if (nprobes.isEmpty)
      return Seq.empty[(Long, Long, Long, Double, Double)]
        .toDF("nprobe", "n_q", "n_hits", "recall", "scored_fraction")
    val q0 = corpus.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
    val q1 = if (samplePct >= 100) q0
      else q0.where(
        conv(substring(md5(col("q_id").cast("string")), 1, 7), 16, 10)
          .cast("long") % 100 < samplePct)
    val q = (if (maxQueries > 0)
        q1.orderBy(
          conv(substring(md5(col("q_id").cast("string")), 1, 13), 16, 10)
            .cast("long").asc, col("q_id").asc)
          .limit(maxQueries).select("q_id", "q_vec")
      else q1)
      .localCheckpoint(eager = true)
    val nQ = q.count()
    // the limit can only have bound when it filled exactly to the cap,
    // so preCap (needed only to label the WARN) costs its corpus-scan
    // count job in that case alone — every non-binding run skips it
    truthLegGuardWarn("nprobeSweep", maxQueries, nQ,
      preCap = if (maxQueries > 0 && nQ == maxQueries) q1.count() else nQ)
    val index = ivfIndexBuild(corpus, vecCol, idCol, nlist, lloydIters)
    // NOT checkpointed: the fused sweep consumes each index half
    // exactly once (centroids by the probe ranking, cells by the
    // scoring join), so pinning them through the block manager would
    // only add two serial job rounds + a corpus-sized block write
    // (the r18→r19 s17 lesson: at bench scale this row's wall is
    // driver job-round latency, not compute — wall 1.9 s vs 0.66 s
    // task CPU at local[32])
    // FUSED sweep: each sweep point's probe list is the rank-≤np PREFIX
    // of the top-maxNp centroid ordering (graft_topk's total order —
    // sim desc, c_id asc — is what ivfKnnWith(np) itself uses), so ONE
    // ranked probe join scores the corpus once and every np's top-k
    // heap reads the same pass, skipping rows beyond its rank via the
    // null-skipping graft_topk input. Before: one probe agg + cell join
    // + top-k + count JOB per np, each rescoring its cells from scratch
    // (Σ np/nlist ≈ 2× the corpus at the default sweep) plus a brute
    // truth leg — ~3 corpus-scoring passes and 6 driver rounds; after:
    // one scoring pass and one aggregate, all under the caller's action.
    val effNps = nprobes.map(np => math.min(np, nlist))
    val maxNp = effNps.max
    val probes = q.crossJoin(broadcast(index.centroids))
      .withColumn("qc_sim", cosine(col("q_vec"), col("c_vec")))
      .groupBy("q_id")
      .agg(topk(col("qc_sim"), col("c_id"), maxNp).as("tk"),
        first(col("q_vec")).as("q_vec"))
      .select(col("q_id"), col("q_vec"), posexplode(col("tk")).as(Seq("pos", "e")))
      .select(col("e.id").as("c_id"), col("q_id"), col("q_vec"),
        (col("pos") + 1).as("rk"))
    val scored = index.cells.join(broadcast(probes), Seq("c_id"))
      .where(col("n_id") =!= col("q_id"))
      .select(col("q_id"), cosine(col("q_vec"), col("n_vec")).as("cos_exact"),
        col("n_id"), col("rk"))
    // maxNp == nlist ⇒ the probe lists hold EVERY centroid, each vector
    // sits in exactly one cell, so the probe join enumerates each
    // (query, vector) pair exactly once — the exact truth top-k folds
    // into the same pass. Otherwise (a partial sweep) truth keeps its
    // own brute leg, gathered to a per-query id array for the same
    // intersection arithmetic.
    val fullCover = maxNp == nlist
    val perQ = {
      val npAggs = effNps.indices.map(i =>
        topk(when(col("rk") <= effNps(i), col("cos_exact")), col("n_id"), k)
          .as(s"ta$i"))
      val aggs =
        if (fullCover) topk(col("cos_exact"), col("n_id"), k).as("tt") +: npAggs
        else npAggs
      scored.groupBy("q_id").agg(aggs.head, aggs.tail: _*)
    }
    val joined =
      if (fullCover) perQ.withColumn("t_ids", col("tt.id"))
      else perQ.join(
        broadcast(bruteKnn(corpus, vecCol, idCol, q, k)
          .groupBy("q_id")
          .agg(collect_list(col("neighbor_id")).as("t_ids"))),
        Seq("q_id"))
    val hitCols = effNps.indices.map(i =>
      coalesce(sum(size(array_intersect(col("t_ids"), col(s"ta$i.id")))
        .cast("long")), lit(0L)).as(s"h$i"))
    // the sweep rows stay DISTRIBUTED: only the final hit aggregate
    // (with the scoring pass it reads) and the row assembly below are
    // deferred to the caller's action (before: the returned frame was
    // a pre-computed 4-row local result). Construction still runs
    // jobs: the query checkpoint, the query counts, and the centroid
    // seeding and eager Lloyd checkpoints of kmeansCentroids (via
    // ivfIndexBuild). floor(x + 0.5) on a LongType floor replicates
    // the previous driver-side math.round exactly:
    // the two differ only when x sits within one ulp below a
    // half-integer, unreachable for hits·10000/(nQ·k) ratios of
    // integers this size (|2·hits·10000 − (2m+1)·nQ·k| ≥ 1 whenever
    // nonzero, i.e. the gap is ≥ 1/(2·nQ·k) ≫ ulp).
    val hitRow = joined.agg(hitCols.head, hitCols.tail: _*)
    val sweepRows = explode(array(effNps.indices.map { i =>
      val np = nprobes(i)
      struct(
        lit(np.toLong).as("nprobe"),
        lit(nQ).as("n_q"),
        col(s"h$i").as("n_hits"),
        (floor(col(s"h$i").cast("double") / lit((nQ * k).toDouble)
          * lit(10000.0) + lit(0.5)) / lit(10000.0)).as("recall"),
        lit(math.round(math.min(np, nlist).toDouble / nlist * 10000) / 10000.0)
          .as("scored_fraction"))
    }: _*))
    hitRow.select(sweepRows.as("r")).select(col("r.*")).orderBy("nprobe")
  }

  /** s9: ANN quality evaluation — LSH-kNN recall@k against the exact
    * brute-force truth, as ONE summary row (n_q, k, n_hits, recall)
    * with recall = n_hits / (n_q · k). The serving-side twin of
    * Dedup.lshRecallEval: the measurement that justifies an index
    * config before a 100 TB serving job.
    *
    * Queries are a deterministic md5-bucket sample of the corpus
    * (`samplePct`, the t5/d16 split arithmetic — no RNG). Sampling
    * QUERIES, never the corpus, keeps the estimate unbiased for what
    * production sees: each sampled query's truth is its exact top-k
    * over the FULL corpus. A pct sample alone still grows the query
    * count with the corpus (truth ∝ N² — the s17 headroom lesson),
    * so `maxQueries` additionally caps the set with a deterministic
    * lowest-md5 rank cut: truth cost maxQueries × N, linear. The cap
    * defaults OFF (0) here so existing callers' recall is never
    * silently re-based; the driver row opts in with 512 (non-binding
    * at oracle scale, so s9 stays hash-matched) and the emitted
    * `n_q` column always exposes the evaluated query count.
    */
  def annRecallEval(
      corpus: DataFrame, vecCol: String, idCol: String, k: Int,
      samplePct: Int = 100, numPlanes: Int = 4, dim: Int = 64,
      maxQueries: Int = 0): DataFrame = {
    val q0 = corpus.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
    val q1 = if (samplePct >= 100) q0
      else q0.where(
        conv(substring(md5(col("q_id").cast("string")), 1, 7), 16, 10)
          .cast("long") % 100 < samplePct)
    val q = (if (maxQueries > 0)
        q1.orderBy(
          conv(substring(md5(col("q_id").cast("string")), 1, 13), 16, 10)
            .cast("long").asc, col("q_id").asc)
          .limit(maxQueries).select("q_id", "q_vec")
      else q1)
      .localCheckpoint(eager = true) // feeds truth, approx, and n_q
    truthLegGuardWarn("annRecallEval", maxQueries, q.count(),
      preCap = if (maxQueries > 0) q1.count() else -1L)
    // NOT fused into one dual-topk corpus pass (r18 opt-2 A/B): a fused
    // truth+approx aggregate taxes EVERY (query, vector) pair with the
    // bucket test and a second null-skipping heap eval, to save cosines
    // only on the candidate fraction (~5/2^numPlanes) that the
    // broadcast hash join prunes for free — measured CPU 0.40 → 0.74 s,
    // and the loss grows as numPlanes shrinks that fraction. Reverted.
    val truth = bruteKnn(corpus, vecCol, idCol, q, k)
      .select(col("q_id"), col("neighbor_id"))
      .localCheckpoint(eager = true) // counted via join below
    val approx = lshKnn(corpus, vecCol, idCol, q, k, numPlanes, dim)
      .select(col("q_id"), col("neighbor_id"))
    val hits = truth.join(approx, Seq("q_id", "neighbor_id"))
      .agg(count(lit(1)).as("n_hits"))
    q.agg(count(lit(1)).as("n_q"))
      .crossJoin(hits)
      .select(col("n_q"), lit(k).cast("long").as("k"), col("n_hits"),
        round(col("n_hits").cast("double") / (col("n_q") * lit(k)), 4).as("recall"))
  }

  /** Deterministic pseudo-random hyperplanes: component d of plane p
    * is derived from a seeded integer hash — reproducible across
    * runs/JVMs with no RNG state.
    */
  private[graft] def hyperplanes(numPlanes: Int, dim: Int): Array[Array[Double]] =
    Array.tabulate(numPlanes, dim) { (p, d) =>
      // splitmix64-style scramble of (p, d)
      var z = p.toLong * 0x9e3779b97f4a7c15L + d.toLong * 0xbf58476d1ce4e5b9L + 0x42L
      z ^= z >>> 30; z *= 0xbf58476d1ce4e5b9L
      z ^= z >>> 27; z *= 0x94d049bb133111ebL
      z ^= z >>> 31
      ((z % 2001L) / 1000.0) // in [-2, 2]
    }

  private def planeCol(plane: Array[Double]): Column =
    array(plane.map(v => lit(v)): _*)

  /** LSH bucket signature: bit p = sign of dot(v, plane_p). */
  private[graft] def bucketOf(v: Column, planes: Array[Array[Double]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      when(cosine(v.cast("array<double>"), planeCol(p)) >= 0, lit(1 << i)).otherwise(lit(0))
    }.reduce(_ + _)

  /** Approximate top-k via random-hyperplane LSH with Hamming-1
    * multi-probe. Same output shape as [[bruteKnn]].
    */
  def lshKnn(
      corpus: DataFrame, vecCol: String, idCol: String,
      queries: DataFrame, k: Int, numPlanes: Int = 4, dim: Int = 64): DataFrame = {
    val planes = hyperplanes(numPlanes, dim)
    val data = corpus.select(col(idCol).as("n_id"), col(vecCol).as("n_vec"))
      .withColumn("bucket", bucketOf(col("n_vec"), planes))
    // each query probes its own bucket + all single-bit flips
    val probes = queries
      .withColumn("q_bucket", bucketOf(col("q_vec"), planes))
      .withColumn("probe", explode(array(
        col("q_bucket") +: (0 until numPlanes).map(b =>
          col("q_bucket").bitwiseXOR(lit(1 << b))): _*)))
    val scored = data.join(broadcast(probes), col("bucket") === col("probe"))
      .where(col("n_id") =!= col("q_id"))
      .select(col("q_id"), cosine(col("q_vec"), col("n_vec")).as("cos_exact"), col("n_id"))
    topKOut(scored, k)
  }

  /** All-corpus kNN join: every item's approximate top-k neighbors —
    * the workhorse behind near-dup mining, diversity sampling, and
    * similarity-graph building over a whole embedding table. Same
    * hyperplane-LSH candidate scheme as [[lshKnn]], but the probe
    * side IS the corpus, so candidates pair up via a SHUFFLE
    * equi-join on the bucket key — never a broadcast of the corpus;
    * each side carries only (id, vec, bucket), and the bucket
    * signatures are computed once (checkpointed) and read by both
    * sides. A (query, neighbor) pair meets in exactly one
    * (probe, bucket) task (the neighbor's bucket matches at most one
    * of the query's probe values), so no distinct is needed; top-k
    * per item via the bounded-heap aggregate, ≤ k rows per partition
    * per item crossing the final shuffle.
    *
    * Three scale hazards, each handled where it bites (all three
    * were MEASURED failures on the sf1 clustered corpus, not
    * hypotheticals):
    *   - partitioning: a single parquet file arrives as ONE
    *     partition and the checkpoint freezes that; with the (tiny)
    *     data side broadcast, the whole compare pass would run
    *     narrow in one task (184s single-threaded → spread to cores
    *     first);
    *   - bucket count: buckets must scale with the corpus or
    *     in-bucket pair work grows quadratically — `numPlanes <= 0`
    *     (the default) sizes planes as log2(N/256), i.e. ~256-vector
    *     buckets at any N (13.3s at 4 planes → 4.7s at the auto 6,
    *     sf1); pass an explicit count to pin reproducible buckets
    *     (the oracle replays plane literals);
    *   - skew: bucket skew is COMPUTE skew, not byte skew — a fat
    *     bucket's join INPUT is a few MB (AQE's size-based skew
    *     splitting never fires) while its join OUTPUT is quadratic
    *     in the bucket; buckets holding more than `saltThreshold`
    *     vectors salt deterministically (`n_id mod salts`) and
    *     probes of those buckets replicate across salts, so the
    *     identical pair set spreads over `salts` tasks. Salting is
    *     SIZE-HINTED (one extra bucket-count aggregate over the
    *     checkpointed base, broadcast of the fat-bucket set — at
    *     most N/saltThreshold entries by construction): replicating
    *     every probe unconditionally would multiply the probe-side
    *     shuffle volume by `salts` (16× at the default) to spread
    *     work that normal-sized buckets don't have.
    */
  def knnJoin(
      corpus: DataFrame, vecCol: String, idCol: String,
      k: Int, numPlanes: Int = 0, dim: Int = 64, salts: Int = 16,
      saltThreshold: Int = 1024): DataFrame = {
    val e = corpus.select(col(idCol).as("n_id"), col(vecCol).as("n_vec"))
      .repartition(corpus.sparkSession.sparkContext.defaultParallelism)
      .localCheckpoint(eager = true)
    val nP =
      if (numPlanes > 0) numPlanes
      else math.max(2, math.ceil(math.log(e.count() / 256.0) / math.log(2)).toInt)
    val planes = hyperplanes(nP, dim)
    // bucketOf is nP cosine kernels per row — cheap enough to compute
    // on each side of the checkpointed base rather than checkpoint a
    // second relation
    val bucketed = e.withColumn("bucket", bucketOf(col("n_vec"), planes))
    // fat-bucket set: ≤ N/saltThreshold rows by construction, and in
    // practice the few clustered hot spots — broadcast-class
    val fat = bucketed.groupBy("bucket").agg(count(lit(1)).as("bn"))
      .where(col("bn") > saltThreshold)
      .select(col("bucket").as("f_bucket"))
    val data = bucketed
      .join(broadcast(fat), col("bucket") === col("f_bucket"), "left")
      .withColumn("d_salt",
        when(col("f_bucket").isNotNull, pmod(col("n_id"), lit(salts)))
          .otherwise(lit(0)))
      .drop("f_bucket")
    val probes = bucketed
      .select(
        col("n_id").as("q_id"), col("n_vec").as("q_vec"),
        explode(array(col("bucket") +: (0 until nP).map(b =>
          col("bucket").bitwiseXOR(lit(1 << b))): _*)).as("probe"))
      .join(broadcast(fat), col("probe") === col("f_bucket"), "left")
      .withColumn("p_salt", explode(
        when(col("f_bucket").isNotNull, sequence(lit(0), lit(salts - 1)))
          .otherwise(array(lit(0)))))
      .drop("f_bucket")
    val scored = data.join(probes,
        col("bucket") === col("probe") && col("d_salt") === col("p_salt"))
      .where(col("n_id") =!= col("q_id"))
      .select(col("q_id"), cosine(col("q_vec"), col("n_vec")).as("cos_exact"), col("n_id"))
    topKOut(scored, k)
  }

  /** Embedding-space label diagnostics: partition the corpus into
    * `nlist` deterministic k-means cells (the s3 machinery) and score
    * each cell against a ground-truth label column — members, majority
    * label, purity (majority share). The embedding-side twin of the
    * t23 classifier eval: low overall purity means the embedding
    * doesn't separate the labels and every downstream
    * cluster-grained decision (semdedup retention, IVF routing,
    * auto-labeling) inherits that noise. Cost: the s3 Lloyd loop +
    * ONE (cell, label) count aggregate; the per-cell argmax runs on
    * the nlist·|labels|-sized count relation, never the corpus.
    */
  def clusterPurity(
      corpus: DataFrame, vecCol: String, idCol: String, labelCol: String,
      nlist: Int = 16, lloydIters: Int = 3): DataFrame = {
    val data = corpus.select(col(idCol).as("n_id"), col(vecCol).as("n_vec"))
      .repartition(corpus.sparkSession.sparkContext.defaultParallelism)
      .localCheckpoint(eager = true)
    val cents = kmeansCentroids(data, nlist, lloydIters)
    val labeled = assignNearest(data, cents)
      .join(corpus.select(col(idCol).as("n_id"), col(labelCol).as("label")), "n_id")
    val counts = labeled.groupBy("c_id", "label").agg(count(lit(1)).as("n"))
      .localCheckpoint(eager = true) // feeds totals AND the argmax
    val wCell = org.apache.spark.sql.expressions.Window.partitionBy("c_id")
    counts
      .withColumn("n_members", sum("n").over(wCell))
      .withColumn("rk", row_number().over(
        wCell.orderBy(col("n").desc, col("label"))))
      .where(col("rk") === 1)
      .select(col("c_id").as("cell_id"), col("n_members"),
        col("label").as("majority_label"),
        round(col("n").cast("double") / col("n_members"), 4).as("purity"))
  }

  /** Nearest-centroid assignment as a MAP-ONLY expression: the
    * broadcast-class centroid set packs into ONE sorted array row
    * (array_sort(collect_list) — nlist entries), each data row scores
    * it with a codegen'd transform + array_max, and the argmax falls
    * out of lexicographic struct comparison on (sim, -c_id) — highest
    * sim, then lowest centroid id, the same tie order as the previous
    * max_by form. Zero shuffle, zero sort: the earlier
    * crossJoin → groupBy(n_id) max_by planned as SortAggregate
    * (struct agg buffers are hash-ineligible), which per-partition
    * sorted all N rows and exchanged one row per vector every Lloyd
    * round; this shape is scan → broadcast join → project.
    * `data`: (n_id, n_vec); returns (c_id, n_id, n_vec).
    */
  private[graft] def assignNearest(data: DataFrame, cents: DataFrame): DataFrame = {
    import graft.functions.nearestId
    val packed = cents.agg(
      array_sort(collect_list(struct(col("c_id"), col("c_vec")))).as("cs"))
    // nearestId is the native argmax (NearestOps) — the earlier
    // transform + array_max form was exact but interpreted
    // (higher-order functions are CodegenFallback): one lambda frame
    // per centroid per row; parity is spec-pinned in SimilaritySpec
    data.crossJoin(broadcast(packed))
      .select(nearestId(col("cs"), col("n_vec"), "cosine").as("c_id"),
        col("n_id"), col("n_vec"))
  }

  /** Deterministic k-means over `data` (n_id, n_vec): seed with the
    * `nlist` first vectors in md5(id) order — a deterministic
    * hash-spread sample, so the seeds stay scattered even when low
    * ids are correlated (a corpus sorted by crawl shard would hand
    * lowest-id seeding `nlist` near-duplicate seeds and degenerate
    * cells) — then `iters` Lloyd rounds re-center each cell at its
    * members' element-wise mean. Recentering is ONE aggregate using
    * the [[graft.functions.vecsum]] fixed-buffer array-sum: a single
    * partial buffer per (partition, cell) crosses the shuffle, where
    * the relational posexplode → groupBy(c_id, pos) form shuffled
    * N×dim rows per round. Each round re-materializes the tiny
    * centroid relation (lazy localCheckpoint) so centroid lineage
    * doesn't compound across iterations. No RNG anywhere → results
    * are cluster-size invariant.
    */
  private[graft] def kmeansCentroids(data: DataFrame, nlist: Int, iters: Int): DataFrame = {
    var cents = data
      .orderBy(md5(col("n_id").cast("string")), col("n_id")).limit(nlist)
      .select(col("n_id").as("c_id"), col("n_vec").as("c_vec"))
      .localCheckpoint(eager = true)
    (0 until math.max(0, iters)).foreach { _ =>
      cents = assignNearest(data, cents)
        .groupBy("c_id")
        .agg(vecsum(col("n_vec")).as("s"))
        .select(col("c_id"),
          transform(col("s.sum"), x => (x / col("s.n")).cast("float")).as("c_vec"))
        .localCheckpoint(eager = true)
    }
    cents
  }

  /** (sub, n_id, sv): per-subspace training/encoding relation —
    * materialized once, reused by every Lloyd round and the encode.
    */
  private def pqSubvectors(data: DataFrame, m: Int, subLen: Int): DataFrame =
    data
      .select(col("n_id"), col("n_vec"), explode(sequence(lit(0), lit(m - 1))).as("sub"))
      .select(col("sub"), col("n_id"),
        slice(col("n_vec"), col("sub") * subLen + 1, lit(subLen)).as("sv"))
      .localCheckpoint(eager = true)

  /** Nearest codebook entry per (sub, vector) — L2, tie-break lowest
    * c_id. MAP-ONLY like [[assignNearest]]: the m·ksub codebook packs
    * into m broadcast rows of sorted entry arrays; each (sub, vector)
    * row scores its subspace's array with a codegen'd transform +
    * array_min on (d2, c_id). The earlier join → groupBy(sub, n_id)
    * min_by form planned as SortAggregate and exchanged ALL N·m
    * encode rows per Lloyd round; this is a broadcast hash join +
    * projection — nothing crosses the wire.
    */
  private def pqAssign(subv: DataFrame, cents: DataFrame): DataFrame = {
    import graft.functions.nearestId
    val packed = cents.groupBy("sub").agg(
      array_sort(collect_list(struct(col("c_id"), col("c_vec")))).as("cs"))
    // native argmin of |c|²−2·sv·c (|sv|² is a rank-invariant offset);
    // see assignNearest on why not transform + array_min
    subv.join(broadcast(packed), Seq("sub"))
      .select(col("sub"), col("n_id"),
        nearestId(col("cs"), col("sv"), "l2").as("c_id"), col("sv"))
  }

  /** Per-subspace `ksub`-entry codebooks: every subspace seeds from
    * the same ksub md5-spread vector ids (present in all subspaces by
    * construction; hash order keeps the seeds scattered on
    * id-correlated corpora — see [[kmeansCentroids]]), refined by
    * `lloydIters` rounds of the vecsum fixed-buffer recentering.
    */
  private def pqCodebooks(
      data: DataFrame, subv: DataFrame, ksub: Int, lloydIters: Int): DataFrame = {
    val seedIds = data
      .orderBy(md5(col("n_id").cast("string")), col("n_id")).limit(ksub)
      .select(col("n_id").as("c_id"))
    var cents = subv.join(broadcast(seedIds), col("n_id") === col("c_id"))
      .select(col("sub"), col("c_id"), col("sv").as("c_vec"))
      .localCheckpoint(eager = true)
    (0 until math.max(0, lloydIters)).foreach { _ =>
      cents = pqAssign(subv, cents)
        .groupBy("sub", "c_id")
        .agg(vecsum(col("sv")).as("s"))
        .select(col("sub"), col("c_id"),
          transform(col("s.sum"), x => (x / col("s.n")).cast("float")).as("c_vec"))
        .localCheckpoint(eager = true)
    }
    cents
  }

  /** Product-quantization ANN (Jégou et al. 2011, "Product
    * Quantization for Nearest Neighbor Search"): each vector is cut
    * into `m` orthogonal subspaces, each quantized against its own
    * `ksub`-entry codebook (deterministic per-subspace k-means:
    * seeded from the `ksub` lowest-id vectors' subvectors, Lloyd-
    * refined — no RNG, cluster-size invariant). Corpus vectors become
    * m small codes; queries score candidates via asymmetric distance
    * computation (ADC): a per-(query, subspace, code) lookup table of
    * partial dot products summed across each vector's codes —
    * approximate cosine follows because subspace norms compose
    * (|x̂|² = Σ_sub |ĉ_sub|²). The ADC top k·`rerankFactor`
    * candidates per query are re-ranked under the exact cosine
    * kernel, so emitted scores are exact and recall is the only
    * approximation.
    *
    * Scale shape: the encoded corpus is m one-byte codes per vector
    * vs 4·dim float bytes (32× smaller at the defaults — the
    * difference between an in-memory and a spilling index at 100 TB);
    * the ADC pass replaces dim-wide multiplies with LUT adds; every
    * corpus-wide shuffle keys on ids with map-side combine (the
    * min_by/topk aggregates, same as ivfKnn); the exact rerank joins
    * only k·rerankFactor candidate rows per query back to raw
    * vectors, never the corpus.
    */
  def pqKnn(
      corpus: DataFrame, vecCol: String, idCol: String,
      queries: DataFrame, k: Int, m: Int = 8, ksub: Int = 16,
      dim: Int = 64, lloydIters: Int = 1, rerankFactor: Int = 4): DataFrame = {
    import graft.functions.dot
    val subLen = dim / m
    val data = corpus.select(col(idCol).as("n_id"), col(vecCol).as("n_vec"))
    val subv = pqSubvectors(data, m, subLen)
    val cents = pqCodebooks(data, subv, ksub, lloydIters)
    // the PQ "index": m codes per corpus vector
    val codes = pqAssign(subv, cents).select("sub", "n_id", "c_id")
    // ADC lookup table: partial dot + codebook-entry norm per
    // (query, subspace, code); Q·m·ksub rows — broadcast-class
    val qsub = queries
      .select(col("q_id"), col("q_vec"), explode(sequence(lit(0), lit(m - 1))).as("sub"))
      .select(col("q_id"), col("sub"),
        slice(col("q_vec"), col("sub") * subLen + 1, lit(subLen)).as("qv"),
        dot(col("q_vec"), col("q_vec")).as("qn2"))
    val lut = qsub.join(cents, Seq("sub"))
      .select(col("q_id"), col("sub"), col("c_id"),
        dot(col("qv"), col("c_vec")).as("pdot"),
        dot(col("c_vec"), col("c_vec")).as("cn2"),
        col("qn2"))
    val adc = codes.join(broadcast(lut), Seq("sub", "c_id"))
      .where(col("n_id") =!= col("q_id"))
      .groupBy("q_id", "n_id")
      .agg(sum(col("pdot")).as("sdot"), sum(col("cn2")).as("sc2"),
        first(col("qn2")).as("qn2"))
      .withColumn("cos_adc", col("sdot") / (sqrt(col("qn2")) * sqrt(col("sc2"))))
    val shortlist = adc.groupBy("q_id")
      .agg(topk(col("cos_adc"), col("n_id"), k * rerankFactor).as("tk"))
      .select(col("q_id"), explode(col("tk")).as("e"))
      .select(col("q_id"), col("e.id").as("n_id"))
    val scored = shortlist
      .join(data, Seq("n_id"))
      .join(broadcast(queries), Seq("q_id"))
      .select(col("q_id"), cosine(col("q_vec"), col("n_vec")).as("cos_exact"), col("n_id"))
    topKOut(scored, k)
  }

  /** IVF-style ANN: the corpus is partitioned into `nlist` inverted
    * lists by nearest coarse centroid; each query scores only its
    * `nprobe` closest lists (~nprobe/nlist of the corpus). Centroids
    * seed deterministically from the `nlist` lowest-id vectors and
    * are refined by `lloydIters` k-means rounds — no RNG anywhere, so
    * results are cluster-size invariant.
    */
  def ivfKnn(
      corpus: DataFrame, vecCol: String, idCol: String,
      queries: DataFrame, k: Int, nlist: Int = 16, nprobe: Int = 4,
      lloydIters: Int = 1): DataFrame =
    ivfKnnWith(
      ivfIndexBuild(corpus, vecCol, idCol, nlist, lloydIters),
      queries, k, nprobe)

  /** A built IVF index: the `nlist` coarse centroids (c_id, c_vec)
    * and the inverted cells (c_id, n_id, n_vec). Build once, serve
    * many — [[ivfIndexSave]]/[[ivfIndexLoad]] round-trip it through
    * manifested lakes so query jobs skip the k-means + assignment
    * pass entirely (s11).
    */
  case class IvfIndex(centroids: DataFrame, cells: DataFrame)

  /** One Lloyd fit + one assignment pass over the corpus — the
    * expensive half of [[ivfKnn]], factored out so it can be paid
    * once and persisted.
    */
  def ivfIndexBuild(
      corpus: DataFrame, vecCol: String, idCol: String,
      nlist: Int = 16, lloydIters: Int = 1): IvfIndex = {
    val data = corpus.select(col(idCol).as("n_id"), col(vecCol).as("n_vec"))
    val cents = kmeansCentroids(data, nlist, lloydIters)
    IvfIndex(cents, assignNearest(data, cents))
  }

  /** Serve top-k from a built (or loaded) index: probe lists from the
    * broadcast centroid relation, exact cosine over the probed cells
    * only — identical semantics to [[ivfKnn]], minus the build.
    */
  def ivfKnnWith(
      index: IvfIndex, queries: DataFrame, k: Int,
      nprobe: Int = 4): DataFrame = {
    // top-nprobe lists per query via the bounded-heap aggregate
    // (same tie semantics as the old window: sim desc, c_id asc)
    val probes = queries.crossJoin(broadcast(index.centroids))
      .withColumn("qc_sim", cosine(col("q_vec"), col("c_vec")))
      .groupBy("q_id")
      .agg(
        topk(col("qc_sim"), col("c_id"), nprobe).as("tk"),
        first(col("q_vec")).as("q_vec"))
      .select(col("q_id"), col("q_vec"), explode(col("tk")).as("e"))
      .select(col("e.id").as("c_id"), col("q_id"), col("q_vec"))
    val scored = index.cells.join(broadcast(probes), Seq("c_id"))
      .where(col("n_id") =!= col("q_id"))
      .select(col("q_id"), cosine(col("q_vec"), col("n_vec")).as("cos_exact"), col("n_id"))
    topKOut(scored, k)
  }

  /** Persist an IVF index as two manifested lakes (`<path>/centroids`,
    * `<path>/cells`) — the build-once/serve-many contract a 100 TB
    * deployment needs: the k-means fit and the corpus-wide assignment
    * are paid by ONE indexing job, every query job reads the
    * manifest-pinned relations (atomic swap on re-index via the
    * manifest commit; old versions stay replayable until vacuum; lk22
    * tags can pin a serving release). Returns the committed
    * (centroids, cells) manifest versions.
    */
  def ivfIndexSave(index: IvfIndex, path: String): (Int, Int) =
    (replaceSnapshot(index.centroids, s"$path/centroids"),
      replaceSnapshot(index.cells, s"$path/cells"))

  /** Full-replace commit through the WAP machinery: stage the new
    * files invisibly beside the old ones, then commit a manifest of
    * ONLY the new files. A plain overwrite would delete the previous
    * snapshot's data out from under its manifest; this keeps every
    * prior index version replayable until vacuum.
    */
  private def replaceSnapshot(df: DataFrame, path: String): Int = {
    import graft.sources.ParquetLake
    val spark = df.sparkSession
    val stage = s"ivfsave_${java.util.UUID.randomUUID().toString.take(8)}"
    val files = ParquetLake.stageAppend(spark, path, df, stage)
    val v = ParquetLake.commitManifest(spark, path, files)
    // the files are now manifest-referenced, so this only drops the ref
    ParquetLake.abandonStaged(spark, path, stage)
    v
  }

  /** Load a persisted IVF index (latest snapshot, or pinned versions
    * for bit-exact replay of a serving release).
    */
  def ivfIndexLoad(
      spark: org.apache.spark.sql.SparkSession, path: String,
      centroidsVersion: Option[Int] = None,
      cellsVersion: Option[Int] = None): IvfIndex = {
    import graft.sources.ParquetLake
    IvfIndex(
      ParquetLake.readManifested(spark, s"$path/centroids", centroidsVersion),
      ParquetLake.readManifested(spark, s"$path/cells", cellsVersion))
  }

  /** s12: IVF cell-balance report — the index-quality QC run before a
    * serving release (pairs with [[ivfIndexSave]]): skewed cells mean
    * probe cost varies wildly per query and a collapsed k-means fit
    * (many empty cells, one giant cell) silently degrades recall at
    * fixed nprobe. One aggregate over the nlist-sized occupancy
    * relation — never the corpus: cells groupBy folds map-side, the
    * summary is a single row. `imbalance` = max occupancy / ideal
    * (n_vectors / nlist); 1.0 is perfect, ≥ nlist means collapse.
    */
  def cellBalance(index: IvfIndex): DataFrame = {
    val nlist = index.centroids.count() // nlist-sized relation, bounded
    index.cells.groupBy("c_id").agg(count(lit(1)).as("n"))
      .agg(
        lit(nlist).as("nlist"),
        count(lit(1)).as("cells_used"),
        (lit(nlist) - count(lit(1))).as("cells_empty"),
        sum(col("n")).as("n_vectors"),
        min(col("n")).as("min_occ"),
        max(col("n")).as("max_occ"))
      .select(
        col("nlist"), col("cells_used"), col("cells_empty"),
        col("n_vectors"), col("min_occ"), col("max_occ"),
        round(col("max_occ") /
          (col("n_vectors").cast("double") / col("nlist")), 4).as("imbalance"))
  }

  /** s13: scalar-quantized ANN (SQ8, the FAISS ScalarQuantizer
    * family): every corpus vector is stored as one BYTE per dimension
    * — codes quantize each dimension's value into 256 levels of its
    * corpus-wide [min, max] range — a 4× memory/IO cut against
    * float32 with no codebook training at all (PQ's k-means step and
    * its fp-averaging nondeterminism disappear, which is why this row
    * CAN carry a DuckDB oracle while s4/s7 cannot). Queries score
    * the dequantized vectors, take a k·`rerankFactor` shortlist by a
    * bounded-heap aggregate, and re-rank under the exact cosine — so
    * emitted scores are exact and quantization error only affects
    * recall, the s4/s7 contract.
    *
    * Determinism: per-dimension min/max are exact; encode
    * (least(floor((x−lo)·255/(hi−lo)), 255)) and decode
    * (lo + q·(hi−lo)/255) are the same IEEE double ops in both
    * engines; scoring accumulates doubles in array order.
    */
  def sq8Knn(
      corpus: DataFrame, vecCol: String, idCol: String,
      queries: DataFrame, k: Int, rerankFactor: Int = 4): DataFrame = {
    val data = corpus.select(
      col(idCol).as("n_id"),
      transform(col(vecCol), x => x.cast("double")).as("v"))
      .localCheckpoint(eager = true) // feeds bounds, codes, and rerank
    // per-dimension corpus bounds: a dims-sized relation, packed into
    // two broadcast arrays ordered by dimension
    val packed = broadcast(
      data.select(posexplode(col("v")).as(Seq("d", "x")))
        .groupBy("d").agg(min(col("x")).as("lo"), max(col("x")).as("hi"))
        .agg(
          expr("transform(array_sort(collect_list(struct(d, lo))), s -> s.lo)").as("los"),
          expr("transform(array_sort(collect_list(struct(d, hi))), s -> s.hi)").as("his")))
    // encode→decode in one pass: dv is what the int8 index SERVES
    // (the byte codes themselves are the storage form; the oracle and
    // the scoring both see their dequantized values)
    val dv = data.crossJoin(packed)
      .select(col("n_id"), expr(
        """transform(sequence(1, size(v)), i ->
          |  IF(element_at(his, i) = element_at(los, i),
          |     element_at(los, i),
          |     element_at(los, i) +
          |       least(floor((element_at(v, i) - element_at(los, i)) * 255.0D /
          |         (element_at(his, i) - element_at(los, i))), 255.0D) *
          |       (element_at(his, i) - element_at(los, i)) / 255.0D))""".stripMargin)
        .as("dv"))
    val q = queries.select(col("q_id"),
      transform(col("q_vec"), x => x.cast("double")).as("qv"))
    val shortlist = dv.crossJoin(broadcast(q))
      .where(col("n_id") =!= col("q_id"))
      .select(col("q_id"), cosine(col("qv"), col("dv")).as("c_sq"), col("n_id"))
      .groupBy("q_id")
      .agg(topk(col("c_sq"), col("n_id"), k * rerankFactor).as("tk"))
      .select(col("q_id"), explode(col("tk")).as("e"))
      .select(col("q_id"), col("e.id").as("n_id"))
    val rerank = shortlist
      .join(data, Seq("n_id"))
      .join(broadcast(q), Seq("q_id"))
      .select(col("q_id"), cosine(col("qv"), col("v")).as("cos_exact"), col("n_id"))
    topKOut(rerank, k)
  }

  /** IVF+PQ composite ANN — the FAISS-style index shape an actual
    * 100 TB deployment runs: an IVF coarse quantizer prunes the
    * corpus to each query's `nprobe` nearest cells (~nprobe/nlist of
    * the vectors), and within the surviving cells candidates are
    * scored by PQ asymmetric-distance lookups (m one-byte codes per
    * vector) instead of full-width dot products. The ADC top
    * k·`rerankFactor` per query re-rank under the exact cosine
    * kernel, so emitted scores are exact and recall is the only
    * approximation — same contract as [[ivfKnn]] and [[pqKnn]].
    *
    * Scale shape vs its parents: pqKnn's ADC pass touches all N·m
    * code rows per query batch; here the candidate join cuts that to
    * (N·nprobe/nlist)·m. The code relation shuffles on n_id once;
    * the LUT (Q·m·ksub rows) and probe lists broadcast; the
    * per-(q,n) ADC sum and both top-k reductions partial-combine
    * map-side via the bounded-heap aggregate.
    */
  def ivfPqKnn(
      corpus: DataFrame, vecCol: String, idCol: String,
      queries: DataFrame, k: Int, nlist: Int = 16, nprobe: Int = 4,
      m: Int = 8, ksub: Int = 16, dim: Int = 64, lloydIters: Int = 1,
      rerankFactor: Int = 4): DataFrame = {
    import graft.functions.dot
    val subLen = dim / m
    // reused by the coarse assign, PQ train/encode, and exact rerank
    val data = corpus.select(col(idCol).as("n_id"), col(vecCol).as("n_vec"))
      .localCheckpoint(eager = true)
    // IVF layer: cells + per-query probe lists (ivfKnn's shapes)
    val coarse = kmeansCentroids(data, nlist, lloydIters)
    val cells = assignNearest(data, coarse).select("c_id", "n_id")
    val probes = queries.crossJoin(broadcast(coarse))
      .withColumn("qc_sim", cosine(col("q_vec"), col("c_vec")))
      .groupBy("q_id")
      .agg(topk(col("qc_sim"), col("c_id"), nprobe).as("tk"))
      .select(col("q_id"), explode(col("tk")).as("e"))
      .select(col("e.id").as("c_id"), col("q_id"))
    // candidate set: corpus vectors in probed cells only
    val cand = cells.join(broadcast(probes), Seq("c_id"))
      .where(col("n_id") =!= col("q_id"))
      .select("q_id", "n_id")
    // PQ layer: global per-subspace codebooks, m codes per vector
    // (code id column renamed to avoid colliding with the coarse c_id)
    val subv = pqSubvectors(data, m, subLen)
    val cents = pqCodebooks(data, subv, ksub, lloydIters)
    val codes = pqAssign(subv, cents)
      .select(col("sub"), col("n_id"), col("c_id").as("code"))
    val qsub = queries
      .select(col("q_id"), col("q_vec"), explode(sequence(lit(0), lit(m - 1))).as("sub"))
      .select(col("q_id"), col("sub"),
        slice(col("q_vec"), col("sub") * subLen + 1, lit(subLen)).as("qv"),
        dot(col("q_vec"), col("q_vec")).as("qn2"))
    val lut = qsub.join(cents, Seq("sub"))
      .select(col("q_id"), col("sub"), col("c_id").as("code"),
        dot(col("qv"), col("c_vec")).as("pdot"),
        dot(col("c_vec"), col("c_vec")).as("cn2"),
        col("qn2"))
    // ADC restricted to the IVF candidates: cand×m rows, LUT broadcast
    val adc = cand.join(codes, Seq("n_id"))
      .join(broadcast(lut), Seq("q_id", "sub", "code"))
      .groupBy("q_id", "n_id")
      .agg(sum(col("pdot")).as("sdot"), sum(col("cn2")).as("sc2"),
        first(col("qn2")).as("qn2"))
      .withColumn("cos_adc", col("sdot") / (sqrt(col("qn2")) * sqrt(col("sc2"))))
    val shortlist = adc.groupBy("q_id")
      .agg(topk(col("cos_adc"), col("n_id"), k * rerankFactor).as("tk"))
      .select(col("q_id"), explode(col("tk")).as("e"))
      .select(col("q_id"), col("e.id").as("n_id"))
    val scored = shortlist
      .join(data, Seq("n_id"))
      .join(broadcast(queries), Seq("q_id"))
      .select(col("q_id"), cosine(col("q_vec"), col("n_vec")).as("cos_exact"), col("n_id"))
    topKOut(scored, k)
  }

  // --- binary (sign-bit) quantization: s19 brute scan, s20 MIH ------------

  /** Sign-bit signature of an embedding: bit j of word w is set iff
    * `vec[w*wordBits + j] > 0`. Binary quantization is the most
    * aggressive embedding compression that still ranks (1 bit/dim —
    * 32× smaller than float32; Hamming distance approximates angular
    * distance, Charikar 2002 with the identity basis), and the only
    * one whose SEARCH is integer-exact end-to-end: given the
    * signatures, every downstream number (band values, Hamming
    * distances, ranks) is exactly replayable by the DuckDB oracle —
    * no fp surface anywhere, unlike the cosine-kernel family.
    *
    * 32 bits per 64-bit word, not 64: the oracle replays the packing
    * with `1::BIGINT << j` shifts, and DuckDB raises on a 63-bit
    * shift; half-full words are a constant factor on an already
    * 32×-compressed representation, and both engines agree on every
    * word value (non-negative, no sign-bit games). The packer is the
    * native [[graft.functions.SignPack]] expression — one primitive
    * loop inside whole-stage codegen, no higher-order functions and
    * no dim-branch `when` chain on the hot path.
    */
  private[graft] def signSig(vec: Column, dim: Int, wordBits: Int = 32): Column = {
    require(wordBits >= 1 && wordBits < 64, s"wordBits=$wordBits must leave BIGINT shifts non-negative")
    require(dim % wordBits == 0, s"dim=$dim must be a multiple of wordBits=$wordBits")
    // expectDim = dim: the declared dim drives the band layout and any
    // dim-hardcoded oracle replay, so a vector whose real length
    // differs must fail loudly, not pack a divergent signature
    graft.functions.signpack(vec, wordBits, expectDim = dim)
  }

  /** Hamming distance between two signatures: the native codegen'd
    * [[graft.functions.HammingDistance]] expression (popcount(xor)
    * per word in a primitive loop). Not a `zip_with`+`aggregate`
    * composition: higher-order functions fall out of whole-stage
    * codegen, and this is the one kernel the s19 scan evaluates
    * N·|Q| times. */
  private[graft] def hammingDist(a: Column, b: Column): Column =
    graft.functions.hamming(a, b)

  /** s19: exact top-k under Hamming distance on sign signatures — the
    * brute-force baseline of the binary-quantization family (s13/s4
    * compress the SCORES; this compresses the VECTORS to 1 bit/dim).
    * Same shape as [[bruteKnn]]: queries broadcast, one codegen'd
    * integer kernel per (query, vector) pair, graft_topk bounded heap
    * (ties broken by ascending neighbor id — deterministic under any
    * partitioning). At 100 TB this is the scan you run when you CAN'T
    * afford float vectors in memory: 64-dim floats are 256 B/row,
    * the signature is 16 B, and the kernel is two xor+popcounts.
    */
  def hammingKnn(
      corpus: DataFrame, vecCol: String, idCol: String,
      queries: DataFrame, k: Int, dim: Int = 64): DataFrame = {
    val data = corpus.select(col(idCol).as("n_id"), signSig(col(vecCol), dim).as("n_sig"))
    val q = queries.select(col("q_id"), signSig(col("q_vec"), dim).as("q_sig"))
    hammingTopK(
      data.crossJoin(broadcast(q)).where(col("n_id") =!= col("q_id")), k)
  }

  /** Multi-index Hamming kNN (Norouzi, Punjani & Fleet 2012): split
    * the signature into `nBands` disjoint bit-bands; a corpus vector
    * is a CANDIDATE for a query iff at least one band matches
    * exactly, then candidates re-rank under exact Hamming distance.
    * Pigeonhole guarantee: any neighbor within Hamming radius
    * `nBands - 1` differs in ≤ nBands-1 bits, so some band is
    * untouched and the neighbor is ALWAYS retrieved with its exact
    * distance (spec-pinned with a planted neighbor); farther
    * neighbors are best-effort — recall@k vs [[hammingKnn]] is the
    * QC number, like s9 for the cosine family.
    *
    * Scale shape: the corpus pays one scan (project signature + band
    * values, explode to nBands rows); the 8·|Q| query bands broadcast,
    * so the equality join prunes map-side — only matching buckets'
    * postings survive, cost ∝ posting-list mass, not N·|Q|. The
    * distinct + rerank run on the candidate relation. In a serving
    * deployment the exploded (band, value → id) relation IS the MIH
    * index: build once, persist via the s11 manifest-lake path, and
    * each query batch touches ~nBands·|Q| buckets of it.
    */
  def mihKnn(
      corpus: DataFrame, vecCol: String, idCol: String,
      queries: DataFrame, k: Int, dim: Int = 64, bandBits: Int = 8): DataFrame =
    mihKnnWith(mihIndexBuild(corpus, vecCol, idCol, dim, bandBits),
      queries, k, dim, bandBits)

  /** The banded posting relation `(band, bv, n_id, n_sig)` — s20's
    * index: one corpus scan projects the signature, explodes its
    * `dim/bandBits` band values, and carries the signature alongside
    * so serving needs no second corpus pass for the rerank. Persist
    * with [[mihIndexSave]] (signatures are 16 B — ×nBands rows of
    * longs, still ~128× smaller than replicating float vectors).
    */
  def mihIndexBuild(
      corpus: DataFrame, vecCol: String, idCol: String,
      dim: Int = 64, bandBits: Int = 8): DataFrame =
    corpus
      .select(col(idCol).as("n_id"), signSig(col(vecCol), dim).as("n_sig"))
      .select(col("n_id"), col("n_sig"),
        posexplode(bandVals(col("n_sig"), dim, bandBits)).as(Seq("band", "bv")))

  /** Serve MIH kNN from a built (or loaded) band index: the nBands·|Q|
    * query band rows broadcast into the posting relation — a map-side
    * hash probe, so only matching buckets' postings survive the scan.
    */
  def mihKnnWith(
      index: DataFrame, queries: DataFrame, k: Int,
      dim: Int = 64, bandBits: Int = 8): DataFrame = {
    val q = queries
      .select(col("q_id"), signSig(col("q_vec"), dim).as("q_sig"))
      .select(col("q_id"), col("q_sig"),
        posexplode(bandVals(col("q_sig"), dim, bandBits)).as(Seq("qband", "qbv")))
    val cands = index
      .join(broadcast(q),
        col("band") === col("qband") && col("bv") === col("qbv") &&
          col("n_id") =!= col("q_id"))
      .select("q_id", "q_sig", "n_id", "n_sig")
      .distinct() // union over bands: one candidate row per (query, vector)
    hammingTopK(cands, k)
  }

  /** s22: EXACT Hamming radius search served from the band index —
    * every corpus vector within `maxHamming` of each query, with a
    * COMPLETENESS GUARANTEE instead of kNN's best-effort recall:
    * `maxHamming ≤ nBands − 1` is require()d, so by pigeonhole any
    * in-radius vector differs from the query in ≤ nBands−1 bits,
    * leaves at least one band untouched, and MUST collide in the band
    * join — the banded result is bit-identical to a brute-force
    * radius scan while touching only colliding postings. This is the
    * retrieval shape of a near-duplicate LOOKUP (lk47's gate as a
    * query: "show me everything within editing distance of this
    * probe"), where kNN's fixed k either truncates a dense
    * neighborhood or pads a sparse one.
    *
    * Scale shape = [[mihKnnWith]]'s: the nBands·|Q| query band rows
    * broadcast into the posting relation, candidates are
    * posting-mass-sized, and the exact xor+popcount filter is the
    * only work past the join — no heap, no ranking state.
    */
  def mihRadius(
      corpus: DataFrame, vecCol: String, idCol: String,
      queries: DataFrame, maxHamming: Int,
      dim: Int = 64, bandBits: Int = 8): DataFrame =
    mihRadiusWith(mihIndexBuild(corpus, vecCol, idCol, dim, bandBits),
      queries, maxHamming, dim, bandBits)

  def mihRadiusWith(
      index: DataFrame, queries: DataFrame, maxHamming: Int,
      dim: Int = 64, bandBits: Int = 8): DataFrame = {
    val nBands = dim / bandBits
    require(maxHamming <= nBands - 1,
      s"exact radius search requires maxHamming ≤ nBands-1 = ${nBands - 1} " +
        s"(pigeonhole guarantee); got $maxHamming — raise nBands (lower " +
        "bandBits) or use mihKnn's best-effort ranking")
    import graft.functions.hamming
    val q = queries
      .select(col("q_id"), signSig(col("q_vec"), dim).as("q_sig"))
      .select(col("q_id"), col("q_sig"),
        posexplode(bandVals(col("q_sig"), dim, bandBits)).as(Seq("qband", "qbv")))
    index
      .join(broadcast(q),
        col("band") === col("qband") && col("bv") === col("qbv") &&
          col("n_id") =!= col("q_id"))
      .select(col("q_id"), col("q_sig"), col("n_id"), col("n_sig"))
      .distinct() // union over bands: one candidate row per (query, vector)
      .select(col("q_id"), col("n_id").as("neighbor_id"),
        hamming(col("q_sig"), col("n_sig")).as("hamming"))
      .where(col("hamming") <= maxHamming)
  }

  /** Persist / reload the MIH band index through the same WAP
    * manifest-lake path as the IVF index (s11): every prior snapshot
    * stays replayable until vacuum, `version` pins a serving release.
    *
    * The packing LAYOUT (dim, bandBits) persists as columns OF the
    * bands snapshot — versioned in lockstep with the exact bands it
    * describes, so a pinned load of an old release verifies against
    * that release's own layout, not whatever a later re-save at a
    * re-tuned packing wrote last. A saved index is only meaningful at
    * the layout it was packed with, and serving it at another
    * (new-dim queries against a stale index, a re-tuned bandBits)
    * would otherwise fail silently — wrong band values simply match
    * nothing. Load verifies the caller's declared layout against the
    * stored one and throws on mismatch. (Distance-kernel level,
    * hammingL independently rejects word-count mismatches — this
    * check catches same-word-count layout drift, e.g. bandBits, that
    * the kernel cannot see.)
    */
  def mihIndexSave(
      index: DataFrame, path: String, dim: Int = 64, bandBits: Int = 8): Int =
    replaceSnapshot(
      index
        .withColumn("dim", lit(dim.toLong))
        .withColumn("band_bits", lit(bandBits.toLong)),
      s"$path/bands")

  def mihIndexLoad(
      spark: org.apache.spark.sql.SparkSession, path: String,
      version: Option[Int] = None,
      dim: Int = 64, bandBits: Int = 8): DataFrame = {
    import graft.sources.ParquetLake
    val bands = ParquetLake.readManifested(spark, s"$path/bands", version)
    // Layout check: one bounded single-row probe of the pinned snapshot.
    // A snapshot missing the layout columns (saved by a pre-layout
    // format) or carrying zero rows is "layout unverifiable" — refuse
    // to serve rather than silently skip the check or die on an opaque
    // unresolved-column error downstream.
    require(bands.columns.contains("dim") && bands.columns.contains("band_bits"),
      s"MIH index at $path carries no layout columns (dim/band_bits) — " +
        "saved by a pre-layout format? Re-save with mihIndexSave to serve it")
    val probe = bands.select("dim", "band_bits").limit(1).collect()
    require(probe.nonEmpty,
      s"MIH index at $path has zero rows — layout unverifiable; refusing to serve")
    probe.foreach { r =>
      val (d, b) = (r.getLong(0), r.getLong(1))
      require(d == dim && b == bandBits,
        s"MIH index at $path was packed at dim=$d/bandBits=$b; " +
          s"refusing to serve it at dim=$dim/bandBits=$bandBits")
    }
    bands.drop("dim", "band_bits")
  }

  // --- lk47/st43: MIH-gated embedding ingest ------------------------------

  /** lk47: seed the embedding near-dup index — the corpus's MIH band
    * relation ([[mihIndexBuild]]: 16 B signature + band values per
    * vector, floats never stored) as a manifest lake table. The
    * embedding-grain member of the index-gated ingest family (lk41
    * doc fingerprints, lk42 text bands, lk43 CDC chunks, lk44 lines,
    * lk46 frames): admission checks cost the increment's packing +
    * one band equi-join, never a corpus scan.
    */
  def embedIndexInit(
      spark: org.apache.spark.sql.SparkSession, indexPath: String,
      corpus: DataFrame, vecCol: String, idCol: String,
      dim: Int = 64, bandBits: Int = 8): Int = {
    mihIndexBuild(corpus, vecCol, idCol, dim, bandBits)
      .write.mode("errorifexists").parquet(indexPath)
    graft.sources.ParquetLake.snapshotManifest(spark, indexPath)
  }

  /** Version fields follow Dedup.IngestReport's 0-on-no-commit rule. */
  final case class EmbedIngestReport(
      admitted: Long, rejectedCorpusNear: Long, rejectedIntraNear: Long,
      dataVersion: Int, indexVersion: Int)

  /** Embedding near-dup gated ingest against the persisted MIH index —
    * and unlike every other near-dup gate in the family, this one is
    * EXACT, not approximate: `maxHamming ≤ nBands − 1` is required,
    * so by pigeonhole any increment vector within the radius of an
    * indexed (or increment) vector is GUARANTEED a band collision —
    * against a fully-committed index under the single-writer contract
    * the gate never admits a true near-duplicate, and the exact
    * xor+popcount cut never rejects a far one. (The family's
    * carve-outs apply as documented on Dedup.indexedIngest: a crash
    * between the data publish and the index publish, or a second
    * concurrent writer, can land a near-dup until repaired/replayed —
    * the exactness claim is about the GATE, not those windows.)
    * Cost: increment
    * packing + one band equi-join against the index + integer
    * distance on the collision pairs (candidate-sized).
    *
    * Intra-increment near-dup groups keep the min-id member
    * (connected components over the verified pairs, d7's semantics);
    * rejection counts are disjoint with corpus-near taking priority,
    * so admitted + rejectedCorpusNear + rejectedIntraNear =
    * |increment|. Commit order and replay semantics match lk41/lk42
    * (data first; a fully-landed batch replays to zero admits — every
    * replayed vector is Hamming-0 to its indexed self), as does the
    * SINGLE-INGEST-WRITER contract documented on Dedup.indexedIngest.
    */
  def embedGatedIngest(
      spark: org.apache.spark.sql.SparkSession,
      dataPath: String, indexPath: String,
      increment: DataFrame, vecCol: String, idCol: String,
      maxHamming: Int = 7, dim: Int = 64, bandBits: Int = 8): EmbedIngestReport = {
    import graft.sources.ParquetLake
    val nBands = dim / bandBits
    require(maxHamming <= nBands - 1,
      s"maxHamming=$maxHamming > nBands-1=${nBands - 1}: the pigeonhole " +
        "guarantee (no missed near-dup) needs radius ≤ bands − 1 — raise " +
        "the band count (smaller bandBits) for a larger exact radius")
    val inc = increment.localCheckpoint(eager = true)
    val incIx = mihIndexBuild(inc, vecCol, idCol, dim, bandBits)
      .localCheckpoint(eager = true) // feeds both gate joins and the index append
    // rebind by NAME, not positional toDF: the loaded index's column
    // order is a parquet artifact — a schema-evolved or reordered
    // read-back must not silently swap id and signature
    def rebind(df: DataFrame, idAs: String, sigAs: String): DataFrame =
      df.select(col("n_id").as(idAs), col("n_sig").as(sigAs), col("band"), col("bv"))
    val corpusNearIds = rebind(incIx, "id_new", "sig_new")
      .join(rebind(ParquetLake.readManifested(spark, indexPath), "id_old", "sig_old"),
        Seq("band", "bv"))
      .select("id_new", "sig_new", "id_old", "sig_old").distinct()
      .where(hammingDist(col("sig_new"), col("sig_old")) <= maxHamming)
      .select(col("id_new")).distinct()
      .localCheckpoint(eager = true)
    val intraEdges = rebind(incIx, "id_a", "sig_a")
      .join(rebind(incIx, "id_b", "sig_b"), Seq("band", "bv"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "sig_a", "id_b", "sig_b").distinct()
      .where(hammingDist(col("sig_a"), col("sig_b")) <= maxHamming)
      .select(col("id_a").as("src"), col("id_b").as("dst"))
    val intraLosers = ConnectedComponents.run(intraEdges)
      .where(col("component") =!= col("id"))
      .select(col("id").as(idCol))
    val admitted = inc
      .join(corpusNearIds.select(col("id_new").as(idCol)), Seq(idCol), "left_anti")
      .join(intraLosers, Seq(idCol), "left_anti")
      .localCheckpoint(eager = true)
    val nAdmit = admitted.count()
    val nCorpusNear = corpusNearIds.count()
    val nIntra = inc.count() - nAdmit - nCorpusNear
    val (dataVersion, indexVersion) = ParquetLake.publishDataThenIndex(
      spark, dataPath, indexPath, "embedgate", nAdmit, admitted,
      incIx.join(admitted.select(col(idCol).as("n_id")), Seq("n_id"), "left_semi"))
    EmbedIngestReport(nAdmit, nCorpusNear, nIntra, dataVersion, indexVersion)
  }

  /** s21: the bandBits frontier for the MIH family. The pigeonhole
    * radius is fixed at `nBands − 1`, so at a given dim the band
    * width is THE recall/cost knob: bandBits=4 → 16 bands → exact
    * radius 15, but 4-bit buckets (16 values) collide constantly and
    * the posting mass explodes; bandBits=16 → 4 bands → radius 3 on
    * a fraction of the candidates. This sweep measures, per config on
    * the REAL corpus: candidate mass (absolute and as a fraction of
    * the N·|Q| brute frontier) and recall@k against the exact full
    * Hamming scan — the numbers a serving job reads to pick the
    * cheapest config clearing its radius SLO BEFORE indexing 100 TB
    * (s17's role for the IVF family, d17's for the MinHash bands).
    *
    * Because band boundaries nest (a 2b-bit band is two adjacent
    * b-bit bands, so a 2b match implies both b matches), candidate
    * sets shrink monotonically as bandBits grows — spec-pinned.
    * Scale shape: signatures pack ONCE (localCheckpoint), each config
    * re-slices that 16 B/row relation; the truth leg is one s19 scan
    * over the SAME query set the configs serve, so the whole sweep is
    * linear in N per config. Everything downstream of the packer is
    * integer counts and ratios — fully oracle-replayable.
    */
  def mihBandSweep(
      corpus: DataFrame, vecCol: String, idCol: String,
      queries: DataFrame, k: Int, dim: Int = 64,
      bandBitsConfigs: Seq[Int] = Seq(4, 8, 16)): DataFrame = {
    require(bandBitsConfigs.nonEmpty)
    bandBitsConfigs.foreach { b =>
      require(b >= 1 && dim % b == 0 && 32 % b == 0,
        s"bandBits=$b must divide dim=$dim and the 32-bit word") }
    val sigs = corpus
      .select(col(idCol).as("n_id"), signSig(col(vecCol), dim).as("n_sig"))
      .localCheckpoint(eager = true) // packed once; each config re-slices
    val q = queries
      .select(col("q_id"), signSig(col("q_vec"), dim).as("q_sig"))
      .localCheckpoint(eager = true) // feeds the truth leg + every config
    val truth = hammingTopK(
      sigs.crossJoin(broadcast(q)).where(col("n_id") =!= col("q_id")), k)
      .select(col("q_id"), col("neighbor_id").as("n_id"))
      .localCheckpoint(eager = true) // one exact scan shared by all configs
    val scalars = sigs.agg(count(lit(1)).as("n_corpus"))
      .crossJoin(q.agg(count(lit(1)).as("n_q")))
      .crossJoin(truth.agg(count(lit(1)).as("n_truth")))
    // one row PER CONFIG via one-row aggregates (a groupBy over a
    // unioned candidate relation would silently drop a config whose
    // candidate set is empty — every config must report, 0s included)
    val rows = bandBitsConfigs.map { b =>
      val cIx = sigs.select(col("n_id"),
        posexplode(bandVals(col("n_sig"), dim, b)).as(Seq("band", "bv")))
      val qIx = q.select(col("q_id"),
        posexplode(bandVals(col("q_sig"), dim, b)).as(Seq("qband", "qbv")))
      val cand = cIx.join(broadcast(qIx),
          col("band") === col("qband") && col("bv") === col("qbv") &&
            col("n_id") =!= col("q_id"))
        .select(col("q_id"), col("n_id")).distinct()
      // truth is ≤ |Q|·k rows — broadcast it into the semi-join so the
      // candidate relation (corpus-scale at fat configs) never sorts
      cand.agg(count(lit(1)).as("n_candidates"))
        .crossJoin(cand.join(broadcast(truth), Seq("q_id", "n_id"), "left_semi")
          .agg(count(lit(1)).as("n_truth_hits")))
        .select(
          lit(b.toLong).as("band_bits"),
          lit((dim / b).toLong).as("n_bands"),
          lit((dim / b - 1).toLong).as("exact_radius"),
          col("n_candidates"), col("n_truth_hits"))
    }.reduce(_ unionByName _)
    rows.crossJoin(scalars)
      .select(
        col("band_bits"), col("n_bands"), col("exact_radius"),
        col("n_candidates"),
        round(col("n_candidates").cast("double") /
          (col("n_q") * (col("n_corpus") - lit(1L))), 4).as("cand_frac"),
        round(col("n_truth_hits").cast("double") / col("n_truth"), 4)
          .as("recall_at_k"))
      .orderBy("band_bits")
  }

  /** Band values of a signature: disjoint `bandBits`-bit slices of the
    * flattened bit string, each a literal shift+mask (codegen'd). */
  private[graft] def bandVals(sig: Column, dim: Int, bandBits: Int): Column = {
    val wordBits = 32
    require(wordBits % bandBits == 0, s"bandBits=$bandBits must divide wordBits=$wordBits")
    val mask = (1L << bandBits) - 1
    array((0 until dim / bandBits).map { b =>
      val w = (b * bandBits) / wordBits
      val sh = (b * bandBits) % wordBits
      shiftright(element_at(sig, w + 1), sh).bitwiseAND(lit(mask))
    }: _*)
  }

  /** Shared rerank tail of the Hamming family: exact distance, top-k
    * via the bounded heap on the NEGATED distance (the heap keeps
    * score-desc, id-asc — integer distances negate losslessly in the
    * double score slot). Output: (q_id, rank, neighbor_id, hamming),
    * all BIGINT — hash-stable by construction. */
  private def hammingTopK(pairs: DataFrame, k: Int): DataFrame = {
    val scored = pairs.select(
      col("q_id"),
      (-hammingDist(col("q_sig"), col("n_sig"))).cast("double").as("neg_hd"),
      col("n_id"))
    scored.groupBy("q_id")
      .agg(topk(col("neg_hd"), col("n_id"), k).as("tk"))
      .select(col("q_id"), posexplode(col("tk")).as(Seq("pos", "e")))
      .select(
        col("q_id"), (col("pos") + 1).cast("long").as("rank"),
        col("e.id").as("neighbor_id"),
        (-col("e.score")).cast("long").as("hamming"))
  }
}
