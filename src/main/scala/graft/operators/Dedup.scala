package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{cosine, dot, simhash64, TextFunctions => T}

/** Deduplication operators for training-data pipelines (SURVEY §2.3).
  *
  * Scale design: every operator shuffles *keys or signatures*, never
  * raw text. Exact dedup groups on a 128-bit fingerprint; MinHash-LSH
  * generates candidates with one equi-join on (band, bucket-hash);
  * SimHash buckets on 16-bit chunks (pigeonhole: hamming ≤ 3 pairs
  * must collide in ≥ 1 of 4 chunks). Only the exact-verify stages
  * touch pairs, and only candidate pairs, never the cross product.
  */
object Dedup {

  /** Single-file parquet inputs arrive as one partition; fan compute-
    * heavy per-row work (md5 permutations, shingling) across cores.
    * On a real cluster input splits provide this for free; the
    * round-robin repartition costs one narrow pass over (id, text).
    */
  private def spread(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  /** Deterministic sample for the quadratic evaluation harnesses
    * (d16/d20/d24 docs, s9/s10/s17 queries): the rows whose md5
    * percent bucket ([[graft.functions.hashShard]], the t5 split
    * arithmetic) is below `samplePct`, then, when `maxDocs` > 0, the
    * `maxDocs` lowest-md5 ids — stable across runs, engines, and
    * cluster sizes; no RNG — so pair work is maxDocs²-bounded no
    * matter the corpus. The 13-hex-digit prefix compares identically
    * as a string and as a number (fixed width), so
    * `ORDER BY substr(md5(id),1,13), id LIMIT n` replays it in DuckDB
    * verbatim. orderBy+limit plans as TakeOrderedAndProject:
    * per-partition bounded heaps, never a global sort.
    */
  private[graft] def md5Sample(
      df: DataFrame, idCol: String, samplePct: Int, maxDocs: Int): DataFrame = {
    val sampled =
      if (samplePct >= 100) df
      else df.where(graft.functions.hashShard(col(idCol), 100) < samplePct)
    if (maxDocs <= 0) sampled
    else sampled.orderBy(
      substring(md5(col(idCol).cast("string")), 1, 13).asc, col(idCol).asc)
      .limit(maxDocs)
  }

  /** Exact dedup by normalized-content fingerprint: one row per
    * distinct content, keeping the minimum id.
    */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(T.contentFingerprint(col(textCol)).as("fingerprint"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** lk41: the dedup index AS A LAKE TABLE — d19's corpus-side
    * fingerprint→keeper relation persisted in a manifested lake of
    * its own and maintained incrementally, so each ingest pays
    * O(increment + index read) instead of re-fingerprinting the
    * corpus (at 100 TB the index is bytes-per-distinct-doc; the
    * corpus re-scan d19 implies per batch is the cost this kills).
    *
    * [[dedupIndexInit]] seeds the index from the existing corpus;
    * [[indexedIngest]] gates an increment: rows whose fingerprint
    * exists in the index are rejected, within-increment repeats keep
    * exactly one row (min id), admitted rows publish to the DATA lake
    * and their fingerprints append to the INDEX lake. First-arrival
    * wins by construction: a fingerprint's original keeper survives
    * any later increment, whatever the ids. Commit order, replay,
    * redelivery and the single-ingest-writer contract are the
    * family's, documented on [[IndexGate]].
    */
  def dedupIndexInit(
      spark: org.apache.spark.sql.SparkSession, indexPath: String,
      corpus: DataFrame, textCol: String, idCol: String): Int =
    IndexGate.seed(spark, indexPath,
      exact(corpus, textCol, idCol).select(col("fingerprint"), col("keep_id")))

  /** `dataVersion`/`indexVersion` are the committed manifest
    * versions, or 0 when the ingest admitted nothing (no commit
    * happened — real versions start at 1).
    */
  final case class IngestReport(
      admitted: Long, rejectedIndexed: Long, rejectedIntra: Long,
      dataVersion: Int, indexVersion: Int)

  def indexedIngest(
      spark: org.apache.spark.sql.SparkSession,
      dataPath: String, indexPath: String,
      increment: DataFrame, textCol: String, idCol: String): IngestReport = {
    val o = IndexGate.ingest(spark, dataPath, indexPath, "dedup", increment, idCol, textCol) {
      (inc, index) =>
        // exactly one keeper per fingerprint, lowest id first
        val firstHolder = org.apache.spark.sql.expressions.Window
          .partitionBy("fingerprint").orderBy(col(idCol))
        val gated = inc
          .withColumn("fingerprint", T.contentFingerprint(col(textCol)))
          .join(index.select(col("fingerprint"), lit(true).as("indexed")),
            Seq("fingerprint"), "left")
          .withColumn("inc_rank", row_number().over(firstHolder))
          .localCheckpoint(eager = true) // admitted + counted below
        IndexGate.Decision(
          admitted = gated.where(col("indexed").isNull && col("inc_rank") === 1),
          indexRows = _.select(col("fingerprint"), col(idCol).as("keep_id")),
          rejected = Some(gated.where(col("indexed").isNotNull)))
    }
    IngestReport(o.admitted, o.rejected, o.rest, o.dataVersion, o.indexVersion)
  }

  // ---------------------------------------------------------------
  // lk44: sentence-grain scrub ingest against a persisted line index.

  /** Sentence decomposition shared by the lk44 gate and its t33
    * batch twin: split on ". ", trim, drop empties; (pos, sent, fp).
    */
  private def sentences(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(col(idCol).as("__id"),
        posexplode(split(col(textCol), "\\. ")).as(Seq("pos", "raw")))
      .withColumn("sent", trim(col("raw")))
      .where(length(col("sent")) > 0)
      .select(col("__id"), col("pos"), col("sent"), md5(col("sent")).as("fp"))

  /** Seed the line index: the corpus's DISTINCT sentence
    * fingerprints (one md5 per distinct sentence — text never
    * stored). Note the init indexes EVERY corpus sentence, so a
    * subsequent ingest scrubs sentences the corpus has ONCE —
    * matching the gate's contract (membership = seen before), which
    * is stricter than t33's batch report (>1 document). Seed from a
    * t33-scrubbed corpus when the looser batch semantics are wanted.
    */
  def lineIndexInit(
      spark: org.apache.spark.sql.SparkSession, indexPath: String,
      corpus: DataFrame, textCol: String, idCol: String): Int =
    IndexGate.seed(spark, indexPath,
      sentences(spread(corpus), textCol, idCol).select("fp").distinct())

  final case class LineIngestReport(
      docsIn: Long, docsAdmitted: Long, docsDroppedEmpty: Long,
      sentsIn: Long, sentsKept: Long,
      dataVersion: Int, indexVersion: Int)

  /** lk44: continuous C4-style line dedup — [[indexedIngest]]'s
    * SENTENCE-grain sibling, the scrubbing (not rejecting) member of
    * the family whose contract is on [[IndexGate]]. A sentence already
    * in the index or kept by an EARLIER increment occurrence (min id,
    * then min position) is REMOVED; the document is rebuilt from its
    * survivors in order and admitted unless nothing survived (a
    * wholly-boilerplate doc drops — so does a redelivered copy, which
    * counts in `docsDroppedEmpty`; sentence counts exclude such
    * copies). Survivors' fingerprints extend the index
    * distinct-against-it. Every wide op is INCREMENT-sized: the gate
    * join probes the index but never reads corpus text, and the
    * increment's sentences shuffle once for the first-occurrence
    * window and once for reconstruction.
    */
  def lineGatedIngest(
      spark: org.apache.spark.sql.SparkSession,
      dataPath: String, indexPath: String,
      increment: DataFrame, textCol: String, idCol: String): LineIngestReport = {
    val o = IndexGate.ingest(spark, dataPath, indexPath, "line", increment, idCol, textCol) {
      (inc, index) =>
        val sents = sentences(spread(inc), textCol, idCol)
          .localCheckpoint(eager = true) // feeds gate + survivors + index append
        // first increment occurrence per fingerprint: min (id, pos)
        val w = org.apache.spark.sql.expressions.Window.partitionBy("fp")
          .orderBy(col("__id"), col("pos"))
        val survivors = sents
          .join(index.select(col("fp"), lit(true).as("indexed")), Seq("fp"), "left")
          .withColumn("rn", row_number().over(w))
          .withColumn("keep", col("indexed").isNull && col("rn") === 1)
          .localCheckpoint(eager = true)
          .where(col("keep"))
        val rebuilt = survivors
          .groupBy("__id")
          .agg(array_join(transform(array_sort(
            collect_list(struct(col("pos"), col("sent")))), _.getField("sent")), ". ").as("__text"))
        IndexGate.Decision(
          admitted = inc
            .join(rebuilt, inc(idCol) === rebuilt("__id"), "inner")
            .withColumn(textCol, col("__text")),
          indexRows = _ => survivors.select("fp").distinct(),
          tallies = Seq(sents, survivors))
    }
    val Seq(sentsIn, sentsKept) = o.tallies
    LineIngestReport(o.rowsIn, o.admitted, o.rest, sentsIn, sentsKept,
      o.dataVersion, o.indexVersion)
  }

  /** lk42: the NEAR-dup index as a lake table — [[indexedIngest]]'s
    * MinHash-LSH sibling. The persisted index is the corpus's BAND
    * KEYS (id, band, hash): ~bands rows per doc, text never stored.
    * Gating an increment costs the increment's shingling + one
    * band-key equi-join against the index + exact-Jaccard
    * verification of only the candidate pairs (the corpus text reads
    * are a semi-join on matched ids — candidate-sized, not
    * corpus-sized). Intra-increment near-dups resolve through the
    * full d13 pipeline (candidates → verify → components → min-id
    * keeper); the accounting is [[IndexGate.nearDecision]]'s.
    */
  def nearDupIndexInit(
      spark: org.apache.spark.sql.SparkSession, indexPath: String,
      corpus: DataFrame, textCol: String, idCol: String,
      numPerms: Int = 12, bands: Int = 4): Int =
    IndexGate.seed(spark, indexPath, bandKeys(corpus, textCol, idCol, numPerms, bands))

  /** The report of both near-dup gates, this one and
    * [[Similarity.embedGatedIngest]]. Version fields follow
    * [[IngestReport]]'s 0-on-no-commit rule.
    */
  final case class NearDupIngestReport(
      admitted: Long, rejectedCorpusNear: Long, rejectedIntraNear: Long,
      dataVersion: Int, indexVersion: Int)

  def nearDupIngest(
      spark: org.apache.spark.sql.SparkSession,
      dataPath: String, indexPath: String,
      increment: DataFrame, textCol: String, idCol: String,
      threshold: Double = 0.5, numPerms: Int = 12, bands: Int = 4): NearDupIngestReport = {
    val o = IndexGate.ingest(spark, dataPath, indexPath, "neardup", increment, idCol, textCol) {
      (inc, index) =>
        // LSH candidates against the persisted band keys, then exact
        // verification of only those pairs
        val cand = bandKeys(inc, textCol, idCol, numPerms, bands)
          .toDF("id_new", "band", "h")
          .join(index.toDF("id_old", "band", "h"), Seq("band", "h"))
          .select("id_new", "id_old").distinct()
          .localCheckpoint(eager = true)
        val matchedCorpus = graft.sources.ParquetLake.readManifested(spark, dataPath)
          .join(cand.select(col("id_old").as(idCol)).distinct(), Seq(idCol), "left_semi")
        val shNew = shingles(inc, textCol, idCol).toDF("id_new", "s_new")
        val shOld = shingles(matchedCorpus, textCol, idCol).toDF("id_old", "s_old")
        val corpusNear = cand
          .join(shNew, Seq("id_new")).join(shOld, Seq("id_old"))
          .where(T.jaccard(col("s_new"), col("s_old")) >= threshold)
          .select(col("id_new").as(idCol)).distinct()
        // intra-increment losers: the d13 pipeline's non-keepers
        val intraLosers = dedupCorpus(inc, textCol, idCol, threshold)
          .localCheckpoint(eager = true)
          .where(!col("keep")).select(col("id").as(idCol))
        IndexGate.nearDecision(inc, idCol, corpusNear, intraLosers,
          bandKeys(_, textCol, idCol, numPerms, bands))
    }
    NearDupIngestReport(o.admitted, o.rejected, o.rest, o.dataVersion, o.indexVersion)
  }

  /** Incremental exact dedup: the daily-crawl admission check, the
    * exact sibling of [[minhashCandidatesIncremental]] and the batch
    * twin of LogStream's st13 history gate. Each NEW doc learns
    * whether its normalized-content fingerprint already exists in the
    * CORPUS (`corpus_keep_id`, null when unseen) and whether it is the
    * first holder of that fingerprint WITHIN the increment — `admit`
    * is true for exactly the rows a dedup-preserving ingest appends.
    *
    * Scale: the corpus side reduces to its fingerprint→min-id index
    * before the join (at 100 TB this index lives in the lake and is
    * ~bytes-per-distinct-doc, not corpus bytes); the join and the
    * within-increment groupBy both shuffle fingerprint+id only, never
    * text, and old×old pairs are never re-examined.
    */
  def incrementalExact(
      corpus: DataFrame, increment: DataFrame,
      textCol: String, idCol: String): DataFrame = {
    val corpusIdx = corpus
      .groupBy(T.contentFingerprint(col(textCol)).as("fingerprint"))
      .agg(min(col(idCol)).as("corpus_keep_id"))
    val inc = increment.select(
      col(idCol).as("doc_id"),
      T.contentFingerprint(col(textCol)).as("fingerprint"))
    val incFirst = inc.groupBy("fingerprint")
      .agg(min(col("doc_id")).as("inc_keep_id"))
    inc.join(incFirst, Seq("fingerprint"))
      .join(corpusIdx, Seq("fingerprint"), "left")
      .select(
        col("doc_id"), col("fingerprint"), col("corpus_keep_id"),
        (col("corpus_keep_id").isNull && col("doc_id") === col("inc_keep_id"))
          .as("admit"))
  }

  /** MinHash permutation constants: perm p of a 28-bit base hash b is
    * (PermA(p)*b + PermB(p)) mod PermMod — affine "permutations" over
    * one md5-derived base per shingle, so each shingle is hashed once
    * regardless of numPerms. Mirrored verbatim in the DuckDB oracle.
    */
  private[graft] val PermMod = 2147483647L
  private[graft] def permA(p: Int): Long = 2654435761L + 2L * p
  private[graft] def permB(p: Int): Long = 7919L * p + 13

  /** Per-doc MinHash LSH band keys: (id, band, h).
    *
    * Formulated as explode → hash-aggregate so shingling runs once
    * per document (lambda subtrees are exempt from Spark's
    * subexpression elimination, so the array-of-array_min form would
    * re-shingle once per permutation) and the per-permutation mins
    * combine map-side — the shuffle carries one signature row per
    * document, never shingle sets.
    */
  private def bandKeys(
      df: DataFrame, textCol: String, idCol: String,
      numPerms: Int, bands: Int): DataFrame =
    bandKeysFromShingles(
      spread(df).select(
        col(idCol).as("id"),
        explode(T.wordShingles(T.tokens(col(textCol)))).as("sng")),
      numPerms, bands)

  /** Band keys from an exploded (id, sng: string) shingle relation.
    *
    * Callers must pass the shingles either already exploded from the
    * raw text (generator child = full expression) or from a persisted
    * relation: exploding a *computed array attribute* of an uncached
    * plan looks harmless, but InferFiltersFromGenerate then plants a
    * `size(s) > 0` filter whose substituted shingling expression is
    * pushed below the repartition — re-shingling the whole corpus
    * serially on the input partition (measured 4.5× on d2).
    */
  private def bandKeysFromShingles(
      exploded: DataFrame, numPerms: Int, bands: Int): DataFrame = {
    val r = numPerms / bands
    val sig = minhashSignature(exploded, numPerms)
    val bandCols = (0 until bands).map(b =>
      struct(
        lit(b).as("band"),
        md5(concat_ws("|",
          (0 until r).map(k => col(s"m${b * r + k}").cast("string")): _*)).as("h")))
    sig.select(col("id"), explode(array(bandCols: _*)).as("bh"))
      .select(col("id"), col("bh.band").as("band"), col("bh.h").as("h"))
  }

  /** Per-doc MinHash signature (id, m0 … m{numPerms-1}) of an
    * exploded (id, sng: string) shingle relation: the per-permutation
    * `min` over each shingle's md5 base, combined map-side. The same
    * caller contract as [[bandKeysFromShingles]].
    */
  private[graft] def minhashSignature(exploded: DataFrame, numPerms: Int): DataFrame = {
    val base = exploded
      .select(col("id"),
        conv(substring(md5(col("sng")), 1, 7), 16, 10).cast("long").as("b"))
    val minCols = (0 until numPerms).map(p =>
      min((col("b") * permA(p) + permB(p)) % PermMod).as(s"m$p"))
    base.groupBy("id").agg(minCols.head, minCols.tail: _*)
  }

  /** MinHash + LSH near-duplicate *candidate* pairs: docs sharing at
    * least one of `bands` band keys. Returns (id_a, id_b, n_bands)
    * with id_a < id_b. The only wide op is the band-key equi-join.
    *
    * The band keys are materialized (lazy localCheckpoint) before the
    * self-join: without it the a/b sides each re-derive the full
    * scan → shingle → signature subtree (AQE broadcasts one side, so
    * ReuseExchange never fires) — 2× the dominant map-side compute.
    */
  def minhashCandidates(
      df: DataFrame, textCol: String, idCol: String,
      numPerms: Int = 12, bands: Int = 4): DataFrame = {
    val keys = bandKeys(df, textCol, idCol, numPerms, bands)
      .localCheckpoint(eager = true)
    bandSelfJoin(keys)
  }

  /** [[minhashCandidates]] over an already-materialized
    * [[shingleRelation]] — the shared-scan entry d16's harness uses so
    * the truth and candidate legs pay the shingling once. `sh` must be
    * a leaf relation (see [[bandKeysFromShingles]]); the derived band
    * keys still checkpoint because the a/b self-join sides would
    * otherwise each re-run the signature aggregate.
    */
  private def minhashCandidatesFromShingles(
      sh: DataFrame, numPerms: Int, bands: Int): DataFrame =
    bandSelfJoin(
      bandKeysFromShingles(
        sh.select(col("id"), explode(col("s")).as("sng")), numPerms, bands)
        // eager like `sh`: materialized serially at construction, so
        // the self-join's (possibly broadcast) sides only read blocks —
        // never the first-materialization that opens the lock-inversion
        // window documented in lshRecallEval
        .localCheckpoint(eager = true))

  /** Docs sharing a band key: (id_a, id_b, n_bands), id_a < id_b. */
  private def bandSelfJoin(keys: DataFrame): DataFrame = {
    val a = keys.toDF("id_a", "band", "h")
    val b = keys.toDF("id_b", "band", "h")
    a.join(b, Seq("band", "h"))
      .where(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_bands"))
  }

  /** Incremental MinHash-LSH: candidate pairs between an increment of
    * NEW documents and the EXISTING corpus only — the daily-crawl
    * shape. The corpus band keys are the reusable index: at 100 TB
    * they are computed once and persisted bucketed by (band, h), so
    * each increment pays only its own signature pass plus a join
    * that is broadcast-sized on the probe side; old×old pairs are
    * never re-examined (minhashCandidates re-derives them every run).
    * Returns (id_new, id_old, n_bands).
    */
  def minhashCandidatesIncremental(
      corpus: DataFrame, increment: DataFrame, textCol: String, idCol: String,
      numPerms: Int = 12, bands: Int = 4): DataFrame = {
    val idx = bandKeys(corpus, textCol, idCol, numPerms, bands)
      .localCheckpoint(eager = true)
    val probe = bandKeys(increment, textCol, idCol, numPerms, bands)
      .localCheckpoint(eager = true)
    probe.toDF("id_new", "band", "h")
      .join(idx.toDF("id_old", "band", "h"), Seq("band", "h"))
      .groupBy("id_new", "id_old")
      .agg(count(lit(1)).as("n_bands"))
  }

  /** Cross-document exact substring (word n-gram) dedup, after Lee et
    * al. 2022 ("Deduplicating Training Data Makes Language Models
    * Better" — the ExactSubstr method, re-expressed relationally):
    * every occurrence of a repeated n-gram except the globally first
    * one (min (doc_id, pos)) is a duplicate span; tokens covered by
    * any duplicate span are dropped and each document reassembled
    * from its surviving tokens. Returns one row per input document:
    * (doc_id, n_tok, n_removed, kept_text).
    *
    * Scale shape: the corpus-wide work shuffles (gram, doc_id, pos)
    * keys, never text — the gram groupBy is map-side combined to
    * (first-occurrence, count) per gram, unique grams (the vast
    * majority) are dropped BEFORE the occurrence join back, and AQE
    * handles hot-gram skew on that join; coverage + reassembly
    * shuffle on doc_id. Documents shorter than n pass through.
    *
    * Note: CONSTRUCTION IS EAGER — this method runs a small Spark job
    * (a two-column max over the gram occurrences, which also
    * materializes their localCheckpoint) before returning, to decide
    * whether the first-occurrence key can use the hash-aggregate-
    * eligible packed-long form. Callers composing plans without
    * executing them pay that one corpus gram pass up front.
    */
  def spanDedup(
      df: DataFrame, textCol: String, idCol: String, n: Int = 5): DataFrame = {
    val docs = spread(df)
      .select(col(idCol).as("doc_id"), T.tokens(col(textCol)).as("toks"))
      .localCheckpoint(eager = true)
    // one row per n-gram occurrence; checkpointed because it feeds
    // both the per-gram aggregate and the dup-occurrence join (the
    // d2 lesson: otherwise both sides re-derive the gram pass)
    val occ = docs.where(size(col("toks")) >= n)
      .select(col("doc_id"),
        posexplode(graft.functions.gramsWs(col("toks"), n)))
      .toDF("doc_id", "pos", "gram")
      .localCheckpoint(eager = true)
    // lexicographic first-occurrence per gram. min(struct) buffers are
    // hash-INELIGIBLE (SortAggregate — see Similarity.assignNearest's
    // scaladoc), which would per-partition-sort every gram occurrence
    // in the corpus-wide aggregate below; when (doc_id, pos) fit
    // 31/32 bits they pack into one long whose plain min IS
    // hash-eligible and identically ordered. The bounds probe is one
    // narrow scan of the already-checkpointed occ relation (bounded
    // driver action, same class as the manifest reads).
    val bounds = occ.agg(
      max(col("doc_id").cast("long")).as("md"),
      max(col("pos").cast("long")).as("mp")).head()
    val packable = !bounds.isNullAt(0) &&
      bounds.getLong(0) >= 0L && bounds.getLong(0) < (1L << 31) &&
      bounds.getLong(1) < (1L << 32)
    val (firstExpr, occKey) =
      if (packable)
        // cast BEFORE shifting: ShiftLeft on an IntegerType does a
        // Java int shift where <<32 is a no-op (distance mod 32),
        // silently collapsing the key to doc_id + pos for int ids
        (min(shiftleft(col("doc_id").cast("long"), 32) + col("pos")),
          shiftleft(col("doc_id").cast("long"), 32) + col("pos"))
      else
        (min(struct(col("doc_id"), col("pos"))),
          struct(col("doc_id"), col("pos")))
    val repeated = occ.groupBy("gram")
      .agg(firstExpr.as("first"), count(lit(1)).as("cnt"))
      .where(col("cnt") >= 2)
    val covered = occ.join(repeated, "gram")
      .where(occKey =!= col("first"))
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + (n - 1))).as("pos"))
      .distinct()
    val tokPos = docs
      .select(col("doc_id"), posexplode(col("toks")))
      .toDF("doc_id", "pos", "tok")
    val kept = tokPos.join(covered, Seq("doc_id", "pos"), "left_anti")
      .groupBy("doc_id")
      // joinByPos is the native reassembly (see ReassembleOps) — the
      // relational array_sort + transform + concat_ws form ran its
      // comparator and lambda interpreted per kept token
      .agg(count(lit(1)).as("n_kept"),
        graft.functions.joinByPos(
          collect_list(struct(col("pos"), col("tok")))).as("kept_text"))
    docs.select(col("doc_id"), size(col("toks")).cast("long").as("n_tok"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tok"),
        (col("n_tok") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
        coalesce(col("kept_text"), lit("")).as("kept_text"))
  }

  /** Per-doc 64-bit SimHash fingerprint (hex). */
  def simhashFingerprints(df: DataFrame, textCol: String, idCol: String): DataFrame =
    spread(df).select(
      col(idCol).as("id"),
      lpad(hex(simhash64(T.tokens(col(textCol)))), 16, "0").as("simhash"))

  /** SimHash near-dup pairs with Hamming distance ≤ maxHamming,
    * bucketed on the four 16-bit chunks (exact for maxHamming ≤ 3;
    * high-recall heuristic above that).
    */
  def simhashPairs(
      df: DataFrame, textCol: String, idCol: String, maxHamming: Int): DataFrame = {
    val withHash = spread(df).select(
      col(idCol).as("id"), simhash64(T.tokens(col(textCol))).as("sh"))
    val chunked = withHash.select(
      col("id"), col("sh"),
      explode(array((0 until 4).map(c =>
        struct(lit(c).as("chunk"), shiftrightunsigned(col("sh"), c * 16)
          .bitwiseAND(lit(0xffffL)).as("ck"))): _*)).as("b"))
      .select(col("id"), col("sh"), col("b.chunk"), col("b.ck"))
    val a = chunked.toDF("id_a", "sh_a", "chunk", "ck")
    val b = chunked.toDF("id_b", "sh_b", "chunk", "ck")
    a.join(b, Seq("chunk", "ck"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "sh_a", "sh_b").distinct()
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .where(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** Exact word-n-gram Jaccard pairs ≥ threshold. Brute-force verify
    * tool for small/blocked sets — at scale, feed it
    * [[minhashCandidates]] output instead of the cross product. A
    * size-ratio prefilter (|A|/|B| ≥ t implied by J ≥ t) prunes pairs
    * before the set intersection without changing the result.
    */
  def jaccardPairs(
      df: DataFrame, textCol: String, idCol: String, threshold: Double): DataFrame = {
    val sh = shingles(df, textCol, idCol).withColumn("ns", size(col("s")))
    val a = sh.toDF("id_a", "s_a", "ns_a")
    val b = sh.toDF("id_b", "s_b", "ns_b")
    a.join(b,
      col("id_a") < col("id_b") &&
        col("ns_a") * lit(threshold) <= col("ns_b") &&
        col("ns_b") * lit(threshold) <= col("ns_a"))
      .withColumn("jaccard", T.jaccard(col("s_a"), col("s_b")))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** EXACT near-dup ground truth: every pair with word-shingle
    * Jaccard ≥ threshold, computed without any LSH — the inverted
    * shingle index joins docs on each shared shingle (complete for
    * J > 0: a pair with no shared shingle has J = 0), common counts
    * come from one pair-keyed aggregate, and the exact Jaccard uses
    * the per-doc distinct-shingle sizes. This is the truth side of
    * recall/precision evaluation for the approximate paths (d16);
    * cost is Σ|posting list|² over shingles — corpus-quadratic in the
    * worst case, which is WHY the approximate operators exist; run it
    * on samples at scale.
    */
  def exactJaccardPairs(
      df: DataFrame, textCol: String, idCol: String, threshold: Double): DataFrame =
    exactJaccardPairsFromShingles(
      shingleRelation(df, textCol, idCol), threshold)

  /** (id, s: array<string>) word-3-gram shingle sets, fanned across
    * cores. Not materialized: explode `s` only off the checkpointed
    * [[shingleRelation]] (see [[bandKeysFromShingles]]).
    */
  private def shingles(df: DataFrame, textCol: String, idCol: String): DataFrame =
    spread(df).select(
      col(idCol).as("id"),
      T.wordShingles(T.tokens(col(textCol))).as("s"))

  /** Checkpointed [[shingles]] — the ONE tokenize+shingle pass that
    * several legs share (the truth and candidate legs of d16, the
    * index and sizes of d20, the signatures and verify gather of d4,
    * the overlap join and sizes of d6/d9); without it each leg re-runs
    * the corpus scan and the shingling, the dominant map-side cost.
    */
  private[graft] def shingleRelation(
      df: DataFrame, textCol: String, idCol: String): DataFrame =
    shingles(df, textCol, idCol)
      // EAGER: d16 hangs three independent stage chains off this
      // relation inside one job — concurrent stages computing a lazy
      // checkpoint's partitions serialize on block locks (measured
      // run_s 9 → 48 s swings), and a lazy checkpoint embedded in a
      // broadcast consumer opens the lock-inversion deadlock window
      // (OPTIMIZATION_r18 deadlock note). Materializing once up front
      // removes both.
      .localCheckpoint(eager = true)

  /** [[exactJaccardPairs]] over an already-materialized
    * [[shingleRelation]]. `sh` MUST be checkpointed/persisted: the
    * inverted index explodes `s` as a computed array attribute, which
    * is only safe off a leaf relation (see [[bandKeysFromShingles]]).
    */
  private[graft] def exactJaccardPairsFromShingles(
      sh: DataFrame, threshold: Double): DataFrame =
    commonCounts(sh)
      .withColumn("jaccard",
        col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common")))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))

  /** The inverted shingle index over a [[shingleRelation]] leaf: every
    * pair sharing at least one shingle, with its shared-shingle count
    * from one pair-keyed aggregate and both docs' distinct-shingle
    * sizes: columns id_a < id_b, n_common, n_a, n_b, all long.
    * Complete for any overlap measure that is 0 without a shared
    * shingle (Jaccard, containment).
    */
  private def commonCounts(sh: DataFrame): DataFrame = {
    val sizes = sh.select(col("id"), size(col("s")).cast("long").as("n_sh"))
    val inv = sh.select(col("id"), explode(col("s")).as("sng"))
    inv.toDF("id_a", "sng")
      .join(inv.toDF("id_b", "sng"), Seq("sng"))
      .where(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_common"))
      .join(sizes.toDF("id_a", "n_a"), Seq("id_a"))
      .join(sizes.toDF("id_b", "n_b"), Seq("id_b"))
  }

  /** d20: exact containment pairs — the subset/quote duplicate
    * detector Jaccard-based dedup structurally misses (Broder 1997's
    * second resemblance measure): containment(A→B) = |A∩B| / |A| is
    * ~1 when a short doc sits verbatim inside a long one even though
    * their Jaccard is tiny, the shape of quoted articles, boilerplate
    * wrappers, and chunk-of-a-book training dups. Candidates come
    * from the complete inverted shingle index (any pair with
    * containment ≥ τ > 0 shares a shingle — no LSH recall gap, which
    * matters precisely because these pairs are the ones MinHash
    * banding is least likely to catch); the cut keeps a pair when its
    * larger containment side crosses `pct`/100, tested in exact
    * integer arithmetic (100·common ≥ pct·min(nA,nB) — no fp
    * boundary). Truth-side cost is posting-list-quadratic like
    * [[exactJaccardPairs]]; `samplePct` runs the evaluation on a
    * deterministic md5 doc sample (d16's 100 TB mode, pair work ~p²).
    */
  def containmentPairs(
      df: DataFrame, textCol: String, idCol: String, pct: Int,
      samplePct: Int = 100, maxDocs: Int = 0): DataFrame =
    commonCounts(shingleRelation(
        md5Sample(df, idCol, samplePct, maxDocs), textCol, idCol))
      .where(lit(100L) * col("n_common") >= lit(pct.toLong) * least(col("n_a"), col("n_b")))
      .select(
        col("id_a"), col("id_b"), col("n_common"), col("n_a"), col("n_b"),
        round(col("n_common").cast("double") / col("n_a"), 4).as("cont_a"),
        round(col("n_common").cast("double") / col("n_b"), 4).as("cont_b"))

  /** d17: analytic LSH band planner — the S-curve arithmetic that
    * chooses a (bands, rowsPerBand) split of a `numPerms` MinHash
    * budget BEFORE any data is touched; d16's empirical evaluation
    * then validates the choice on a sample. One row per divisor
    * split b·r = numPerms with the capture probability
    * p(J) = 1 − (1 − J^r)^b evaluated at τ−0.1 / τ / τ+0.1 and at
    * J = 0.9 (the near-dup regime). `pick_rank` 1 is the best
    * config: near-dup capture ≥ targetRecall first, then minimum
    * false-candidate rate at τ−0.1 (wasted verify work), then
    * fewest bands (signature bytes shuffled per doc).
    *
    * Driver-side literal arithmetic over ≤ numPerms configs — no
    * data, no shuffle; powers are explicit left-associated multiply
    * chains, so the DuckDB oracle replays bit-identical doubles
    * (the lshPlanesSql trick, applied to math instead of planes).
    */
  def lshBandPlan(
      spark: org.apache.spark.sql.SparkSession, numPerms: Int = 12,
      threshold: Double = 0.5, targetRecall: Double = 0.95): DataFrame = {
    import spark.implicits._
    def chainPow(x: Double, n: Int): Double = {
      var acc = x
      var i = 1
      while (i < n) { acc *= x; i += 1 }
      acc
    }
    def capture(j: Double, r: Int, b: Int): Double =
      1.0 - chainPow(1.0 - chainPow(j, r), b)
    val js = Seq(threshold - 0.1, threshold, threshold + 0.1, 0.9)
    val rows = (1 to numPerms).filter(numPerms % _ == 0).map { b =>
      val r = numPerms / b
      val Seq(pBelow, pAt, pAbove, pNear) = js.map(j => capture(j, r, b))
      (b, r, pBelow, pAt, pAbove, pNear)
    }
    // ranking and rounding both run through Spark's SQL round so the
    // oracle's identical ORDER BY can never disagree; the window is
    // over the ≤ numPerms-row config relation, bounded by definition
    val w = org.apache.spark.sql.expressions.Window.orderBy(
      when(round(col("pn_raw"), 4) >= targetRecall, 0).otherwise(1),
      round(col("pb_raw"), 4), col("n_bands"))
    rows.toDF("n_bands", "rows_per_band", "pb_raw", "pa_raw", "pab_raw", "pn_raw")
      .select(col("n_bands"), col("rows_per_band"),
        round(col("pb_raw"), 4).as("p_below"),
        round(col("pa_raw"), 4).as("p_at"),
        round(col("pab_raw"), 4).as("p_above"),
        round(col("pn_raw"), 4).as("p_neardup"),
        row_number().over(w).cast("long").as("pick_rank"))
      .orderBy("pick_rank")
  }

  /** d16's evaluation harness: MinHash-LSH candidate recall/precision
    * against the exact all-pairs Jaccard truth, as ONE summary row
    * (n_truth, n_cand, n_hit, recall, precision) — the measurement
    * that justifies trusting a band config before a 100 TB run.
    *
    * `samplePct < 100` runs the whole evaluation on a deterministic
    * md5-bucket sample of the DOC set (the t5 split arithmetic —
    * stable across runs, engines, and cluster sizes; no RNG). Both
    * the truth and the candidate side see exactly the sampled
    * sub-corpus, so the measured rates are the band config's capture
    * rates over the sample's pair population — per-pair capture
    * probability depends only on the pair's Jaccard, so the sampled
    * recall estimates the full recall. The truth side is
    * posting-list-quadratic by nature, which is WHY this mode
    * exists: at 100 TB the evaluation runs at p% (truth pair work
    * scales ~p²) while the production d2 path stays full-corpus.
    *
    * A pct sample alone still scales ∝(pN)² — quadratic (the s9/s17
    * headroom lesson, measured 15× at 10× data on this row).
    * `maxDocs` therefore additionally caps the evaluated doc set
    * with a deterministic lowest-md5 rank cut: pair work is then
    * maxDocs²-bounded no matter the corpus. Defaults OFF (0) so
    * existing callers' rates never shift silently; the driver row
    * opts in (non-binding at oracle scale, mirrored in the oracle
    * SQL so the hash-match stands regardless).
    */
  def lshRecallEval(
      df: DataFrame, textCol: String, idCol: String, threshold: Double,
      samplePct: Int = 100, numPerms: Int = 12, bands: Int = 4,
      maxDocs: Int = 0): DataFrame = {
    val docs = md5Sample(df, idCol, samplePct, maxDocs)
    // ONE tokenize+shingle pass feeds both legs: the truth side's
    // inverted index and the candidate side's MinHash signatures read
    // the same checkpointed relation instead of each re-running the
    // corpus scan + shingling (the dominant map-side cost of this row)
    val sh = shingleRelation(docs, textCol, idCol)
    // SINGLE-PASS summary: a full-outer join of the two pair sets (both
    // keyed uniquely on (id_a, id_b)) feeds ONE aggregate computing all
    // three counts, so each leg's subtree appears exactly once in the
    // plan. The previous shape — each leg lazy-checkpointed, counted in
    // its own job AND consumed by a broadcast hit-join — was the
    // repo-wide lock-inversion window made likely: a lazy checkpoint
    // finishing its first job on a broadcast-exchange thread takes the
    // global RDDCheckpointData lock then the RDD monitor, while the
    // dag-scheduler submitting the count stage over the SAME RDD takes
    // them in the opposite order (observed as a jstack-confirmed
    // deadlock this round). No multi-consumer lazy checkpoint, no
    // window.
    val truth = exactJaccardPairsFromShingles(sh, threshold)
      .select(col("id_a"), col("id_b"), lit(1).as("t"))
    val cand = minhashCandidatesFromShingles(sh, numPerms, bands)
      .select(col("id_a"), col("id_b"), lit(1).as("c"))
    truth.join(cand, Seq("id_a", "id_b"), "full_outer")
      .agg(
        count(col("t")).as("n_truth"),
        count(col("c")).as("n_cand"),
        count(when(col("t").isNotNull && col("c").isNotNull, lit(1))).as("n_hit"))
      .select(col("n_truth"), col("n_cand"), col("n_hit"),
        round(col("n_hit").cast("double") /
          when(col("n_truth") > 0, col("n_truth")), 4).as("recall"),
        round(col("n_hit").cast("double") /
          when(col("n_cand") > 0, col("n_cand")), 4).as("precision"))
  }

  /** Exact Jaccard over MinHash-LSH candidates — the scalable
    * near-dup pipeline: candidates come from the band equi-join
    * (never the cross product), then only those pairs pay the exact
    * set intersection. Recall is the LSH capture probability
    * 1-(1-J^r)^b, ≈ 1 for J near 1 (12 perms / 4 bands: 99.98% at
    * J=0.9).
    */
  def jaccardVerified(
      df: DataFrame, textCol: String, idCol: String, threshold: Double,
      numPerms: Int = 12, bands: Int = 4): DataFrame = {
    // One shingling pass feeds BOTH the MinHash signatures and the
    // exact verification. localCheckpoint, not persist: same shared
    // materialization (memory+disk), but the plan truncates to a leaf
    // (no InferFiltersFromGenerate re-inlining) and the blocks are
    // GC'd with the DataFrame — persist() entries live in the session
    // CacheManager forever and accumulate across queries.
    val sh = shingleRelation(df, textCol, idCol)
    // the pair-keyed count's output is pruned to the (id_a, id_b)
    // grouping — the same aggregate a distinct plans as
    val cands = bandSelfJoin(bandKeysFromShingles(
        sh.select(col("id"), explode(col("s")).as("sng")), numPerms, bands))
      .select("id_a", "id_b")
    // Gather both sides' shingles with ONE shingling pass: unpivot the
    // pair to (pair, side, id), join the shingle relation once, fold
    // back. Only candidate docs' shingle sets ever shuffle. The fold
    // is a SortAggregate (array-typed first() buffers are
    // hash-ineligible) but its input is 2·|candidates| rows — the
    // deliberate trade: folding sorts the candidate sliver, while the
    // two-join alternative would shuffle the CORPUS-sized shingle
    // relation twice.
    val long = cands.select(
      concat_ws("_", col("id_a"), col("id_b")).as("pk"),
      explode(array(
        struct(lit("a").as("side"), col("id_a").as("id")),
        struct(lit("b").as("side"), col("id_b").as("id")))).as("x"))
      .select(col("pk"), col("x.side").as("side"), col("x.id").as("id"))
    long.join(sh, "id")
      .groupBy("pk")
      .agg(
        first(when(col("side") === "a", col("id")), ignoreNulls = true).as("id_a"),
        first(when(col("side") === "b", col("id")), ignoreNulls = true).as("id_b"),
        first(when(col("side") === "a", col("s")), ignoreNulls = true).as("s_a"),
        first(when(col("side") === "b", col("s")), ignoreNulls = true).as("s_b"))
      .withColumn("jaccard", T.jaccard(col("s_a"), col("s_b")))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Embedding-cosine near-dup pairs ≥ minCos — EXACT, via a balanced
    * block-matrix self-join (triangle / "1-bucket-theta"
    * partitioning) instead of a Catalyst cross join.
    *
    * Why not LSH blocking here: exact blocking is only possible when
    * the threshold angle separates pairs from the bulk. Measured on
    * this corpus (see NOTES_r03.md) the qualifying pairs sit on a
    * continuum (cos 0.45–0.6 against a diffuse ~orthogonal cloud with
    * as many near-misses at 0.40–0.449), so ANY bucketing — random
    * hyperplanes, k-means/IVF with multi-assignment — loses recall
    * (top-4-of-16-centroid assignment still misses pairs) and would
    * no longer be the exact operator. A threshold this close to the
    * bulk makes the exact answer inherently O(N²) compare work; what
    * a cluster CAN fix is the dataflow, and this does:
    *
    *   - rows are hashed into B blocks; block-pair (p ≤ q) is the
    *     shuffle key, so the O(N²) compares spread evenly over
    *     B(B+1)/2 tasks of bounded memory (2N/B rows each) — no
    *     CartesianProduct, no corpus-wide broadcast, no skew;
    *   - replication factor is ~B/2 = O(√tasks), the optimal
    *     shuffle-vs-parallelism tradeoff for a theta self-join;
    *   - per-row squared norms are computed once before replication,
    *     and the per-pair kernel is a single fused dot product
    *     ([[pairCosine]]).
    *
    * For true near-dup thresholds (minCos ≳ 0.8, where the qualifying
    * angle IS separated from the bulk) use [[embeddingPairsLsh]],
    * which prunes sub-quadratically with empirical recall 1.
    */
  def embeddingPairs(
      df: DataFrame, vecCol: String, idCol: String, minCos: Double,
      blocks: Int = 16): DataFrame = {
    val e = spread(df).select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("blk", pmod(xxhash64(col("id")), lit(blocks.toLong)))
      .withColumn("n2", dot(col("v"), col("v")))
      .localCheckpoint(eager = true)
    // row in block i meets block j at ordered key (p,q)=(min,max):
    // the a-side replicates to keys (blk, q ≥ blk), the b-side to
    // (p ≤ blk, blk) — every cross-block pair meets in exactly one
    // task, same-block pairs are ordered by id. Generators stay
    // inline (non-attribute children), so no InferFiltersFromGenerate
    // re-inlining below the repartition.
    val a = e.select(
      col("id").as("id_a"), col("v").as("v_a"), col("n2").as("n2_a"),
      col("blk").as("p"),
      explode(sequence(col("blk"), lit((blocks - 1).toLong))).as("q"))
    val b = e.select(
      col("id").as("id_b"), col("v").as("v_b"), col("n2").as("n2_b"),
      explode(sequence(lit(0L), col("blk"))).as("p"),
      col("blk").as("q"))
    a.join(b, Seq("p", "q"))
      .where(col("p") =!= col("q") || col("id_a") < col("id_b"))
      .withColumn("cos_sim", pairCosine)
      .where(col("cos_sim") >= minCos)
      .select(
        least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"),
        round(col("cos_sim"), 4).as("cos_sim"))
  }

  /** The per-pair cosine of two (v, n2) sides whose squared norms were
    * computed once per row: `dot(v_a,v_b)/(sqrt(n2_a)*sqrt(n2_b))` is
    * bit-identical to [[graft.functions.cosine]] (same accumulation
    * order), which the d5/d8 oracle hashes rely on — keep this exact
    * operation order.
    */
  private def pairCosine: Column =
    dot(col("v_a"), col("v_b")) / (sqrt(col("n2_a")) * sqrt(col("n2_b")))

  /** Embedding near-dup pairs via hyperplane-LSH bucketing + exact
    * in-bucket verification — the sub-quadratic scale path for true
    * near-dup thresholds (minCos ≳ 0.8). Each vector lands in one
    * bucket; the probe side also visits all Hamming-1 bucket flips,
    * so a pair is found iff their bucket signatures differ in ≤ 1 of
    * `numPlanes` bits (capture prob for angle θ: binomial tail of
    * p = 1 - θ/π per bit — ≈ 1 for small angles, e.g. 99.9% at
    * cos 0.99 with 8 planes). Each captured pair meets in exactly one
    * (probe, bucket) task, so no distinct is needed; only in-bucket
    * pairs pay the dot product.
    */
  def embeddingPairsLsh(
      df: DataFrame, vecCol: String, idCol: String, minCos: Double,
      numPlanes: Int = 8, dim: Int = 64): DataFrame = {
    val planes = Similarity.hyperplanes(numPlanes, dim)
    val e = spread(df).select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("bucket", Similarity.bucketOf(col("v"), planes))
      .withColumn("n2", dot(col("v"), col("v")))
      .localCheckpoint(eager = true)
    val a = e.select(
      col("id").as("id_a"), col("v").as("v_a"), col("n2").as("n2_a"),
      Similarity.multiprobe(col("bucket"), numPlanes).as("bkt"))
    val b = e.select(
      col("id").as("id_b"), col("v").as("v_b"), col("n2").as("n2_b"),
      col("bucket").as("bkt"))
    a.join(b, Seq("bkt"))
      .where(col("id_a") < col("id_b"))
      .withColumn("cos_sim", pairCosine)
      .where(col("cos_sim") >= minCos)
      .select(col("id_a"), col("id_b"), round(col("cos_sim"), 4).as("cos_sim"))
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540, public): cluster the embedding space with
    * deterministic k-means ([[Similarity.kmeansCentroids]]), find
    * near-dup pairs ONLY within each cluster, and keep one
    * representative per connected dup group. Returns one row per
    * input: (id, c_id, keep).
    *
    * Why this is the 100 TB shape: with cluster count scaling with
    * the data (nlist ∝ N, cluster size ~constant), the pairwise
    * compare is constant work PER ITEM — total O(N²/nlist) vs the
    * exact d5 self-join's Θ(N²) — and assignment is one broadcast of
    * nlist centroids. The price is the paper's known recall loss: a
    * dup pair split across k-means cells is never compared (near-
    * identical vectors share a nearest centroid except on knife-edge
    * ties, so in practice recall ≈ 1 at near-dup thresholds).
    *
    * Mechanics: the in-cluster self-join shuffles once on the cell id
    * (AQE splits skewed cells; a pathological mega-cell can be
    * sub-blocked with [[embeddingPairs]]' triangle scheme inside the
    * cell). Dup edges feed [[ConnectedComponents]] (O(log n) rounds),
    * whose min-id component label is the kept representative —
    * deterministic and engine-stable; the paper's keep-farthest-from-
    * centroid policy is a max_by swap on the same dataflow.
    */
  def semDedup(
      df: DataFrame, vecCol: String, idCol: String, minCos: Double,
      nlist: Int = 16, lloydIters: Int = 1): DataFrame = {
    val data = spread(df).select(col(idCol).as("n_id"), col(vecCol).as("n_vec"))
    val assigned = Similarity.assignNearest(
        data, Similarity.kmeansCentroids(data, nlist, lloydIters))
      .withColumn("n2", dot(col("n_vec"), col("n_vec")))
      .localCheckpoint(eager = true) // three consumers: two join sides + output
    val a = assigned.select(
      col("c_id"), col("n_id").as("id_a"), col("n_vec").as("v_a"), col("n2").as("n2_a"))
    val b = assigned.select(
      col("c_id"), col("n_id").as("id_b"), col("n_vec").as("v_b"), col("n2").as("n2_b"))
    val edges = a.join(b, Seq("c_id"))
      .where(col("id_a") < col("id_b"))
      .where(pairCosine >= minCos)
      .select(col("id_a").as("src"), col("id_b").as("dst"))
    withKeep(assigned.select(col("n_id").as("id"), col("c_id")),
        ConnectedComponents.run(edges))
      .select(col("id"), col("c_id"), col("keep"))
  }

  /** `ids` left-joined to a components relation (id, component):
    * `keep` is true for a doc in no dup group and for its group's
    * min-id label — one kept representative per group.
    */
  private def withKeep(ids: DataFrame, comp: DataFrame): DataFrame =
    ids.join(comp, Seq("id"), "left")
      .withColumn("keep", col("component").isNull || col("component") === col("id"))

  /** d7's clustering: connected components (id, component) over the
    * [[jaccardVerified]] pairs — every doc with a verified near-dup,
    * labelled with its group's min id.
    */
  private[graft] def dupComponents(
      df: DataFrame, textCol: String, idCol: String, minJaccard: Double): DataFrame =
    ConnectedComponents.run(jaccardVerified(df, textCol, idCol, minJaccard)
      .select(col("id_a").as("src"), col("id_b").as("dst")))

  /** One-call corpus-level fuzzy dedup — the composition a training
    * pipeline actually runs: MinHash-LSH candidates → exact n-gram
    * Jaccard verification → connected components over the verified
    * pairs → keep the min-id representative of each dup group.
    * Returns one row per input doc: (id, keep). The text twin of
    * [[semDedup]]; every stage keeps the documented scale shape of
    * its standalone row (d2 candidates, d4 verify, d7 clustering),
    * so the one-call form adds no new wide operation.
    */
  def dedupCorpus(
      df: DataFrame, textCol: String, idCol: String, minJaccard: Double): DataFrame =
    withKeep(df.select(col(idCol).as("id")), dupComponents(df, textCol, idCol, minJaccard))
      .select(col("id"), col("keep"))

  /** Quality-aware corpus dedup: [[dedupCorpus]]'s pipeline (LSH
    * candidates → exact Jaccard verify → connected components), but
    * each dup cluster keeps its HIGHEST-`quality` member (ties break
    * to the lowest id — fully deterministic) instead of the arbitrary
    * min-id representative. A training pipeline wants the best copy
    * of a near-dup group — the longest or highest-scoring crawl — not
    * whichever one crawled first. Returns one row per input doc:
    * (id, keep, kept_id) where kept_id is the doc's cluster
    * representative (itself for singletons), so downstream joins can
    * remap references onto the surviving copy.
    *
    * Scale shape: identical to dedupCorpus plus one (component)-keyed
    * `max_by` aggregate — per-cluster argmax combines map-side, one
    * row per cluster crosses the shuffle. (The struct tie-break makes
    * it a SortAggregate — see Similarity.assignNearest's scaladoc —
    * but unlike the Lloyd loops its input is only the CLUSTERED docs,
    * a small fraction of the corpus, so the per-partition sort is
    * bounded by dup volume, not corpus size.)
    */
  def dedupCorpusByQuality(
      df: DataFrame, textCol: String, idCol: String, minJaccard: Double,
      quality: Column): DataFrame = {
    val comp = dupComponents(df, textCol, idCol, minJaccard)
    val best = comp
      .join(df.select(col(idCol).as("id"), quality.as("q")), Seq("id"))
      .groupBy("component")
      // lexicographic struct max: highest quality, then lowest id
      .agg(max_by(col("id"), struct(col("q"), -col("id"))).as("kept_id"))
    df.select(col(idCol).as("id"))
      .join(comp, Seq("id"), "left")
      .join(best, Seq("component"), "left")
      .withColumn("kept_id", coalesce(col("kept_id"), col("id")))
      .withColumn("keep", col("kept_id") === col("id"))
      .select(col("id"), col("keep"), col("kept_id"))
  }

  /** Benchmark decontamination with a bloom prefilter — the scale
    * path of d6 for when the held-out set's shingle dictionary is too
    * large to broadcast as strings. Same contract and EXACT same
    * result as the broadcast-join form (bloom filters have no false
    * negatives; the false positives are discarded by the exact join,
    * which now only sees the bloom-surviving sliver of the corpus):
    *
    *   1. a distributed `graft_bloom_agg` (Spark's runtime-filter
    *      BloomFilterAggregate over xxhash64 of each benchmark
    *      shingle) reduces the benchmark set to ~1.2 bytes/item at
    *      the default fpp — 100M shingles ≈ 170 MB of bits vs many GB
    *      of strings;
    *   2. every corpus shingle probes the bloom (`graft_might_contain`,
    *      codegen'd) — a map-side filter, no shuffle, no join;
    *   3. only surviving (doc, shingle) rows enter the exact
    *      verification join that computes true overlap counts.
    *
    * The sketch is built INSIDE the plan as a scalar subquery over a
    * per-call temp view (dropped before returning — analysis has
    * already inlined the resolved relation into the returned plan):
    * the driver never materializes the sketch bytes, and the plan
    * carries a subquery reference instead of a multi-MB binary
    * literal. Spark's own InjectRuntimeFilter emits exactly this
    * might_contain(scalar-subquery) shape for joins, which is also
    * why its expressions are reused rather than re-implemented.
    */
  def decontaminateBloom(
      df: DataFrame, textCol: String, idCol: String,
      isBench: org.apache.spark.sql.Column,
      estimatedShingles: Long = 1L << 20): DataFrame = {
    graft.GraftSession.ensureRegistered(df.sparkSession)
    // one shingling+distinct pass feeds BOTH the bloom build (eager
    // head() below) and the exact verify join
    // both eager: `bench` sits inside the scalar-subquery sketch build
    // AND a join side; `corpus` inside the (broadcastable) `shared`
    // subtree and the probe side. A lazy checkpoint first-materialized
    // on a broadcast/subquery thread while the dag-scheduler submits
    // the sibling consumer's stage over the same RDD deadlocks on the
    // RDDCheckpointData/RDD lock pair (jstack-confirmed; see
    // lshRecallEval). Construction-thread materialization closes the
    // window at identical total work.
    val bench = benchShingles(spread(df.where(isBench)), textCol)
      .localCheckpoint(eager = true)
    val corpus = shingleRelation(df.where(!isBench), textCol, idCol)
    // the sketch is built INSIDE the plan as a scalar subquery — the
    // at-scale form: the driver never materializes the sketch bytes,
    // and the plan carries a subquery reference instead of a multi-MB
    // binary literal (which also made every .explain render it).
    // Spark's own InjectRuntimeFilter emits exactly this
    // might_contain(scalar-subquery) shape. An empty benchmark yields
    // a null sketch and might_contain(null, _) is null, so nothing
    // survives the prefilter — same contract as the literal form. The
    // temp view name is uniquified per call: view names are
    // session-global and concurrent builds must not clobber each
    // other's relation mid-construction.
    val vname = s"graft_d9_bench_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    bench.createOrReplaceTempView(vname)
    val sketch = expr(
      s"(SELECT graft_bloom_agg(xxhash64(s), ${estimatedShingles}L) FROM $vname)")
    val out = contaminationReport(corpus,
      corpus.select(col("id"), explode(col("s")).as("s"))
        .where(call_function("graft_might_contain", sketch, xxhash64(col("s")))),
      bench)
    // DataFrame construction is eagerly analyzed, so the view's
    // relation is already inlined into `out`'s plan — drop the
    // registration now or a long-lived session grows one never-freed
    // catalog entry (each pinning its checkpoint plan) per call
    df.sparkSession.catalog.dropTempView(vname)
    out
  }

  /** A benchmark set's distinct word-3-gram shingles (s) — d6/d9's
    * held-out side and st19's sketch input. The explode reads the
    * shingling expression itself, never a projected attribute (see
    * [[bandKeysFromShingles]]).
    */
  private[graft] def benchShingles(bench: DataFrame, textCol: String): DataFrame =
    bench.select(explode(T.wordShingles(T.tokens(col(textCol)))).as("s")).distinct()

  /** d6/d9's per-doc contamination report over a [[shingleRelation]]
    * `corpus`: `candidates` are its exploded (id, s) shingles,
    * possibly prefiltered, and their exact overlap with `bench` gives
    * (doc_id, n_shingles, n_shared, frac, contaminated).
    */
  private[graft] def contaminationReport(
      corpus: DataFrame, candidates: DataFrame, bench: DataFrame): DataFrame = {
    val shared = candidates
      .join(bench, "s")
      .groupBy("id")
      .agg(count(lit(1)).as("n_shared"))
    corpus
      .select(col("id"), size(col("s")).cast("long").as("n_shingles"))
      .join(shared, Seq("id"), "left")
      .select(col("id").as("doc_id"), col("n_shingles"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"))
      .withColumn("frac", round(col("n_shared").cast("double") / col("n_shingles"), 4))
      .withColumn("contaminated", col("n_shared") > 0)
  }
}
