package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftshim.ColumnShim

/** Column-typed entry points for graft's native Catalyst expressions.
  * Built directly on the expression tree — no session-registry
  * dependency, usable from any SparkSession. (Some are also
  * SQL-registered by [[GraftSession.ensureRegistered]].)
  */
package object functions {
  /** The splitmix64 finalizer: consecutive seed terms give unrelated
    * 64-bit values. Each caller builds its own seed term.
    */
  private[graft] def splitmix64(seed: Long): Long = {
    var z = seed
    z ^= z >>> 30; z *= 0xbf58476d1ce4e5b9L
    z ^= z >>> 27; z *= 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  private[graft] def col1(f: org.apache.spark.sql.catalyst.expressions.Expression => org.apache.spark.sql.catalyst.expressions.Expression)(c: Column): Column =
    ColumnShim.column(f(ColumnShim.expression(c)))

  /** One row per log event of each gzipped CWL payload in `data`:
    * (log_id, timestamp_ms, message, fields) — see [[CwlEvents]].
    * Use as the only item of a `select`.
    */
  def cwlEvents(data: Column, permissive: Boolean): Column =
    col1(CwlEvents(_, permissive))(data)

  /** Each gzipped CWL payload's class and event count — see [[CwlFate]]. */
  def cwlFate(data: Column): Column = col1(CwlFate.apply)(data)

  /** Gzip-compress a binary column. */
  def graft_gzip(c: Column): Column = col1(GzipBytes.apply)(c)

  /** Gunzip a binary column. */
  def graft_gunzip(c: Column): Column = col1(GunzipBytes.apply)(c)

  /** Gunzip, yielding NULL on corrupt input instead of failing. */
  def graft_try_gunzip(c: Column): Column = col1(TryGunzipBytes.apply)(c)

  /** Zstd-compress a binary column. */
  def graft_zstd(c: Column): Column = col1(ZstdBytes.apply)(c)

  /** Zstd-decompress a binary column. */
  def graft_unzstd(c: Column): Column = col1(UnzstdBytes.apply)(c)

  /** Cosine similarity of two numeric array columns (double). */
  def cosine(a: Column, b: Column): Column =
    ColumnShim.column(CosineSimilarity(ColumnShim.expression(a), ColumnShim.expression(b)))

  /** Dot product of two numeric array columns (double accumulation;
    * composes with precomputed norms to a bit-exact [[cosine]]).
    */
  def dot(a: Column, b: Column): Column =
    ColumnShim.column(DotProduct(ColumnShim.expression(a), ColumnShim.expression(b)))

  /** Hamming distance of two bit-signature columns (array<bigint>). */
  def hamming(a: Column, b: Column): Column =
    ColumnShim.column(HammingDistance(ColumnShim.expression(a), ColumnShim.expression(b)))

  /** Sign-bit signature of a numeric array column (array<bigint>
    * words). `expectDim > 0` makes the packer assert the runtime
    * vector length — a dim/data mismatch then fails loudly instead of
    * silently diverging from the declared band layout (0 = unchecked).
    */
  def signpack(v: Column, wordBits: Int, expectDim: Int = 0): Column =
    ColumnShim.column(SignPack(ColumnShim.expression(v), wordBits, expectDim))

  /** Deterministic hash shard in [0, k): md5-derived, so it is
    * engine-replayable (DuckDB: `('0x'||substr(md5(id),1,7))::BIGINT
    * % k`) and cluster-size invariant — unlike round-robin or rand(),
    * the same row lands in the same shard on any cluster, any run.
    */
  def hashShard(id: Column, k: Int): Column = {
    import org.apache.spark.sql.functions.{conv, lit, md5, pmod, substring}
    pmod(conv(substring(md5(id.cast("string")), 1, 7), 16, 10).cast("long"), lit(k.toLong))
  }

  /** 64-bit SimHash of a token (array<string>) column. */
  def simhash64(toks: Column): Column = col1(SimHash64.apply)(toks)

  /** 64-bit SimHash over a binary column's overlapping byte-4-grams
    * (uppercase-hex tokenization — the fused twin of the
    * hex+transform+substr+simhash64 composition; see
    * [[SimHashOps.simhashBytes]] for the exact token contract).
    */
  def simhashBytes(bin: Column): Column = col1(SimHashBytes.apply)(bin)

  /** Image container sniff of a binary column:
    * struct<format,width,height> from header bytes only (PNG / JPEG /
    * GIF / BMP; "raw" + null dims otherwise) — see [[ImageMetaOps]].
    */
  def imageMeta(bin: Column): Column = col1(ImageMeta.apply)(bin)

  /** Audio container sniff of a binary column:
    * struct<format,sample_rate,channels,bits,n_frames> from header
    * bytes only (WAV / AIFF / AU; "raw" + null fields otherwise) —
    * see [[AudioMetaOps]].
    */
  def audioMeta(bin: Column): Column = col1(AudioMeta.apply)(bin)

  /** Content-defined chunk fingerprints of a binary column
    * (array<long>) — gear-hash CDC boundaries, FNV-1a identities;
    * see [[CdcOps]].
    */
  def cdcChunks(bin: Column, minLen: Int = 64, maskBits: Int = 8,
      maxLen: Int = 4096): Column =
    ColumnShim.column(
      CdcChunks(ColumnShim.expression(bin), minLen, maskBits, maxLen))

  /** Canonical URL form of a string column — scheme/host lowercase,
    * default port dropped, dot-segments resolved, query params sorted,
    * fragment dropped; total and idempotent — see [[UrlOps]].
    */
  def urlCanon(c: Column): Column = col1(UrlCanon.apply)(c)

  /** Canonical host (lowercase, port/userinfo stripped) of a URL
    * column; empty string for non-URLs — see [[UrlOps.host]].
    */
  def urlHost(c: Column): Column = col1(UrlHost.apply)(c)

  /** Registrable domain (eTLD+1 over the embedded public-suffix
    * subset) of a host column — see [[UrlOps.registrable]].
    */
  def registrableDomain(c: Column): Column = col1(RegistrableDomain.apply)(c)

  /** Canonical path (dot-segments resolved, slashes folded) of a URL
    * column; empty string for non-URLs — see [[UrlOps.path]].
    */
  def urlPath(c: Column): Column = col1(UrlPath.apply)(c)

  /** Single-pass whitespace tokenizer (array<string>): exact-parity
    * fast path for split(trim(regexp_replace(lower(s), "\\s+", " ")),
    * " ") — see [[TokenizeOps]].
    */
  def tokenizeWs(c: Column): Column = col1(TokenizeWs.apply)(c)

  /** Distinct word-n-gram shingles in one native pass — see
    * [[ShingleOps]] for the exact-parity contract.
    */
  def shinglesWs(toks: Column, n: Int): Column =
    ColumnShim.column(WordShinglesExpr(ColumnShim.expression(toks), n))

  /** Every word-n-gram in positional order (no dedup) — see
    * [[GramOps]].
    */
  def gramsWs(toks: Column, n: Int): Column =
    ColumnShim.column(WordGramsExpr(ColumnShim.expression(toks), n))

  /** Nearest packed-entry id: argmax of cosine ("cosine") or argmin
    * of |c|²−2·v·c ("l2") with lowest-id ties — see [[NearestOps]].
    */
  def nearestId(cs: Column, v: Column, metric: String): Column =
    ColumnShim.column(NearestIdExpr(
      ColumnShim.expression(cs), ColumnShim.expression(v), metric))

  /** Sum of per-token character counts (bigint; null if any token is
    * null) — see [[TokenLengthOps]].
    */
  def toklenSum(toks: Column): Column = col1(TokenLengthSum.apply)(toks)

  /** Join struct<pos, tok> entries in ascending pos order with single
    * spaces — see [[ReassembleOps]].
    */
  def joinByPos(entries: Column): Column = col1(JoinByPosExpr.apply)(entries)

  /** Morton (Z-order) interleave of two pre-quantized long columns —
    * each in [0, 2^bits): bit i of `a` lands at position 2i+1, bit i
    * of `b` at 2i. Rows sorted by the result cluster in BOTH
    * dimensions at once (each contiguous run covers a ~2^(-levels)
    * tile of either axis), which is what turns parquet row-group
    * min/max stats into two-dimensional pruning. Pure built-in
    * shift/mask tree, whole-stage-codegen'd; 2*bits ≤ 62.
    */
  def morton(a: Column, b: Column, bits: Int = 16): Column = {
    import org.apache.spark.sql.functions.{lit, shiftleft, shiftright}
    require(bits >= 1 && bits <= 31, s"bits must be in [1,31], got $bits")
    (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      acc
        .bitwiseOR(shiftleft(shiftright(a, i).bitwiseAND(lit(1L)), 2 * i + 1))
        .bitwiseOR(shiftleft(shiftright(b, i).bitwiseAND(lit(1L)), 2 * i))
    }
  }

  /** N-column Morton interleave — the k-dimensional generalization of
    * [[morton]]: bit i of column j lands at position k*i + (k-1-j),
    * so for k=2 this is exactly morton(a, b). Sorting by the result
    * clusters rows in ALL k dimensions at once (each contiguous run
    * covers a tile of every axis) — the layout for fact tables
    * queried by three or more independent keys, where any single-sort
    * only ever prunes its leading column. Pure built-in shift/mask
    * tree, whole-stage-codegen'd; k*bits ≤ 62. Resolution per
    * dimension falls as bits (and pruning power as file-count^(1/k)),
    * so prefer the 2-column form unless the query mix really carries
    * three hot predicates.
    */
  def mortonN(cols: Seq[Column], bits: Int): Column = {
    import org.apache.spark.sql.functions.{lit, shiftleft, shiftright}
    val k = cols.length
    require(k >= 2, s"mortonN needs >= 2 columns, got $k")
    require(bits >= 1 && k * bits <= 62, s"need 1 <= bits and $k*bits <= 62, got $bits")
    (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      cols.zipWithIndex.foldLeft(acc) { case (a, (c, j)) =>
        a.bitwiseOR(shiftleft(shiftright(c, i).bitwiseAND(lit(1L)), k * i + (k - 1 - j)))
      }
    }
  }

  /** MMR diversified selection over a bounded candidate gather:
    * array<struct<id, rel, vec>> → array<struct<id, mmr>> in greedy
    * selection order (see [[MmrSelect]]).
    */
  def mmrSelect(cands: Column, k: Int, lambda: Double): Column =
    col1(MmrSelect(_, k, lambda))(cands)

  /** Aggregate: top-k (score desc, id asc) pairs as a sorted
    * array<struct<score,id>> with map-side partial combination.
    */
  def topk(score: Column, id: Column, k: Int): Column =
    ColumnShim.column(
      TopKByScore(ColumnShim.expression(score), ColumnShim.expression(id), k)
        .toAggregateExpression())

  /** Aggregate: element-wise sum of an array<float|double> column
    * plus the row count, as struct<sum: array<double>, n: bigint> —
    * one fixed-size buffer per group crosses the shuffle (the
    * Lloyd-round recentering primitive).
    */
  def vecsum(vec: Column): Column =
    ColumnShim.column(
      VectorSumAgg(ColumnShim.expression(vec)).toAggregateExpression())

}
