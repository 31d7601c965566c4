package graft

import org.apache.spark.sql.functions._

import graft.queries.TextQueries

/** Property specs for the text-pipeline operators (t8/t9/t11) —
  * the value-level checks live in the DuckDB oracle; these assert the
  * operator-level invariants the oracle can't express.
  */
class TextOpsSpec extends SparkSpec {

  test("tokenizeWs: exact parity with the relational split/trim/regexp form") {
    import spark.implicits._
    import graft.functions.tokenizeWs
    // the relational form every DuckDB oracle replays — the fast
    // tokenizer must agree byte-for-byte on the whole corpus
    def relational(c: org.apache.spark.sql.Column) =
      split(trim(regexp_replace(lower(c), "\\s+", " ")), " ")
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val mismatches = docs.select(
        col("doc_id"),
        tokenizeWs(col("text")).as("fast"),
        relational(col("text")).as("slow"))
      .where(not(col("fast") <=> col("slow")))
      .count()
    assert(mismatches === 0)
    // edge cases the corpus may not carry: empty, all-whitespace, every
    // \s separator byte, runs, unicode content, unicode uppercase, null
    val edge = Seq(
      "", " ", "\t\n\f\r ", "a", " a ", "a  b", "a\tb\nc",
      "\ta b\r", "Größe STRASSE Ärger", "日本語 テスト", "a b")
      .toDF("text")
      .select(tokenizeWs(col("text")).as("fast"),
        relational(col("text")).as("slow"))
    assert(edge.where(not(col("fast") <=> col("slow"))).count() === 0)
    val nulls = Seq[Option[String]](None).toDF("text")
      .select(tokenizeWs(col("text")).as("fast"), relational(col("text")).as("slow"))
      .head()
    assert(nulls.isNullAt(0) && nulls.isNullAt(1))
    // normalize identity: join(tokens, " ") == trim/regexp normalize
    val normMismatch = docs.select(
        graft.functions.TextFunctions.normalize(col("text")).as("fast"),
        trim(regexp_replace(lower(col("text")), "\\s+", " ")).as("slow"))
      .where(not(col("fast") <=> col("slow"))).count()
    assert(normMismatch === 0)
  }

  test("shinglesWs: exact parity with the relational transform/array_distinct form") {
    import spark.implicits._
    import graft.functions.{shinglesWs, tokenizeWs}
    def relational(toks: org.apache.spark.sql.Column, n: Int) = {
      val shingle = transform(
        sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", (1 to n).map(k => element_at(toks, i + k)): _*))
      array_distinct(when(size(toks) < n, array(concat_ws(" ", toks))).otherwise(shingle))
    }
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(tokenizeWs(col("text")).as("t"))
    Seq(3, 5).foreach { n =>
      val mism = docs.select(shinglesWs(col("t"), n).as("fast"),
          relational(col("t"), n).as("slow"))
        .where(not(col("fast") <=> col("slow"))).count()
      assert(mism === 0, s"n=$n")
    }
    // edges: empty token list ([""]), exactly n, repeats (order of
    // first occurrence), short docs
    val edge = Seq(
      Seq(""), Seq("a"), Seq("a", "b"), Seq("a", "b", "c"),
      Seq("a", "b", "c", "d"),
      Seq("x", "y", "x", "y", "x", "y"), // repeated shingles dedupe, first-occurrence order
      Seq("a", "a", "a", "a")).toDF("t")
    val eMism = edge.select(shinglesWs(col("t"), 3).as("fast"),
        relational(col("t"), 3).as("slow"))
      .where(not(col("fast") <=> col("slow"))).count()
    assert(eMism === 0)
  }

  test("gramsWs: exact parity with the relational transform/slice form") {
    import spark.implicits._
    import graft.functions.{gramsWs, tokenizeWs}
    def relational(toks: org.apache.spark.sql.Column, n: Int) = transform(
      sequence(lit(0), size(toks) - n),
      i => concat_ws(" ", slice(toks, i + 1, lit(n))))
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(tokenizeWs(col("text")).as("t"))
      .where(size(col("t")) >= 5) // the caller's guard (negative sequence errors)
    val mism = docs.select(gramsWs(col("t"), 5).as("fast"),
        relational(col("t"), 5).as("slow"))
      .where(not(col("fast") <=> col("slow"))).count()
    assert(mism === 0)
    // short input yields an empty gram list (callers filter it anyway)
    val short = Seq(Seq("a", "b")).toDF("t")
      .select(size(gramsWs(col("t"), 5)).as("n")).head().getInt(0)
    assert(short === 0)
  }

  test("t22: BPE merges match the hand-computed reference example") {
    import spark.implicits._
    // Sennrich-style fixture: word frequencies {low:5, lowest:2,
    // newer:6, wider:3}. Round-1 pair totals: lo 7, ow 7, we 8,
    // ne 6, ew 6, er 9 (newer 6 + wider 3), wi 3, id 3, de 3,
    // es 2, st 2 → merge 1 = (e, r) at 9.
    val docs = (
      Seq.fill(5)("low") ++ Seq.fill(2)("lowest") ++
        Seq.fill(6)("newer") ++ Seq.fill(3)("wider"))
      .map(w => w).toDF("text")
    val merges = graft.operators.Bpe.learnMerges(docs, "text", 3)
      .as[(Int, String, String, Long)].collect().sortBy(_._1).toSeq
    // round 1: er=9. round 2 (er merged): newer = n,e,w,er; wider = w,i,d,er;
    //   pairs: ne 6, ew 6, w-er 6, wi 3, id 3, d-er 3, lo 7, ow 7, we 2, es 2, st 2
    //   → max 7 on BOTH lo and ow; tie-break lex: (l,o) < (o,w) → (l,o)
    // round 3: low=5 → lo,w; lowest → lo,w,e,s,t: pairs low 7 ... recompute:
    //   after lo: low = lo,w (5): pair lo-w 5; lowest = lo,w,e,s,t (2): lo-w, we, es, st
    //   newer: ne 6, ew 6, w-er 6; wider: wi 3, id 3, d-er 3
    //   lo-w = 7 → merge 3 = (lo, w)
    assert(merges(0) === ((1, "e", "r", 9L)))
    assert(merges(1) === ((2, "l", "o", 7L)))
    assert(merges(2) === ((3, "lo", "w", 7L)))
  }

  test("t22: merge-apply is left-to-right non-overlapping") {
    import spark.implicits._
    // "aaaa" with 4 copies: round 1 pair (a,a) counts overlaps (3 per
    // word x 4 = 12); the apply folds non-overlapping → aa,aa
    val docs = Seq.fill(4)("aaaa").toDF("text")
    val merges = graft.operators.Bpe.learnMerges(docs, "text", 2)
      .as[(Int, String, String, Long)].collect().sortBy(_._1).toSeq
    assert(merges(0) === ((1, "a", "a", 12L)))
    // round 2: each word is now [aa, aa] → pair (aa,aa) x 4
    assert(merges(1) === ((2, "aa", "aa", 4L)))
  }

  test("t35: BPE encode applies the learned table exactly; symbols reconstruct every word") {
    import spark.implicits._
    // the t22 Sennrich fixture: merges are (e,r), (l,o), (lo,w)
    val docs = (
      Seq.fill(5)("low") ++ Seq.fill(2)("lowest") ++
        Seq.fill(6)("newer") ++ Seq.fill(3)("wider")).toDF("text")
    val merges = graft.operators.Bpe.learnMerges(docs, "text", 3)
    val enc = graft.operators.Bpe.encodeVocab(
      docs.select(col("text").as("w")).distinct(), "w", merges)
      .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    // hand-applied: er first, then lo, then low
    assert(enc("low") === Seq("low"))
    assert(enc("lowest") === Seq("low", "e", "s", "t"))
    assert(enc("newer") === Seq("n", "e", "w", "er"))
    assert(enc("wider") === Seq("w", "i", "d", "er"))
    // round-trip on real corpus vocab: concatenated symbols == word
    val corpus = graft.queries.table(spark, sf, "documents")
    val m16 = graft.operators.Bpe.learnMerges(corpus, "text", 8)
    val vocab = corpus
      .select(explode(graft.functions.TextFunctions.tokens(col("text"))).as("w"))
      .where(length(col("w")) > 0).distinct().limit(500)
    val bad = graft.operators.Bpe.encodeVocab(vocab, "w", m16)
      .where(concat_ws("", col("syms")) =!= col("w")).count()
    assert(bad === 0L)
    // document encode preserves order: tokens re-assemble per doc
    val two = Seq((1L, "newer lowest"), (2L, "low wider low")).toDF("doc_id", "text")
    val tok = graft.operators.Bpe.encode(two, "text", "doc_id", merges)
      .orderBy("doc_id", "word_pos", "sym_pos")
      .collect().map(r => (r.getLong(0), r.getString(3)))
    assert(tok.filter(_._1 == 1L).map(_._2).toSeq
      === Seq("n", "e", "w", "er", "low", "e", "s", "t"))
    assert(tok.filter(_._1 == 2L).map(_._2).toSeq
      === Seq("low", "w", "i", "d", "er", "low"))
    // the driver row: per-lang mass, token count between word and char mass
    val rows = TextQueries.queries("t35_bpe_encode")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_words") <= r.getAs[Long]("n_tokens"))
      assert(r.getAs[Long]("n_tokens") <= r.getAs[Long]("n_chars"))
      assert(r.getAs[Double]("chars_per_token") >= 1.0)
    }
  }

  test("t8: every doc has injected PII found, and scrub is idempotent-clean") {
    val rows = TextQueries.queries("t8_pii_scrub")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_emails") >= 2, s"doc ${r.getAs[Long]("doc_id")}")
      assert(r.getAs[Long]("n_ips") >= 1)
    }
  }

  test("t9: repetition fractions are in [0,1] and top_frac >= uniform share") {
    val rows = TextQueries.queries("t9_repetition")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val dup = r.getAs[Double]("dup_frac")
      val top = r.getAs[Double]("top_frac")
      val n = r.getAs[Long]("n_bigrams")
      assert(dup >= 0.0 && dup <= 1.0)
      assert(top >= 1.0 / n - 5e-5 && top <= 1.0) // top_frac is rounded to 4 dp
    }
  }

  test("t11: stratified sample keeps ~target docs per language") {
    val rows = TextQueries.queries("t11_stratified_sample")(spark, sf).collect()
    assert(rows.nonEmpty)
    val target = rows.map(_.getAs[Long]("n_total")).min
    rows.foreach { r =>
      val kept = r.getAs[Long]("n_kept")
      val total = r.getAs[Long]("n_total")
      assert(kept <= total)
      // hash-bucket sampling is binomial around the exact rate; allow
      // generous slack at sf0.001's tiny strata
      assert(math.abs(kept - target) <= math.max(10L, target / 2),
        s"${r.getAs[String]("lang")}: kept=$kept target=$target")
    }
  }

  test("t11: assignment is deterministic across runs") {
    val a = TextQueries.queries("t11_stratified_sample")(spark, sf).collect().map(_.toString).sorted
    val b = TextQueries.queries("t11_stratified_sample")(spark, sf).collect().map(_.toString).sorted
    assert(a.sameElements(b))
  }

  test("t19: the permutation is bucket-width invariant") {
    // the bucket is a PREFIX of the sort key, so bucket-major order is
    // the global order at any width — widening only re-partitions the
    // rank computation (the 100 TB knob), never changes a rank
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    def ranks(w: Int) =
      graft.operators.Shuffle.globalPermutation(docs, "doc_id", "epoch0", prefixHexChars = w)
        .select("doc_id", "shuffle_rank", "chunk")
        .collect().map(_.toString).sorted.toSeq
    val w4 = ranks(4)
    assert(ranks(1) === w4)
    assert(ranks(2) === w4)
    // ranks are a dense permutation of 1..N
    val n = docs.count()
    val rs = graft.operators.Shuffle.globalPermutation(docs, "doc_id", "epoch0")
      .agg(count(lit(1)), countDistinct(col("shuffle_rank")),
        min("shuffle_rank"), max("shuffle_rank")).head()
    assert(rs.getLong(0) === n && rs.getLong(1) === n &&
      rs.getLong(2) === 1L && rs.getLong(3) === n)
  }

  test("qualityFlags: row-local flags match t17's explode+groupBy on every doc") {
    import graft.functions.{TextFunctions => T}
    // edge docs the corpus may not contain: empty, whitespace-only,
    // a single repeated token, a just-under-threshold length
    import spark.implicits._
    val edge = Seq(
      (100001L, ""), (100002L, "   "),
      (100003L, Seq.fill(50)("dup").mkString(" ")),
      (100004L, "the a short doc")).toDF("doc_id", "text")
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").unionByName(edge)
    val local = docs
      .select(col("doc_id"), T.qualityFlags(col("text")).as("q"))
      .select(col("doc_id"), col("q.n_tok"), col("q.r_len"), col("q.r_wlen"),
        col("q.r_stop"), col("q.r_rep"), col("q.pass"))
    // t17's relational form, applied to the same augmented corpus
    val tc = docs
      .select(col("doc_id"), explode(T.tokens(col("text"))).as("t"))
      .groupBy("doc_id", "t").agg(count(lit(1)).as("cnt"))
    val relational = tc.groupBy("doc_id")
      .agg(
        sum("cnt").as("n_tok"),
        sum(col("cnt") * length(col("t"))).as("sum_len"),
        sum(when(col("t").isin("the", "a"), col("cnt")).otherwise(lit(0L))).as("n_stop"),
        max("cnt").as("max_cnt"))
      .select(
        col("doc_id"), col("n_tok"),
        when(col("n_tok") >= 40, 1L).otherwise(0L).as("r_len"),
        when(col("sum_len") >= col("n_tok") * 3 &&
          col("sum_len") <= col("n_tok") * 10, 1L).otherwise(0L).as("r_wlen"),
        when(col("n_stop") >= 2, 1L).otherwise(0L).as("r_stop"),
        when(col("max_cnt") * 5 <= col("n_tok"), 1L).otherwise(0L).as("r_rep"))
      .withColumn("pass", col("r_len") * col("r_wlen") * col("r_stop") * col("r_rep"))
    assert(local.collect().map(_.toString).sorted.toSeq ===
      relational.collect().map(_.toString).sorted.toSeq)
  }
test("t36: feature-hashed embedding is bag-of-words invariant, sign-balanced, and collision-additive") {
    import spark.implicits._
    import graft.functions.TextFunctions
    val docs = Seq(
      (1L, "alpha beta gamma alpha"),
      (2L, "gamma ALPHA  beta\talpha"), // shuffled + case/ws noise: same bag
      (3L, "alpha beta gamma"),          // one fewer alpha
      (4L, "")).toDF("doc_id", "text")
    val e = TextFunctions.hashEmbedSparse(docs, "text", "doc_id")
    val rows = e.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // dims in range
    assert(rows.keys.forall { case (_, d) => d >= 0 && d < 64 })
    // bag-of-words invariance: docs 1 and 2 embed IDENTICALLY
    val v1 = rows.collect { case ((1L, d), w) => d -> w }.toMap
    val v2 = rows.collect { case ((2L, d), w) => d -> w }.toMap
    assert(v1 === v2 && v1.nonEmpty)
    // doc 3 differs from doc 1 by exactly one 'alpha' occurrence: the
    // vectors differ by +/-1 in alpha's single dimension
    val v3 = rows.collect { case ((3L, d), w) => d -> w }.toMap
    val diff = (v1.keySet ++ v3.keySet).toSeq
      .map(d => d -> (v1.getOrElse(d, 0L) - v3.getOrElse(d, 0L)))
      .filter(_._2 != 0)
    assert(diff.length === 1 && math.abs(diff.head._2) === 1)
    // weights are signed sums: total mass over doc 1 is bounded by its token count
    assert(v1.values.map(math.abs).sum <= 4)
  }

  test("t39: zstd compression ratio orders repetitive < prose < digest-noise, bounded, deterministic") {
    import spark.implicits._
    import graft.functions.graft_zstd
    def ratioOf(text: String): Double = {
      val df = Seq(text).toDF("text")
        .select((octet_length(graft_zstd(col("text").cast("binary")))
          .cast("double") / octet_length(col("text").cast("binary"))).as("r"))
      df.head.getDouble(0)
    }
    val repetitive = ratioOf("spam ham " * 400)
    val prose = ratioOf(("the quick brown fox jumps over the lazy dog and then " +
      "considers whether compression ratios make a usable quality score ") * 25)
    val noise = ratioOf((1 to 100).map(i =>
      java.security.MessageDigest.getInstance("MD5")
        .digest(s"n$i".getBytes).map(b => f"$b%02x").mkString).mkString(" "))
    assert(repetitive < prose && prose < noise,
      s"repetitive=$repetitive prose=$prose noise=$noise")
    assert(repetitive < 0.05 && noise > 0.5)
    // the driver row: per-source report, ratios bounded, deterministic
    val rows = graft.queries.TextQueries.queries("t39_compress_ratio")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val m = r.getAs[Double]("mean_ratio")
      assert(m > 0.0 && m < 1.2, r.toString)
      assert(r.getAs[Long]("n_low_entropy") + r.getAs[Long]("n_high_entropy")
        <= r.getAs[Long]("n_docs"))
    }
    val again = graft.queries.TextQueries.queries("t39_compress_ratio")(spark, sf).collect()
    assert(rows.map(_.toString).toSeq === again.map(_.toString).toSeq)
  }
}
