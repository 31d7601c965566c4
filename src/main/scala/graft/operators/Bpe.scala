package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{TextFunctions => T}

/** Byte-pair-encoding merge learning (Sennrich et al. 2016) — the
  * tokenizer-fitting step of a training-data pipeline, as an
  * iterative DataFrame computation.
  *
  * Scale shape: the corpus is touched ONCE (tokens → word-frequency
  * aggregate, checkpointed); every merge round after that runs on the
  * WORD-FREQUENCY relation, whose size is the vocabulary, not the
  * corpus. Both learners split its words into code-point symbols with
  * the one symbolizer encode uses ([[symbols]]). One bounded collect
  * of at most `DriverVocabCutoff + 1` rows (a private constant,
  * 100 000 words, the [[ConnectedComponents]] union-find bound) picks
  * one of two exact learners:
  *
  *   - a vocab that fits runs the recount-and-merge rounds on the
  *     driver over the collected words' symbol arrays, so a merge
  *     costs no Spark job — at sf0.1 the vocab is 31 words and the
  *     per-round job pair was most of t22/t35's time;
  *   - a larger vocab (millions of rows at 100 TB) runs them as Spark
  *     rounds: one vocab-sized explode + groupBy recount and a rewrite
  *     of the symbolized vocab per round, re-materialized (eager
  *     localCheckpoint) so lineage doesn't compound, exactly like
  *     [[Similarity.kmeansCentroids]]. This loop is also the reference
  *     the driver learner is spec-checked against.
  *
  * Rounds recount rather than patch a persistent (pair, n) relation
  * with ±freq deltas from only the touched words: the delta design
  * measured 3–4× slower at every schedule tried — 32.8 s vs 10.1 s
  * at 64 merges on sf0.1 (BENCH_NOTES_r10.md), 86.9 s vs 20.0 s at
  * 300 and 100.8 s vs 25.5 s at 1000 on sf0.01 (BENCH_NOTES_r11.md).
  * Early merges are single-character pairs that occur in nearly
  * every word, so the touched slice is the vocab, and each delta
  * round's fixed costs (touch-guard scan, union + counts groupBy, a
  * second checkpoint) outweigh one recount.
  *
  * Determinism: the best pair maximizes (count, then the " "-joined
  * pair string ASCENDING in UTF-8 byte order as the tie-break) — no
  * RNG, no partitioning sensitivity, so the learned merge table is
  * reproducible on any cluster. The merge-apply is a left-to-right
  * non-overlapping fold (aaa + (a,a) → [aa, a]), the standard BPE
  * semantics.
  */
object Bpe {

  /** Left-to-right non-overlapping merge of adjacent (l, r) symbol
    * pairs: fold carrying a pending symbol; vocab-sized input, so the
    * interpreted higher-order fold is deliberate (documented tax on a
    * small relation — the corpus never runs through it).
    */
  private def mergePair(syms: Column, l: Column, r: Column): Column = {
    val folded = aggregate(
      syms,
      struct(
        array().cast("array<string>").as("out"),
        lit(null).cast("string").as("pend")),
      (acc, s) =>
        when(acc("pend").isNull, struct(acc("out").as("out"), s.as("pend")))
          .when(acc("pend") === l && s === r,
            struct(concat(acc("out"), array(concat(l, r))).as("out"),
              lit(null).cast("string").as("pend")))
          .otherwise(
            struct(concat(acc("out"), array(acc("pend"))).as("out"), s.as("pend"))))
    when(folded("pend").isNull, folded("out"))
      .otherwise(concat(folded("out"), array(folded("pend"))))
  }

  /** Adjacent symbol pairs via the native positional 2-gram builder
    * (overlaps included, matching reference BPE counting); the
    * " "-joined pair string splits back unambiguously because symbols
    * come from whitespace tokens and merges only concatenate them.
    */
  private def pairsOf(syms: Column): Column =
    explode(graft.functions.gramsWs(syms, 2))

  /** Learn `numMerges` BPE merges over the corpus' whitespace words.
    * Returns (merge_rank, lhs, rhs, pair_count) — rank 1 is the first
    * (highest-count) merge. Words shorter than 2 symbols stop
    * contributing automatically (no pairs). One bounded collect of the
    * symbolized vocab picks the learner: at most `DriverVocabCutoff`
    * words learn on the driver, larger vocabularies in Spark rounds.
    */
  def learnMerges(df: DataFrame, textCol: String, numMerges: Int): DataFrame = {
    val vocab = wordFreqs(df, textCol)
    val head = vocab.limit(DriverVocabCutoff + 1).collect()
    if (head.length <= DriverVocabCutoff) learnOnDriver(df.sparkSession, head, numMerges)
    else learnDistributed(vocab, numMerges)
  }

  /** [[learnMerges]] forced onto the driver learner, whatever the
    * vocab size. */
  private[graft] def learnMergesOnDriver(
      df: DataFrame, textCol: String, numMerges: Int): DataFrame =
    learnOnDriver(df.sparkSession, wordFreqs(df, textCol).collect(), numMerges)

  /** [[learnMerges]] forced onto the distributed loop, whatever the
    * vocab size — the reference the driver learner is checked against. */
  private[graft] def learnMergesDistributed(
      df: DataFrame, textCol: String, numMerges: Int): DataFrame =
    learnDistributed(wordFreqs(df, textCol), numMerges)

  /** Vocabularies up to this many distinct words learn on the driver:
    * the same bound as [[ConnectedComponents]]' union-find, a few tens
    * of MB of symbol arrays. */
  private val DriverVocabCutoff = 100000

  /** The ONLY corpus-wide pass: (w, freq) per distinct word,
    * materialized. Both learners symbolize its words with [[symbols]]. */
  private def wordFreqs(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(T.tokens(col(textCol))).as("w"))
      .where(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .localCheckpoint(eager = true)

  /** The one symbolizer, shared by both learners and [[applyMerges]]:
    * one symbol per Unicode code point, so a surrogate pair is one
    * symbol and a line separator is a symbol of its own — learned
    * merges are over exactly the symbols encode folds. */
  private def symbols(w: String): Array[String] =
    w.codePoints().toArray.map(cp => new String(Character.toChars(cp)))

  /** The round skeleton both learners share: `best` names the round's
    * winning " "-joined pair and its count (None once no pair is
    * left, which stops learning early), `merge` rewrites the vocab. */
  private def learnRounds(spark: SparkSession, numMerges: Int)(
      best: () => Option[(String, Long)])(merge: (String, String) => Unit): DataFrame = {
    import spark.implicits._
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var next = if (numMerges >= 1) best() else None
    while (next.isDefined) {
      val (pairStr, n) = next.get
      val sp = pairStr.indexOf(' ') // symbols never contain spaces (whitespace tokens)
      val (lS, rS) = (pairStr.substring(0, sp), pairStr.substring(sp + 1))
      merges += ((merges.length + 1, lS, rS, n))
      merge(lS, rS)
      next = if (merges.length < numMerges) best() else None
    }
    merges.toSeq.toDF("merge_rank", "lhs", "rhs", "pair_count")
  }

  /** Each round re-counts pairs over the symbolized vocab, collects
    * the best, and re-materializes the rewritten vocab. */
  private def learnDistributed(freqs: DataFrame, numMerges: Int): DataFrame = {
    var vocab = freqs.select(
      udf((w: String) => symbols(w).toSeq).apply(col("w")).as("syms"), col("freq"))
    learnRounds(vocab.sparkSession, numMerges) { () =>
      vocab.where(size(col("syms")) >= 2)
        .select(col("freq"), pairsOf(col("syms")).as("pair"))
        .groupBy("pair").agg(sum(col("freq")).as("n"))
        .orderBy(col("n").desc, col("pair").asc)
        .limit(1)
        .collect()
        .headOption.map(r => (r.getString(0), r.getLong(1)))
    } { (lS, rS) =>
      vocab = vocab
        .select(mergePair(col("syms"), lit(lS), lit(rS)).as("syms"), col("freq"))
        .localCheckpoint(eager = true)
    }
  }

  /** The same rounds over the collected vocab: freq-weighted counts of
    * the " "-joined adjacent pairs, ties broken by the pair string in
    * UTF-8 byte order — the order of Spark's `pair ASC`, which differs
    * from `String.compareTo` above U+FFFF — and [[mergeOnce]] as the
    * rewrite. No Spark job runs. */
  private def learnOnDriver(spark: SparkSession, vocab: Array[Row], numMerges: Int): DataFrame = {
    val words = vocab.map(r => symbols(r.getString(0)))
    val freqs = vocab.map(_.getLong(1))
    learnRounds(spark, numMerges) { () =>
      val counts = scala.collection.mutable.HashMap.empty[String, Long]
      var i = 0
      while (i < words.length) {
        val s = words(i)
        var j = 1
        while (j < s.length) {
          val p = s(j - 1) + " " + s(j)
          counts(p) = counts.getOrElse(p, 0L) + freqs(i)
          j += 1
        }
        i += 1
      }
      if (counts.isEmpty) None
      else {
        val n = counts.valuesIterator.max
        val pair = counts.iterator.collect { case (p, `n`) => UTF8String.fromString(p) }
          .reduce((a, b) => if (a.compareTo(b) <= 0) a else b)
        Some((pair.toString, n))
      }
    } { (lS, rS) =>
      var i = 0
      while (i < words.length) { words(i) = mergeOnce(words(i), lS, rS); i += 1 }
    }
  }

  /** The tokenizer-APPLY step: encode the corpus with a learned merge
    * table ([[learnMerges]] output). Scale shape mirrors learning —
    * the merge fold runs over the DISTINCT-WORD relation
    * (vocab-sized, imperative mapPartitions: a per-word symbol loop
    * is exactly the "genuine per-partition imperative logic" case),
    * and the corpus then pays ONE join from its words to their
    * encodings; 100 TB of text never runs through the fold. The
    * merge table is config-sized by construction (`numMerges` rows),
    * so it collects to the driver and ships in the closure, and the
    * word→encoding join is broadcast-class for real vocabularies.
    * Per word, merges apply in rank order, each as the same
    * left-to-right non-overlapping fold as [[mergePair]] — parity is
    * spec-pinned, and concatenating a word's symbols always
    * reconstructs the word (char mass is merge-invariant).
    */
  def encodeVocab(
      words: DataFrame, wordCol: String, merges: DataFrame): DataFrame = {
    val spark = words.sparkSession
    import spark.implicits._
    val ms: Array[(String, String)] = merges.orderBy("merge_rank")
      .select("lhs", "rhs").collect()
      .map(r => (r.getString(0), r.getString(1)))
    words.select(col(wordCol).cast("string")).distinct().as[String]
      .mapPartitions(it => it.map(w => (w, applyMerges(w, ms))))
      .toDF(wordCol, "syms")
  }

  /** Encode whole documents: (id, token) rows in document order —
    * words explode positionally, encodings join back from the
    * vocab-sized [[encodeVocab]] relation (broadcast), symbols
    * re-explode with a stable (word_pos, sym_pos) order key. The
    * only corpus-sized shuffle is the output's own.
    */
  def encode(
      df: DataFrame, textCol: String, idCol: String,
      merges: DataFrame): DataFrame = {
    val words = df.select(col(idCol),
      posexplode(T.tokens(col(textCol))).as(Seq("word_pos", "w")))
      .where(length(col("w")) > 0)
    val enc = encodeVocab(words.select("w"), "w", merges)
    words.join(broadcast(enc), Seq("w"))
      .select(col(idCol), col("word_pos"),
        posexplode(col("syms")).as(Seq("sym_pos", "token")))
      .select(col(idCol), col("word_pos"), col("sym_pos"), col("token"))
  }

  private[graft] def applyMerges(
      w: String, ms: Array[(String, String)]): Seq[String] = {
    var syms: Array[String] = symbols(w)
    var i = 0
    while (i < ms.length && syms.length >= 2) {
      syms = mergeOnce(syms, ms(i)._1, ms(i)._2)
      i += 1
    }
    syms.toSeq
  }

  /** One merge of (l, r) over a symbol array: the left-to-right
    * non-overlapping fold of [[mergePair]], in Scala. */
  private def mergeOnce(syms: Array[String], l: String, r: String): Array[String] =
    if (syms.length < 2) syms
    else {
      val out = Array.newBuilder[String]
      var pend: String = null
      var j = 0
      while (j < syms.length) {
        val s = syms(j)
        if (pend == null) pend = s
        else if (pend == l && s == r) { out += (l + r); pend = null }
        else { out += pend; pend = s }
        j += 1
      }
      if (pend != null) out += pend
      out.result()
    }
}
