package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions => T}

/** Byte-pair-encoding merge learning (Sennrich et al. 2016) — the
  * tokenizer-fitting step of a training-data pipeline, as an
  * iterative DataFrame computation.
  *
  * Scale shape: the corpus is touched ONCE (tokens → word-frequency
  * aggregate); every merge round after that runs on the
  * WORD-FREQUENCY relation, whose size is the vocabulary — millions
  * of rows at 100 TB, not the corpus.
  *
  * Each round re-counts adjacent pairs with one vocab-sized explode +
  * groupBy and rewrites the whole symbolized vocab, then
  * re-materializes it (eager localCheckpoint) so lineage doesn't
  * compound, exactly like [[Similarity.kmeansCentroids]]. Rounds
  * recount rather than patch a persistent (pair, n) relation with
  * ±freq deltas from only the touched words: the delta design
  * measured 3–4× slower at every schedule tried — 32.8 s vs 10.1 s
  * at 64 merges on sf0.1 (BENCH_NOTES_r10.md), 86.9 s vs 20.0 s at
  * 300 and 100.8 s vs 25.5 s at 1000 on sf0.01 (BENCH_NOTES_r11.md).
  * Early merges are single-character pairs that occur in nearly
  * every word, so the touched slice is the vocab, and each delta
  * round's fixed costs (touch-guard scan, union + counts groupBy, a
  * second checkpoint) outweigh one recount.
  *
  * Determinism: the best pair maximizes (count, then lexicographic
  * (left, right) ASCENDING as the tie-break) — no RNG, no
  * partitioning sensitivity, so the learned merge table is
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
    * contributing automatically (no pairs).
    */
  def learnMerges(df: DataFrame, textCol: String, numMerges: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // the ONLY corpus-wide pass: word frequencies
    var vocab = df
      .select(explode(T.tokens(col(textCol))).as("w"))
      .where(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("freq"))
      // char symbolization: split strictly BETWEEN characters — the
      // (?=.) guard stops the lookahead matching at end-of-string,
      // which under Spark's limit=-1 split would append a trailing
      // empty symbol (and "" would then enter the pair counts)
      .select(split(col("w"), "(?!^)(?=.)").as("syms"), col("freq"))
      .localCheckpoint(eager = true)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var rank = 1
    while (rank <= numMerges) {
      val best = vocab.where(size(col("syms")) >= 2)
        .select(col("freq"), pairsOf(col("syms")).as("pair"))
        .groupBy("pair").agg(sum(col("freq")).as("n"))
        .orderBy(col("n").desc, col("pair").asc)
        .limit(1)
        .collect()
      if (best.isEmpty) rank = numMerges + 1
      else {
        val pairStr = best(0).getString(0)
        val n = best(0).getLong(1)
        val sp = pairStr.indexOf(' ') // symbols never contain spaces (whitespace tokens)
        val (lS, rS) = (pairStr.substring(0, sp), pairStr.substring(sp + 1))
        merges += ((rank, lS, rS, n))
        vocab = vocab
          .select(mergePair(col("syms"), lit(lS), lit(rS)).as("syms"), col("freq"))
          .localCheckpoint(eager = true)
        rank += 1
      }
    }
    merges.toSeq.toDF("merge_rank", "lhs", "rhs", "pair_count")
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
    var syms: Array[String] = w.map(_.toString).toArray
    var i = 0
    while (i < ms.length && syms.length >= 2) {
      val l = ms(i)._1; val r = ms(i)._2
      // left-to-right non-overlapping fold, identical to mergePair
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
      syms = out.result()
      i += 1
    }
    syms.toSeq
  }
}
