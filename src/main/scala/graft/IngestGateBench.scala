package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev tool (Headroom's ingest-side sibling): measures the
  * index-gated ingest family's GATE cost against corpora 100× apart,
  * the way lk41's flat-cost claim was established in r11 — because
  * the whole point of the persisted indexes (lk42 band keys, lk43
  * chunk fingerprints, lk46 frame hashes) is that admitting a fixed
  * increment costs O(increment + index membership), never a corpus
  * rescan, and that contract deserves a measurement, not a comment.
  *
  * Protocol per (gate, scale): fresh lake+index dirs; `init` seeds
  * the index from the corpus (expected ∝ corpus — the one-time cost);
  * `pass1` ingests a FIXED-SIZE increment (half re-crawls of corpus
  * content, half fresh — both legs exercised); `replay` re-ingests
  * the same increment (all reject/scrub — the warm, steady-state gate
  * number, matching r11's lk41 protocol). FLAT replay_sec across the
  * 1×/10×/100× corpora is the pass criterion; init_sec is reported so
  * linear seeding cost is visible, not hidden.
  *
  * Args: outFile docsDir1 docsDir2 [docsDir3 ...]
  * (documents corpora, e.g. sf0.01 sf0.1 tmp/sf1 = 500/5k/50k docs)
  */
object IngestGateBench {

  private def time[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val outFile = args(0)
    val dirs = args.drop(1).toSeq
    val spark = Bench.session(32)
    import spark.implicits._

    def docs(dir: String): DataFrame =
      graft.queries.table(spark, dir, "documents").select("doc_id", "text")

    def tmp(tag: String): String =
      Files.createTempDirectory(s"graft_gatebench_$tag").toString + "/t"

    // fresh content shared by every scale: deterministic digest words
    // (aperiodic — the st36 CDC lesson), ids far above any corpus id
    def freshDocs(n: Int): DataFrame =
      spark.range(n).map { i =>
        val t = (0 until 40).map { j =>
          java.security.MessageDigest.getInstance("MD5")
            .digest(s"gate-$i-$j".getBytes("UTF-8"))
            .take(4).map(b => f"$b%02x").mkString
        }.mkString(" ")
        (9000000000L + i, t)
      }.toDF("doc_id", "text")

    final case class Cell(
        label: String, nCorpus: Long, initSec: Double,
        pass1Sec: Double, replaySec: Double)

    // one gate at one scale: `corpus` becomes the data lake and
    // `seed(idx, corpus)` builds the index over it in fresh dirs
    // (init); `ingest(data, idx)`
    // admits the fixed increment and returns its `admitted` count —
    // once as pass1, then as the replays, which must admit nothing
    def cell(label: String, corpus: DataFrame)(seed: (String, DataFrame) => Unit)(
        ingest: (String, String) => Long): Cell = {
      val n = corpus.count()
      val (data, idx) = (tmp(s"${label}_data"), tmp(s"${label}_idx"))
      val (_, initSec) = time {
        corpus.write.parquet(data)
        graft.sources.ParquetLake.snapshotManifest(spark, data)
        seed(idx, corpus)
      }
      val (_, p1) = time(ingest(data, idx))
      // min of 3 replays: the steady-state gate number is the claim,
      // and a single sample at the 100x cell caught block-manager/
      // IO noise from the just-checkpointed corpus (r14: 3.45s one-
      // shot vs 0.8s steady on the same lake)
      val replay = (1 to 3).map { _ =>
        val (admitted, t) = time(ingest(data, idx))
        require(admitted == 0L, s"$label replay admitted $admitted")
        t
      }.min
      Cell(label, n, initSec, p1, replay)
    }

    // one warmed measurement per gate per scale; the increment is the
    // same SIZE everywhere (200 docs / 100 clips)
    def runGate(gate: String, dir: String): Cell = {
      val corpus = docs(dir).localCheckpoint(eager = true)
      val recrawl = corpus.orderBy("doc_id").limit(100)
        .select((col("doc_id") + 8000000000L).as("doc_id"), col("text"))
      val increment = recrawl.unionByName(freshDocs(100))
        .localCheckpoint(eager = true)
      gate match {
        case "lk42_neardup" =>
          cell(gate, corpus)(
            graft.operators.Dedup.nearDupIndexInit(spark, _, _, "text", "doc_id")) {
            (data, idx) => graft.operators.Dedup.nearDupIngest(
              spark, data, idx, increment, "text", "doc_id").admitted
          }
        case "lk43_chunk" =>
          val bin = (df: DataFrame) =>
            df.select(col("doc_id"), col("text").cast("binary").as("payload"))
          // doc texts are ~300 chars: chunk at the m7 spec grain so
          // each doc yields several chunks
          val (minLen, maskBits, maxLen) = (16, 4, 256)
          cell(gate, bin(corpus))(graft.multimodal.BinaryOps.chunkIndexInit(
            spark, _, _, "payload", "doc_id", minLen, maskBits, maxLen)) {
            (data, idx) => graft.multimodal.BinaryOps.chunkGatedIngest(
              spark, data, idx, bin(increment), "payload", "doc_id",
              maxContainment = 0.5, minLen, maskBits, maxLen).admitted
          }
        case "lk46_frame" =>
          def gifs(ids: DataFrame, seedBase: Long) = {
            val specs = ids.select("doc_id").as[Long]
              .map(id => (id, 16, 16,
                Array(seedBase + id * 3, seedBase + id * 3 + 1, seedBase + id * 3 + 2)))
            graft.multimodal.BinaryOps.renderAnimatedGifs(specs)
              .toDF("blob_id", "payload")
          }
          val gifCorpus = gifs(corpus, 0L).localCheckpoint(eager = true)
          // 50 re-uploads of corpus footage (same seeds as the lowest
          // 50 doc_ids, new blob ids → reject by frame containment) +
          // 50 fresh clips (disjoint seed space → admit)
          val low50 = corpus.orderBy("doc_id").limit(50)
          val gifIncrement = gifs(low50, 0L)
            .withColumn("blob_id", col("blob_id") + 8000000000L)
            .unionByName(gifs(freshDocs(50), 7000000000L))
            .localCheckpoint(eager = true)
          cell(gate, gifCorpus)(graft.multimodal.BinaryOps.frameIndexInit(
            spark, _, _, "payload", "blob_id")) {
            (data, idx) => graft.multimodal.BinaryOps.frameGatedIngest(
              spark, data, idx, gifIncrement, "payload", "blob_id", maxContainment = 0.5).admitted
          }
        case "lk47_embed" =>
          val emb = graft.queries.table(spark, dir, "embeddings")
            .select("vec_id", "embedding").localCheckpoint(eager = true)
          // 100 re-uploads of corpus vectors (new ids, Hamming 0 to
          // their originals → reject) + 100 fresh murmur-mixed ±1
          // patterns (sign bits iid uniform, so distance to ANY fixed
          // signature is Binomial(64, ½) — far from everything → admit)
          val reup = emb.orderBy("vec_id").limit(100)
            .select((col("vec_id") + 8000000000L).as("vec_id"), col("embedding"))
          val freshVecs = spark.range(100).map { i =>
            val v = (0 until 64).map { j =>
              var x = (9000000000L + i) * 0x9E3779B97F4A7C15L + j * 0xC2B2AE3D27D4EB4FL
              x ^= (x >>> 33); x *= 0xFF51AFD7ED558CCDL; x ^= (x >>> 33)
              if ((x & 1L) == 1L) 1.0f else -1.0f
            }
            (9000000000L + i, v)
          }.toDF("vec_id", "embedding")
          val vecIncrement = reup.unionByName(freshVecs).localCheckpoint(eager = true)
          cell(gate, emb)(graft.operators.Similarity.embedIndexInit(
            spark, _, _, "embedding", "vec_id")) {
            (data, idx) => graft.operators.Similarity.embedGatedIngest(
              spark, data, idx, vecIncrement, "embedding", "vec_id").admitted
          }
      }
    }

    // SPARK_GRAFT_GATES narrows the gate list for diagnosis
    val gates = sys.env.get("SPARK_GRAFT_GATES").map(_.split(',').toSeq)
      .getOrElse(Seq("lk42_neardup", "lk43_chunk", "lk46_frame", "lk47_embed"))
    // JVM/codegen warm: full smallest-scale sweep, results discarded
    gates.foreach(g => runGate(g, dirs.head))
    BlockHygiene.freeBlocks(spark, gc = true)
    val cells = for (g <- gates; d <- dirs) yield {
      val c = runGate(g, d)
      // gc=true: unlike the query bench (where a full GC's heap
      // uncommit skews the NEXT query), each gate cell re-warms with
      // init+pass1 before its timed replays — and without the GC the
      // ContextCleaner never reaps prior cells' shuffle/broadcast
      // state in this checkpoint-heavy harness
      BlockHygiene.freeBlocks(spark, gc = true)
      System.err.println(f"GATE ${c.label} corpus=${c.nCorpus} init=${c.initSec}%.2f " +
        f"pass1=${c.pass1Sec}%.2f replay=${c.replaySec}%.2f")
      c
    }
    val json = cells.map { c =>
      f"""{"gate":"${c.label}","corpus_docs":${c.nCorpus},"init_sec":${c.initSec}%.3f,""" +
        f""""pass1_sec":${c.pass1Sec}%.3f,"replay_sec":${c.replaySec}%.3f}"""
    }.mkString(
      s"""{"protocol":"fixed 200-doc/100-clip/200-vector increment vs growing corpus (docs 1x/10x/100x, vectors 1x/4x/40x); replay = min of 3 warm passes","cells":[""",
      ",", "]}")
    Files.writeString(Paths.get(outFile), json + "\n")
    println(s"GATEBENCH_DONE $outFile")
    spark.stop()
  }
}
