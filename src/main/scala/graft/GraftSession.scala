package graft

import org.apache.spark.sql.SparkSession

import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate

import graft.functions.{AudioMeta, CosineSimilarity, DotProduct, GunzipBytes, GzipBytes, ImageMeta, SimHash64, SimHashBytes, UnzstdBytes, ZstdBytes}

/** Session bootstrap for the graft engine.
  *
  * Registers graft's native Catalyst expressions in the session's
  * function registry so operators can use them via `call_function`
  * (and users via SQL). Idempotent; only operators that name a
  * function in SQL text call [[ensureRegistered]].
  */
object GraftSession {
  import org.apache.spark.sql.catalyst.expressions.Expression

  /** The SQL surface: name → expression builder. One list feeds both
    * registration paths — [[ensureRegistered]] (operators that name one
    * in SQL text self-register into their session) and
    * [[GraftExtensions]] (the `spark.sql.extensions` deployment hook).
    *
    * The bloom pair exposes Spark's runtime-filter expressions, which
    * are not in the public registry, for explicit bloom prefilters
    * (d9, st19, lk29). The agg takes xxhash64(value) longs;
    * might_contain probes the serialized sketch with the same hash.
    */
  private[graft] val sqlFunctions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_gzip" -> ((es: Seq[Expression]) => GzipBytes(es.head)),
    "graft_gunzip" -> ((es: Seq[Expression]) => GunzipBytes(es.head)),
    "graft_zstd" -> ((es: Seq[Expression]) => ZstdBytes(es.head)),
    "graft_unzstd" -> ((es: Seq[Expression]) => UnzstdBytes(es.head)),
    "graft_cosine" -> ((es: Seq[Expression]) => CosineSimilarity(es(0), es(1))),
    "graft_dot" -> ((es: Seq[Expression]) => DotProduct(es(0), es(1))),
    "graft_simhash64" -> ((es: Seq[Expression]) => SimHash64(es.head)),
    "graft_simhash_bytes" -> ((es: Seq[Expression]) => SimHashBytes(es.head)),
    "graft_bloom_agg" -> ((es: Seq[Expression]) => es match {
      case Seq(child) => new BloomFilterAggregate(child)
      case Seq(child, n) => new BloomFilterAggregate(child, n)
      case _ => new BloomFilterAggregate(es(0), es(1), es(2))
    }),
    "graft_might_contain" -> ((es: Seq[Expression]) => BloomFilterMightContain(es(0), es(1))),
    "graft_image_meta" -> ((es: Seq[Expression]) => ImageMeta(es.head)),
    "graft_audio_meta" -> ((es: Seq[Expression]) => AudioMeta(es.head)))

  def ensureRegistered(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    sqlFunctions.foreach { case (name, builder) =>
      reg.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }

  /** FQCN of Spark's RocksDB state store provider (public API,
    * spelled out for runtime `spark.conf.set` scoping too).
    */
  val RocksDbProvider: String =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Local-mode builder with scale-appropriate defaults (AQE on,
    * shuffle partitions sized to cores, UTC) and [[GraftExtensions]].
    *
    * Streaming state stays on Spark's default
    * HDFSBackedStateStoreProvider, which holds every key's state in
    * executor heap: the stateful operators (sessionization
    * st3/st8/st18, stream-stream joins st6/st17, dedup-with-history
    * st13) are memory-bounded by ACTIVE KEYSPACE — at 100 TB / hundreds
    * of millions of live keys that's an OOM, not a tuning problem. Set
    * `spark.sql.streaming.stateStore.providerClass` to
    * [[RocksDbProvider]] (on the builder, or per query through
    * `spark.conf`) to keep state off-heap on local disk with
    * incremental checkpointing.
    */
  def builder(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession.Builder =
    SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // runtime bloom-filter pushdown: shuffle-join probe sides get a
      // bloom filter built from the build side's join keys, pruning
      // fact rows before the shuffle — free selectivity at 100 TB
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      // a long-lived many-query session generates more codegen units
      // than the default 100-entry class cache holds; evictions mean
      // multi-second Janino recompiles of the biggest pipelines
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      // ObjectHashAggregate (every TypedImperativeAggregate: graft_topk,
      // approx sketches, collect_list) falls back to SORT-based
      // aggregation once a partition sees this many distinct keys —
      // default 128, which made the kNN join's partial top-k SORT its
      // 130M scored rows (8 GB spill per pass, measured at sf1)
      // instead of folding them into 20k bounded heaps. The session
      // default is a MODERATE raise, not unlimited: collect_list /
      // collect_set buffers grow without bound, and for them the sort
      // fallback is the spill safety net — 64k growing list buffers
      // per partition is the most this default will hold in memory.
      // Queries whose object-agg buffers are ALL size-bounded (k-entry
      // heaps, fixed-width sketches) should run under
      // [[withBoundedObjectAgg]], which lifts the fallback entirely.
      .config(FallbackKey, "65536")
      .config("spark.ui.enabled", "false")

  private val FallbackKey =
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"

  /** Runs `body` (which should contain the query's ACTION — the conf
    * is read at execution, not DataFrame construction) with the
    * ObjectHashAggregate sort fallback effectively disabled.
    *
    * Safe only when every object-agg buffer the query builds is
    * size-bounded — graft_topk's k-entry heaps, theta/HLL/KLL/
    * frequent-items sketches — so a hash map of millions of them is
    * memory-bounded by construction. Do NOT wrap queries with
    * unbounded collect_list/collect_set buffers over high-cardinality
    * groups: for those the sort fallback is the spill safety net.
    * See [[SparkEntry.boundedObjectAggQueries]] for the query names
    * the bench runs under this scope.
    */
  def withBoundedObjectAgg[T](spark: SparkSession)(body: => T): T = {
    val prev = spark.conf.getOption(FallbackKey)
    spark.conf.set(FallbackKey, "10000000")
    try body
    finally prev match {
      case Some(v) => spark.conf.set(FallbackKey, v)
      case None    => spark.conf.unset(FallbackKey)
    }
  }
}
