package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.ParquetLake

/** The protocol of the index-gated lake ingest family — lk41
  * [[Dedup.indexedIngest]], lk42 [[Dedup.nearDupIngest]], lk44
  * [[Dedup.lineGatedIngest]], lk43 `BinaryOps.chunkGatedIngest`, lk46
  * `BinaryOps.frameGatedIngest`, lk47 [[Similarity.embedGatedIngest]];
  * streamed as st35/st36/st38/st40/st43. Each gate keeps a DATA lake
  * and an INDEX lake of the data's fingerprints, and owns only its
  * decision (its fingerprint relation and reject rule); this object
  * owns the rest: [[seed]], the run and commit tail [[ingest]], and
  * lk42/lk47's [[nearDecision]]. The contract every gate inherits:
  *
  *   - SINGLE INGEST WRITER per index: two ingests racing one index
  *     can both read it before either commits and both admit one new
  *     fingerprint (the lake CAS serializes commits, not admission
  *     reads). A streaming sink (`LogStream.startBatchSink`) is serial;
  *     a duplicate admitted through a torn window is left to a batch
  *     dedup pass (d1/d19).
  *   - DATA THEN INDEX: admitted rows publish to the data lake, then
  *     their index rows to the index lake, one staged-append commit
  *     each under one stage name. A crash between the two commits can
  *     admit a future duplicate, never lose a row.
  *   - REPLAY: a fully landed batch re-gates to zero admits (every row
  *     it landed is in the index it extended), and an ingest that
  *     admits nothing commits nothing and reports versions (0, 0).
  *   - REDELIVERY: rows equal on (id, gated payload) are one delivery.
  *     The first copy goes through the gate; each extra copy counts in
  *     its first copy's bucket when that is rejected, and in the gate's
  *     intra (contained, dropped-empty) bucket when it is admitted — so
  *     no id lands twice from one delivery and a report's buckets sum
  *     to the increment's row count.
  */
private[graft] object IndexGate {

  /** Seed an index lake from `rows` (the corpus's fingerprint
    * relation): refuses an existing index, commits version 1.
    */
  def seed(spark: SparkSession, indexPath: String, rows: DataFrame): Int = {
    rows.write.mode("errorifexists").parquet(indexPath)
    ParquetLake.snapshotManifest(spark, indexPath)
  }

  /** A gate's decision over the collapsed increment: the admitted
    * rows (extra columns are dropped before they land), the index rows
    * of the checkpointed admitted rows, the rows of the gate's first
    * rejection bucket when it has two, and relations to count.
    */
  final case class Decision(
      admitted: DataFrame,
      indexRows: DataFrame => DataFrame,
      rejected: Option[DataFrame] = None,
      tallies: Seq[DataFrame] = Nil)

  /** What one ingest did: `rowsIn`, `rejected` and [[rest]] count
    * redelivered copies too; `tallies` are the decision's counts.
    */
  final case class Outcome(
      rowsIn: Long, admitted: Long, rejected: Long, tallies: Seq[Long],
      dataVersion: Int, indexVersion: Int) {
    /** The gate's last bucket: rows neither admitted nor rejected. */
    def rest: Long = rowsIn - admitted - rejected
  }

  /** Each delivery's copy count, carried on its collapsed row. */
  private val Copies = "_graft_copies"

  /** The run and commit tail: collapse the increment's redeliveries,
    * checkpoint it, read the index and `decide`, checkpoint and count
    * the admitted rows, then publish the data, then the index, under
    * one stage name (nothing when none were admitted).
    */
  def ingest(
      spark: SparkSession, dataPath: String, indexPath: String, stagePrefix: String,
      increment: DataFrame, idCol: String, payloadCol: String)(
      decide: (DataFrame, DataFrame) => Decision): Outcome = {
    val delivery = Window.partitionBy(col(idCol), col(payloadCol))
    val inc = increment
      .withColumn(Copies, count(lit(1)).over(delivery))
      .withColumn("_graft_copy", row_number().over(delivery.orderBy(col(idCol))))
      .where(col("_graft_copy") === 1)
      .drop("_graft_copy")
      .localCheckpoint(eager = true) // feeds the decision and every count
    val d = decide(inc, ParquetLake.readManifested(spark, indexPath))
    val admitted = d.admitted.localCheckpoint(eager = true) // counted + both appends
    val nAdmit = admitted.count()
    def rows(df: DataFrame): Long = df.agg(coalesce(sum(Copies), lit(0L))).head().getLong(0)
    val (rowsIn, rejected) = (rows(inc), d.rejected.fold(0L)(rows))
    val tallies = d.tallies.map(_.count())
    val (dataVersion, indexVersion) =
      if (nAdmit == 0) (0, 0)
      else {
        val stage = s"${stagePrefix}_${java.util.UUID.randomUUID().toString.take(8)}"
        ParquetLake.stageAppend(spark, dataPath,
          admitted.drop(admitted.columns.filterNot(increment.columns.toSet): _*), stage)
        val dataVersion = ParquetLake.publishStaged(spark, dataPath, stage)
        ParquetLake.stageAppend(spark, indexPath, d.indexRows(admitted), stage)
        (dataVersion, ParquetLake.publishStaged(spark, indexPath, stage))
      }
    Outcome(rowsIn, nAdmit, rejected, tallies, dataVersion, indexVersion)
  }

  /** The near-gate tail of lk42/lk47: `corpusNear` (the `idCol` ids
    * near an indexed row) take priority over `intraLosers` (the ids
    * losing to a near-dup within the increment); admitted = increment
    * − corpus-near − intra losers, so admitted, corpus-near (the first
    * rejection bucket) and intra-near ([[Outcome.rest]]) are disjoint.
    */
  def nearDecision(
      inc: DataFrame, idCol: String, corpusNear: DataFrame, intraLosers: DataFrame,
      indexRows: DataFrame => DataFrame): Decision = {
    val near = corpusNear.localCheckpoint(eager = true) // feeds the admit and the count
    Decision(
      admitted = inc.join(near, Seq(idCol), "left_anti").join(intraLosers, Seq(idCol), "left_anti"),
      indexRows = indexRows,
      rejected = Some(inc.join(near, Seq(idCol), "left_semi")))
  }
}
