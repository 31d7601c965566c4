package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Batch re-expression of the reference's `KinesisLogsReader`
  * iteration (reference: kinesis_logs_reader/kinesis_logs_reader.py:24-106).
  *
  * The reference's control flow — enumerate shards, iterate each
  * shard's records, gunzip + JSON-parse each record, drop
  * CONTROL_MESSAGEs, flatten `logEvents[*].extractedFields`, merge
  * shards until drained — maps onto Spark as: source partitions play
  * the role of shards; the per-record loop is one generator,
  * [[graft.functions.CwlEvents]], which streams the gunzip into the
  * JSON parser, drops non-DATA payloads and emits one row per event,
  * inside whole-stage codegen; the merge is the (order-free) union of
  * partitions. Nothing here shuffles, so the pipeline scales linearly
  * with input size/executors.
  *
  * In a session with [[graft.GraftExtensions]] (every
  * `GraftSession.builder` session) an optimizer rule narrows the
  * generator to the columns the query reads: a typed write of
  * `message` never builds `fields`, a TSV render of `fields` never
  * builds `message`, and `count()` builds neither.
  */
object Reader {

  /** records: any DataFrame with a binary gzipped-CWL-payload column
    * (`dataCol`), one row per Kinesis record. Returns one row per log
    * event: (log_id, timestamp_ms, message, fields: map<string,string>).
    *
    * - `startTimeMs`: AT_TIMESTAMP semantics — only events at/after
    *   this epoch-millis timestamp (reference .py:69-76).
    * - `takeN`: the CLI's `--count` — deterministic first-N ordered by
    *   (timestamp_ms, log_id) (reference __main__.py:20-24).
    * - `permissive`: corrupt gzip records are dropped instead of
    *   failing the job (the reference raises; at 100 TB you want this).
    */
  def readLogs(
      records: DataFrame,
      dataCol: String = "data",
      startTimeMs: Option[Long] = None,
      takeN: Option[Int] = None,
      permissive: Boolean = false): DataFrame = {
    val parsed = records.select(graft.functions.cwlEvents(col(dataCol), permissive))
    val timeFiltered = startTimeMs
      .map(t => parsed.where(col("timestamp_ms") >= lit(t)))
      .getOrElse(parsed)
    takeN
      .map(n => timeFiltered.orderBy(col("timestamp_ms"), col("log_id")).limit(n))
      .getOrElse(timeFiltered)
  }
}
