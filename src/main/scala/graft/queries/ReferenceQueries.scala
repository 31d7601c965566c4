package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{CwlEvents, cwlFate, graft_gzip}
import graft.operators.{Reader, Tsv}
import graft.sources.{CloudWatchLogs, FlowLogs}

/** §2.1 — the reference's own surface, re-expressed Spark-first.
  *
  * Kinesis isn't reachable in this environment, so each query
  * deterministically roundtrips the `events` table through real
  * gzipped CWL payloads (built with [[CloudWatchLogs.encodePayload]])
  * and then runs the genuine read pipeline on them. The oracle can
  * therefore verify the whole decompress/parse/flatten chain against
  * a plain SQL projection of `events`.
  */
object ReferenceQueries {

  private val eventFields: Column = map(
    lit("event_id"), col("event_id").cast("string"),
    lit("user_id"), col("user_id").cast("string"),
    lit("event_type"), col("event_type"),
    lit("value"), col("value").cast("string"))

  /** events → per-"shard" gzipped CWL payloads (shard_id, chunk, data).
    * `messageTypeOf` maps the shard id to the payload's messageType (r3
    * and r8 use it to plant CONTROL_MESSAGEs the reader must drop).
    */
  private def payloadsFromEvents(
      events: DataFrame,
      shards: Int = 8,
      messageTypeOf: Column => Column = _ => lit(CloudWatchLogs.DataMessage)): DataFrame = {
    // chunk within each shard: real Kinesis records carry ~KBs of
    // events, not a whole shard — and the per-record gzip then fans
    // across all cores instead of `shards` tasks
    events
      .select(
        pmod(col("user_id"), lit(shards)).as("shard_id"),
        expr("event_id div 500").as("chunk"),
        struct(
          col("event_id").cast("string").as("id"),
          col("ts_ms").as("timestamp"),
          concat_ws(" ", col("event_id"), col("event_type"), col("value")).as("message"),
          eventFields.as("extractedFields")
        ).as("logEvent"))
      .groupBy("shard_id", "chunk")
      .agg(collect_list(col("logEvent")).as("logEvents"))
      .select(
        col("shard_id"), col("chunk"),
        CloudWatchLogs.encodePayload(messageTypeOf(col("shard_id")), col("logEvents")).as("data"))
  }

  /** Flattened reader output → typed event columns (sorted). */
  private def typedFields(flat: DataFrame): DataFrame =
    flat.select(
      col("fields")("event_id").cast("long").as("event_id"),
      col("timestamp_ms").as("ts_ms"),
      col("fields")("user_id").cast("long").as("user_id"),
      col("fields")("event_type").as("event_type"),
      round(col("fields")("value").cast("double"), 2).as("value"))

  // ---- r1: the whole reader pipeline, roundtripped --------------------
  val r1CwlParse: Q = (s, dir) =>
    typedFields(Reader.readLogs(payloadsFromEvents(events(s, dir)))).orderBy("event_id")

  // ---- r2: typed VPC flow-log extraction ------------------------------
  // Deterministic flow-log lines synthesized from events; event_type
  // 'error' plays the NODATA role ('-' flow fields → typed NULLs).
  val r2FlowlogTyped: Q = (s, dir) => {
    val nd = col("event_type") === "error"
    def d(c: Column): Column = when(nd, lit("-")).otherwise(c.cast("string"))
    val line = concat_ws(" ",
      lit(2).cast("string"),
      col("user_id").cast("string"),
      concat(lit("eni-"), col("event_id")),
      d(concat(lit("192.0.2."), pmod(col("event_id"), lit(256)))),
      d(concat(lit("198.51.100."), pmod(col("user_id"), lit(256)))),
      d(pmod(col("event_id"), lit(65536))),
      d(pmod(col("event_id") * 7, lit(65536))),
      d(when(col("event_type").isin("click", "view"), 6).otherwise(17)),
      d(floor(col("value"))),
      d(floor(col("value") * 100)),
      d(expr("ts_ms div 1000")),
      d(expr("ts_ms div 1000") + pmod(col("event_id"), lit(300))),
      d(when(col("value") > 50, "ACCEPT").otherwise("REJECT")),
      when(nd, lit("NODATA")).otherwise(lit("OK")))
    events(s, dir)
      .select(col("event_id"), FlowLogs.parseLine(line).as("f"))
      .select(col("event_id"), col("f.*"))
      .orderBy("event_id")
  }

  // ---- r3: CONTROL_MESSAGE filtering ----------------------------------
  val r3ControlFilter: Q = (s, dir) => {
    val payloads = payloadsFromEvents(events(s, dir), shards = 10,
      messageTypeOf = shard => when(shard.isin(3, 7), CloudWatchLogs.ControlMessage)
        .otherwise(CloudWatchLogs.DataMessage))
    Reader.readLogs(payloads)
      .groupBy(col("fields")("event_type").as("event_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy("event_type")
  }

  // ---- r4: multi-shard merge, exactly-once ----------------------------
  // Shards deliver chunked records; the same records are re-delivered
  // (union) and the merge dedupes by log id — the reference's
  // "iterate all shards until drained, each event once" contract.
  val r4ShardMerge: Q = (s, dir) => {
    val recs = events(s, dir)
      .select(
        pmod(col("user_id"), lit(4)).as("shard_id"),
        expr("event_id div 250").as("chunk"),
        struct(
          col("event_id").cast("string").as("id"),
          col("ts_ms").as("timestamp"),
          lit("").as("message"),
          map(
            lit("event_id"), col("event_id").cast("string"),
            lit("shard_id"), pmod(col("user_id"), lit(4)).cast("string")
          ).as("extractedFields")).as("logEvent"))
      .groupBy("shard_id", "chunk")
      .agg(collect_list("logEvent").as("logEvents"))
      .select(CloudWatchLogs.encodePayload(
        lit(CloudWatchLogs.DataMessage), col("logEvents")).as("data"))
    Reader.readLogs(recs.unionAll(recs))
      .dropDuplicates("log_id")
      .select(
        col("fields")("shard_id").cast("long").as("shard_id"),
        col("fields")("event_id").cast("long").as("event_id"))
      .groupBy("shard_id")
      .agg(
        count(lit(1)).as("n_events"),
        min("event_id").as("min_event_id"),
        max("event_id").as("max_event_id"))
      .orderBy("shard_id")
  }

  // ---- r5: CLI TSV rendering ------------------------------------------
  val r5TsvFormat: Q = (s, dir) =>
    Tsv.render(Reader.readLogs(payloadsFromEvents(events(s, dir)))).orderBy("line")

  // ---- r6: AT_TIMESTAMP start-time ------------------------------------
  private val CutoffMs = 1705276800000L // 2024-01-15 00:00:00 UTC

  val r6StartTime: Q = (s, dir) =>
    Reader.readLogs(payloadsFromEvents(events(s, dir)), startTimeMs = Some(CutoffMs))
      .select(
        col("fields")("event_id").cast("long").as("event_id"),
        col("timestamp_ms").as("ts_ms"),
        col("fields")("event_type").as("event_type"))
      .orderBy("event_id")

  // ---- r7: --count (deterministic first-N) ----------------------------
  val r7TakeN: Q = (s, dir) =>
    Reader.readLogs(payloadsFromEvents(events(s, dir)), takeN = Some(100))
      .select(
        col("fields")("event_id").cast("long").as("event_id"),
        col("timestamp_ms").as("ts_ms"))
      .orderBy("event_id")

  // ---- r8: permissive-ingest accounting -------------------------------
  // The reference silently skips nothing (a corrupt record raises);
  // permissive mode drops corrupt payloads — at 100 TB some records
  // are ALWAYS bad, and an ops pipeline needs the drop METRICS, not a
  // silent shrink. Corruption is planted by chunk arithmetic
  // (truncated gzip / gzip of non-JSON / CONTROL shard), so the
  // DuckDB oracle predicts every class count from the same
  // construction rules while Spark must EARN them through real
  // decompression and parsing: `cwlFate` classifies each payload once,
  // through the same decode `Reader.readLogs` runs.
  val r8IngestReport: Q = (s, dir) => {
    import CwlEvents.{BadJson, Control, CorruptGzip, Data}
    val payloads = payloadsFromEvents(events(s, dir), messageTypeOf = shard =>
      when(shard === 7, lit(CloudWatchLogs.ControlMessage)).otherwise(lit(CloudWatchLogs.DataMessage)))
    val planted = when(pmod(col("chunk"), lit(7)) === 3, substring(col("data"), 1, 10))
      .when(pmod(col("chunk"), lit(7)) === 5, graft_gzip(lit("definitely not json").cast("binary")))
      .otherwise(col("data"))
    def n(fate: Int): Column = sum(when(col("f.fate") === fate, 1L).otherwise(0L))
    payloads.select(cwlFate(planted).as("f")).agg(
      count(lit(1)).as("n_payloads"),
      n(CorruptGzip).as("n_corrupt_gzip"),
      n(BadJson).as("n_bad_json"),
      n(Control).as("n_control"),
      n(Data).as("n_ok_data"),
      sum(when(col("f.fate") === Data, col("f.events")).otherwise(0L)).as("n_events_ok"))
  }

  val queries: Map[String, Q] = Map(
    "r8_ingest_report" -> r8IngestReport,
    "r1_cwl_parse" -> r1CwlParse,
    "r2_flowlog_typed" -> r2FlowlogTyped,
    "r3_control_filter" -> r3ControlFilter,
    "r4_shard_merge" -> r4ShardMerge,
    "r5_tsv_format" -> r5TsvFormat,
    "r6_start_time" -> r6StartTime,
    "r7_take_n" -> r7TakeN)

  val oracleSql: Map[String, String] = Map(
    // pure construction arithmetic: the class of each (shard, chunk)
    // payload is decided by the planting rules, so the oracle counts
    // groups while Spark must classify via real gunzip + JSON parse
    "r8_ingest_report" ->
      """WITH g AS (
        |  SELECT user_id % 8 AS shard_id, event_id // 500 AS chunk, count(*) AS n
        |  FROM events GROUP BY 1, 2
        |), cls AS (
        |  SELECT shard_id, chunk, n,
        |  CASE WHEN chunk % 7 = 3 THEN 'corrupt'
        |       WHEN chunk % 7 = 5 THEN 'badjson'
        |       WHEN shard_id = 7 THEN 'control'
        |       ELSE 'data' END AS c
        |  FROM g
        |)
        |SELECT count(*) AS n_payloads,
        |sum(CASE WHEN c = 'corrupt' THEN 1 ELSE 0 END)::BIGINT AS n_corrupt_gzip,
        |sum(CASE WHEN c = 'badjson' THEN 1 ELSE 0 END)::BIGINT AS n_bad_json,
        |sum(CASE WHEN c = 'control' THEN 1 ELSE 0 END)::BIGINT AS n_control,
        |sum(CASE WHEN c = 'data' THEN 1 ELSE 0 END)::BIGINT AS n_ok_data,
        |sum(CASE WHEN c = 'data' THEN n ELSE 0 END)::BIGINT AS n_events_ok
        |FROM cls""".stripMargin,
    "r1_cwl_parse" ->
      """SELECT event_id, epoch_ms(ts::TIMESTAMP) AS ts_ms, user_id, event_type,
        |round(value, 2) AS value FROM events ORDER BY event_id""".stripMargin,
    "r2_flowlog_typed" ->
      """SELECT event_id,
        |2 AS version,
        |user_id AS account_id,
        |'eni-' || event_id AS interface_id,
        |CASE WHEN event_type='error' THEN NULL ELSE '192.0.2.' || (event_id % 256) END AS srcaddr,
        |CASE WHEN event_type='error' THEN NULL ELSE '198.51.100.' || (user_id % 256) END AS dstaddr,
        |CASE WHEN event_type='error' THEN NULL ELSE (event_id % 65536)::INT END AS srcport,
        |CASE WHEN event_type='error' THEN NULL ELSE ((event_id*7) % 65536)::INT END AS dstport,
        |CASE WHEN event_type='error' THEN NULL ELSE (CASE WHEN event_type IN ('click','view') THEN 6 ELSE 17 END)::INT END AS protocol,
        |CASE WHEN event_type='error' THEN NULL ELSE floor(value)::BIGINT END AS packets,
        |CASE WHEN event_type='error' THEN NULL ELSE floor(value*100)::BIGINT END AS bytes,
        |CASE WHEN event_type='error' THEN NULL ELSE epoch_ms(ts::TIMESTAMP) // 1000 END AS f_start,
        |CASE WHEN event_type='error' THEN NULL ELSE (epoch_ms(ts::TIMESTAMP) // 1000) + (event_id % 300) END AS f_end,
        |CASE WHEN event_type='error' THEN NULL ELSE (CASE WHEN value > 50 THEN 'ACCEPT' ELSE 'REJECT' END) END AS action,
        |CASE WHEN event_type='error' THEN 'NODATA' ELSE 'OK' END AS log_status
        |FROM events ORDER BY event_id""".stripMargin,
    "r3_control_filter" ->
      """SELECT event_type, count(*) AS n FROM events
        |WHERE (user_id % 10) NOT IN (3, 7)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "r4_shard_merge" ->
      """SELECT (user_id % 4) AS shard_id, count(*) AS n_events,
        |min(event_id) AS min_event_id, max(event_id) AS max_event_id
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "r5_tsv_format" ->
      """SELECT line FROM (
        |  SELECT concat_ws(chr(9), 'event_id', 'event_type', 'user_id', 'value') AS line
        |  UNION ALL
        |  SELECT concat_ws(chr(9), event_id::VARCHAR, event_type, user_id::VARCHAR, value::VARCHAR) FROM events
        |) ORDER BY line""".stripMargin,
    "r6_start_time" ->
      """SELECT event_id, epoch_ms(ts::TIMESTAMP) AS ts_ms, event_type FROM events
        |WHERE epoch_ms(ts::TIMESTAMP) >= 1705276800000 ORDER BY event_id""".stripMargin,
    "r7_take_n" ->
      """SELECT event_id, ts_ms FROM (
        |  SELECT event_id, epoch_ms(ts::TIMESTAMP) AS ts_ms FROM events
        |  ORDER BY epoch_ms(ts::TIMESTAMP), event_id::VARCHAR LIMIT 100
        |) ORDER BY event_id""".stripMargin)
}
