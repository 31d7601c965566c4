package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.graft_gzip

/** CloudWatch Logs subscription payload model.
  *
  * A Kinesis record delivered by a CWL subscription carries a gzipped
  * JSON document: `{messageType, owner, logGroup, logStream,
  * subscriptionFilters, logEvents:[{id, timestamp, message,
  * extractedFields}]}`. The reference consumes exactly this shape
  * (reference: kinesis_logs_reader/kinesis_logs_reader.py:88-97,
  * tests/test_kinesis_logs_reader.py:36-46).
  *
  * Decoding lives in [[graft.functions.CwlEvents]]: one generator that
  * gunzips, parses, drops non-DATA payloads and explodes `logEvents`.
  * It falls back to `from_json(gunzip(data).cast("string"),
  * payloadSchema)` for any record its fast path does not accept, so
  * [[payloadSchema]] defines what a payload decodes to. r8's ingest
  * report classifies records through the same decode ([[graft.functions.CwlFate]]).
  */
object CloudWatchLogs {
  val DataMessage = "DATA_MESSAGE"
  val ControlMessage = "CONTROL_MESSAGE"

  val logEventSchema: StructType = StructType(Seq(
    StructField("id", StringType),
    StructField("timestamp", LongType), // epoch millis
    StructField("message", StringType),
    StructField("extractedFields", MapType(StringType, StringType))))

  val payloadSchema: StructType = StructType(Seq(
    StructField("messageType", StringType),
    StructField("owner", StringType),
    StructField("logGroup", StringType),
    StructField("logStream", StringType),
    StructField("subscriptionFilters", ArrayType(StringType)),
    StructField("logEvents", ArrayType(logEventSchema))))

  /** Build a payload struct (for tests / roundtrips / sinks); the
    * inverse of [[graft.functions.CwlEvents]]. Mirrors the reference test
    * fixtures' `_data_message` (tests/test_kinesis_logs_reader.py:36-42).
    */
  def encodePayload(messageType: Column, logEvents: Column): Column =
    graft_gzip(
      to_json(struct(
        messageType.as("messageType"),
        logEvents.as("logEvents"))).cast("binary"))
}
