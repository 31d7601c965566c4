package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.{Reader, Tsv}
import graft.sources.CloudWatchLogs

/** Behavior parity with the reference's reader tests
  * (tests/test_kinesis_logs_reader.py:130-178): two shards, a control
  * message that must be dropped, all events surfaced exactly once;
  * plus start-time and --count semantics.
  */
class ReaderSpec extends SparkSpec {
  import spark.implicits._

  /** Mirror of the reference's GET_RECORDS fixture: shard-0001 carries
    * a CONTROL_MESSAGE and events 0,1 then 2,3; shard-0002 carries 4,5.
    */
  private lazy val fixtureRecords = {
    def dataMsg(ids: Seq[Int]) = (CloudWatchLogs.DataMessage, ids)
    val recs = Seq(
      ("shard-0001", CloudWatchLogs.ControlMessage, Seq.empty[Int]),
      ("shard-0001", dataMsg(Seq(0, 1))._1, Seq(0, 1)),
      ("shard-0001", dataMsg(Seq(2, 3))._1, Seq(2, 3)),
      ("shard-0002", dataMsg(Seq(4, 5))._1, Seq(4, 5)))
    recs.toDF("shard", "mt", "ids")
      .select($"shard", CloudWatchLogs.encodePayload($"mt",
        transform($"ids", i => struct(
          i.cast("string").as("id"),
          (lit(1463236035000L) + i * 1000L).as("timestamp"),
          lit("").as("message"),
          map(
            lit("srcaddr"), lit("192.0.2.1"),
            lit("srcport"), i.cast("string"),
            lit("dstaddr"), lit("198.51.100.1"),
            lit("dstport"), lit("443"),
            lit("protocol"), lit("6")).as("extractedFields")))).as("data"))
  }

  test("control messages are dropped; all shard events surface exactly once") {
    val flat = Reader.readLogs(fixtureRecords)
    val ids = flat.select($"log_id".cast("int")).as[Int].collect().sorted
    assert(ids === (0 to 5).toArray)
  }

  test("extractedFields keys and values roundtrip") {
    val row = Reader.readLogs(fixtureRecords)
      .where($"log_id" === "3").select($"fields").head()
    val fields = row.getMap[String, String](0)
    assert(fields("srcport") === "3")
    assert(fields("dstaddr") === "198.51.100.1")
  }

  test("start-time filters by event timestamp (AT_TIMESTAMP semantics)") {
    val flat = Reader.readLogs(fixtureRecords, startTimeMs = Some(1463236035000L + 3000L))
    assert(flat.select($"log_id".cast("int")).as[Int].collect().sorted === Array(3, 4, 5))
  }

  test("takeN returns the deterministic first N (--count semantics)") {
    val flat = Reader.readLogs(fixtureRecords, takeN = Some(2))
    assert(flat.select($"log_id".cast("int")).as[Int].collect().sorted === Array(0, 1))
  }

  test("tsv rendering: sorted-key header then tab-joined rows (CLI parity)") {
    val lines = Tsv.render(Reader.readLogs(fixtureRecords, takeN = Some(1)))
      .as[String].collect()
    assert(lines.head === "dstaddr\tdstport\tprotocol\tsrcaddr\tsrcport")
    assert(lines(1) === "198.51.100.1\t443\t6\t192.0.2.1\t0")
  }

  test("permissive mode drops corrupt gzip records instead of failing") {
    import org.apache.spark.sql.functions.lit
    val corrupt = Seq(Array[Byte](1, 2, 3)).toDF("data")
    val mixed = fixtureRecords.select($"data").unionAll(corrupt)
    intercept[Exception] {
      Reader.readLogs(mixed).count() // strict mode: reference behavior
    }
    val flat = Reader.readLogs(mixed, permissive = true)
    assert(flat.count() === 6) // all good events survive, bad record dropped
  }

  test("malformed (non-JSON) payloads yield no rows rather than failing") {
    GraftSession.ensureRegistered(spark)
    val junk = Seq("not json at all").toDF("s")
      .select(graft.functions.graft_gzip($"s".cast("binary")).as("data"))
    assert(Reader.readLogs(junk).count() === 0)
  }

  test("tsv header takes the first row's keys only (reference __main__.py peeks one row)") {
    // one record, two events with different key sets: b only in the
    // first, c only in the second
    val rec = Seq(1).toDF("x").select(CloudWatchLogs.encodePayload(
      lit(CloudWatchLogs.DataMessage),
      array(
        struct(lit("e1").as("id"), lit(1L).as("timestamp"), lit("").as("message"),
          map(lit("b"), lit("2"), lit("a"), lit("1")).as("extractedFields")),
        struct(lit("e2").as("id"), lit(2L).as("timestamp"), lit("").as("message"),
          map(lit("a"), lit("3"), lit("c"), lit("4")).as("extractedFields")))).as("data"))
    val lines = Tsv.render(Reader.readLogs(rec)).as[String].collect()
    assert(lines.head === "a\tb")
    assert(lines.tail.sorted.toSeq === Seq("1\t2", "3\t"))
  }

  test("strict mode fails on a truncated gzip whose text breaks JSON first; permissive drops it") {
    import graft.functions.Gzip
    def root(t: Throwable): Throwable = if (t.getCause == null) t else root(t.getCause)
    val html = Gzip.gzip(("<html>" + "x" * 4000 + "</html>").getBytes("UTF-8"))
    val payload = fixtureRecords.select($"data").as[Array[Byte]].head()
    // strict mode fails with the exception gunzip throws, whether the
    // JSON breaks first, the trailer is cut, only the header is left or
    // the record is not gzip at all
    Seq(html.take(html.length * 3 / 5), payload.take(payload.length - 5), payload.take(10),
        Array[Byte](1, 2, 3)).foreach { bad =>
      val mixed = fixtureRecords.select($"data").unionAll(Seq(bad).toDF("data"))
      val want = intercept[java.io.IOException](Gzip.gunzip(bad)).getClass
      assert(root(intercept[Exception](Reader.readLogs(mixed).count())).getClass === want)
      assert(Reader.readLogs(mixed, permissive = true).count() === 6)
    }
  }

  test("plan: the fused decode fills only the columns each consumer reads") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.catalyst.plans.logical.Generate
    import graft.functions.CwlEvents
    import graft.sources.FlowLogs
    def kept(df: DataFrame): Seq[Seq[String]] = df.queryExecution.optimizedPlan.collect {
      case Generate(c: CwlEvents, _, _, _, _, _) => c.kept
    }
    val flat = Reader.readLogs(fixtureRecords, permissive = true)
    // the perfbench typed write's select
    val typed = flat.select(col("log_id"), col("timestamp_ms"),
      FlowLogs.parseLine(col("message")).as("f")).select("log_id", "timestamp_ms", "f.*")
    assert(kept(typed) === Seq(Seq("log_id", "timestamp_ms", "message")))
    assert(kept(Tsv.render(flat)) === Seq(Seq("fields")))
    assert(kept(flat.groupBy().count()) === Seq(Seq.empty))
    assert(kept(flat) === Seq(CwlEvents.Schema.fieldNames.toSeq))
    // a filter, sort or dedupe column stays filled
    assert(kept(flat.where(col("timestamp_ms") > 0).select("log_id")) === Seq(Seq("log_id", "timestamp_ms")))
    assert(kept(Reader.readLogs(fixtureRecords, takeN = Some(2)).select("message")) ===
      Seq(Seq("log_id", "timestamp_ms", "message")))
    assert(kept(flat.dropDuplicates("log_id").select("message")) === Seq(Seq("log_id", "message")))
    // a union reads its children's columns by position
    assert(kept(flat.unionAll(flat)) === Seq.fill(2)(CwlEvents.Schema.fieldNames.toSeq))
    assert(kept(flat.unionAll(flat).select("log_id")) === Seq.fill(2)(Seq("log_id")))

    // a session built without GraftExtensions decodes every column and
    // returns the same rows
    withPlainSession { plain =>
      def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
      val bare = Reader.readLogs(fixtureIn(plain)).select(col("log_id"), col("fields")("srcport"))
      assert(kept(bare) === Seq(CwlEvents.Schema.fieldNames.toSeq))
      assert(rows(bare) === rows(Reader.readLogs(fixtureRecords).select(col("log_id"), col("fields")("srcport"))))
    }
  }

  test("readLogs leaves a plain session's function registry as it found it") {
    withPlainSession { plain =>
      def graftFns = plain.sessionState.functionRegistry.listFunction().map(_.funcName)
        .filter(_.startsWith("graft_"))
      assert(graftFns.isEmpty)
      assert(Reader.readLogs(fixtureIn(plain), permissive = true).count() === 6)
      assert(Tsv.render(Reader.readLogs(fixtureIn(plain))).count() === 7)
      assert(graftFns.isEmpty, graftFns.mkString(", "))
    }
  }

  /** The fixture's records in `session`. */
  private def fixtureIn(session: SparkSession) =
    session.createDataFrame(fixtureRecords.select("data").collect().toSeq.asJava,
      fixtureRecords.select("data").schema)

  /** `body` on a fresh session built without GraftExtensions (so no
    * `graft_*` function and no optimizer rule of graft's), sharing the
    * suite's SparkContext.
    */
  private def withPlainSession(body: SparkSession => Unit): Unit = {
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try {
      val plain = SparkSession.builder().getOrCreate()
      assert(plain ne spark)
      body(plain)
    } finally {
      SparkSession.clearDefaultSession()
      SparkSession.clearActiveSession()
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }
}
