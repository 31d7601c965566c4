package graft.functions

import java.io.{ByteArrayInputStream, IOException, InputStreamReader}
import java.nio.charset.StandardCharsets
import java.util.zip.GZIPInputStream

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import com.fasterxml.jackson.core.{JsonFactory, JsonParser, JsonProcessingException, JsonToken}
import com.fasterxml.jackson.core.JsonToken._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, BoundReference, ExprId, Expression, Generator, GenericInternalRow, JsonToStructs, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Deduplicate, Filter, Generate, GlobalLimit, Join, LocalLimit, LogicalPlan, Project, Sort, Window}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.GENERATE
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, ArrayData, MapData}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.CloudWatchLogs

/** The CWL read path as one generator: gunzip streamed into a Jackson
  * parser, the DATA_MESSAGE filter and the `logEvents` explode, once
  * per record (the reference's `_read_shard` loop,
  * kinesis_logs_reader.py:80-97). One row per log event of a DATA
  * payload: (log_id, timestamp_ms, message, fields).
  *
  * `keep` is a bit mask over those four columns (bit i = column i of
  * [[CwlEvents.Schema]]): a column outside it is emitted as null and
  * its JSON is only checked, never materialized. The mask starts full;
  * [[CwlEvents.Prune]] narrows it to the columns the plan reads.
  *
  * Parity with `from_json(gunzip(data).cast("string"), payloadSchema)`
  * → DATA filter → `explode(logEvents)` is exact by construction: the
  * fast path accepts only well-formed payloads whose every field —
  * skipped ones included — has the type the schema expects, with no
  * duplicate struct field and nothing after the top-level object. A
  * gzip stream that fails there is corrupt: dropped in permissive mode,
  * rethrown in strict mode. Any other record it does not accept is
  * decoded again by that chain ([[exact]]), so it keeps Spark's
  * semantics; strict mode still fails on corrupt gzip even when the
  * JSON breaks first. [[fate]] is the one place a record's class is
  * decided, for [[events]] and [[CwlFate]] alike.
  */
case class CwlEvents(data: Expression, permissive: Boolean, keep: Int = CwlEvents.All)
    extends UnaryExpression with Generator {
  import CwlEvents._

  override def child: Expression = data
  override def elementSchema: StructType = Schema
  override def prettyName: String = "graft_cwl_events"
  override def toString: String =
    s"$prettyName($data, permissive=$permissive, keep=[${kept.mkString(",")}])"

  /** Names of the columns this generator fills. */
  def kept: Seq[String] = Schema.fieldNames.toSeq.zipWithIndex.collect {
    case (n, i) if (keep & (1 << i)) != 0 => n
  }

  /** `from_json` over a one-column row holding a record's gunzipped text. */
  @transient private lazy val fromJson: Expression = {
    val tz = Some(SQLConf.get.sessionLocalTimeZone)
    JsonToStructs(CloudWatchLogs.payloadSchema, Map.empty,
      BoundReference(0, StringType, nullable = true), tz)
  }

  override def eval(input: InternalRow): IterableOnce[InternalRow] =
    events(data.eval(input).asInstanceOf[Array[Byte]])

  /** The rows of one record (none for a null one). */
  def events(bytes: Array[Byte]): Iterable[InternalRow] =
    if (bytes == null) Nil else fate(bytes)

  /** The one per-record decode: a DATA payload's event rows, or an
    * empty [[NoRows]] naming the record's class.
    */
  def fate(bytes: Array[Byte]): Iterable[InternalRow] = {
    val fast = try decode(bytes) catch {
      case _: JsonProcessingException => null
      case e: IOException => corrupt(e) // only the gzip stream throws other IOExceptions
      case NonFatal(_) => null
    }
    if (fast != null) fast else exact(bytes)
  }

  private def corrupt(e: IOException): Iterable[InternalRow] =
    if (permissive) Fates(CorruptGzip) else throw e

  // GenerateExec's generated loop calls `.iterator()` on the value
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val in = data.genCode(ctx)
    val self = ctx.addReferenceObj("cwlEvents", this)
    ev.copy(code = code"""
      |${in.code}
      |scala.collection.Iterable ${ev.value} = $self.events(${in.isNull} ? null : ${in.value});
      |""".stripMargin, isNull = FalseLiteral)
  }

  /** The fast path; null when the record needs the exact chain. */
  private def decode(bytes: Array[Byte]): Iterable[InternalRow] = {
    // the reader Spark's from_json parses through (CreateJacksonParser.utf8String)
    val p = Json.createParser(new InputStreamReader(
      new GZIPInputStream(new ByteArrayInputStream(bytes), 8192), StandardCharsets.UTF_8))
    try {
      if (p.nextToken() != START_OBJECT) return null
      var seen = 0
      var mt: String = null
      var events: Iterable[InternalRow] = null
      var t = p.nextToken()
      while (t == FIELD_NAME) {
        val f = TopFields.indexOf(p.currentName)
        if (f >= 0) {
          if ((seen & (1 << f)) != 0) return null
          seen |= 1 << f
        }
        t = p.nextToken()
        f match {
          case 0 =>
            if (t == VALUE_STRING) mt = p.getText
            else if (t != VALUE_NULL) return null
          case 1 | 2 | 3 => if (!isString(t)) return null
          case 4 => if (t != VALUE_NULL && !stringArray(p, t)) return null
          case 5 =>
            if (t == START_ARRAY) {
              events = logEvents(p)
              if (events == null) return null
            } else if (t != VALUE_NULL) return null
          case _ => p.skipChildren()
        }
        t = p.nextToken()
      }
      if (t != END_OBJECT || p.nextToken() != null) null
      else typed(mt, events)
    } finally p.close()
  }

  /** The elements of `logEvents` (parser on its START_ARRAY) as rows;
    * null when one does not fit the schema.
    */
  private def logEvents(p: JsonParser): Iterable[InternalRow] = {
    val rows = new ArrayBuffer[InternalRow]()
    var t = p.nextToken()
    while (t != END_ARRAY) {
      if (t == VALUE_NULL) rows += NullRow
      else {
        val row = if (t == START_OBJECT) event(p) else null
        if (row == null) return null
        rows += row
      }
      t = p.nextToken()
    }
    rows
  }

  /** One log event (parser on its START_OBJECT) as a row; null when it
    * does not fit the schema.
    */
  private def event(p: JsonParser): InternalRow = {
    val v = if (keep == 0) null else new Array[Any](4)
    var seen = 0
    var t = p.nextToken()
    while (t == FIELD_NAME) {
      val f = EventFields.indexOf(p.currentName)
      if (f >= 0) {
        if ((seen & (1 << f)) != 0) return null
        seen |= 1 << f
      }
      t = p.nextToken()
      val want = f >= 0 && (keep & (1 << f)) != 0
      f match {
        case 0 | 2 =>
          if (t == VALUE_STRING) { if (want) v(f) = UTF8String.fromString(p.getText) }
          else if (t != VALUE_NULL) return null
        case 1 =>
          if (t == VALUE_NUMBER_INT) {
            val nt = p.getNumberType
            if (nt != JsonParser.NumberType.INT && nt != JsonParser.NumberType.LONG) return null
            if (want) v(1) = p.getLongValue
          } else if (t != VALUE_NULL) return null
        case 3 =>
          if (t == START_OBJECT) {
            val m = stringMap(p, want)
            if (m == null) return null
            if (want) v(3) = m
          } else if (t != VALUE_NULL) return null
        case _ => p.skipChildren()
      }
      t = p.nextToken()
    }
    if (t != END_OBJECT) null
    else if (v == null) NullRow
    else new GenericInternalRow(v)
  }

  /** A map<string,string> object (parser on its START_OBJECT), keys in
    * document order with duplicates kept, as `from_json` builds it; null
    * when a value is not a string. When `build` is false it is only
    * checked, and an empty map comes back.
    */
  private def stringMap(p: JsonParser, build: Boolean): MapData = {
    var ks = if (build) new Array[Any](16) else null
    var vs = if (build) new Array[Any](16) else null
    var n = 0
    var t = p.nextToken()
    while (t == FIELD_NAME) {
      if (build) {
        if (n == ks.length) { ks = Array.copyOf(ks, 2 * n); vs = Array.copyOf(vs, 2 * n) }
        ks(n) = key(p.currentName)
      }
      t = p.nextToken()
      if (t == VALUE_STRING) { if (build) vs(n) = UTF8String.fromString(p.getText) }
      else if (t != VALUE_NULL) return null
      n += 1
      t = p.nextToken()
    }
    if (t != END_OBJECT) null
    else if (!build) EmptyMap
    else ArrayBasedMapData(Array.copyOf(ks, n), Array.copyOf(vs, n))
  }

  /** Map keys by name: a subscription repeats a few key names in every
    * event, so each is encoded once per task (UTF8String is immutable).
    */
  @transient private lazy val keys = new java.util.HashMap[String, UTF8String]()

  private def key(name: String): UTF8String = {
    var k = keys.get(name)
    if (k == null) {
      k = UTF8String.fromString(name)
      if (keys.size < MaxCachedKeys) keys.put(name, k)
    }
    k
  }

  /** One record through gunzip, [[fromJson]], the DATA filter and the explode. */
  private def exact(bytes: Array[Byte]): Iterable[InternalRow] = {
    val text = try Gzip.gunzip(bytes) catch { case e: IOException => return corrupt(e) }
    val payload = fromJson.eval(InternalRow(UTF8String.fromBytes(text))).asInstanceOf[InternalRow]
    if (payload == null || payload.isNullAt(0)) Fates(BadJson)
    else typed(payload.getUTF8String(0).toString, if (payload.isNullAt(5)) null else {
      val evs: ArrayData = payload.getArray(5)
      (0 until evs.numElements()).map { i =>
        if (evs.isNullAt(i)) NullRow
        else {
          val e = evs.getStruct(i, 4)
          def at(j: Int)(get: Int => Any): Any =
            if ((keep & (1 << j)) == 0 || e.isNullAt(j)) null else get(j)
          new GenericInternalRow(Array[Any](
            at(0)(e.getUTF8String), at(1)(e.getLong), at(2)(e.getUTF8String), at(3)(e.getMap)))
        }
      }
    })
  }

  override protected def withNewChildInternal(newChild: Expression): CwlEvents =
    copy(data = newChild)
}

object CwlEvents {
  /** `keep` with every column filled. */
  val All = 15

  /** The `Reader.readLogs` row. */
  val Schema: StructType = StructType(Seq(
    StructField("log_id", StringType),
    StructField("timestamp_ms", LongType),
    StructField("message", StringType),
    StructField("fields", MapType(StringType, StringType))))

  private val TopFields = IndexedSeq(
    "messageType", "owner", "logGroup", "logStream", "subscriptionFilters", "logEvents")
  private val EventFields = IndexedSeq("id", "timestamp", "message", "extractedFields")

  /** Jackson's defaults: every read feature Spark's `JSONOptions` can
    * relax is off, so what this factory rejects goes to the exact chain.
    */
  private val Json = new JsonFactory()

  /** A record's class, as [[CwlFate]] reports it: `bad JSON` is any
    * payload without a messageType, the rule r8's report counts by.
    */
  val CorruptGzip = 0
  val BadJson = 1
  val Control = 2
  val OtherType = 3
  val Data = 4

  /** No event rows, and why: an empty Iterable carrying the record's
    * [[CwlFate]] value. `Fates(Data)` is a DATA payload whose
    * `logEvents` is null or missing.
    */
  final class NoRows private[CwlEvents] (fate: Int) extends Iterable[InternalRow] {
    override def iterator: Iterator[InternalRow] = Iterator.empty
    val classified: InternalRow = InternalRow(fate, null)
  }
  private[functions] val Fates: IndexedSeq[NoRows] = (CorruptGzip to Data).map(new NoRows(_))

  /** The fate of a decoded payload: its messageType and its event rows
    * (null when `logEvents` is null or missing).
    */
  private def typed(messageType: String, events: Iterable[InternalRow]): Iterable[InternalRow] =
    messageType match {
      case null => Fates(BadJson)
      case CloudWatchLogs.DataMessage => if (events == null) Fates(Data) else events
      case CloudWatchLogs.ControlMessage => Fates(Control)
      case _ => Fates(OtherType)
    }

  private val MaxCachedKeys = 1024
  private val EmptyMap = ArrayBasedMapData(Array.empty[Any], Array.empty[Any])
  private val NullRow: InternalRow = new GenericInternalRow(4)

  private def isString(t: JsonToken): Boolean = t == VALUE_STRING || t == VALUE_NULL

  /** An array<string> (parser on its START_ARRAY), checked only. */
  private def stringArray(p: JsonParser, t0: JsonToken): Boolean = {
    if (t0 != START_ARRAY) return false
    var t = p.nextToken()
    while (isString(t)) t = p.nextToken()
    t == END_ARRAY
  }

  /** Narrows each [[CwlEvents]] generator's `keep` to the outputs the
    * rest of the plan reads: every node's references, the root's
    * output, and all of a child's output under any node that is not
    * known to pick its inputs by name (a union, a write command, …).
    */
  object Prune extends Rule[LogicalPlan] {
    def apply(plan: LogicalPlan): LogicalPlan =
      if (!plan.containsPattern(GENERATE)) plan
      else {
        val used = scala.collection.mutable.HashSet.empty[ExprId]
        def use(as: Iterable[Attribute]): Unit = as.foreach(used += _.exprId)
        use(plan.output)
        plan.foreachWithSubqueries { n =>
          use(n.references)
          n match {
            case _: Project | _: Filter | _: Aggregate | _: Sort | _: GlobalLimit | _: LocalLimit |
                _: Generate | _: Deduplicate | _: Join | _: Window =>
            case _ => n.children.foreach(c => use(c.output))
          }
        }
        plan.transformUpWithPruning(_.containsPattern(GENERATE)) {
          case g @ Generate(c: CwlEvents, _, _, _, out, _) =>
            val k = out.zipWithIndex.foldLeft(0) { case (m, (a, i)) =>
              if (used(a.exprId)) m | (1 << i) else m
            } & c.keep
            if (k == c.keep) g else g.copy(generator = c.copy(keep = k))
        }
      }
  }
}

/** A record's class through the [[CwlEvents]] decode, as
  * struct<fate: int, events: bigint>: `fate` is one of
  * [[CwlEvents.CorruptGzip]], `BadJson`, `Control`, `OtherType` or
  * `Data`, and `events` is a DATA payload's event count (null for any
  * other class, and for a null `logEvents`). A null record counts as
  * corrupt gzip, as `graft_try_gunzip` gives null for both.
  */
case class CwlFate(data: Expression) extends UnaryExpression with CodegenFallback {
  import CwlEvents.{CorruptGzip, Data, Fates, NoRows}

  @transient private lazy val decoder = CwlEvents(data, permissive = true, keep = 0)

  override def child: Expression = data
  override val dataType: DataType = StructType(Seq(
    StructField("fate", IntegerType, nullable = false), StructField("events", LongType)))
  override def nullable: Boolean = false
  override def prettyName: String = "graft_cwl_fate"

  override def eval(input: InternalRow): Any = {
    val bytes = data.eval(input).asInstanceOf[Array[Byte]]
    if (bytes == null) Fates(CorruptGzip).classified
    else decoder.fate(bytes) match {
      case n: NoRows => n.classified
      case rows => InternalRow(Data, rows.size.toLong)
    }
  }

  override protected def withNewChildInternal(newChild: Expression): CwlFate =
    copy(data = newChild)
}
