package graftbench

import java.io.ByteArrayOutputStream
import java.nio.file.{Files, Path}
import java.util.zip.GZIPOutputStream

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.MessageTypeParser

/** Seeded generator of CloudWatch Logs subscription records carrying
  * VPC flow-log events: the input of the `cwl` workload's batch and
  * stream halves.
  *
  * Independent of the code under test: the JSON is written by hand and
  * compressed with the JDK's gzip, so a bug in graft's own encoder
  * cannot cancel a bug in its decoder. Every record is a pure function
  * of `(seed, record index)`, so files can be generated in parallel and
  * the same seed always yields the same bytes.
  *
  * Records come in four planted classes: DATA (decoded and kept),
  * CONTROL (valid, dropped by the reader), truncated gzip and non-JSON
  * payloads (both dropped by the permissive reader).
  */
object CwlGen {
  val Data = 0
  val Control = 1
  val Truncated = 2
  val NotJson = 3
  val ClassNames: Vector[String] = Vector("data", "control", "truncated_gzip", "not_json")

  /** Share of DATA events, per thousand, that are NODATA flow-log
    * lines (`-` fields).
    */
  val NoDataPermille = 20
  /** Timestamp of the first event. */
  val BaseTsMs = 1700000000000L

  /** Shares are in records per thousand. */
  case class Spec(
      seed: Long,
      records: Int,
      eventsPerRecord: Int,
      controlPermille: Int = 0,
      truncatedPermille: Int = 0,
      notJsonPermille: Int = 0)

  /** One record: its payload bytes and, for DATA, what it carries. */
  case class Record(data: Array[Byte], kind: Int, events: Long, bytes: Long, packets: Long)

  case class Totals(classCounts: Vector[Int], events: Long, bytes: Long, packets: Long) {
    def +(r: Record): Totals =
      if (r.kind != Data) copy(classCounts = classCounts.updated(r.kind, classCounts(r.kind) + 1))
      else Totals(classCounts.updated(Data, classCounts(Data) + 1),
        events + r.events, bytes + r.bytes, packets + r.packets)

    def ++(o: Totals): Totals = Totals(classCounts.zip(o.classCounts).map { case (a, b) => a + b },
      events + o.events, bytes + o.bytes, packets + o.packets)
  }
  val NoTotals: Totals = Totals(Vector(0, 0, 0, 0), 0, 0, 0)

  /** The class counts the generator will plant: exact shares, floored. */
  def predict(spec: Spec): Vector[Int] = {
    def share(pm: Int) = (spec.records.toLong * pm / 1000).toInt
    val (c, t, j) = (share(spec.controlPermille), share(spec.truncatedPermille), share(spec.notJsonPermille))
    Vector(spec.records - c - t - j, c, t, j)
  }

  /** Class of every record: the predicted counts at seeded positions. */
  def classes(spec: Spec): Array[Int] = {
    val counts = predict(spec)
    val arr = counts.zipWithIndex.flatMap { case (n, k) => Seq.fill(n)(k) }.toArray
    val rng = new java.util.Random(mix(spec.seed, -1L))
    var i = arr.length - 1
    while (i > 0) {
      val j = rng.nextInt(i + 1)
      val t = arr(i); arr(i) = arr(j); arr(j) = t
      i -= 1
    }
    arr
  }

  /** SplitMix64 finaliser of (seed, index): decorrelates neighbours. */
  def mix(seed: Long, idx: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + idx + 0x632BE59BD9B4E019L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private val FieldNames = Array(
    "version", "account_id", "interface_id", "srcaddr", "dstaddr", "srcport",
    "dstport", "protocol", "packets", "bytes", "start", "end", "action", "log_status")
  private val Ports = Array(22, 53, 80, 123, 443, 3306, 5432, 6379, 8080, 9092)

  /** Record `idx` of class `kind`. */
  def record(spec: Spec, idx: Long, kind: Int): Record = {
    val rng = new java.util.Random(mix(spec.seed, idx))
    kind match {
      case Data =>
        val (json, events, bytes, packets) = dataJson(spec, idx, rng)
        Record(gzip(json), Data, events, bytes, packets)
      case Control =>
        val ts = BaseTsMs + idx
        Record(gzip(
          s"""{"messageType":"CONTROL_MESSAGE","owner":"CloudwatchLogs","logGroup":"","logStream":"",""" +
            s""""subscriptionFilters":[],"logEvents":[{"id":"","timestamp":$ts,""" +
            """"message":"CWL CONTROL MESSAGE: Checking health of destination Kinesis stream."}]}"""),
          Control, 0, 0, 0)
      case Truncated =>
        val full = gzip(dataJson(spec, idx, rng)._1)
        Record(java.util.Arrays.copyOf(full, full.length * 3 / 5), Truncated, 0, 0, 0)
      case NotJson =>
        Record(gzip(s"<html><body>502 Bad Gateway ${java.lang.Long.toHexString(rng.nextLong())}</body></html>"),
          NotJson, 0, 0, 0)
    }
  }

  /** A DATA payload: `eventsPerRecord` flow-log events. Returns the
    * JSON text, event count and the sums of the non-null bytes/packets.
    */
  private def dataJson(spec: Spec, idx: Long, rng: java.util.Random): (String, Long, Long, Long) = {
    val sb = new java.lang.StringBuilder(spec.eventsPerRecord * 420)
    val account = 123456789000L + rng.nextInt(16)
    val eni = f"eni-${rng.nextInt() & 0x7fffffff}%08x"
    sb.append("""{"messageType":"DATA_MESSAGE","owner":"""").append(account)
      .append("""","logGroup":"vpc-flow-logs","logStream":"""").append(eni)
      .append("""-all","subscriptionFilters":["graft-bench"],"logEvents":[""")
    var bytesSum = 0L
    var packetsSum = 0L
    val v = new Array[String](14)
    var j = 0
    while (j < spec.eventsPerRecord) {
      val ts = BaseTsMs + idx * 10 + j
      val start = ts / 1000
      v(0) = "2"; v(1) = account.toString; v(2) = eni
      v(10) = start.toString; v(11) = (start + 60).toString
      if (rng.nextInt(1000) < NoDataPermille) {
        var k = 3
        while (k <= 9) { v(k) = "-"; k += 1 }
        v(12) = "-"; v(13) = "NODATA"
      } else {
        val packets = 1 + rng.nextInt(1000)
        val bytes = packets.toLong * (40 + rng.nextInt(1461))
        bytesSum += bytes; packetsSum += packets
        v(3) = s"10.${rng.nextInt(256)}.${rng.nextInt(256)}.${1 + rng.nextInt(254)}"
        v(4) = s"172.16.${rng.nextInt(256)}.${1 + rng.nextInt(254)}"
        v(5) = (1024 + rng.nextInt(64512)).toString
        v(6) = Ports(rng.nextInt(Ports.length)).toString
        v(7) = if (rng.nextInt(10) < 8) "6" else "17"
        v(8) = packets.toString; v(9) = bytes.toString
        v(12) = if (rng.nextInt(10) < 9) "ACCEPT" else "REJECT"
        v(13) = "OK"
      }
      if (j > 0) sb.append(',')
      sb.append("""{"id":"""").append(f"${idx * 100000 + j}%020d")
        .append("""","timestamp":""").append(ts)
        .append(""","message":"""")
      var k = 0
      while (k < 14) { if (k > 0) sb.append(' '); sb.append(v(k)); k += 1 }
      sb.append("""","extractedFields":{""")
      k = 0
      while (k < 14) {
        if (k > 0) sb.append(',')
        sb.append('"').append(FieldNames(k)).append("\":\"").append(v(k)).append('"')
        k += 1
      }
      sb.append("}}")
      j += 1
    }
    sb.append("]}")
    (sb.toString, spec.eventsPerRecord.toLong, bytesSum, packetsSum)
  }

  def gzip(text: String): Array[Byte] = {
    val bos = new ByteArrayOutputStream(text.length / 4 + 64)
    val gz = new GZIPOutputStream(bos)
    gz.write(text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    gz.close()
    bos.toByteArray
  }

  private val RecordSchema = MessageTypeParser.parseMessageType("message record { required binary data; }")

  /** Write records as one parquet file with a single binary column
    * `data` — the shape of a Kinesis record dump.
    */
  def writeParquet(path: Path, records: Iterator[Array[Byte]]): Unit = {
    Files.createDirectories(path.getParent)
    val writer = ExampleParquetWriter.builder(new LocalOutputFile(path))
      .withConf(new Configuration(false))
      .withType(RecordSchema)
      .withCompressionCodec(CompressionCodecName.UNCOMPRESSED)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
      .build()
    val groups = new SimpleGroupFactory(RecordSchema)
    try records.foreach(r => writer.write(groups.newGroup().append("data", Binary.fromConstantByteArray(r))))
    finally writer.close()
  }
}
