package graftbench

import java.io.ByteArrayInputStream
import java.nio.file.Files
import java.util.zip.GZIPInputStream

import org.scalatest.funsuite.AnyFunSuite

class GeneratorSpec extends AnyFunSuite {
  private val spec = Ingest.spec(7).copy(records = 400)

  private def bytesOf(s: CwlGen.Spec): Seq[Seq[Byte]] = {
    val kinds = CwlGen.classes(s)
    (0 until s.records).map(i => CwlGen.record(s, i, kinds(i)).data.toSeq)
  }

  test("the same seed gives identical bytes, records and parquet files alike") {
    assert(bytesOf(spec) == bytesOf(spec))
    val (a, b) = (Files.createTempDirectory("gen-a"), Files.createTempDirectory("gen-b"))
    assert(Ingest.generate(spec, a, 2) == Ingest.generate(spec, b, 3))
    (0 until Ingest.InputFiles).foreach { f =>
      val name = f"part-$f%03d.parquet"
      assert(java.util.Arrays.equals(Files.readAllBytes(a.resolve(name)), Files.readAllBytes(b.resolve(name))))
    }
  }

  test("a different seed gives different bytes") {
    assert(bytesOf(spec) != bytesOf(spec.copy(seed = 8)))
  }

  /** Classify a record by decoding it with the JDK alone. */
  private def classify(data: Array[Byte]): Int =
    try {
      val text = new String(new GZIPInputStream(new ByteArrayInputStream(data)).readAllBytes(), "UTF-8")
      if (!text.startsWith("{")) CwlGen.NotJson
      else if (text.contains("\"messageType\":\"CONTROL_MESSAGE\"")) CwlGen.Control
      else if (text.contains("\"messageType\":\"DATA_MESSAGE\"")) CwlGen.Data
      else fail(s"unclassifiable payload: ${text.take(80)}")
    } catch { case _: java.io.EOFException => CwlGen.Truncated }

  test("planted class counts equal the generator's prediction") {
    val s = Ingest.spec(11)
    val kinds = CwlGen.classes(s)
    val counts = Array(0, 0, 0, 0)
    (0 until s.records).foreach(i => counts(classify(CwlGen.record(s, i, kinds(i)).data)) += 1)
    assert(counts.toVector == CwlGen.predict(s))
    assert(CwlGen.predict(s) == Vector(2850, 90, 30, 30))
  }

  test("stream files re-deliver records of the file before") {
    val sp = Stream.spec(3)
    val (f0, f1) = (Stream.fileRecords(sp, 0), Stream.fileRecords(sp, 1))
    assert(f1.size == Stream.RecordsPerFile)
    val fresh0 = f0.take(Stream.RecordsPerFile - Stream.RedeliveredPerFile).map(_.data.toSeq).toSet
    assert(f1.drop(Stream.RecordsPerFile - Stream.RedeliveredPerFile).forall(r => fresh0(r.data.toSeq)))
  }
}
