package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.util.zip.{GZIPInputStream, GZIPOutputStream}

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType}

/** Gzip helpers with the semantics of the reference's
  * `utils.gzip_bytes` / `utils.gunzip_bytes`
  * (reference: kinesis_logs_reader/utils.py:17-29). Static methods so
  * whole-stage-generated code can call them directly without boxing.
  */
object Gzip {
  def gzip(raw: Array[Byte]): Array[Byte] = {
    val bos = new ByteArrayOutputStream(math.max(raw.length / 2, 64))
    val gz = new GZIPOutputStream(bos)
    gz.write(raw)
    gz.close()
    bos.toByteArray
  }

  // @throws puts IOException in the METHOD'S BYTECODE signature —
  // without it, Janino (a real Java compiler, unlike scalac's relaxed
  // checked-exception rules) rejects TryGunzipBytes' generated
  // `catch (java.io.IOException)` as an unreachable clause, and the
  // whole codegen unit silently falls back to interpreted mode
  // ("Catch clause is unreachable", 12 per bench run before this fix).
  @throws(classOf[java.io.IOException])
  def gunzip(gz: Array[Byte]): Array[Byte] = {
    val in = new GZIPInputStream(new ByteArrayInputStream(gz), 8192)
    try {
      val bos = new ByteArrayOutputStream(math.max(gz.length * 4, 64))
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { bos.write(buf, 0, n); n = in.read(buf) }
      bos.toByteArray
    } finally in.close() // a corrupt record must not leave its Inflater to the GC
  }
}

/** Native Catalyst expression: gzip-compress a binary column.
  * Codegen-friendly (stays inside whole-stage codegen; no UDF boxing).
  */
case class GzipBytes(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = BinaryType
  override def prettyName: String = "graft_gzip"
  override protected def nullSafeEval(input: Any): Any =
    Gzip.gzip(input.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Gzip.gzip($c)")
  override protected def withNewChildInternal(newChild: Expression): GzipBytes =
    copy(child = newChild)
}

/** Native Catalyst expression: gunzip a binary column (the hot inner
  * loop of the reference's `_read_shard`,
  * kinesis_logs_reader/kinesis_logs_reader.py:88-90).
  */
case class GunzipBytes(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = BinaryType
  override def prettyName: String = "graft_gunzip"
  override protected def nullSafeEval(input: Any): Any =
    Gzip.gunzip(input.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Gzip.gunzip($c)")
  override protected def withNewChildInternal(newChild: Expression): GunzipBytes =
    copy(child = newChild)
}

/** Permissive gunzip: corrupt/truncated records yield NULL instead of
  * failing the job — at 100 TB a handful of bad Kinesis records must
  * not kill the pipeline. (The reference would raise; this is the
  * production-hardened variant, opt-in via Reader permissive mode.)
  */
case class TryGunzipBytes(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_try_gunzip"
  override protected def nullSafeEval(input: Any): Any =
    try Gzip.gunzip(input.asInstanceOf[Array[Byte]])
    catch { case _: java.io.IOException | _: java.util.zip.ZipException => null }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""try {
         |  ${ev.value} = graft.functions.Gzip.gunzip($c);
         |} catch (java.io.IOException e) {
         |  ${ev.isNull} = true;
         |}""".stripMargin
    })
  override protected def withNewChildInternal(newChild: Expression): TryGunzipBytes =
    copy(child = newChild)
}
