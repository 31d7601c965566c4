package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Content-defined chunking (gear-hash CDC, the FastCDC/rsync family):
  * split a binary payload at positions where a rolling hash of the
  * trailing bytes hits a mask — boundaries depend only on LOCAL
  * content, so inserting or removing bytes re-chunks a constant
  * neighborhood and every chunk after the edit keeps its identity.
  * That locality is what makes chunk-grain dedup work on binary
  * payloads (multimodal blobs, model checkpoints, crawl WARCs) where
  * document-grain exact dedup sees every near-copy as distinct.
  *
  * Deterministic throughout: the 256-entry gear table derives from a
  * splitmix64 scramble of the byte value (no RNG state), and each
  * chunk's identity is its FNV-1a 64-bit fingerprint. Boundaries:
  * after at least `minLen` bytes, a boundary falls where the low
  * `maskBits` bits of the gear hash are zero (expected chunk length ≈
  * minLen + 2^maskBits), forced at `maxLen`. Single forward pass, no
  * allocation beyond the output.
  */
object CdcOps {

  private val gear: Array[Long] =
    Array.tabulate(256)(i => splitmix64(i.toLong * 0x9e3779b97f4a7c15L + 0x2545f4914f6cdd1dL))

  private def fnv1a(bytes: Array[Byte], from: Int, until: Int): Long = {
    var h = 0xcbf29ce484222325L
    var i = from
    while (i < until) {
      h ^= (bytes(i) & 0xffL)
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  /** The gear table rendered as SQL VALUES rows "(byte,value)", values
    * as nonnegative decimals < 2^64 — lets the DuckDB oracle (m7/m8)
    * replay the chunker byte-for-byte with the kernel's own constant
    * table while recomputing the walk (boundary logic, FNV identities,
    * 64-bit wraparound) independently in SQL.
    */
  def gearSqlValues: String =
    gear.zipWithIndex
      .map { case (g, i) => s"($i,${java.lang.Long.toUnsignedString(g)})" }
      .mkString(",")

  /** Chunk fingerprints (FNV-1a 64 per chunk), in payload order. */
  def chunks(bytes: Array[Byte], minLen: Int, maskBits: Int, maxLen: Int): ArrayData = {
    val mask = (1L << maskBits) - 1
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    val n = bytes.length
    var start = 0
    var i = 0
    var h = 0L
    while (i < n) {
      h = (h << 1) + gear(bytes(i) & 0xff)
      val len = i - start + 1
      if ((len >= minLen && (h & mask) == 0L) || len >= maxLen) {
        out += fnv1a(bytes, start, i + 1)
        start = i + 1
        h = 0L
      }
      i += 1
    }
    if (start < n) out += fnv1a(bytes, start, n)
    new GenericArrayData(out.toArray)
  }
}

/** Native expression: CdcChunks(binary) → array<long> of chunk
  * fingerprints. `minLen`/`maskBits`/`maxLen` are plan-time constants.
  */
case class CdcChunks(
    child: Expression, minLen: Int, maskBits: Int, maxLen: Int)
  extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_cdc_chunks"
  override protected def nullSafeEval(input: Any): Any =
    CdcOps.chunks(input.asInstanceOf[Array[Byte]], minLen, maskBits, maxLen)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.CdcOps.chunks($c, $minLen, $maskBits, $maxLen)")
  override protected def withNewChildInternal(newChild: Expression): CdcChunks =
    copy(child = newChild)
}
