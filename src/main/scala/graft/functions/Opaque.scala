package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.DataType

/** Identity wrapper that is *flagged* non-deterministic so the
  * optimizer will not substitute it through aliases.
  *
  * Why it exists: CollapseProject / filter pushdown re-inline an
  * aliased expensive expression into every consumer. r8's ingest
  * report (`ReferenceQueries.r8IngestReport`) aliases
  * `graft_try_gunzip(data)` and `from_json` of it, then reads each in
  * several aggregate branches; without the fence every branch would
  * gunzip and parse the record again (and per-field JSON schema
  * pruning makes the copies non-identical, so codegen subexpression
  * elimination cannot merge them back). Wrapping each in Opaque pins
  * it to a single Project, where it is computed once per record;
  * downstream operators consume the resulting attribute. The reader
  * path needs no fence: [[CwlEvents]] decodes, filters and explodes
  * in one generator.
  *
  * The value is genuinely deterministic — the flag is only an
  * optimizer fence (same technique Spark itself uses when it must
  * pin evaluation order). Evaluation and codegen delegate directly to
  * the child: zero runtime cost.
  */
case class Opaque(child: Expression) extends UnaryExpression {
  override lazy val deterministic: Boolean = false
  override def nullable: Boolean = child.nullable
  override def dataType: DataType = child.dataType
  override def eval(input: InternalRow): Any = child.eval(input)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = c.code, isNull = c.isNull, value = c.value)
  }
  override protected def withNewChildInternal(newChild: Expression): Opaque =
    copy(child = newChild)
}
