package graftbench

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Row-order-insensitive digest of a query result, computed in the same
  * action that materialises it.
  *
  * Each row is hashed (xxhash64 over every column) after normalising
  * floating values to 6 decimals and maps to key-sorted entry arrays;
  * the digest is the row count and the exact sum of the row hashes.
  * Hashing every column forces every column to be computed.
  */
object Digest {

  private def floating(t: DataType): Boolean = t match {
    case DoubleType | FloatType => true
    case ArrayType(et, _) => floating(et)
    case StructType(fs) => fs.exists(f => floating(f.dataType))
    case _: MapType => true
    case _ => false
  }

  def normalize(c: Column, t: DataType): Column = t match {
    // + 0.0 folds -0.0 into 0.0
    case DoubleType | FloatType => round(c.cast(DoubleType), 6) + lit(0.0)
    case ArrayType(et, _) if floating(et) => transform(c, x => normalize(x, et))
    case StructType(fs) if floating(t) =>
      struct(fs.toSeq.map(f => normalize(c.getField(f.name), f.dataType).as(f.name)): _*)
    case MapType(kt, vt, _) =>
      array_sort(transform(map_entries(c), e => struct(
        normalize(e.getField("key"), kt).as("key"), normalize(e.getField("value"), vt).as("value"))))
    case _ => c
  }

  /** `df` (columns renamed positionally) with the digest aggregates
    * attached to `obs`; read them with [[of]] after the action.
    */
  def observe(df: DataFrame, obs: Observation): DataFrame = {
    val r = df.toDF(df.columns.indices.map(i => s"_c$i"): _*)
    val cols = r.schema.fields.toSeq.map(f => normalize(col(f.name), f.dataType))
    r.observe(obs, count(lit(1)).as("n"), sum(xxhash64(cols: _*).cast("decimal(20,0)")).as("s"))
  }

  /** `rows:hashsum` of an observation filled by [[observe]]. */
  def of(obs: Observation): (Long, String) = {
    val m = obs.get
    val n = m("n").asInstanceOf[Long]
    val s = Option(m("s")).map(_.toString).getOrElse("0")
    (n, s"$n:$s")
  }
}
