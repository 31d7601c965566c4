package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** CLI-parity TSV rendering (reference: __main__.py:10-24): a
  * sorted-key header line followed by one tab-joined line per log
  * event, missing keys rendered empty.
  *
  * Key discovery mirrors the reference exactly: peek one row for the
  * key set (a LIMIT-1 job, cheap at any scale), render every row
  * against that row's sorted keys, blanks for missing values; keys
  * only later rows carry are not rendered.
  */
object Tsv {

  /** flat: output of Reader.readLogs (has `fields: map<string,string>`).
    * Returns a single-column DataFrame `line` = header + data rows.
    */
  def render(flat: DataFrame): DataFrame = {
    val spark = flat.sparkSession
    import spark.implicits._
    val keys = flat.select(map_keys(col("fields"))).limit(1).as[Option[Seq[String]]]
      .collect().headOption.flatten.getOrElse(Nil).distinct.sorted
    val header = spark.createDataset(Seq(keys.mkString("\t"))).toDF("line")
    val rows = flat.select(
      concat_ws("\t", keys.map(k => coalesce(col("fields").getItem(k), lit(""))): _*)
        .as("line"))
    header.unionAll(rows)
  }

  /** Write the rendered TSV as text files under `path` (header in its
    * own part file; at scale you don't single-file 100 TB).
    */
  def save(flat: DataFrame, path: String): Unit =
    render(flat).write.mode("overwrite").text(path)
}
