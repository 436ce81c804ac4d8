package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent fingerprint of a whole result.
  *
  * Every output column takes part, so Catalyst cannot prune any column's
  * work the way it does under `count()`. Columns are taken in name order,
  * each value is rendered canonically (doubles as `%.6f` after rounding, as
  * the DuckDB oracle check compares them; NULL as a marker no string
  * value renders to), and the row hash `xxhash64` is summed as
  * `decimal(38,0)`, which cannot overflow under ANSI mode the way a
  * `bigint` sum does.
  */
object Fingerprint {

  private val NullMark = "\u0000null"

  private def canonical(c: Column, dt: DataType): Column = dt match {
    case DoubleType | FloatType =>
      // + 0.0 turns -0.0 (and anything that rounds to it) into 0.0
      format_string("%.6f", round(c.cast(DoubleType), 6) + lit(0.0))
    case BinaryType => hex(c)
    case _: ArrayType | _: MapType | _: StructType => to_json(c)
    case _ => c.cast(StringType)
  }

  /** The aggregate whose single row is (rows, hash sum). */
  def plan(df: DataFrame): DataFrame = {
    val fields = df.schema.fields.zipWithIndex.sortBy(_._1.name)
    val renamed = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cells = fields.map { case (f, i) =>
      coalesce(canonical(col(s"c$i"), f.dataType), lit(NullMark))
    }
    val rowHash = if (cells.isEmpty) lit(0L) else xxhash64(cells: _*)
    renamed.agg(count(lit(1)).as("rows"),
      coalesce(sum(rowHash.cast(DecimalType(38, 0))), lit(BigDecimal(0)).cast(DecimalType(38, 0)))
        .as("h"))
  }

  /** Renders the collected aggregate with the column names, so a renamed or
    * added column changes the fingerprint too.
    */
  def render(df: DataFrame, agg: org.apache.spark.sql.Row): (Long, String) = {
    val rows = agg.getLong(0)
    val h = agg.getDecimal(1).toPlainString
    (rows, s"${df.columns.sorted.mkString(",")}|$rows|$h")
  }

  def of(df: DataFrame): (Long, String) = render(df, plan(df).collect()(0))
}
