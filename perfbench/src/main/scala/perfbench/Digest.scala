package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

/** Full-result sink: an order-independent digest over every row and
  * every column of a result. Each row hashes all of its columns with
  * xxhash64, and the row hashes are summed as two 32-bit halves, so the
  * digest depends on neither row order nor partitioning, yet Catalyst
  * cannot prune any column the way it prunes the work `.count()` does
  * not need. */
object Digest {
  final case class Result(rows: Long, digest: String)

  /** The one-row aggregate `(rows, lo, hi)` over `df`. */
  def frame(df: DataFrame): DataFrame = {
    // positional names: results may repeat a column name
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols: Seq[Column] = named.schema.fields.toSeq.map { f =>
      f.dataType match {
        // map hashing is unordered-unsafe; hash its sorted entries
        case _: MapType => array_sort(map_entries(col(f.name)))
        case _ => col(f.name)
      }
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    named.select(h.as("h")).agg(
      count(lit(1)).as("rows"),
      coalesce(sum(col("h").bitwiseAND(0xffffffffL)), lit(0L)).as("lo"),
      coalesce(sum(shiftrightunsigned(col("h"), 32)), lit(0L)).as("hi"))
  }

  /** Folds the collected aggregate row into a printable digest. */
  def result(row: org.apache.spark.sql.Row): Result = {
    val rows = row.getLong(0)
    // lo and hi sums each stay below 2^63 for fewer than 2^31 rows
    val mixed = row.getLong(1) * 0x9E3779B97F4A7C15L ^ row.getLong(2)
    Result(rows, f"$mixed%016x")
  }

  def of(df: DataFrame): Result = result(frame(df).collect().head)
}
