package graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive digest of a query result, computed inside the engine.
  *
  * Every column feeds the per-row hash, so the whole plan has to run:
  * unlike `count()`, Catalyst cannot prune a projection away. Rows are
  * combined by summing the two 32-bit halves of each 64-bit row hash,
  * which is exact for fewer than 2^31 rows and independent of row order
  * and partitioning.
  */
object RowHash {
  final case class Digest(rows: Long, hash: String, schema: String)

  /** Column names and types, sorted by name. */
  def schemaOf(df: DataFrame): String =
    df.schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}")
      .sorted.mkString(",")

  // xxhash64 rejects map types; their JSON form is hashed instead.
  private def hasMap(dt: DataType): Boolean = dt match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }

  def of(df: DataFrame): Digest = {
    // positional names, so duplicate output names cannot collide
    val flat = df.toDF(df.columns.indices.map(i => s"_c$i"): _*)
    val cols = df.schema.fields.zipWithIndex.sortBy(_._1.name).toSeq.map {
      case (f, i) =>
        val c = col(s"_c$i")
        if (hasMap(f.dataType)) to_json(struct(c)) else c
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = flat.select(h.as("h")).agg(
      count(lit(1)),
      coalesce(sum(col("h").bitwiseAND(0xFFFFFFFFL)), lit(0L)),
      coalesce(sum(shiftrightunsigned(col("h"), 32)), lit(0L))).head()
    Digest(r.getLong(0), f"${r.getLong(1)}%016x${r.getLong(2)}%016x",
      schemaOf(df))
  }
}
