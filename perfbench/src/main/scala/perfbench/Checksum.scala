package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The benchmark's action: a checksum that reads every output column, so
  * Catalyst cannot prune the work a user of the result pays for.
  *
  * A row hashes to `xxhash64` over every column with its null flag (so a
  * null in column i differs from one in column j); map-typed values hash
  * through `to_json`, since Spark refuses to hash maps. The result is the
  * row count plus the sum of the row hashes, split into two 32-bit halves
  * so the sums never overflow: the same rows in any order and any
  * partitioning give the same checksum.
  *
  * The sums run over the query's own rows (`queryExecution.toRdd`), not
  * in a Catalyst aggregate: an order-insensitive aggregate above the query
  * would let the optimizer drop its final sort and the shuffle under it.
  */
object Checksum {
  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case a: ArrayType => hasMap(a.elementType)
    case _ => false
  }

  /** `df` with its rows projected to one hash column, not yet executed;
    * the rest of its plan is unchanged.
    */
  def hashed(df: DataFrame): DataFrame = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val parts: Seq[Column] = named.schema.fields.toSeq.flatMap { f =>
      val c = col(f.name)
      Seq(if (hasMap(f.dataType)) to_json(c) else c, c.isNull)
    }
    named.select((if (parts.isEmpty) lit(0L) else xxhash64(parts: _*)).as("h"))
  }

  /** Executes a [[hashed]] frame as one SQL execution: `rows:lo:hi`. */
  def sum(h: DataFrame): String = {
    val qe = h.queryExecution
    val (rows, lo, hi) = SQLExecution.withNewExecutionId(qe, Some("perfbench checksum")) {
      qe.toRdd.map(_.getLong(0)).aggregate((0L, 0L, 0L))(
        (a, x) => (a._1 + 1, a._2 + (x & 0xffffffffL), a._3 + (x >>> 32)),
        (a, b) => (a._1 + b._1, a._2 + b._2, a._3 + b._3))
    }
    s"$rows:$lo:$hi"
  }

  def of(df: DataFrame): String = sum(hashed(df))
}
