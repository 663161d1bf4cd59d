package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, Coalesce, Expression, Literal, ToPrettyString, UnsafeProjection, XxHash64}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.types.StringType

/** The exec layer's one action and the output check in one: a row count
  * plus an order-independent hash over every column of the result.
  *
  * Each row hashes (xxhash64) the string form of all its columns, taken in
  * (name, position) order; the fingerprint is the row count and the sums
  * of the hashes' low and high 32-bit halves. Sums commute, so partitioning
  * and row order cannot change it, and every column is read, so column
  * pruning cannot skip work.
  */
object Fingerprint {

  final case class Fp(rows: Long, lo: Long, hi: Long) {
    override def toString: String = s"$rows:$lo:$hi"
  }

  private val NullMark = Literal("\u0000null")

  /** A string form of `e` that is never null (nulls map to a marker no
    * real value renders as). */
  private def canonical(e: Expression): Expression =
    if (Cast.canCast(e.dataType, StringType))
      Coalesce(Seq(Cast(e, StringType, Some("UTC")), NullMark))
    else Coalesce(Seq(ToPrettyString(e, Some("UTC")), NullMark))

  /** The per-row hash over all of `output`'s columns. */
  def rowHash(output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute]): Expression = {
    val cols = output.zipWithIndex.sortBy { case (a, i) => (a.name, i) }
      .map { case (a, i) => canonical(BoundReference(i, a.dataType, a.nullable)) }
    XxHash64(if (cols.isEmpty) Seq(Literal("")) else cols, 42L)
  }

  /** Execute `df`'s already-planned physical plan once and fingerprint the
    * rows it produces. Planning is not repeated: the action runs
    * `df.queryExecution.executedPlan` as it stands. */
  def of(df: DataFrame): Fp = {
    val qe = df.queryExecution
    val hash = rowHash(qe.executedPlan.output)
    SQLExecution.withNewExecutionId(qe, Some("perfbench fingerprint")) {
      val parts = qe.toRdd.mapPartitions { it =>
        val proj = UnsafeProjection.create(Seq(hash))
        var n = 0L
        var lo = 0L
        var hi = 0L
        it.foreach { (r: InternalRow) =>
          val h = proj(r).getLong(0)
          n += 1
          lo += h & 0xffffffffL
          hi += h >>> 32
        }
        Iterator((n, lo, hi))
      }.collect()
      Fp(parts.map(_._1).sum, parts.map(_._2).sum, parts.map(_._3).sum)
    }
  }
}
