package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, XxHash64}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** An order-independent digest of a multiset of rows: the row count and
  * the sum of every row's `xxhash64` over the named columns. */
final case class RowHash(rows: Long, sum: BigDecimal) {
  override def toString: String = s"$rows rows, hash sum $sum"
}

/** Correctness checks shared by the workloads. Each returns None when it
  * holds and a one-line reason when it does not. */
object Checks {
  /** The digest Spark computes over `cols` of `df`. */
  def frameHash(df: DataFrame, cols: Seq[String]): RowHash = {
    val r = df.select(xxhash64(cols.map(col): _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    RowHash(r.getLong(0),
      Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
  }

  /** The same digest, computed in the driver from rows held there. Values
    * are Scala/Java values in the order and types of `schema`. */
  def rowsHash(rows: Iterator[Seq[Any]], schema: StructType): RowHash = {
    val expr = XxHash64(schema.fields.toSeq.zipWithIndex.map { case (f, i) =>
      BoundReference(i, f.dataType, f.nullable) }, 42L)
    var n = 0L
    var total = BigInt(0)
    rows.foreach { r =>
      val internal = InternalRow.fromSeq(r.map {
        case s: String => UTF8String.fromString(s)
        case ts: java.sql.Timestamp =>
          org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp(ts)
        case other => other
      })
      total += expr.eval(internal).asInstanceOf[Long]
      n += 1
    }
    RowHash(n, BigDecimal(total))
  }

  def same(what: String, actual: RowHash, expected: RowHash): Option[String] =
    if (actual == expected) None
    else Some(s"$what: got $actual, expected $expected")

  /** A view holding per-key count, sum, min and max of `value` must equal
    * the same aggregate recomputed from `table`. */
  def viewMatches(view: DataFrame, table: DataFrame, key: String,
                  value: String): Option[String] = {
    val cols = Seq(key, "cnt", "sum", "min", "max")
    val fromView = view.select(col(key), col("cnt"),
      col("sum").cast("decimal(38,2)").as("sum"), col("min"), col("max"))
    val recomputed = table.groupBy(col(key)).agg(
      count(lit(1)).as("cnt"),
      sum(col(value).cast("decimal(38,2)")).cast("decimal(38,2)").as("sum"),
      min(col(value)).as("min"), max(col(value)).as("max"))
    same("view vs recompute", frameHash(fromView, cols),
      frameHash(recomputed, cols)).map { msg =>
      def rows(df: DataFrame) = df.limit(3).collect().mkString(" ")
      s"$msg; only in view: ${rows(fromView.exceptAll(recomputed))}; " +
        s"only in recompute: ${rows(recomputed.exceptAll(fromView))}"
    }
  }
}
