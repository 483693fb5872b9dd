package perfbench

import java.math.MathContext
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Row}

/** Order-insensitive checksum of a query result: the wrapping sum of a
  * 64-bit hash per row, so row order and partitioning do not matter while
  * every duplicate row still counts. Floating-point values are rounded to
  * [[SigDigits]] significant digits before hashing, so last-ulp differences
  * between partial-aggregation orders do not change the checksum.
  */
object Checksum {
  val SigDigits = 6
  private val mc = new MathContext(SigDigits)

  def norm(v: Any): String = v match {
    case null => "∅"
    case d: Double =>
      if (d.isNaN || d.isInfinite) d.toString
      else if (d == 0.0) "0"
      else new java.math.BigDecimal(d).round(mc).stripTrailingZeros.toPlainString
    case f: Float => norm(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: BigDecimal => norm(b.bigDecimal)
    case r: Row => r.toSeq.map(norm).mkString("(", ",", ")")
    case a: Array[Byte] => a.map(x => f"$x%02x").mkString("0x", "", "")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => norm(k) + "->" + norm(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(norm).mkString("[", ",", "]")
    case other => other.toString
  }

  def rowHash(r: Row): Long = {
    val s = norm(r)
    (MurmurHash3.stringHash(s, 0x5bd1e995).toLong << 32) |
      (MurmurHash3.stringHash(s, 0x1b873593).toLong & 0xffffffffL)
  }

  /** (row count, checksum) of rows already collected. */
  def ofRows(rows: Iterator[Row]): (Long, Long) =
    rows.foldLeft((0L, 0L)) { case ((n, h), r) => (n + 1, h + rowHash(r)) }

  /** (row count, checksum) of a DataFrame, computed where the rows are. */
  def of(df: DataFrame): (Long, Long) =
    df.rdd.mapPartitions(it => Iterator.single(ofRows(it)))
      .fold((0L, 0L)) { case ((n1, h1), (n2, h2)) => (n1 + n2, h1 + h2) }

  def hex(h: Long): String = f"$h%016x"
}
