package perfbench

import org.apache.spark.sql.Row

/** Self-test of the benchmark's own checksum; no Spark session needed.
  * Exits non-zero on the first failure.
  *
  * Run: python3 perfbench/run.py --selftest
  */
object SelfTest {
  private var failures = 0

  private def expect(name: String, ok: Boolean): Unit = {
    println(s"${if (ok) "ok  " else "FAIL"} $name")
    if (!ok) failures += 1
  }

  def main(args: Array[String]): Unit = {
    val rows = Seq(Row(1L, "a", 0.1 + 0.2), Row(2L, "b", 1.5), Row(2L, "b", 1.5),
      Row(3L, null, Double.NaN))
    val (n, h) = Checksum.ofRows(rows.iterator)
    expect("counts every row, duplicates included", n == 4)
    expect("order-insensitive", Checksum.ofRows(rows.reverse.iterator) == ((n, h)))
    expect("duplicate rows change the checksum",
      Checksum.ofRows(rows.distinct.iterator)._2 != h)
    expect("last-ulp float noise is rounded away",
      Checksum.rowHash(Row(0.1 + 0.2)) == Checksum.rowHash(Row(0.3)))
    expect("a real difference is not rounded away",
      Checksum.rowHash(Row(0.3)) != Checksum.rowHash(Row(0.30001)))
    expect("negative zero equals zero", Checksum.rowHash(Row(-0.0)) == Checksum.rowHash(Row(0.0)))
    expect("decimal scale does not matter",
      Checksum.norm(new java.math.BigDecimal("1.50")) == Checksum.norm(new java.math.BigDecimal("1.5")))
    expect("null differs from the string 'null'",
      Checksum.rowHash(Row(null)) != Checksum.rowHash(Row("null")))
    expect("nested arrays and maps normalise",
      Checksum.norm(Row(Seq(1.0000001, 2.0), Map("b" -> 1, "a" -> 2))) == "([1,2],{a->2,b->1})")
    expect("column order matters", Checksum.rowHash(Row(1, 2)) != Checksum.rowHash(Row(2, 1)))
    if (failures > 0) sys.exit(1)
  }
}
