package graft.analytics

import java.sql.Timestamp
import java.time.LocalDate
import graft.SparkSpec

/** e13 seasonal-forecast pins: exactness on a planted weekly pattern and a
  * full independent re-derivation (single-threaded Scala fold) at sf0.001.
  */
class SeasonalForecastSpec extends SparkSpec {
  import spark.implicits._

  private def sparkDow(d: LocalDate): Int = d.getDayOfWeek.getValue % 7 + 1

  private def writeOrders(dir: String,
      rows: Seq[(LocalDate, Double)]): Unit = {
    val df = rows.zipWithIndex.map { case ((d, price), i) =>
      (i.toLong, i.toLong % 100, "F", price,
        Timestamp.valueOf(d.atStartOfDay()), "1-URGENT")
    }.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority")
    df.coalesce(1).write.mode("overwrite").parquet(s"$dir/orders.parquet")
  }

  test("planted weekly pattern: seasonal forecast is exact, naive is not") {
    val dir = tempDir("graft-e13").toString
    val start = LocalDate.of(2024, 1, 1)
    // 20 full weeks, one order/day, revenue purely a function of weekday
    val rows = (0 until 140).map { i =>
      val d = start.plusDays(i.toLong)
      (d, 100.0 + 25.0 * sparkDow(d))
    }
    writeOrders(dir, rows)
    val out = ExtendedSqlQueries.e13SeasonalForecast.run(spark, dir)
      .collect()
    assert(out.length === 7)
    assert(out.map(_.getAs[Long]("n_test_days")).sum === 28L)
    // per-dow means are constant and the holdout repeats them exactly
    assert(out.forall(_.getAs[Long]("abs_err_cents") === 0L))
    assert(out.forall(_.getAs[Long]("wape_bp_seasonal") === 0L))
    // the overall mean misses every non-average weekday
    assert(out.forall(_.getAs[Long]("wape_bp_naive") > 0L))
  }

  test("sf0.001 rows reproduce a single-threaded fold exactly") {
    val daily = spark.read.parquet(s"$sfDir/orders.parquet")
      .collect()
      .groupBy(r => r.getAs[java.time.LocalDateTime]("o_orderdate").toLocalDate)
      .map { case (d, rs) =>
        d -> rs.map(r => (BigDecimal(r.getAs[Double]("o_totalprice"))
          .setScale(2, BigDecimal.RoundingMode.HALF_UP) * 100).toLongExact).sum
      }
    val dates = daily.keys.toSeq.sorted(Ordering.fromLessThan[LocalDate](_ isBefore _))
    val (train, test) = dates.splitAt(dates.size - 28)
    val dowCents = train.groupBy(sparkDow).map { case (k, ds) =>
      k -> (ds.map(daily).sum, ds.size.toLong)
    }
    val (totC, totD) = (train.map(daily).sum, train.size.toLong)
    val nv = totC / totD
    val scored = test.map { d =>
      val dow = sparkDow(d)
      val (dc, dn) = dowCents(dow)
      (dow, daily(d), dc / dn, dn)
    }
    val aeS = scored.map(s => math.abs(s._2 - s._3)).sum
    val aeN = scored.map(s => math.abs(s._2 - nv)).sum
    val act = scored.map(_._2).sum
    val expected = scored.groupBy(_._1).map { case (dow, rs) =>
      val actual = rs.map(_._2).sum
      val abserr = rs.map(r => math.abs(r._2 - r._3)).sum
      (dow.toLong, rs.head._4, rs.size.toLong, rs.head._3, actual, abserr,
        10000 * abserr / actual, 10000 * aeS / act, 10000 * aeN / act)
    }.toSet
    val got = ExtendedSqlQueries.e13SeasonalForecast.run(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7), r.getLong(8)))
      .toSet
    assert(got === expected)
  }
}
