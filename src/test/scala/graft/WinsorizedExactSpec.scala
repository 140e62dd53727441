package graft

import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers._

/** Round-12 fuzz seed-1705 regression: agg_winsorized_mean diverged
  * from the oracle by exactly 1e-6 — the prior spelling rounded
  * clamped values against interpolated-percentile DOUBLE cutoffs, and
  * a cutoff one cross-engine ulp from a 6-dp boundary flipped the
  * final rounded quotient. The entry is now fully exact-integer
  * (order statistics + rational p=1/20 interpolation in 20ths +
  * ⌊(2a·10⁶+b)/(2b)⌋ half-up, positive-shifted by 1e10 cents); this
  * spec pins it against an INDEPENDENT BigDecimal model of the type-7
  * winsorized mean on a corpus with negative totals, interpolation
  * fractions in every residue class, and single-row groups. */
class WinsorizedExactSpec extends SparkSpec {

  /** Exact type-7 winsorized mean, 6-dp HALF_UP, modeled with BigInt
    * order statistics and one BigDecimal division at the end —
    * independent of the entry's div/mod idiom. */
  private def model(prices: Seq[Double]): Double = {
    val off = BigInt("10000000000")
    val z = prices.map(p => BigInt(math.floor(p * 100).toLong) + off)
      .sorted.toIndexedSeq
    val n = z.length
    def cut20(posNum: Int): BigInt = {     // pos = posNum/20, 0-based
      val k = posNum / 20
      val f = posNum % 20
      val z1 = z(k)
      val z2 = if (k + 1 < n) z(k + 1) else z1
      z1 * 20 + (z2 - z1) * f
    }
    val lo20 = cut20(n - 1)                // p=0.05: (n-1)/20
    val hi20 = cut20(19 * (n - 1))         // p=0.95: 19(n-1)/20
    val s20 = z.map(zi => (zi * 20).max(lo20).min(hi20)).sum
    val d = BigInt(2000) * n
    val q = (BigDecimal(s20) / BigDecimal(d))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP)
    (q - BigDecimal(100000000)).toDouble
  }

  test("exact-integer winsorized mean equals the independent BigDecimal " +
       "model: negative totals, every interpolation residue, n=1") {
    val rng = new scala.util.Random(1705)
    // group sizes covering f=0 (n=21), every (n-1)%20 residue class,
    // and the degenerate single-row group; prices spanning the fuzz
    // hazard zones (sub-1, negative, normal band)
    val sizes = Seq(1, 2, 3, 7, 12, 19, 20, 21, 40, 41, 97)
    val rows = sizes.zipWithIndex.flatMap { case (sz, g) =>
      (0 until sz).map { i =>
        val r = rng.nextDouble()
        val price =
          if (r < 0.15) -math.round(rng.nextDouble() * 99900) / 100.0
          else if (r < 0.3) math.round(rng.nextDouble() * 99) / 100.0
          else math.round(rng.nextDouble() * 30000000) / 100.0
        (g.toLong * 1000 + i, 1L, "O", price,
         java.sql.Date.valueOf("2024-01-01"), f"G$g%02d")
      }
    }
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(SparkSpec.scratch()),
      "wins_exact").toString
    rows.toDF("o_orderkey", "o_custkey", "o_orderstatus",
              "o_totalprice", "o_orderdate", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val got = SparkEntry.queries("agg_winsorized_mean")(spark, dir)
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val byGroup = rows.groupBy(_._6)
    got.keySet shouldBe byGroup.keySet
    byGroup.foreach { case (g, rs) =>
      withClue(s"group $g (n=${rs.size}): ") {
        got(g)._1 shouldBe rs.size.toLong
        got(g)._2 shouldBe model(rs.map(_._4))
      }
    }
  }
}
