package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class AnalyticsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("q108 binned quantiles sit within one bin width of the exact values") {
    // the sketch's stated contract: the reported bin lower edge is within
    // one 0.25-wide bin of the exact DISC percentile (smallest value at
    // rank >= ceil(q*n) — the same rank rule the sketch reads off the
    // cumulative histogram; an interpolating percentile has no such
    // bound, it can fall between data points)
    val approx = SparkEntry.queries("q108_binned_quantiles")(spark, dir)
      .collect().map(r => r.getString(0) ->
        Seq(r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    val byType = graft.ops.OpsKit.events(spark, dir)
      .select(col("event_type"), col("value"))
      .collect().map(r => (r.getString(0), r.getDouble(1)))
      .groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2).sorted }
    def disc(xs: Array[Double], q: Double): Double =
      xs((math.ceil(q * xs.length).toInt - 1).max(0))
    assert(approx.keySet == byType.keySet && approx.nonEmpty)
    for ((t, as) <- approx; (q, a) <- Seq(0.50, 0.95, 0.99).zip(as)) {
      val e = disc(byType(t).toArray, q)
      assert(a <= e && e < a + 0.25, s"$t p$q: approx $a vs exact $e")
    }
  }

  test("q259 satisfies the Murphy identity: Brier = REL - RES + UNC") {
    // p̂ is constant within each bin (bin/10), which is exactly the
    // condition under which the Murphy (1973) decomposition is an
    // IDENTITY, not an approximation — so the three components
    // reassembled from the query's exact integer numerators must equal
    // the directly-computed Brier score to float rounding. This is the
    // scalar re-derivation the hash gate can't give: the oracle proves
    // Spark == DuckDB, this proves both == the textbook formula.
    // sf0.01: sf0.001's per-user event volume caps every user at bin 10
    // (a one-row diagram satisfies the identity vacuously); the larger
    // SF spreads users across 7 bins so REL and RES are both nonzero
    val rows = SparkEntry.queries("q259_calibration")(
      spark, "/root/testdata/sf0.01").collect()
    assert(rows.length > 1)
    val n = rows.map(_.getAs[Long]("n_users")).sum.toDouble
    val brier = rows.head.getAs[Double]("brier")
    val yBar = rows.head.getAs[Double]("base_rate")
    def sq(x: Double): Double = x * x
    val rel = rows.map(r => sq(r.getAs[Long]("rel_fac").toDouble) /
      (100.0 * r.getAs[Long]("n_users"))).sum / n
    val res = rows.map(r => sq(r.getAs[Long]("res_fac").toDouble) /
      (r.getAs[Long]("n_users") * n * n)).sum / n
    val unc = yBar * (1.0 - yBar)
    assert(math.abs(brier - (rel - res + unc)) < 1e-10,
      s"brier=$brier rel=$rel res=$res unc=$unc")
    // and the reliability diagram is coherent: mean_pred = bin/10 exactly
    rows.foreach { r =>
      assert(r.getAs[Double]("mean_pred") == r.getAs[Long]("bin") / 10.0)
    }
    // de-degeneracy guards (the r11 red row): the high-value outcome
    // must actually vary — an all-1.0 emp_rate column means the fixture
    // regressed to "every user converts" and the decomposition is
    // vacuous again; res_fac must be nonzero somewhere or RES certifies
    // nothing; and the totals must be self-consistent with the bins
    assert(rows.map(_.getAs[Double]("emp_rate")).distinct.length > 1,
      "emp_rate is constant: the outcome is degenerate at this SF")
    assert(rows.exists(_.getAs[Long]("res_fac") != 0L),
      "res_fac all zero: no resolution signal")
    assert(0.0 < yBar && yBar < 1.0, s"degenerate base_rate $yBar")
    assert(rows.head.getAs[Long]("nt").toDouble == n &&
      rows.head.getAs[Long]("yt") ==
        rows.map(_.getAs[Long]("n_pos")).sum)
  }

  test("q143 surfaces a planted monster basket in max_pair_work") {
    import spark.implicits._
    // 3 identical orders each holding the SAME 50 parts: every part is
    // frequent (support 3 ≥ threshold), so all 50 survive the A-Priori
    // prune and the per-basket pair expansion is C(50,2) = 1225 — the
    // diagnostic must report exactly that, because it is the quantity an
    // operator watches to catch super-linear pair growth early
    val tmp = TestSpark.tempDir("q143guard").toString
    val rows = for (o <- 1L to 3L; p <- 1L to 50L) yield (o, p)
    rows.toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$tmp/lineitem.parquet")
    val got = SparkEntry.queries("q143_basket_rules")(spark, tmp).collect()
    assert(got.nonEmpty)
    val mpw = got.head.getAs[Long]("max_pair_work")
    assert(mpw == 1225L, s"max_pair_work $mpw != C(50,2)")
    // and every reported pair really has support 3
    assert(got.forall(_.getAs[Long]("supp") == 3L))
  }
}
