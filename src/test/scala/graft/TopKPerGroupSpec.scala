package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The custom whole-operator extension (graft.plans.TopKPerGroup):
  * result parity against the declarative window form, plan-shape
  * guarantees (no Sort/Window; partial+final pair around one exchange),
  * and partition-count invariance (the distributed-exactness claim).
  */
class TopKPerGroupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def windowForm(k: Int) = {
    import org.apache.spark.sql.expressions.Window
    graft.ops.OpsKit.events(spark, dir)
      .select(col("event_type"), col("event_id"), col("value"))
      .withColumn("rk", row_number().over(Window
        .partitionBy(col("event_type"))
        .orderBy(col("value").desc, col("event_id"))))
      .filter(col("rk") <= k).drop("rk")
  }

  private def operatorForm(k: Int, parts: Int) =
    graft.plans.TopKPerGroup.topK(
      graft.ops.OpsKit.events(spark, dir)
        .select(col("event_type"), col("event_id"), col("value"))
        .repartition(parts),
      keys = Seq("event_type"),
      order = Seq(("value", true), ("event_id", false)),
      k = k)

  test("row-identical to the window form, at several partition counts") {
    val want = windowForm(5).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).sorted
    for (parts <- Seq(1, 7, 32)) {
      val got = operatorForm(5, parts).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).sorted
      assert(got.toSeq == want.toSeq, s"mismatch at $parts partitions")
    }
  }

  test("physical plan: partial+final heap pair, no Sort, no Window") {
    val plan = operatorForm(5, 8).queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerGroupPartial"), plan)
    assert(plan.contains("TopKPerGroupFinal"), plan)
    assert(!plan.contains("Sort "), s"unexpected sort:\n$plan")
    assert(!plan.contains("Window"), s"unexpected window:\n$plan")
    assert(plan.contains("Exchange"), s"missing exchange:\n$plan")
  }

  test("k larger than every group returns all rows") {
    val n = graft.ops.OpsKit.events(spark, dir).count()
    assert(operatorForm(1000000, 4).count() == n)
  }

  test("k = 1 returns exactly one row per group, the max") {
    val rows = operatorForm(1, 8).collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    val want = graft.ops.OpsKit.events(spark, dir)
      .groupBy(col("event_type")).agg(max(col("value")))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(rows == want)
  }

  /** Runs `body` with TopKWindowRewrite appended to the session's
    * `spark.sql.optimizer.excludedRules`, then restores the old value
    * (which already excludes rules of its own, see Sessions.builder). */
  private def withoutRewrite[T](body: => T): T = {
    val key = "spark.sql.optimizer.excludedRules"
    val saved = spark.conf.get(key)
    spark.conf.set(key,
      s"$saved,${graft.plans.TopKWindowRewrite.ruleName}")
    try body finally spark.conf.set(key, saved)
  }

  test("extensions inject exactly one optimizer rule: TopKWindowRewrite") {
    val graftRules = spark.sessionState.optimizer.batches
      .flatMap(_.rules).map(_.ruleName).filter(_.startsWith("graft."))
    assert(graftRules.distinct == Seq("graft.plans.TopKWindowRewrite"),
      graftRules)
  }

  test("rewrite rule: ON by default, off switch restores the plain window") {
    val on = windowForm(5)
    val opt = on.queryExecution.optimizedPlan.toString
    assert(opt.contains("TopKPerGroup"), opt)
    // the Window survives ABOVE the thinned child (rn still usable)
    val phys = on.queryExecution.executedPlan.toString
    assert(phys.contains("TopKPerGroupFinal") && phys.contains("Window"),
      phys)
    val want = on.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).sorted
    withoutRewrite {
      val off = windowForm(5)
      assert(!off.queryExecution.optimizedPlan.toString
        .contains("TopKPerGroup"))
      val got = off.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).sorted
      // excluding the rule changes the plan, never the rows (total order)
      assert(got.toSeq == want.toSeq)
    }
    // the shared session is left as Sessions.builder made it, so later
    // suites plan with the shipped rule set
    assert(spark.conf.get("spark.sql.optimizer.excludedRules") ==
      Sessions.ExcludedRules)
  }

  test("rewrite rule: claims the shape inside native coverage; stacking is benign") {
    // WindowGroupLimitExec filters SORTED partitions while TopKPerGroup's
    // partial heaps never sort, so the rule claims k <= threshold shapes
    // too. The native rule (a LATER batch) may stack its WindowGroupLimit
    // over the already-thinned child; that must not break row parity.
    val df = windowForm(5) // default threshold 1000 covers k=5
    val opt = df.queryExecution.optimizedPlan.toString
    assert(opt.contains("TopKPerGroup"), opt)
    // both thinning operators coexist, ours below (it runs first)
    assert(opt.contains("WindowGroupLimit"), opt)
    assert(opt.indexOf("WindowGroupLimit") < opt.indexOf("TopKPerGroup"),
      s"native limit should sit above the heap operator:\n$opt")
    assert(df.count() > 0)
  }

  test("rewrite rule: a GLOBAL top-k (empty partition) must not match") {
    import org.apache.spark.sql.expressions.Window
    // ClusteredDistribution(Nil) would be rejected at planning — the
    // rule must leave the global form to TakeOrderedAndProject.
    // WAIVER: this is the one sanctioned "No Partition Defined"
    // WindowExec warning in the test suite — the empty partition spec
    // IS the fixture (every main-source bounded window runs through
    // OpsKit.boundedWin and does not warn)
    val df = graft.ops.OpsKit.events(spark, dir)
      .select(col("event_id"), col("value"))
      .withColumn("rn", row_number().over(
        Window.orderBy(col("value").desc, col("event_id"))))
      .filter(col("rn") <= 5)
    assert(!df.queryExecution.optimizedPlan.toString
      .contains("TopKPerGroup"))
    assert(df.count() == 5) // and it still runs
  }

  test("rewrite rule: non-matching filters stay untouched when enabled") {
    import org.apache.spark.sql.expressions.Window
    // rank() (not row_number) must not match
    val df = graft.ops.OpsKit.events(spark, dir)
      .select(col("event_type"), col("event_id"), col("value"))
      .withColumn("rk", rank().over(Window
        .partitionBy(col("event_type"))
        .orderBy(col("value").desc, col("event_id"))))
      .filter(col("rk") <= 5)
    assert(!df.queryExecution.optimizedPlan.toString
      .contains("TopKPerGroup"))
    assert(df.count() > 0)
  }

  test("property: random tables, keys, ties and k agree with a scalar") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import spark.implicits._
    // duplicate (key, v) pairs are GENERATED on purpose — the id
    // tie-break is what makes the order total, so ties must be common
    val rowGen = for {
      key <- Gen.oneOf("a", "b", "c", "d")
      v <- Gen.choose(0L, 20L)
    } yield (key, v)
    for (seed <- 1 to 8) {
      val n = 40 + seed * 17
      val rows = (0 until n).flatMap { i =>
        rowGen.apply(Gen.Parameters.default,
          Seed(seed * 1000L + i)).map { case (kk, v) => (kk, i.toLong, v) }
      }
      val k = 1 + seed % 5
      val df = rows.toDF("g", "id", "v").repartition(5)
      val got = graft.plans.TopKPerGroup.topK(df, Seq("g"),
        Seq(("v", true), ("id", false)), k)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .sorted
      val want = rows.groupBy(_._1).toSeq.flatMap { case (_, grp) =>
        grp.sortBy(t => (-t._3, t._2)).take(k)
      }.sorted
      assert(got.toSeq == want, s"seed $seed k $k")
    }
  }
}
