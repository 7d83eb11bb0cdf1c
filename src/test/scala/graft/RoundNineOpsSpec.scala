package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-9 additions (q206–q213): invariants the DuckDB hash gate can't
  * express on its own — internal consistency between columns, bounds,
  * and scalar re-derivations.
  */
class RoundNineOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("q206 cohort day-0 retention is exactly 1.0 and offsets shrink") {
    val rows = SparkEntry.queries("q206_retention_cohorts")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    // day 0: everyone in the cohort was active by definition
    val day0 = rows.filter(_._2 == 0L)
    assert(day0.nonEmpty)
    assert(day0.forall { case (_, _, na, cn, r) => na == cn && r == 1.0 })
    // no cell can exceed its cohort
    assert(rows.forall { case (_, _, na, cn, r) => na <= cn && r <= 1.0 })
  }

  test("q207 dwell totals reconcile with a scalar re-derivation") {
    val got = SparkEntry.queries("q207_scd2_dwell")(spark, dir)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    // scalar reference: walk each user's ordered events, compress
    // consecutive same-type runs, accumulate closed-interval dwell
    val ev = graft.ops.OpsKit.events(spark, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("event_type"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val want = scala.collection.mutable.Map
      .empty[String, (Long, Long)].withDefaultValue((0L, 0L))
    for ((_, evs) <- ev.groupBy(_._1)) {
      val ordered = evs.sortBy(e => (e._2, e._3))
      val changes = ordered.zipWithIndex.filter { case (e, i) =>
        i == 0 || ordered(i - 1)._4 != e._4
      }.map(_._1)
      changes.toSeq.sliding(2).foreach { pair =>
        if (pair.length == 2) {
          val (a, b) = (pair(0), pair(1))
          val (n, t) = want(a._4)
          want(a._4) = (n + 1, t + (b._2 - a._2))
        }
      }
    }
    assert(got == want.toMap, s"got $got want $want")
  }

  test("q208 estimator is exact when a pair's union fits in one sketch") {
    val rows = SparkEntry.queries("q208_kmv_resemblance")(spark, dir)
      .collect()
      .map(r => (r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5)))
    assert(rows.nonEmpty)
    // nx is capped at k and n_common can never exceed it
    assert(rows.forall { case (nx, nc, _, _) => nx <= 32 && nc <= nx })
    // bottom-k with nx < k means the sketch IS the union: Ĵ == J exactly
    val small = rows.filter(_._1 < 32)
    assert(small.forall { case (_, _, je, jx) => je == jx },
      s"sub-k sketch must be exact: ${small.take(3).mkString(", ")}")
  }

  test("q209 Hellinger distances are symmetric-complete and bounded") {
    val rows = SparkEntry.queries("q209_hellinger_matrix")(spark, dir)
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getDouble(2), r.getDouble(3))))
    val nSrc = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("source")).distinct().count()
    // every unordered pair with shared vocabulary, each exactly once
    assert(rows.map(_._1).distinct.length == rows.length)
    assert(rows.length <= nSrc * (nSrc - 1) / 2)
    assert(rows.forall { case (_, (bc, h)) =>
      bc >= 0.0 && bc <= 1.0 + 1e-9 && h >= 0.0 && h <= 1.0 })
  }

  test("q210 flags a planted mid-series rate shift at the shift hour") {
    import spark.implicits._
    val tmp = TestSpark.tempDir("q210").toString
    // 10 quiet hours (1 event/h) then 10 loud hours (5 events/h):
    // |S_k| = |n·cum − k·total| peaks exactly at the last quiet hour
    val rows = (0 until 10).flatMap(h => Seq(h.toLong)) ++
      (10 until 20).flatMap(h => Seq.fill(5)(h.toLong))
    rows.zipWithIndex.map { case (h, i) =>
      (i.toLong, h * 3600000000L, 1L, "burst", 1.0, "{}")
    }.toDF("event_id", "ts_us", "user_id", "event_type", "value", "props")
      .select(col("event_id"), timestamp_micros(col("ts_us")).as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val got = SparkEntry.queries("q210_cusum_changepoint")(spark, tmp)
      .collect().head
    assert(got.getString(0) == "burst")
    assert(got.getLong(1) == 20L && got.getLong(2) == 60L)
    // S_k = 20·k − k·60 = −40k on the quiet prefix: max |S| at hour 9
    assert(got.getLong(3) == 9L, s"cp_hour ${got.getLong(3)}")
    assert(got.getLong(4) == 400L, s"s_max ${got.getLong(4)}")
  }

  test("q211 recall is a valid ratio over the expected query count") {
    val r = SparkEntry.queries("q211_bitsig_ann")(spark, dir)
      .collect().head
    val nq = spark.read.parquet(s"$dir/embeddings.parquet")
      .filter(col("vec_id") % 100 === 0).count()
    assert(r.getLong(0) == nq)
    assert(r.getLong(1) <= r.getLong(0))
    assert(r.getDouble(2) ==
      r.getLong(1).toDouble / r.getLong(0).toDouble)
  }

  test("q212 selection respects quotas and the checksum matches a re-draw") {
    val rows = SparkEntry.queries("q212_mixture_sampler")(spark, dir)
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(rows.nonEmpty)
    assert(rows.forall { case (_, (avail, quota, sel, _)) =>
      sel == math.min(avail, quota) })
    // independent re-draw of one source's selection via the same md5 rank
    val (src, (_, quota, _, selSum)) = rows.head
    val want = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("source") === src)
      .select(col("doc_id"),
        graft.ops.LlmKit.strHash(col("doc_id").cast("string")).as("h"))
      .collect().map(r => (r.getLong(1), r.getLong(0)))
      .sorted.take(quota.toInt).map(_._2).sum
    assert(selSum == want, s"$src checksum $selSum != $want")
  }

  test("q213 slope matches a scalar least-squares fit") {
    val got = SparkEntry.queries("q213_trend_ols")(spark, dir)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    val pts = graft.ops.OpsKit.events(spark, dir)
      .select(col("event_type"),
        expr("unix_micros(ts) div 3600000000").as("h"), col("value"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    for ((t, xs) <- pts.groupBy(_._1)) {
      val h0 = xs.map(_._2).min
      val x = xs.map(e => (e._2 - h0).toDouble)
      val y = xs.map(_._3)
      val n = x.length.toDouble
      val slope = (n * x.zip(y).map { case (a, b) => a * b }.sum -
        x.sum * y.sum) / (n * x.map(a => a * a).sum - x.sum * x.sum)
      assert(math.abs(got(t) - slope) < 1e-6,
        s"$t: ${got(t)} vs scalar $slope")
    }
  }
}
