package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Co-located join via bucketing (SURVEY.md §4, the 100 TB join strategy):
  * when both sides are bucketed and sorted on the join key, the sort-merge
  * join runs with NO shuffle exchange — the property that makes repeated
  * fact-to-fact joins affordable at scale. This spec proves the plan shape,
  * not just the result. */
class BucketingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("bucketed join plans without a shuffle exchange") {
    val d = "/root/testdata/sf0.001"
    val wh = TestSpark.tempDir("graft-warehouse").toString
    spark.sql("DROP TABLE IF EXISTS li_bucketed")
    spark.sql("DROP TABLE IF EXISTS ord_bucketed")

    spark.read.parquet(s"$d/lineitem.parquet")
      .select("l_orderkey", "l_quantity", "l_extendedprice")
      .write.bucketBy(4, "l_orderkey").sortBy("l_orderkey")
      .option("path", s"$wh/li_bucketed").saveAsTable("li_bucketed")
    spark.read.parquet(s"$d/orders.parquet")
      .select("o_orderkey", "o_totalprice")
      .write.bucketBy(4, "o_orderkey").sortBy("o_orderkey")
      .option("path", s"$wh/ord_bucketed").saveAsTable("ord_bucketed")

    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // force a non-broadcast join so the exchange question is real
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("li_bucketed")
        .join(spark.table("ord_bucketed"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity")).as("q"), first(col("o_totalprice")))

      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"))
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join must not shuffle:\n$plan")

      // and the result matches the unbucketed computation
      val expected = spark.read.parquet(s"$d/lineitem.parquet")
        .join(spark.read.parquet(s"$d/orders.parquet"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_orderkey")).agg(sum(col("l_quantity")).as("q"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val got = joined.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(got == expected)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS li_bucketed")
      spark.sql("DROP TABLE IF EXISTS ord_bucketed")
    }
  }

  test("partitioned layout prunes non-matching partitions at the scan") {
    // The other half of the 100 TB layout story: a corpus written
    // partitioned by its natural query key (source domain) lets a
    // per-domain query read ONLY that domain's files — partition pruning
    // at planning time, before any I/O. At 100 TB this is the difference
    // between scanning one domain and scanning the lake.
    val dir = TestSpark.tempDir("graft-part").toString + "/docs"
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .write.partitionBy("source").parquet(dir)

    val q = spark.read.parquet(dir)
      .filter(col("source") === "src3")
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars"))
    val scan = q.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: [isnotnull(source"),
      s"partition filter not recognized:\n$scan")
    // pruning actually happened: only the one matching directory is read
    // (sparkPlan, not executedPlan — AQE wraps the scan out of collect's
    // reach; partition pruning is decided before AQE anyway)
    val read = q.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.selectedPartitions.partitionCount
    }
    assert(read == Seq(1), s"expected exactly 1 selected partition, got $read")
    // result parity with the unpartitioned scan
    val want = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .filter(col("source") === "src3")
      .agg(count(lit(1)), sum(col("n_chars"))).head()
    assert(q.head() == want)
  }
}
