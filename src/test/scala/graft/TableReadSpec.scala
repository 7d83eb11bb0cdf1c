package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import graft.ops.OpsKit
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** `OpsKit.tbl` infers a path's parquet schema once per session. */
class TableReadSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** `f`'s result and the number of Spark jobs it started. Listener
    * events arrive asynchronously but in order, so once a labeled marker
    * job started after `f` is seen, every job `f` started has been seen
    * too. */
  private def jobsOf[T](s: SparkSession)(f: => T): (T, Int) = {
    val marker = s"table-read-spec-${java.util.UUID.randomUUID()}"
    val jobs = new AtomicInteger(0)
    val markerSeen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .contains(marker)) markerSeen.countDown()
        else jobs.incrementAndGet()
    }
    val sc = s.sparkContext
    sc.addSparkListener(listener)
    try {
      val out = f
      OpsKit.labeled(s, marker)(sc.parallelize(Seq(1), 1).count())
      assert(markerSeen.await(60, TimeUnit.SECONDS), "marker job not seen")
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  test("the second read of a table in one session starts no Spark job") {
    val dir = TestSpark.tempDir("graft-tbl-memo").toString
    spark.range(100).selectExpr("id AS x", "cast(id AS string) AS y")
      .write.parquet(s"$dir/t.parquet")
    val first = OpsKit.tbl(spark, dir, "t")
    val (second, jobs) = jobsOf(spark)(OpsKit.tbl(spark, dir, "t"))
    assert(jobs == 0, s"second read started $jobs job(s)")
    assert(second.schema == first.schema)
    assert(second.count() == 100)
    // each read is a new relation: a self-join resolves both sides
    val ids = Seq(first, second)
      .map(_.queryExecution.analyzed.output.map(_.exprId).toSet)
    assert(ids(0).intersect(ids(1)).isEmpty)
    assert(first.join(second, first("x") === second("x")).count() == 100)
  }

  test("a table rewritten at the same path is read with its new schema") {
    val dir = TestSpark.tempDir("graft-tbl-rewrite").toString
    spark.range(5).selectExpr("id AS x").write.parquet(s"$dir/t.parquet")
    assert(OpsKit.tbl(spark, dir, "t").columns.toSeq == Seq("x"))
    spark.range(7).selectExpr("id AS x", "id * 2 AS z")
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val again = OpsKit.tbl(spark, dir, "t")
    assert(again.columns.toSeq == Seq("x", "z"))
    assert(again.selectExpr("sum(z)").head().getLong(0) == 42L)
  }

  test("a new session infers the schema on its own, under its own confs") {
    // two part files with different schemas: which one a plain read
    // infers from is up to the listing, a merging read sees both columns
    val dir = TestSpark.tempDir("graft-tbl-session").toString
    val path = s"$dir/t.parquet"
    spark.range(3).selectExpr("id AS x").write.parquet(path)
    spark.range(3).selectExpr("id AS x", "id AS z")
      .write.mode("append").parquet(path)
    val plain = OpsKit.tbl(spark, dir, "t").columns.toSeq
    val other = spark.newSession()
    other.conf.set("spark.sql.parquet.mergeSchema", "true")
    val (merged, jobs) = jobsOf(other)(OpsKit.tbl(other, dir, "t"))
    assert(jobs == 1, s"the new session's first read started $jobs job(s)")
    assert(merged.columns.toSeq == Seq("x", "z"))
    assert(OpsKit.tbl(spark, dir, "t").columns.toSeq == plain)
  }
}
