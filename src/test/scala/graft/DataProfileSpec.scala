package graft

import java.sql.Timestamp

import graft.ops.OpsKit
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** q191's column profile against its 24-aggregate formulation: one
  * global aggregate with six countDistincts, unpivoted by `stack`. */
class DataProfileSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val q191 = SparkEntry.queries("q191_data_profile")

  private def reference(ev: DataFrame): DataFrame = {
    def nulls(c: String) =
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nu_$c")
    def nd(c: String) = countDistinct(col(c)).as(s"nd_$c")
    ev.agg(
      count(lit(1)).as("n"),
      nulls("event_id"), nd("event_id"),
      min(col("event_id")).cast("string").as("mn_event_id"),
      max(col("event_id")).cast("string").as("mx_event_id"),
      nulls("ts"), nd("ts"),
      date_format(min(col("ts")), OpsKit.TsFmt).as("mn_ts"),
      date_format(max(col("ts")), OpsKit.TsFmt).as("mx_ts"),
      nulls("user_id"), nd("user_id"),
      min(col("user_id")).cast("string").as("mn_user_id"),
      max(col("user_id")).cast("string").as("mx_user_id"),
      nulls("event_type"), nd("event_type"),
      min(col("event_type")).as("mn_event_type"),
      max(col("event_type")).as("mx_event_type"),
      nulls("value"), nd("value"),
      min(col("value")).cast("decimal(28,6)").cast("string")
        .as("mn_value"),
      max(col("value")).cast("decimal(28,6)").cast("string")
        .as("mx_value"),
      nulls("props"), nd("props"),
      min(col("props")).as("mn_props"),
      max(col("props")).as("mx_props"))
      .select(expr(
        """stack(6,
          |  'event_id', n, nu_event_id, nd_event_id, mn_event_id,
          |    mx_event_id,
          |  'ts', n, nu_ts, nd_ts, mn_ts, mx_ts,
          |  'user_id', n, nu_user_id, nd_user_id, mn_user_id,
          |    mx_user_id,
          |  'event_type', n, nu_event_type, nd_event_type,
          |    mn_event_type, mx_event_type,
          |  'value', n, nu_value, nd_value, mn_value, mx_value,
          |  'props', n, nu_props, nd_props, mn_props, mx_props)
          |  AS (column_name, n_rows, n_nulls, n_distinct, min_value,
          |      max_value)""".stripMargin))
  }

  private val schema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** A data dir whose `events` table holds `rows`. */
  private def eventsDir(rows: Seq[Row]): String = {
    val dir = TestSpark.tempDir("graft-q191").toString
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .repartition(3).write.parquet(s"$dir/events.parquet")
    dir
  }

  /** q191 and the reference over an `events` table of `rows`, each as
    * rows sorted by column name. */
  private def both(rows: Seq[Row]): (Seq[Row], Seq[Row]) = {
    val dir = eventsDir(rows)
    def sorted(df: DataFrame) = df.collect().toSeq.sortBy(_.getString(0))
    (sorted(q191(spark, dir)), sorted(reference(OpsKit.events(spark, dir))))
  }

  private def ts(s: String) = Timestamp.valueOf(s)

  private val t0 = "2024-03-01 10:00:00"
  private val mixed = Seq(
    Row(1L, ts(t0), 10L, "click", 0.0, "a"),
    Row(2L, ts(t0), 10L, "click", -0.0, null),
    Row(2L, null, null, null, Double.NaN, "a"),
    Row(null, ts("2024-03-02 00:00:00"), 11L, "view",
      java.lang.Double.longBitsToDouble(0x7ff8000000000001L), "b"),
    Row(5L, ts("2023-12-31 23:59:59"), 12L, "buy", -2.5, ""),
    Row(null, null, null, null, null, null))

  test("q191 matches the reference: NULLs, duplicates, signed zeros, NaN") {
    val (got, want) = both(mixed)
    assert(got == want)
    val value = got.find(_.getString(0) == "value").get
    // 0.0 and -0.0 are one value, and so are the two NaNs
    assert(value.getLong(3) == 3L)
    assert(got.forall(_.getLong(1) == 6L))
    assert(got.forall(_.getLong(2) >= 1L))
  }

  test("q191 matches the reference: close doubles, microsecond timestamps") {
    val rows = Seq(
      Row(1L, ts("2024-01-01 00:00:00.000001"), 1L, "a", 0.1 + 0.2, "x"),
      Row(2L, ts("2024-01-01 00:00:00.000002"), 1L, "a", 0.3, "x"),
      Row(3L, ts("2024-01-01 00:00:00"), 2L, "b", 0.3, "y"),
      Row(4L, ts("2024-01-01 00:00:00.000001"), 2L, "b", 1e-7, "y"))
    val (got, want) = both(rows)
    assert(got == want)
    val nd = got.map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(nd("value") == 3L && nd("ts") == 3L)
  }

  test("q191 on an empty events table reports six rows") {
    val (got, want) = both(Seq.empty)
    assert(got == want)
    assert(got.map(_.getString(0)) ==
      Seq("event_id", "event_type", "props", "ts", "user_id", "value"))
    assert(got.forall(r => r.getLong(1) == 0L && r.isNullAt(2) &&
      r.getLong(3) == 0L && r.isNullAt(4) && r.isNullAt(5)))
  }

  test("from its third run in a session, q191 compiles no classes") {
    // the 7-way Expand that six countDistincts plan lays out its
    // distinct groups differently on every run, so it compiles classes
    // on every run
    def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val dir = eventsDir(mixed)
    val perRun = (1 to 4).map { _ =>
      val before = compiles()
      q191(spark, dir).collect()
      compiles() - before
    }
    info(s"classes compiled per run: ${perRun.mkString(", ")}")
    assert(perRun.drop(2).forall(_ == 0))
  }
}
