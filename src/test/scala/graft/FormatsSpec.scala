package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Source/sink format coverage beyond CSV/parquet/JDBC: ORC round-trip
  * with predicate pushdown, spark.read.jdbc as a SOURCE (the sink side
  * is JdbcSinkSpec's; this proves the engine can also consume what it
  * wrote, with the filter pushed into the database), and JSON-lines with
  * an explicit schema + corrupt-record tolerance (the crawl-dump
  * interchange format).
  */
class FormatsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("ORC round-trips documents and pushes filters into the scan") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val dir = TestSpark.tempDir("graft-orc").toString + "/docs"
    docs.write.mode("overwrite").orc(dir)

    val back = spark.read.orc(dir)
    assert(back.schema == docs.schema)
    val want = docs.collect().map(_.toSeq).toSet
    assert(back.collect().map(_.toSeq).toSet == want)

    val q = back.filter(col("n_chars") >= 300).select("doc_id", "n_chars")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(n_chars)"),
      s"ORC filter not pushed:\n$plan")
    assert(q.count() ==
      docs.filter(col("n_chars") >= 300).count())
  }

  test("spark.read.jdbc consumes the sink's tables with filter pushdown") {
    val url = "jdbc:derby:memory:graftSrc;create=true"
    val con = java.sql.DriverManager.getConnection(url)
    try {
      con.createStatement().executeUpdate(
        "CREATE TABLE kv (id INT NOT NULL, v DOUBLE)")
      val st = con.prepareStatement("INSERT INTO kv VALUES (?, ?)")
      for (i <- 1 to 100) { st.setInt(1, i); st.setDouble(2, i * 0.5)
        st.addBatch() }
      st.executeBatch()
    } finally con.close()

    val df = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "kv").load()
      .filter(col("id") > 90)
    // the predicate must reach the database, not filter in Spark
    // (Derby upper-cases identifiers, hence ID)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("GreaterThan(ID,90)"),
      s"JDBC filter not pushed:\n$plan")
    assert(df.count() == 10)
    assert(df.agg(sum(col("v"))).head().getDouble(0) == (91 to 100)
      .map(_ * 0.5).sum)
  }

  test("JSON-lines round-trips documents with an explicit schema") {
    // the interchange format crawl dumps actually arrive in: one JSON
    // object per line. Explicit schema (never inference at scale — an
    // inference pass is a full extra read), permissive mode with a
    // corrupt-record column so a torn line degrades to one NULL row
    // instead of failing the 100 TB job.
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val dir = TestSpark.tempDir("graft-json").toString + "/docs"
    docs.write.mode("overwrite").json(dir)

    val back = spark.read
      .schema("doc_id BIGINT, text STRING, lang STRING, source STRING, " +
        "n_chars BIGINT")
      .json(dir)
    assert(back.collect().map(_.toSeq).toSet ==
      docs.collect().map(_.toSeq).toSet)

    // corrupt-line tolerance: append garbage, read permissively
    val bad = new java.io.PrintWriter(s"$dir/zz-corrupt.json")
    try bad.println("{not json at all") finally bad.close()
    // Spark refuses corrupt-column-only queries on the raw source
    // (QUERY_ONLY_CORRUPT_RECORD_COLUMN) — cache the parsed result first,
    // exactly as the error message prescribes
    val tolerant = spark.read
      .schema("doc_id BIGINT, text STRING, lang STRING, source STRING, " +
        "n_chars BIGINT, _corrupt_record STRING")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(dir)
      .cache()
    try {
      assert(tolerant.filter(col("_corrupt_record").isNotNull).count() == 1)
      assert(tolerant.filter(col("_corrupt_record").isNull).count() ==
        docs.count())
    } finally tolerant.unpersist()
  }
}
