package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.etl.EtlKit._

/** Unit coverage of the scalar coercions (reference loader.py:31-50,
  * 122-142 null semantics) and the py_to_json Catalyst expression through
  * both SQL registration and codegen. */
class EtlKitSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def one(c: org.apache.spark.sql.Column, input: String): Any = {
    import spark.implicits._
    val r = Seq(Option(input)).toDF("x").select(c.as("y")).head()
    if (r.isNullAt(0)) null else r.get(0)
  }

  test("strictInt: Python int(str) semantics — digits only, else NULL") {
    assert(one(strictInt(col("x")), "42") == 42L)
    assert(one(strictInt(col("x")), "-7") == -7L)
    assert(one(strictInt(col("x")), " 13 ") == 13L) // int() strips whitespace
    assert(one(strictInt(col("x")), "15.0") == null) // int('15.0') raises
    assert(one(strictInt(col("x")), "abc") == null)
    assert(one(strictInt(col("x")), "") == null)
    assert(one(strictInt(col("x")), null) == null)
  }

  test("posLong: positive strict ints only (budget/revenue)") {
    assert(one(posLong(col("x")), "5") == 5L)
    assert(one(posLong(col("x")), "0") == null)
    assert(one(posLong(col("x")), "-5") == null)
    assert(one(posLong(col("x")), "1e3") == null)
  }

  test("posIntFromNumeric: int(float) truncation, positive only (runtime)") {
    assert(one(posIntFromNumeric(col("x")), "81.0") == 81)
    assert(one(posIntFromNumeric(col("x")), "81.7") == 81)
    assert(one(posIntFromNumeric(col("x")), "0.5") == null) // int(0.5)=0
    assert(one(posIntFromNumeric(col("x")), "0") == null)
    assert(one(posIntFromNumeric(col("x")), "junk") == null)
  }

  test("posDouble: positive floats only (popularity)") {
    assert(one(posDouble(col("x")), "42.1") == 42.1)
    assert(one(posDouble(col("x")), "0.0") == null)
    assert(one(posDouble(col("x")), "-1.5") == null)
  }

  test("nonEmpty: empty string and NULL both map to NULL (overview)") {
    assert(one(nonEmpty(col("x")), "hi") == "hi")
    assert(one(nonEmpty(col("x")), "") == null)
    assert(one(nonEmpty(col("x")), null) == null)
  }

  test("badIdCount reports the rows the id filter drops") {
    val raw = graft.etl.EtlKit.readCsv(spark,
      TestSpark.fixture("movies_metadata.csv"),
      graft.model.RefSchemas.moviesCsv)
    assert(graft.etl.EtlKit.badIdCount(raw, "id") == 1) // the 'abc' row
  }

  test("readCsv maps columns by header name: Kaggle layouts load like the fixtures") {
    // Kaggle's real files order their columns differently from the
    // projected fixtures (ratings: userId,movieId,rating,timestamp;
    // credits: cast,crew,id); rewrite the fixtures in those layouts and
    // require the same rating averages and credits tables
    val tmp = TestSpark.tempDir("graft-kaggle-layout")
    try {
      def rewrite(fixture: String, schema: org.apache.spark.sql.types.StructType,
          header: Seq[String], extra: Map[String, String]): String = {
        def cell(v: String) =
          if (v == null) "" else "\"" + v.replace("\"", "\"\"") + "\""
        val rows = readCsv(spark, TestSpark.fixture(fixture), schema).collect()
          .map(r => header.map(h =>
            cell(if (schema.fieldNames.contains(h)) r.getAs[String](h)
              else extra(h))).mkString(","))
        val f = tmp.resolve(fixture)
        java.nio.file.Files.write(f,
          (header.mkString(",") +: rows).mkString("", "\n", "\n")
            .getBytes("UTF-8"))
        f.toString
      }
      def sorted(df: org.apache.spark.sql.DataFrame): Seq[String] =
        df.collect().map(_.toString).toSeq.sorted

      val ratings = graft.model.RefSchemas.ratingsCsv
      val kaggleRatings = rewrite("ratings.csv", ratings,
        Seq("userId", "movieId", "rating", "timestamp"),
        Map("userId" -> "7", "timestamp" -> "1260759144"))
      val avg = sorted(ratingAvg(readCsv(spark, kaggleRatings, ratings)))
      assert(avg.nonEmpty)
      assert(avg === sorted(ratingAvg(
        readCsv(spark, TestSpark.fixture("ratings.csv"), ratings))))

      val kaggleCredits = rewrite("credits.csv",
        graft.model.RefSchemas.creditsCsv, Seq("cast", "crew", "id"), Map())
      val got = graft.etl.CreditsPipeline.fromCsv(spark, kaggleCredits)
      val want = graft.etl.CreditsPipeline.fromCsv(spark,
        TestSpark.fixture("credits.csv"))
      assert(sorted(got.persons).nonEmpty)
      assert(sorted(got.persons) === sorted(want.persons))
      assert(sorted(got.directors) === sorted(want.directors))
      assert(sorted(got.actors) === sorted(want.actors))

      // a column the header lacks fails with its name (pandas' KeyError)
      val ex = intercept[IllegalArgumentException] {
        readCsv(spark, kaggleRatings, graft.model.RefSchemas.creditsCsv)
      }
      assert(ex.getMessage.contains("cast"), ex.getMessage)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(tmp.toFile)
  }

  test("py_to_json registered in spark.sql and usable from SQL text") {
    val got = spark.sql(
      """SELECT py_to_json("[{'id': 1, 'name': 'x'}]") AS j""").head().getString(0)
    assert(got == """[{"id":1,"name":"x"}]""")
    assert(spark.sql("SELECT py_to_json('not a literal') AS j").head().isNullAt(0))
  }

  test("py_to_json survives whole-stage codegen over a column") {
    import spark.implicits._
    val df = (1 to 100).map(i => s"[{'id': $i}]").toDF("x")
      .select(call_function("py_to_json", col("x")).as("j"))
    assert(df.filter(col("j").isNotNull).count() == 100)
  }

  test("withDenseId mints 0..n-1 in order, and refuses fact-scale input") {
    import spark.implicits._
    val dim = Seq(("b", 20), ("a", 10), ("c", 30)).toDF("k", "seen")
    val got = withDenseId(dim, "id", cap = 10, col("seen"))
      .select(col("k"), col("id")).collect().map(r => r.getString(0) -> r.getLong(1))
    assert(got.toMap == Map("a" -> 0L, "b" -> 1L, "c" -> 2L))
    // over the cap → loud runtime failure, not a silent 1-partition funnel
    val big = spark.range(100).select(col("id").as("seen"))
    val ex = intercept[Exception] {
      // select the minted column so the guard can't be pruned away
      withDenseId(big, "sk", cap = 99, col("seen"))
        .agg(max(col("sk"))).head()
    }
    assert(ex.getMessage.contains("withDenseId"))
  }
}
