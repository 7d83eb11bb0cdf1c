package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.sql.DriverManager
import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end test of the reference-CLI replacement: a dataset directory
  * holding the four fixture CSVs → MovieDbImport.run → all 15 tables
  * queryable in Derby. */
class MovieDbImportSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val url = "jdbc:derby:memory:graftImport;create=true"

  /** A new dataset directory holding the four fixture CSVs. */
  private def datasetDir(prefix: String): String = {
    val dir = TestSpark.tempDir(prefix)
    for (f <- Seq("movies_metadata.csv", "credits.csv", "keywords.csv",
        "ratings.csv"))
      Files.copy(Paths.get(TestSpark.fixture(f)), dir.resolve(f),
        StandardCopyOption.REPLACE_EXISTING)
    dir.toString
  }

  test("run() imports a dataset directory end-to-end") {
    MovieDbImport.run(spark, datasetDir("graft-dataset"), url)

    val con = DriverManager.getConnection(url)
    try {
      val st = con.createStatement()
      def count(t: String): Long = {
        val rs = st.executeQuery(s"SELECT COUNT(*) FROM $t")
        rs.next(); rs.getLong(1)
      }
      assert(graft.sink.JdbcSink.tableDdl.map { case (t, _) => count(t) }.sum
        == 52) // 15 tables, per-table totals pinned by JdbcSinkSpec
      // the flagship analytical join the schema exists to serve
      val rs = st.executeQuery(
        """SELECT m.title, g.name FROM movies m
          |JOIN movies_genres mg ON mg.movie_id = m.id
          |JOIN genres g ON g.id = mg.genre_id
          |WHERE m.rating > 4 ORDER BY g.name""".stripMargin)
      val got = Iterator.continually(rs)
        .takeWhile(_.next()).map(r => (r.getString(1), r.getString(2))).toList
      assert(got == List(("Star Wars", "Action"), ("Star Wars", "Adventure")))
    } finally con.close()
  }

  test("re-running the import is idempotent (drop-recreate-append)") {
    val url2 = "jdbc:derby:memory:graftImportTwice;create=true"
    val dir = datasetDir("graft-dataset-rerun")
    // full multiset snapshot of every table, read back through the same
    // JDBC source path FormatsSpec covers
    def snapshot(): Map[String, Seq[String]] =
      graft.sink.JdbcSink.tableDdl.map { case (t, _) =>
        t -> spark.read.format("jdbc").option("url", url2)
          .option("dbtable", t).load()
          .collect().map(_.toString).sorted.toSeq
      }.toMap
    MovieDbImport.run(spark, dir, url2)
    val first = snapshot()
    MovieDbImport.run(spark, dir, url2)
    val second = snapshot()
    assert(first.values.map(_.size).sum == 52) // same totals as run #1's test
    assert(second == first,
      "second run changed table contents — import is not idempotent")
  }

  test("a warm import finds its generated classes in Spark's codegen cache") {
    // Each pass mirrors the benchmark's import: a fresh database, then the
    // session's cache cleared. One import needs about 200 generated
    // classes. With Spark's default cache of 100 entries, the three
    // imports of this suite run alone compiled 207, 203 and 204.
    val dir = datasetDir("graft-dataset-codegen")
    def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val perImport = (1 to 3).map { i =>
      val before = compiles()
      MovieDbImport.run(spark, dir, s"jdbc:derby:memory:graftCodegen$i;create=true")
      spark.catalog.clearCache()
      compiles() - before
    }
    info(s"classes compiled per import: ${perImport.mkString(", ")}")
    assert(perImport(2) <= 10)
  }
}
