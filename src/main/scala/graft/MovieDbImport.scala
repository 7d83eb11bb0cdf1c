package graft

import org.apache.spark.sql.SparkSession
import graft.etl.{CreditsPipeline, KeywordsPipeline, MoviesPipeline}
import graft.sink.JdbcSink

/** Drop-in replacement for the reference's CLI contract
  * (`loader.py dataset_base_path`, reference loader.py:549-607): read the
  * four Kaggle CSVs from a dataset directory, run the three pipelines, and
  * load all 15 tables over JDBC in three FK-level waves (7 dims, `movies`,
  * 7 bridges), the tables of a wave written concurrently.
  *
  * Differences from the reference, all documented at the component level:
  * distributed DataFrame execution instead of single-threaded iterrows
  * (loader.py:120), native types end-to-end instead of stringify-all
  * (loader.py:356-361), FK-ordered waves instead of trigger deferral
  * (JdbcSink), NULL instead of the 'nan' string for missing text
  * (SURVEY.md §7.4.4).
  *
  * The CLI runs `local[Sessions.cpus]` with one shuffle partition per
  * thread; `SPARK_MASTER` overrides the master.
  */
object MovieDbImport {

  /** The reference's input file names (loader.py:18-21). */
  val Movies = "movies_metadata.csv"
  val Credits = "credits.csv"
  val Keywords = "keywords.csv"
  val Ratings = "ratings.csv"

  /** Full import: CSVs under `datasetDir` → 15 tables at `jdbcUrl`.
    * Equivalent of the reference's `main` (loader.py:549-607). */
  def run(spark: SparkSession, datasetDir: String, jdbcUrl: String): Unit = {
    val mt = MoviesPipeline.fromCsv(spark,
      s"$datasetDir/$Movies", s"$datasetDir/$Ratings")
    val ct = CreditsPipeline.fromCsv(spark, s"$datasetDir/$Credits")
    val kt = KeywordsPipeline.fromCsv(spark, s"$datasetDir/$Keywords")
    JdbcSink.writeAll(mt, ct, kt, jdbcUrl)
  }

  /** CLI: MovieDbImport <dataset_base_path> <jdbc_url>. */
  def main(args: Array[String]): Unit = {
    require(args.length == 2,
      "USAGE: MovieDbImport dataset_base_path jdbc_url")
    val spark = Sessions
      .builder(sys.env.getOrElse("SPARK_MASTER", s"local[${Sessions.cpus}]"),
        Sessions.cpus)
      .getOrCreate()
    try run(spark, args(0), args(1))
    finally spark.stop()
  }
}
