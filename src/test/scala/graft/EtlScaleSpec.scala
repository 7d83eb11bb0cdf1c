package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.etl.{CreditsPipeline, MoviesPipeline}

/** ETL invariants on a generated ~5000-row corpus (the golden fixtures are
  * 5 rows — this proves the pipelines hold up beyond hand-sized input):
  * the CSV is synthesized from testdata documents with ~2% bad ids,
  * duplicate movie ids, duplicate genres, and rotating languages, written
  * through Spark's CSV writer so quoting/escaping is real.
  */
class EtlScaleSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private lazy val moviesCsv: String = {
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val n = 10 // rows per doc → ~5000 movie rows
    val rows = docs.select(col("doc_id"), col("text"))
      .crossJoin(spark.range(n).select(col("id").as("k")))
      .select(
        // ~2% unparsable ids; ~5% duplicate ids (last-wins path)
        when((col("doc_id") * n + col("k")) % 50 === 0, lit("bad_id"))
          .otherwise(
            when((col("doc_id") * n + col("k")) % 20 === 0,
              ((col("doc_id") * n + col("k")) - 1).cast("string"))
              .otherwise((col("doc_id") * n + col("k")).cast("string")))
          .as("id"),
        concat(lit("Movie "), col("doc_id"), lit("-"), col("k")).as("original_title"),
        when(col("k") % 3 === 0,
          concat(lit("{'id': "), (col("doc_id") % 40).cast("string"),
            lit(", 'name': 'Coll "), (col("doc_id") % 40).cast("string"),
            lit("'}"))).as("belongs_to_collection"),
        element_at(array(lit("en"), lit("fr"), lit("de"), lit("zh"), lit("es")),
          ((col("doc_id") + col("k")) % 5 + 1).cast("int")).as("original_language"),
        concat(lit("[{'iso_639_1': '"),
          element_at(array(lit("en"), lit("fr"), lit("it"), lit("ja")),
            (col("k") % 4 + 1).cast("int")),
          lit("', 'name': 'Lang "), (col("k") % 4).cast("string"),
          lit("'}]")).as("spoken_languages"),
        concat(lit("[{'name': 'Studio "), (col("doc_id") % 25).cast("string"),
          lit("', 'id': "), (col("doc_id") % 25).cast("string"),
          lit("}]")).as("production_companies"),
        lit("[]").as("production_countries"),
        lit("2001-02-03").as("release_date"),
        // duplicate genre id inside one cell → within-movie set-dedup
        concat(lit("[{'id': "), (col("doc_id") % 15).cast("string"),
          lit(", 'name': 'G"), (col("doc_id") % 15).cast("string"),
          lit("'}, {'id': "), (col("doc_id") % 15).cast("string"),
          lit(", 'name': 'Gdup'}, {'id': "), ((col("doc_id") + 7) % 15).cast("string"),
          lit(", 'name': 'G"), ((col("doc_id") + 7) % 15).cast("string"),
          lit("'}]")).as("genres"),
        (col("k") % 4 * 1000000).cast("string").as("budget"), // 0 → NULL
        lit("1.5").as("popularity"),
        lit("0").as("revenue"),
        lit("95.0").as("runtime"),
        substring(col("text"), 1, 60).as("overview"))
    val dir = TestSpark.tempDir("graft-etl-scale").toString + "/movies"
    rows.coalesce(1).write.option("header", "true").mode("overwrite").csv(dir)
    dir
  }

  test("pipeline invariants hold on a 5000-row generated corpus") {
    import spark.implicits._
    val ratingsDir = {
      val d = TestSpark.tempDir("graft-etl-scale").toString + "/ratings"
      spark.range(2000)
        .select((col("id") % 3000).cast("string").as("movieId"),
          ((col("id") % 9 + 1) * lit(0.5)).cast("string").as("rating"))
        .coalesce(1).write.option("header", "true").mode("overwrite").csv(d)
      d
    }
    val mt = MoviesPipeline.fromCsv(spark, moviesCsv + "/*.csv",
      ratingsDir + "/*.csv")

    val movies = mt.movies.cache()
    val nMovies = movies.count()
    assert(nMovies > 4000, s"got $nMovies")
    // hub ids unique (last-wins collapsed duplicates)
    assert(movies.select("id").distinct().count() == nMovies)

    // dense surrogate keys: languages ids are exactly 0..n-1
    val langIds = mt.languages.select("id").as[Int].collect().sorted
    assert(langIds.toSeq == (0 until langIds.length))
    // every spoken-language FK resolves
    val orphanLang = mt.spokenLanguages
      .join(mt.languages, mt.spokenLanguages("language_id") === mt.languages("id"),
        "left_anti").count()
    assert(orphanLang == 0)
    // every movie FK in the genre bridge resolves to a hub row and a dim row
    assert(mt.moviesGenres.join(movies,
      mt.moviesGenres("movie_id") === movies("id"), "left_anti").count() == 0)
    assert(mt.moviesGenres.join(mt.genres,
      mt.moviesGenres("genre_id") === mt.genres("id"), "left_anti").count() == 0)
    // within-movie genre set-dedup: no duplicate (movie, genre) pairs
    assert(mt.moviesGenres.count()
      == mt.moviesGenres.distinct().count())
    // coercions: budget 0 → NULL, present otherwise
    assert(movies.filter(col("budget") === 0).count() == 0)
    assert(movies.filter(col("revenue").isNotNull).count() == 0) // all '0'
    // rating join: some matched, some NULL
    assert(movies.filter(col("rating").isNotNull).count() > 0)
    assert(movies.filter(col("rating").isNull).count() > 0)
    movies.unpersist()
  }

  test("credits invariants on a generated corpus with empty-duplicate rows") {
    // every movie id appears TWICE: first a full row (1 director + 1 cast
    // entry), then a duplicate with empty cast and a job-less crew entry.
    // Under the reference's len()>0 guards the empty duplicate must erase
    // NOTHING — so after the pipeline every movie still has its director
    // and its cast row.
    val n = 3000
    val full = spark.range(n).select(
      col("id").cast("string").as("id"),
      concat(lit("[{'id': "), (col("id") % 500 + 1000).cast("string"),
        lit(", 'name': 'Actor "), (col("id") % 500).cast("string"),
        lit("', 'order': 0}]")).as("cast"),
      concat(lit("[{'id': "), (col("id") % 200).cast("string"),
        lit(", 'name': 'Dir "), (col("id") % 200).cast("string"),
        lit("', 'job': 'Director'}]")).as("crew"))
    val emptyDup = spark.range(n).select(
      col("id").cast("string").as("id"),
      lit("[]").as("cast"),
      // job-less entry: joins persons, but counts as an EMPTY crew
      concat(lit("[{'id': "), (col("id") % 200 + 5000).cast("string"),
        lit(", 'name': 'NoJob "), (col("id") % 200).cast("string"),
        lit("'}]")).as("crew"))
    val dir = TestSpark.tempDir("graft-credits-scale").toString + "/credits"
    // full row FIRST, its empty duplicate SECOND (file order = scan order)
    full.withColumn("ord", lit(0))
      .unionByName(emptyDup.withColumn("ord", lit(1)))
      .orderBy(col("id").cast("long"), col("ord")).drop("ord")
      .coalesce(1).write.option("header", "true").mode("overwrite").csv(dir)

    val ct = CreditsPipeline.fromCsv(spark, dir + "/*.csv")
    // nothing erased: one director row and one actor row per movie
    assert(ct.directors.count() == n)
    assert(ct.actors.count() == n)
    // the job-less entries joined persons anyway (loader.py:259 semantics)
    assert(ct.persons.filter(col("id") >= 5000).count() == 200)
    // every director FK resolves in persons
    assert(ct.directors.join(ct.persons,
      ct.directors("director_id") === ct.persons("id"), "left_anti")
      .count() == 0)
  }
}
