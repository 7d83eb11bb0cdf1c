package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.model.RefSchemas

/** Pipeline A (SURVEY.md §3): movies_metadata.csv + ratings.csv → the
  * movies hub, 5 dimension tables, and 4 bridge tables of db_schema.json.
  *
  * Semantics reproduced from the reference loop (loader.py:95-234, 363-482):
  *  - bad movie id → whole row skipped (loader.py:122-127);
  *  - duplicate movie id → LAST row wins for the hub and its bridges
  *    (dict overwrite, loader.py:229 `extracted_movies[id] = values`);
  *  - dimension dedup is FIRST-wins in scan order, fed by ALL rows
  *    (including rows later overwritten) — dims accumulate during the scan;
  *  - languages/countries mint dense surrogate ids 0,1,2,… in order of
  *    first appearance; within a row original_language is seen before
  *    spoken_languages (loader.py:161-193);
  *  - a missing/empty original_language still mints a language entry: the
  *    reference has no validity guard at loader.py:163, so the pandas NaN
  *    cell becomes one dict entry that `get_db_literal` (loader.py:356-360)
  *    serializes as the string 'nan'. We mint the same single sentinel row
  *    (key 'nan', name NULL) at the first such sighting, so every dense id
  *    minted after it matches the reference. Only known divergence: an
  *    input whose iso code is the literal string 'nan' would share the
  *    sentinel's entry here but occupy a second in-memory entry (float-NaN
  *    key vs 'nan' string key) in the reference — both serialize to the
  *    same 'nan' lang_key in the DB, and no ISO 639-1 code is 'nan';
  *  - a language minted via original_language has name NULL until the first
  *    spoken_languages sighting supplies one (O-9 backfill, loader.py:188);
  *  - NULL-id nested entries are kept out of dims and bridges (the
  *    reference would key a dict on None and crash on insert — we skip,
  *    documented deviation).
  *
  * Scale notes: the parsed base is cached once (it feeds 10 outputs — the
  * reference fuses all extractions into one pass, loader.py:120-225), and
  * so are the three intermediates more than one table reads: the
  * last-wins hub, languages and countries;
  * surrogate-key windows run on distinct dimension values only (≤ a few
  * thousand rows), never on facts; dimension joins back to facts are
  * broadcast.
  */
object MoviesPipeline {
  import EtlKit._

  final case class MoviesTables(
      movies: DataFrame,
      genres: DataFrame,
      languages: DataFrame,
      collections: DataFrame,
      countries: DataFrame,
      productionCompanies: DataFrame,
      moviesGenres: DataFrame,
      spokenLanguages: DataFrame,
      productionCountries: DataFrame,
      moviesProductionCompanies: DataFrame)

  def fromCsv(spark: SparkSession, moviesCsvPath: String,
      ratingsCsvPath: String,
      quirks: ReferenceQuirks = ReferenceQuirks.default): MoviesTables =
    build(
      readCsv(spark, moviesCsvPath, RefSchemas.moviesCsv),
      ratingAvg(readCsv(spark, ratingsCsvPath, RefSchemas.ratingsCsv)),
      quirks)

  def build(moviesRaw: DataFrame, ratingAvg: DataFrame,
      quirks: ReferenceQuirks = ReferenceQuirks.default): MoviesTables = {
    // ---- parse + coerce once; feeds every output -------------------------
    val base = moviesRaw
      .withColumn("movie_id", strictInt(col("id")).cast("int"))
      .filter(col("movie_id").isNotNull) // P-2: skip bad-id rows
      .select(
        col("movie_id"), col(SeqCol),
        col("original_title").as("title"),
        col("release_date"),
        posLong(col("budget")).as("budget"),
        posLong(col("revenue")).as("revenue"),
        posDouble(col("popularity")).as("popularity"),
        posIntFromNumeric(col("runtime")).as("runtime"),
        // P-7 with the opt-in reference quirk: the reference's pandas
        // round-trip turns a missing/empty overview into the literal
        // string 'nan' (loader.py:141-142 — an empty CSV cell is a
        // pandas NaN, and str(NaN) passes the non-empty gate); the
        // engine default is NULL (documented deviation, SURVEY
        // §1.2/§7.4.4). ReferenceQuirks.strict reproduces the sentinel
        // byte-for-byte for cutover diffs.
        (if (quirks.nanOverview)
           coalesce(nonEmpty(col("overview")), lit("nan"))
         else nonEmpty(col("overview"))).as("overview"),
        // NaN-sentinel mapping: missing/empty → 'nan' (see scaladoc)
        coalesce(nonEmpty(col("original_language")), lit("nan"))
          .as("orig_lang"),
        parsePy(col("genres"), RefSchemas.idName).as("genres_a"),
        parsePy(col("belongs_to_collection"), RefSchemas.collection)
          .as("coll_s"),
        parsePy(col("spoken_languages"), RefSchemas.spokenLanguages)
          .as("spoken_a"),
        parsePy(col("production_companies"), RefSchemas.idName)
          .as("companies_a"),
        parsePy(col("production_countries"), RefSchemas.productionCountries)
          .as("countries_a"))
      .cache()

    // ---- last-wins hub rows (dict overwrite semantics) -------------------
    val wLast = Window.partitionBy(col("movie_id")).orderBy(col(SeqCol).desc)
    val hub = base.withColumn("_rn", row_number().over(wLast))
      .filter(col("_rn") === 1).drop("_rn")
      .cache() // feeds movies and 4 bridges

    // ---- languages: dense ids over (row, orig-before-spoken) order -------
    // EVERY row sights its orig_lang — including the 'nan' sentinel rows
    // (no validity guard in the reference, loader.py:163).
    val sightOrig = base
      .select(col("orig_lang").as("lang_key"),
        lit(null).cast("string").as("lname"),
        col(SeqCol).as("seq"), lit(0L).as("sub"))
    val sightSpoken = base
      .select(col(SeqCol).as("seq"), posexplode(col("spoken_a")).as(Seq("pos", "sl")))
      .filter(col("sl.iso_639_1").isNotNull)
      .select(col("sl.iso_639_1").as("lang_key"), col("sl.name").as("lname"),
        col("seq"), (col("pos") + 1).cast("long").as("sub"))
    val sightings = sightOrig.unionByName(sightSpoken)
    val languages = withDenseId(
      sightings
        .groupBy(col("lang_key"))
        .agg(
          min(struct(col("seq"), col("sub"))).as("first_seen"),
          // earliest non-null name in sighting order = O-9 backfill
          min(when(col("lname").isNotNull,
            struct(col("seq"), col("sub"), col("lname")))).as("named")),
      // distinct iso codes only (≤ thousands); withDenseId raises if not
      "id", DimIdCap, col("first_seen"))
      .select(col("id").cast("int").as("id"), col("lang_key"),
        col("named.lname").as("name"))
      .cache() // feeds languages, movies and spoken_languages

    // ---- countries: dense ids, name fixed at first sighting --------------
    val countrySight = base
      .select(col(SeqCol).as("seq"),
        posexplode(col("countries_a")).as(Seq("pos", "c")))
      .filter(col("c.iso_3166_1").isNotNull)
      .select(col("c.iso_3166_1").as("code"), col("c.name").as("cname"),
        col("seq"), col("pos"))
    val countries = withDenseId(
      countrySight
        .groupBy(col("code"))
        .agg(min(struct(col("seq"), col("pos"), col("cname"))).as("first")),
      "id", DimIdCap, col("first.seq"), col("first.pos"))
      .select(col("id").cast("int").as("id"), col("code"),
        col("first.cname").as("name"))
      .cache() // feeds countries and production_countries

    // ---- first-wins dims from ALL rows -----------------------------------
    def firstWinsDim(exploded: DataFrame, idCol: String, nameCol: String): DataFrame =
      exploded
        .filter(col(idCol).isNotNull)
        .groupBy(col(idCol).as("id"))
        .agg(min(struct(col("seq"), col("pos"), col(nameCol).as("name")))
          .as("first"))
        .select(col("id"), col("first.name").as("name"))

    val genreSight = base.select(col(SeqCol).as("seq"),
      posexplode(col("genres_a")).as(Seq("pos", "g")))
      .select(col("seq"), col("pos"), col("g.id").as("gid"), col("g.name"))
    val genres = firstWinsDim(genreSight, "gid", "name")

    val collSight = base.filter(col("coll_s").isNotNull)
      .select(col(SeqCol).as("seq"), lit(0).as("pos"),
        col("coll_s.id").as("cid"), col("coll_s.name"))
    val collections = firstWinsDim(collSight, "cid", "name")

    val compSight = base.select(col(SeqCol).as("seq"),
      posexplode(col("companies_a")).as(Seq("pos", "c")))
      .select(col("seq"), col("pos"), col("c.id").as("pid"), col("c.name"))
    val productionCompanies = firstWinsDim(compSight, "pid", "name")

    // ---- bridges: from last-wins hub rows, set-dedup ---------------------
    val moviesGenres = hub
      .select(col("movie_id"), explode(col("genres_a.id")).as("genre_id"))
      .filter(col("genre_id").isNotNull)
      .distinct()

    val moviesProductionCompanies = hub
      .select(col("movie_id"),
        explode(col("companies_a.id")).as("production_company_id"))
      .filter(col("production_company_id").isNotNull)
      .distinct()

    val spokenLanguages = hub
      .select(col("movie_id"), explode(col("spoken_a.iso_639_1")).as("iso"))
      .join(broadcast(languages.select(col("lang_key").as("iso"),
        col("id").as("language_id"))), Seq("iso"))
      .select(col("movie_id"), col("language_id"))
      .distinct()

    val productionCountries = hub
      .select(col("movie_id"), explode(col("countries_a.iso_3166_1")).as("code"))
      .join(broadcast(countries.select(col("code"),
        col("id").as("country_id"))), Seq("code"))
      .select(col("movie_id"), col("country_id"))
      .distinct()

    // ---- movies hub: FK resolution + rating left join (J-1) --------------
    val movies = hub
      .join(broadcast(languages.select(col("lang_key").as("orig_lang"),
        col("id").as("original_language"))), Seq("orig_lang"), "left")
      .join(ratingAvg, hub("movie_id") === ratingAvg("movieId"), "left")
      .select(
        col("movie_id").as("id"), col("title"), col("release_date"),
        col("budget"), col("revenue"), col("popularity"), col("runtime"),
        col("rating"), col("original_language"),
        col("coll_s.id").as("belongs_to_collection"), col("overview"))

    MoviesTables(movies, genres, languages, collections, countries,
      productionCompanies, moviesGenres, spokenLanguages,
      productionCountries, moviesProductionCompanies)
  }
}
