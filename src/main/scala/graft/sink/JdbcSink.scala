package graft.sink

import java.sql.DriverManager
import java.util.concurrent.{Callable, ExecutionException, Executors}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.jdbc.{JdbcDialect, JdbcDialects, JdbcType}
import org.apache.spark.sql.types.{DataType, StringType}
import graft.etl.MoviesPipeline.MoviesTables
import graft.etl.CreditsPipeline.CreditsTables
import graft.etl.KeywordsPipeline.KeywordsTables

/** Spark's built-in Derby dialect maps StringType → CLOB, which makes the
  * writer's setNull(CLOB) fail against our VARCHAR columns. This override
  * (registered ahead of the built-in) maps strings to VARCHAR and defers
  * everything else to the defaults. */
private object DerbyVarcharDialect extends JdbcDialect {
  override def canHandle(url: String): Boolean = url.startsWith("jdbc:derby")
  override def getJDBCType(dt: DataType): Option[JdbcType] = dt match {
    case StringType => Some(JdbcType("VARCHAR(32000)", java.sql.Types.VARCHAR))
    case _ => None
  }
}

/** Relational sink for the 15-table snowflake schema (reference
  * db_schema.json:1-17, loader.py:81-91, 339-353, 363-546).
  *
  * Differences from the reference's PostgreSQL-specific mechanics, by
  * design:
  *  - DDL is dialect-portable (tested on embedded Derby; the types mirror
  *    db_schema.json — `serial` ids the loader supplies explicitly become
  *    plain INTEGER PRIMARY KEY, bridge-table serials become identity
  *    columns the writer never sends);
  *  - the reference's trigger-deferral dance (loader.py:67-78: disable ALL
  *    triggers, bulk-load in arbitrary order, re-enable WITHOUT validation)
  *    is replaced by three FK-level WAVES — the 7 dims, then `movies`, then
  *    the 7 bridges — so referential order is right by construction. The
  *    tables of one wave are written concurrently, each from its own
  *    driver thread: each table's write is a few small Spark jobs, and
  *    written one after another they left most task slots idle. FK clauses are exposed separately in
  *    [[fkDdl]] for engines that can apply them post-load — note the
  *    Kaggle data itself violates them (credits rows for movies absent
  *    from movies_metadata), which the reference silently loads;
  *  - inserts go through Spark's JDBC writer with the reference's batch
  *    size (db_config.json:6, batch_size=50000) and bounded parallel
  *    connections — except the bridges, each written through ONE
  *    connection: Derby's identity generator can fail concurrent first
  *    inserts into a fresh identity column with lock timeout 40XL1. Bridge
  *    ids stay database-generated, as the reference's `serial` columns
  *    are.
  */
object JdbcSink {

  JdbcDialects.registerDialect(DerbyVarcharDialect)

  val BatchSize = 50000
  /** Parallel connections per table write (one per DF partition). */
  private val WritePartitions = 8

  /** (table, column DDL) in WRITE ORDER: dims first, then the hub, then
    * bridges — every FK target is loaded before its source. */
  val tableDdl: Seq[(String, String)] = Seq(
    "genres" -> "(id INTEGER NOT NULL PRIMARY KEY, name VARCHAR(1024))",
    "languages" -> "(id INTEGER NOT NULL PRIMARY KEY, lang_key VARCHAR(32), name VARCHAR(256))",
    "collections" -> "(id INTEGER NOT NULL PRIMARY KEY, name VARCHAR(1024))",
    "countries" -> "(id INTEGER NOT NULL PRIMARY KEY, code VARCHAR(8), name VARCHAR(256))",
    "production_companies" -> "(id INTEGER NOT NULL PRIMARY KEY, name VARCHAR(1024))",
    "persons" -> "(id INTEGER NOT NULL PRIMARY KEY, name VARCHAR(512))",
    "keywords" -> "(id INTEGER NOT NULL PRIMARY KEY, keyword VARCHAR(512))",
    "movies" -> ("(id INTEGER NOT NULL PRIMARY KEY, title VARCHAR(1024), "
      + "release_date VARCHAR(32), budget BIGINT, revenue BIGINT, "
      + "popularity DOUBLE, runtime INTEGER, rating DOUBLE, "
      + "original_language INTEGER, belongs_to_collection INTEGER, "
      + "overview VARCHAR(32000))"),
    "movies_genres" -> bridge("movie_id INTEGER, genre_id INTEGER"),
    "movies_production_companies" -> bridge("movie_id INTEGER, production_company_id INTEGER"),
    "production_countries" -> bridge("movie_id INTEGER, country_id INTEGER"),
    "spoken_languages" -> bridge("movie_id INTEGER, language_id INTEGER"),
    "movies_keywords" -> bridge("movie_id INTEGER, keyword_id INTEGER"),
    "directors" -> bridge("movie_id INTEGER, director_id INTEGER"),
    // column order follows db_schema.json (person_id before movie_id)
    "actors" -> bridge("person_id INTEGER, movie_id INTEGER, order_id INTEGER"))

  private def bridge(cols: String): String =
    s"(id INTEGER NOT NULL GENERATED ALWAYS AS IDENTITY PRIMARY KEY, $cols)"

  /** PostgreSQL rendering of the same 15 tables — the reference's actual
    * deployment dialect, column-for-column from db_schema.json:1-17
    * (serial ids, unbounded varchar, inline FK clauses). `serial` columns
    * accept explicit ids exactly as the reference's loader supplies them.
    * JdbcSinkSpec asserts this stays column-consistent with [[tableDdl]]. */
  val tableDdlPostgres: Seq[(String, String)] = Seq(
    "genres" -> "(id serial primary key, name varchar)",
    "languages" -> "(id serial primary key, lang_key varchar, name varchar)",
    "collections" -> "(id serial primary key, name varchar)",
    "countries" -> "(id serial primary key, code varchar, name varchar)",
    "production_companies" -> "(id serial primary key, name varchar)",
    "persons" -> "(id serial primary key, name varchar)",
    "keywords" -> "(id serial primary key, keyword varchar)",
    "movies" -> ("(id serial primary key, title varchar, release_date varchar, "
      + "budget bigint, revenue bigint, popularity float, runtime integer, "
      + "rating float, original_language integer, belongs_to_collection integer, "
      + "overview varchar, "
      + "foreign key (original_language) references languages (id), "
      + "foreign key (belongs_to_collection) references collections (id))"),
    "movies_genres" -> ("(id serial primary key, movie_id integer, genre_id integer, "
      + "foreign key (movie_id) references movies (id), "
      + "foreign key (genre_id) references genres (id))"),
    "movies_production_companies" -> ("(id serial primary key, movie_id integer, "
      + "production_company_id integer, "
      + "foreign key (movie_id) references movies (id), "
      + "foreign key (production_company_id) references production_companies (id))"),
    "production_countries" -> ("(id serial primary key, movie_id integer, "
      + "country_id integer, "
      + "foreign key (movie_id) references movies (id), "
      + "foreign key (country_id) references countries (id))"),
    "spoken_languages" -> ("(id serial primary key, movie_id integer, "
      + "language_id integer, "
      + "foreign key (movie_id) references movies (id), "
      + "foreign key (language_id) references languages (id))"),
    "movies_keywords" -> ("(id serial primary key, movie_id integer, "
      + "keyword_id integer, "
      + "foreign key (movie_id) references movies (id), "
      + "foreign key (keyword_id) references keywords (id))"),
    "directors" -> ("(id serial primary key, movie_id integer, director_id integer, "
      + "foreign key (movie_id) references movies (id), "
      + "foreign key (director_id) references persons (id))"),
    "actors" -> ("(id serial primary key, person_id integer, movie_id integer, "
      + "order_id integer, "
      + "foreign key (person_id) references persons (id), "
      + "foreign key (movie_id) references movies (id))"))

  /** FK constraints from db_schema.json, applyable AFTER load (the
    * reference's enable_triggers analog — and like Postgres's trigger
    * re-enable, applying them may surface violations the source data
    * really contains). */
  val fkDdl: Seq[String] = Seq(
    "ALTER TABLE movies ADD FOREIGN KEY (original_language) REFERENCES languages (id)",
    "ALTER TABLE movies ADD FOREIGN KEY (belongs_to_collection) REFERENCES collections (id)",
    "ALTER TABLE movies_genres ADD FOREIGN KEY (movie_id) REFERENCES movies (id)",
    "ALTER TABLE movies_genres ADD FOREIGN KEY (genre_id) REFERENCES genres (id)",
    "ALTER TABLE movies_production_companies ADD FOREIGN KEY (movie_id) REFERENCES movies (id)",
    "ALTER TABLE movies_production_companies ADD FOREIGN KEY (production_company_id) REFERENCES production_companies (id)",
    "ALTER TABLE production_countries ADD FOREIGN KEY (movie_id) REFERENCES movies (id)",
    "ALTER TABLE production_countries ADD FOREIGN KEY (country_id) REFERENCES countries (id)",
    "ALTER TABLE spoken_languages ADD FOREIGN KEY (movie_id) REFERENCES movies (id)",
    "ALTER TABLE spoken_languages ADD FOREIGN KEY (language_id) REFERENCES languages (id)",
    "ALTER TABLE movies_keywords ADD FOREIGN KEY (movie_id) REFERENCES movies (id)",
    "ALTER TABLE movies_keywords ADD FOREIGN KEY (keyword_id) REFERENCES keywords (id)",
    "ALTER TABLE directors ADD FOREIGN KEY (movie_id) REFERENCES movies (id)",
    "ALTER TABLE directors ADD FOREIGN KEY (director_id) REFERENCES persons (id)",
    "ALTER TABLE actors ADD FOREIGN KEY (person_id) REFERENCES persons (id)",
    "ALTER TABLE actors ADD FOREIGN KEY (movie_id) REFERENCES movies (id)")

  /** O-4: drop-if-exists + create, via raw JDBC (the schema DDL the
    * DataFrame writer cannot express: PKs, identity columns). */
  def createSchema(url: String): Unit = {
    val con = DriverManager.getConnection(url)
    try {
      val st = con.createStatement()
      // drop in REVERSE order so FK-bearing tables (if constraints were
      // applied on a previous run) go first
      tableDdl.reverse.foreach { case (name, _) =>
        try st.executeUpdate(s"DROP TABLE $name")
        catch { case _: java.sql.SQLException => () } // didn't exist
      }
      tableDdl.foreach { case (name, ddl) =>
        st.executeUpdate(s"CREATE TABLE $name $ddl")
      }
      st.close()
    } finally con.close()
  }

  def applyConstraints(url: String): Unit = {
    val con = DriverManager.getConnection(url)
    try {
      val st = con.createStatement()
      fkDdl.foreach(st.executeUpdate)
      st.close()
    } finally con.close()
  }

  /** O-5: batched append of one table (batchsize 50 000, at most
    * [[WritePartitions]] parallel connections — each DF partition opens
    * one). A table with an identity column is written through a single
    * connection (see the header). */
  def writeTable(df: DataFrame, url: String, table: String): Unit =
    df.coalesce(if (hasIdentity(table)) 1 else WritePartitions)
      .write.format("jdbc")
      .option("url", url)
      .option("dbtable", table)
      .option("batchsize", BatchSize.toString)
      .mode("append")
      .save()

  /** Whether `table`'s sink DDL has an identity column (the bridges). */
  def hasIdentity(table: String): Boolean =
    tableDdl.exists { case (t, ddl) => t == table && ddl.contains("IDENTITY") }

  /** The 15 tables in FK-level waves: dims, the hub, bridges. */
  def waves(mt: MoviesTables, ct: CreditsTables,
      kt: KeywordsTables): Seq[Seq[(String, DataFrame)]] = Seq(
    Seq(
      "genres" -> mt.genres,
      "languages" -> mt.languages.select("id", "lang_key", "name"),
      "collections" -> mt.collections,
      "countries" -> mt.countries.select("id", "code", "name"),
      "production_companies" -> mt.productionCompanies,
      "persons" -> ct.persons,
      "keywords" -> kt.keywords),
    Seq("movies" -> mt.movies),
    Seq(
      "movies_genres" -> mt.moviesGenres,
      "movies_production_companies" -> mt.moviesProductionCompanies,
      "production_countries" -> mt.productionCountries,
      "spoken_languages" -> mt.spokenLanguages,
      "movies_keywords" -> kt.moviesKeywords,
      "directors" -> ct.directors,
      "actors" -> ct.actors))

  /** Full 15-table load: drop-and-create, then [[writeWaves]]. */
  def writeAll(mt: MoviesTables, ct: CreditsTables, kt: KeywordsTables,
      url: String): Unit = {
    createSchema(url)
    writeWaves(waves(mt, ct, kt), url)
  }

  /** Appends each wave's tables concurrently, one driver thread per table,
    * and starts a wave only when the previous one has finished. The first
    * failure (in wave order, the others attached as suppressed) is
    * rethrown once its wave has finished; no later wave starts.
    * The pool lives for this call only: its threads are not daemons, so a
    * pool left running would keep the JVM alive. Threads are created by
    * this call's thread and so inherit its Spark local properties. */
  def writeWaves(waves: Seq[Seq[(String, DataFrame)]], url: String): Unit = {
    val pool = Executors.newFixedThreadPool(waves.map(_.size).max)
    try waves.foreach { wave =>
      val pending = wave.map { case (name, df) =>
        pool.submit(new Callable[Unit] { def call(): Unit = writeTable(df, url, name) })
      }
      val failures = pending.flatMap { f =>
        try { f.get(); None }
        catch { case e: ExecutionException => Some(e.getCause) }
      }
      failures.headOption.foreach { first =>
        failures.tail.foreach(first.addSuppressed)
        throw first
      }
    } finally pool.shutdownNow()
  }
}
