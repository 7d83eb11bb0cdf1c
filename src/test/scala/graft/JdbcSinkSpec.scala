package graft

import java.sql.DriverManager
import java.util.concurrent.{Callable, Executors}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import graft.etl.{CreditsPipeline, KeywordsPipeline, MoviesPipeline}
import graft.etl.CreditsPipeline.CreditsTables
import graft.etl.KeywordsPipeline.KeywordsTables
import graft.etl.MoviesPipeline.MoviesTables
import graft.sink.JdbcSink

/** Round-trip of the full 15-table load into embedded Derby: fixture CSVs →
  * pipelines → JDBC sink → read back and assert contents. */
class JdbcSinkSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val url = "jdbc:derby:memory:graftSink;create=true"

  /** One statement of `JdbcSink.fkDdl`: (table, column, referenced table). */
  private val alterFk =
    ("""ALTER TABLE (\w+) ADD FOREIGN KEY \((\w+)\) """ +
      """REFERENCES (\w+) \(id\)""").r

  private def query1[T](sql: String, url: String = url)(
      f: java.sql.ResultSet => T): Vector[T] = {
    val con = DriverManager.getConnection(url)
    try {
      val rs = con.createStatement().executeQuery(sql)
      val b = Vector.newBuilder[T]
      while (rs.next()) b += f(rs)
      b.result()
    } finally con.close()
  }

  test("Postgres DDL names the same tables and columns as the Derby DDL") {
    def cols(ddl: String): Seq[String] =
      ddl.stripPrefix("(").split(",")
        .map(_.trim.split("\\s+").head.toLowerCase)
        .filterNot(c => c == "foreign" || c.isEmpty)
        .toSeq
    val derby = JdbcSink.tableDdl.toMap
    val pg = JdbcSink.tableDdlPostgres.toMap
    assert(derby.keySet == pg.keySet)
    for (t <- derby.keySet)
      assert(cols(derby(t)) == cols(pg(t)), s"column mismatch in $t")
    // write order identical too (dims → hub → bridges)
    assert(JdbcSink.tableDdl.map(_._1) == JdbcSink.tableDdlPostgres.map(_._1))
  }

  test("writeAll round-trips all 15 tables through Derby") {
    val mt = MoviesPipeline.fromCsv(spark,
      TestSpark.fixture("movies_metadata.csv"), TestSpark.fixture("ratings.csv"))
    val ct = CreditsPipeline.fromCsv(spark, TestSpark.fixture("credits.csv"))
    val kt = KeywordsPipeline.fromCsv(spark, TestSpark.fixture("keywords.csv"))

    JdbcSink.writeAll(mt, ct, kt, url)

    val counts = JdbcSink.tableDdl.map { case (name, _) =>
      name -> query1(s"SELECT COUNT(*) FROM $name")(_.getLong(1)).head
    }.toMap
    assert(counts == Map(
      "genres" -> 4, "languages" -> 5, "collections" -> 1, "countries" -> 2,
      "production_companies" -> 2, "persons" -> 5, "keywords" -> 3,
      "movies" -> 4, "movies_genres" -> 4, "movies_production_companies" -> 3,
      "production_countries" -> 3, "spoken_languages" -> 4,
      "movies_keywords" -> 4, "directors" -> 3, "actors" -> 5))

    // spot values: NULL semantics and identity PKs survive the sink
    val m12 = query1(
      "SELECT budget, rating, overview FROM movies WHERE id = 12") { rs =>
      val b = rs.getLong(1); val bNull = rs.wasNull()
      val r = rs.getDouble(2)
      val o = rs.getString(3)
      (b, bNull, r, o)
    }.head
    assert(m12._2, "budget 0 must arrive as NULL")
    assert(m12._3 == 3.0)
    assert(m12._4 == null)

    val de = query1(
      "SELECT name FROM languages WHERE lang_key = 'de'")(_.getString(1)).head
    assert(de == null, "unnamed language stays NULL through the sink")

    val nan = query1(
      "SELECT id, name FROM languages WHERE lang_key = 'nan'") { rs =>
      (rs.getInt(1), rs.getString(2))
    }.head
    assert(nan == ((3, null)), "NaN sentinel language minted with dense id")

    val actorIds = query1("SELECT id FROM actors ORDER BY id")(_.getInt(1))
    assert(actorIds == Vector(1, 2, 3, 4, 5), "identity PK generated by the DB")

    // the FK set is applyable on a consistent subset; the full fixture
    // intentionally carries a movies-FK violation (credits row for movie
    // 14), mirroring the real Kaggle data the reference silently loads
    val personFks = JdbcSink.fkDdl.filter(_.contains("REFERENCES persons"))
    personFks.foreach { ddl =>
      val con = DriverManager.getConnection(url)
      try con.createStatement().executeUpdate(ddl) finally con.close()
    }
  }

  test("Postgres DDL is clause-for-clause equal to the reference schema") {
    // the attainable "done" for dialect parity with no live PostgreSQL in
    // the sandbox: every table's emitted column/constraint clause list
    // must equal the reference's db_schema.json entry exactly (serial
    // PKs, varchar/bigint/float/integer columns, all 7 inline FK edges)
    val refFile = new java.io.File("/root/reference/db_schema.json")
    assume(refFile.exists(), "reference schema not present in this env")
    val raw = new String(
      java.nio.file.Files.readAllBytes(refFile.toPath), "UTF-8")
    // the file is a flat {"table": "(clause, clause, …)"} object — parse
    // it without a JSON library: keys and values are the only quoted
    // strings and contain no escapes
    val entry = """"([a-z_]+)"\s*:\s*"(\(.*?\))"""".r
    val ref = entry.findAllMatchIn(raw)
      .map(m => m.group(1) -> m.group(2)).toVector
    assert(ref.size == 15, s"expected 15 reference tables, got ${ref.size}")

    // split a DDL body into clauses at top-level commas (FK clauses
    // carry nested parens), normalizing whitespace and case
    def clauses(ddl: String): Vector[String] = {
      val body = ddl.trim.stripPrefix("(").stripSuffix(")")
      val out = Vector.newBuilder[String]
      val cur = new StringBuilder
      var depth = 0
      body.foreach {
        case ',' if depth == 0 => out += cur.toString; cur.clear()
        case c =>
          if (c == '(') depth += 1 else if (c == ')') depth -= 1
          cur += c
      }
      out += cur.toString
      out.result().map(_.trim.toLowerCase.replaceAll("\\s+", " "))
    }

    val got = JdbcSink.tableDdlPostgres.toMap
    assert(got.keySet == ref.map(_._1).toSet,
      s"table sets differ: ${got.keySet} vs ${ref.map(_._1).toSet}")
    for ((table, refDdl) <- ref) {
      assert(clauses(got(table)) == clauses(refDdl),
        s"$table clauses differ:\n  got  ${clauses(got(table))}" +
          s"\n  want ${clauses(refDdl)}")
    }
  }

  test("post-load FK DDL covers exactly the reference's foreign-key edges") {
    // the trigger-deferral substitution's other half (r15): the ALTER
    // TABLE set applied AFTER load must re-create precisely the FK edges
    // the reference declares inline — no edge dropped, none invented
    val refFile = new java.io.File("/root/reference/db_schema.json")
    assume(refFile.exists(), "reference schema not present in this env")
    val raw = new String(
      java.nio.file.Files.readAllBytes(refFile.toPath), "UTF-8")
    val entry = """"([a-z_]+)"\s*:\s*"(\(.*?\))"""".r
    val fkClause =
      """foreign key \(([a-z_]+)\) references ([a-z_]+) \(id\)""".r
    val refEdges = (for {
      m <- entry.findAllMatchIn(raw)
      fk <- fkClause.findAllMatchIn(m.group(2).toLowerCase)
    } yield (m.group(1), fk.group(1), fk.group(2))).toSet
    val ourEdges = JdbcSink.fkDdl.map {
      case alterFk(t, c, r) => (t, c, r)
      case other => fail(s"unparseable FK DDL: $other")
    }.toSet
    assert(ourEdges == refEdges,
      s"FK edges differ:\n  extra   ${ourEdges -- refEdges}" +
        s"\n  missing ${refEdges -- ourEdges}")
    assert(JdbcSink.fkDdl.size == refEdges.size) // no duplicates either
  }

  private def count(url: String, table: String): Long =
    query1(s"SELECT COUNT(*) FROM $table", url)(_.getLong(1)).head

  /** (table, column) → referenced table, for every edge in `fkDdl`. */
  private val fkTarget: Map[(String, String), String] =
    JdbcSink.fkDdl.map { case alterFk(t, c, r) => (t, c) -> r }.toMap

  /** Rows of each table's synthetic frame in the FK-consistent load. */
  private def synthRows(table: String): Int =
    if (table == "movies") 20 else if (JdbcSink.hasIdentity(table)) 40 else 5

  /** A `partitions`-partition frame of `rows` rows with `table`'s sink
    * columns (bridge ids left to Derby): ids 1..rows, each FK column
    * cycling over the ids of its target's synthetic frame, every other
    * column derived from the row number. */
  private def synthetic(table: String, rows: Int, partitions: Int): DataFrame = {
    val ddl = JdbcSink.tableDdl.toMap.apply(table)
    val cols = ddl.stripPrefix("(").stripSuffix(")").split(",").toSeq
      .map(_.trim.split("\\s+")).map(c => c(0) -> c(1))
      .filterNot { case (c, _) => c == "id" && JdbcSink.hasIdentity(table) }
    spark.range(rows).repartition(partitions).selectExpr(cols.map {
      case (c, _) if fkTarget.contains(table -> c) =>
        s"CAST(id % ${synthRows(fkTarget(table -> c))} + 1 AS INT) AS $c"
      case ("id", _) => "CAST(id + 1 AS INT) AS id"
      case (c, ty) if ty.startsWith("VARCHAR") => s"CAST(id AS STRING) AS $c"
      case (c, ty) => s"CAST(id AS $ty) AS $c"
    }: _*)
  }

  test("bridge tables written concurrently from cached frames never hit 40XL1") {
    // Derby's identity generator can fail the first concurrent inserts
    // into a fresh identity column with lock timeout 40XL1. With one
    // connection per partition of a cached frame (all partitions start at
    // once), a few percent of such table writes fail, so 30 rounds of
    // fresh tables all but surely meet it. writeTable sends a bridge
    // through one connection instead.
    val url = "jdbc:derby:memory:graftBridges;create=true"
    val rows = 100
    val bridges = JdbcSink.tableDdl.map(_._1).filter(JdbcSink.hasIdentity)
      .map(t => t -> synthetic(t, rows, 4).cache())
    bridges.foreach(_._2.count())
    val pool = Executors.newFixedThreadPool(bridges.size)
    try for (round <- 1 to 30) {
      JdbcSink.createSchema(url)
      bridges.map { case (t, df) =>
        pool.submit(new Callable[Unit] { def call(): Unit = JdbcSink.writeTable(df, url, t) })
      }.foreach(_.get())
      bridges.foreach { case (t, _) =>
        assert(count(url, t) == rows, s"$t in round $round")
      }
    } finally {
      pool.shutdown()
      bridges.foreach(_._2.unpersist())
    }
  }

  test("FK-level waves load FK-consistent frames under constraints applied up front") {
    val url = "jdbc:derby:memory:graftWaves;create=true"
    def t(name: String): DataFrame = synthetic(name, synthRows(name), 4)
    val waves = JdbcSink.waves(
      MoviesTables(t("movies"), t("genres"), t("languages"), t("collections"),
        t("countries"), t("production_companies"), t("movies_genres"),
        t("spoken_languages"), t("production_countries"),
        t("movies_production_companies")),
      CreditsTables(t("persons"), t("directors"), t("actors")),
      KeywordsTables(t("keywords"), t("movies_keywords")))
    assert(waves.map(_.size) == Seq(7, 1, 7))
    assert(waves.flatten.map(_._1) == JdbcSink.tableDdl.map(_._1))
    def freshConstrainedSchema(): Unit = {
      JdbcSink.createSchema(url)
      JdbcSink.applyConstraints(url)
    }

    freshConstrainedSchema()
    JdbcSink.writeWaves(waves, url)
    JdbcSink.tableDdl.foreach { case (table, _) =>
      assert(count(url, table) == synthRows(table), table)
    }

    // Bridges ahead of their hub violate the movie_id FKs; the failure
    // ends the load before the hub's wave starts.
    freshConstrainedSchema()
    val Seq(dims, hub, bridges) = waves
    val e = intercept[Exception](JdbcSink.writeWaves(Seq(dims, bridges, hub), url))
    val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(x => String.valueOf(x.getMessage)).mkString("\n")
    assert(messages.contains("foreign key"), messages)
    assert(count(url, "movies") == 0)
    assert(count(url, "genres") == synthRows("genres"))
  }
}
