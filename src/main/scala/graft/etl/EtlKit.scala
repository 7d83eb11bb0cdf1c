package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StringType, StructField, StructType}

/** Shared ETL primitives: the reference's scan, coercion, and parse
  * operators as declarative Spark expressions (SURVEY.md §2.1-§2.2).
  */
object EtlKit {

  /** Scan-order sequence column used for first/last-wins determinism.
    * `monotonically_increasing_id` is (partitionId << 33) | row-in-partition
    * and CSV splits are file-offset ordered, so it increases in file order —
    * the same order the reference's `iterrows()` sees (loader.py:120). */
  val SeqCol = "_seq"

  /** Max rows [[withDenseId]] accepts — dimension tables (languages,
    * countries) are hundreds of rows; 1M leaves huge headroom while still
    * catching a fact table routed through the single-partition mint. */
  val DimIdCap = 1000000L

  /** O-1: CSV scan with header, quoted multi-line nested cells (reference
    * loader.py:561-568; pandas `read_csv`). The header line fixes the
    * column order, so Kaggle's own layouts (extra columns, `id` anywhere)
    * load as well as the projected fixtures; `schema`'s fields are then
    * selected by name, as the reference's pandas column lookups do, and a
    * field the header lacks fails with its name, like pandas' KeyError.
    * PERMISSIVE so a malformed row degrades to nulls (skip-and-keep-going)
    * instead of failing the job. */
  def readCsv(spark: SparkSession, path: String, schema: StructType): DataFrame = {
    val header = csvHeader(spark, path)
    val missing = schema.fieldNames.filterNot(header.contains)
    require(missing.isEmpty,
      s"$path: header has no column ${missing.mkString(", ")}")
    spark.read
      .option("header", "true")
      .option("multiLine", "true")
      .option("escape", "\"")
      .option("mode", "PERMISSIVE")
      .schema(StructType(header.map(h =>
        schema.find(_.name == h).getOrElse(StructField(h, StringType)))))
      .csv(path)
      .select(schema.fieldNames.toSeq.map(col): _*)
      .withColumn(SeqCol, monotonically_increasing_id())
  }

  /** The column names on the first line of the first file `path` names
    * (a file or a glob), read straight through the Hadoop FileSystem (no
    * Spark job). */
  private def csvHeader(spark: SparkSession, path: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val first = Option(fs.globStatus(p)).toSeq.flatten.map(_.getPath)
      .sortBy(_.toString).headOption
      .getOrElse(throw new java.io.FileNotFoundException(s"no CSV at $path"))
    val r = new java.io.BufferedReader(
      new java.io.InputStreamReader(fs.open(first), "UTF-8"))
    val line = try Option(r.readLine()).getOrElse("") finally r.close()
    line.stripPrefix("\uFEFF").split(",", -1).toSeq
      .map(_.trim.stripPrefix("\"").stripSuffix("\""))
  }

  /** Python `int(str)` strict parse: digits only (no floats), else NULL.
    * Used for the cast-or-drop id filters (P-2/P-3, loader.py:122-127). */
  def strictInt(c: Column): Column =
    when(trim(c).rlike("^[+-]?[0-9]+$"), trim(c).cast("long"))

  /** P-5 `is_positive_integer` on string-typed cells (loader.py:37-42):
    * strict int parse, kept iff > 0. */
  def posLong(c: Column): Column = {
    val v = strictInt(c)
    when(v > 0, v)
  }

  /** P-5 on numeric-looking cells that pandas had already parsed as float
    * (runtime): `int(float)` truncates, kept iff > 0 (loader.py:139-140).
    * try_cast: under ANSI mode (Spark 4 default) a plain cast would THROW
    * on a malformed cell instead of skipping it like the reference. */
  def posIntFromNumeric(c: Column): Column = {
    val d = c.try_cast("double")
    when(floor(d) > 0, floor(d).cast("int"))
  }

  /** P-6 `is_positive_float` (loader.py:45-50): parse, kept iff > 0.0. */
  def posDouble(c: Column): Column = {
    val d = c.try_cast("double")
    when(d > 0.0, d)
  }

  /** P-7: non-empty string else NULL (loader.py:141-142). Reference quirk:
    * a pandas NaN became the literal 'nan' — we emit NULL (SURVEY §7.4.4,
    * documented deviation). */
  def nonEmpty(c: Column): Column = when(length(c) > 0, c)

  /** P-10: Python-literal cell → typed value via the native
    * [[graft.parse.PyToJson]] expression + `from_json`. NULL/malformed →
    * NULL (no explode rows), the engine's skip-bad-and-continue policy. */
  def parsePy(c: Column, schema: DataType): Column =
    from_json(call_function("py_to_json", c), schema)

  /** O-8 dense surrogate ids 0..n-1 in `order`, for DIMENSION-sized input
    * ONLY. Contiguous first-appearance ids need a global total order, i.e.
    * a single-partition window — safe on post-aggregation dimension values
    * (≤ thousands of rows), catastrophic on fact rows. The plan enforces
    * that claim at runtime: if the input exceeds `cap` rows the query
    * fails loudly (`raise_error`) instead of silently funneling fact-scale
    * data through one partition (the copy-paste hazard flagged in round-1
    * review). The guard rides the same single-partition pass the mint
    * already makes, so it costs one global count, not an extra action. */
  def withDenseId(df: DataFrame, idCol: String, cap: Long, order: Column*): DataFrame = {
    val wAll = graft.ops.OpsKit.boundedWin
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val guard = when(
      count(lit(1)).over(wAll) > cap,
      raise_error(lit(s"withDenseId: input exceeds $cap rows — this mint " +
        "is for post-aggregation dimension values, not facts")).cast("long"))
      .otherwise(0L)
    df.withColumn(idCol,
      (row_number().over(graft.ops.OpsKit.boundedWin.orderBy(order: _*)) - 1).cast("long") + guard)
  }

  /** P-2 observability: how many rows the id filter would drop — the
    * engine's analog of the reference's print-and-skip log lines
    * (loader.py:126, 254, 299). One extra pass over the raw scan; call it
    * only when the metric is wanted. */
  def badIdCount(raw: DataFrame, idCol: String): Long =
    raw.filter(strictInt(col(idCol)).isNull).count()

  /** A-1: average rating per movie (loader.py:313-336). Bad rows (either
    * field unparsable) are skipped like the reference's try/except. */
  def ratingAvg(ratings: DataFrame): DataFrame =
    ratings
      .select(strictInt(col("movieId")).as("movieId"),
        col("rating").try_cast("double").as("rating"))
      .filter(col("movieId").isNotNull && col("rating").isNotNull)
      .groupBy("movieId")
      .agg(avg(col("rating")).as("rating"))
}
