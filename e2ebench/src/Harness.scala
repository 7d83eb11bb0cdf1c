package e2ebench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.sql.DriverManager
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random
import scala.util.control.NonFatal
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import graft.{MovieDbImport, Sessions, SparkEntry}
import graft.etl.{CreditsPipeline, EtlKit, KeywordsPipeline, MoviesPipeline}
import graft.model.RefSchemas
import graft.sink.JdbcSink

/** One benchmark run inside one fresh JVM. It calls the program only
  * through its public functions and writes what it measured to
  * `<out>/result.json`; run.py turns that into metrics and checks it.
  *
  * Usage: Harness <mode> <out-dir> k=<Spark threads> key=value...
  *  - mode `queries`: data, names (comma-separated), seed, seconds, trace;
  *  - mode `import`: csv (directory of the four CSVs), kaggle (a ratings
  *    CSV in Kaggle's real layout), seconds, trace.
  *
  * Both modes first record when the session and the registry were ready.
  * A run makes one cold pass, untimed warm-up passes (queries only), then at
  * least three warm passes, and more until `seconds` of warm time have
  * passed; a pass is never cut short. With trace=1 the cold pass is traced
  * and warm passes alternate traced and untraced, so the difference between
  * the two kinds is the tracing overhead.
  */
object Harness {
  private def now(): Double = {
    val i = java.time.Instant.now()
    i.getEpochSecond + i.getNano / 1e9
  }

  def main(args: Array[String]): Unit = {
    val mainAt = now()
    val mode = args(0)
    val out = Paths.get(args(1))
    val kv = args.drop(2).map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val k = kv("k").toInt
    val r = new Rec
    r("main_at") = mainAt
    val t0 = System.nanoTime()
    val spark = Sessions.builder(s"local[$k]", k).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val t1 = System.nanoTime()
    SparkEntry.queries.size // initializes the registry
    r("ready_at") = now()
    r("session_build_s") = (t1 - t0) / 1e9
    r("registry_s") = (System.nanoTime() - t1) / 1e9
    val gc0 = gcSeconds()
    val tracer = if (kv("trace") == "1") Some(new Tracer(spark)) else None
    try mode match {
      case "queries" => new QueryRun(spark, kv, out, r, tracer).run()
      case "import" => new ImportRun(spark, kv, out, r, tracer).run()
    } finally {
      r("work_end_at") = now()
      spark.stop() // drains the listener bus, so every traced event is in
      r("stopped_at") = now()
      tracer.foreach(t => r("trace") = Rec.Raw(t.json))
      r("jvm_gc_s") = gcSeconds() - gc0
      r("jvm_heap_peak_mb") = ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
        .map(_.getPeakUsage.getUsed).sum / 1048576.0
      Files.write(out.resolve("result.json"), r.json.getBytes(StandardCharsets.UTF_8))
    }
  }

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  /** One timed operation's outcome. */
  final case class Op(name: String, pass: Int, traced: Boolean, start: Double,
      buildS: Double, actionS: Double, count: Long, error: String) {
    def json: String = Rec.obj(Seq("name" -> name, "pass" -> pass, "traced" -> traced,
      "start" -> start, "build_s" -> buildS, "action_s" -> actionS,
      "count" -> count, "error" -> error))
  }

  /** Spark counters per label. Operations set the local property
    * `e2ebench.label` while traced; jobs inherit it, and stages and tasks
    * are attributed through their job. Unlabeled work counts as "other".
    * The tracer stays registered for the whole run: the listener bus is
    * asynchronous, and a listener removed early would miss queued events. */
  final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
    final class Acc {
      var jobs, stages, tasks = 0L
      var jobS, taskRunS, taskCpuS, shuffleBytes, spillBytes, taskGcS = 0.0
      def json: String = Rec.obj(Seq("jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
        "job_s" -> jobS, "task_run_s" -> taskRunS, "task_cpu_s" -> taskCpuS,
        "shuffle_bytes" -> shuffleBytes, "spill_bytes" -> spillBytes, "task_gc_s" -> taskGcS))
    }
    val byLabel = new ConcurrentHashMap[String, Acc]()
    private val stageLabel = new ConcurrentHashMap[Int, String]()
    private val jobStart = new ConcurrentHashMap[Int, (String, Long)]()
    /** (start epoch s, analysis s, optimization s, planning s) per action. */
    val phases = new java.util.concurrent.ConcurrentLinkedQueue[(Double, Double, Double, Double)]()
    private def acc(l: String) = byLabel.computeIfAbsent(l, _ => new Acc)

    def label(l: String): Unit = spark.sparkContext.setLocalProperty("e2ebench.label", l)
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val l = Option(e.properties).flatMap(p => Option(p.getProperty("e2ebench.label")))
        .getOrElse("other")
      jobStart.put(e.jobId, (l, e.time))
      e.stageIds.foreach(stageLabel.put(_, l))
      acc(l).synchronized(acc(l).jobs += 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { case (l, t) =>
        val a = acc(l); a.synchronized(a.jobS += (e.time - t) / 1e3)
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val a = acc(stageLabel.getOrDefault(e.stageInfo.stageId, "other"))
      a.synchronized(a.stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val a = acc(stageLabel.getOrDefault(e.stageId, "other"))
      Option(e.taskMetrics).foreach { m =>
        a.synchronized {
          a.tasks += 1
          a.taskRunS += m.executorRunTime / 1e3
          a.taskCpuS += m.executorCpuTime / 1e9
          a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten + m.shuffleReadMetrics.totalBytesRead
          a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          a.taskGcS += m.jvmGCTime / 1e3
        }
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val p = qe.tracker.phases
      def d(n: String) = p.get(n).map(s => (s.endTimeMs - s.startTimeMs) / 1e3).getOrElse(0.0)
      val start = p.values.map(_.startTimeMs).minOption.getOrElse(0L) / 1e3
      phases.add((start, d("analysis"), d("optimization"), d("planning")))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

    def json: String = Rec.obj(Seq(
      "labels" -> Rec.Raw(Rec.obj(byLabel.asScala.toSeq.sortBy(_._1).map { case (l, a) => l -> Rec.Raw(a.json) })),
      "phases" -> Rec.Raw(phases.asScala.map { case (s, a, o, pl) =>
        Rec.arr(Seq(s, a, o, pl)) }.mkString("[", ",", "]"))))
  }

  /** Runs one operation: `build` (construction), then `action` on its
    * result, timed apart. */
  private def timeOp(name: String, pass: Int, tracer: Option[Tracer])(
      build: => DataFrame)(action: DataFrame => Long): Op = {
    val start = now()
    val t0 = System.nanoTime()
    var t1 = t0
    try {
      tracer.foreach(_.label(s"$pass/$name/build"))
      val df = build
      t1 = System.nanoTime()
      tracer.foreach(_.label(s"$pass/$name/action"))
      val n = action(df)
      Op(name, pass, tracer.nonEmpty, start, (t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9, n, null)
    } catch {
      case NonFatal(e) =>
        Op(name, pass, tracer.nonEmpty, start, (t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9, -1,
          s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}")
    } finally tracer.foreach(_.label(null))
  }

  /** Warm passes a run makes at least, whatever `seconds` is. */
  val MinWarmPasses = 3

  /** Cold pass, an untimed warm-up, then timed warm passes (see Harness);
    * `after` runs after every pass, outside its timed region. Records each
    * warm pass's wall time and returns the timed operations. */
  private def passes(kv: Map[String, String], tracer: Option[Tracer], r: Rec,
      warmup: () => Unit = () => (), after: Int => Unit = _ => ())(
      pass: (Int, Option[Tracer]) => Seq[Op]): Seq[Op] = {
    val seconds = kv("seconds").toDouble
    val ops = ArrayBuffer.empty[Op] ++ pass(0, tracer)
    after(0)
    warmup()
    val walls = ArrayBuffer.empty[String]
    var p = 1
    var warm = 0.0
    while (warm < seconds || p <= MinWarmPasses) {
      // with tracing, odd warm passes are traced and even ones are not
      val traced = tracer.filter(_ => p % 2 == 1)
      val t = System.nanoTime()
      ops ++= pass(p, traced)
      val wall = (System.nanoTime() - t) / 1e9
      walls += Rec.arr(Seq(p, wall))
      warm += wall
      after(p)
      p += 1
    }
    r("passes_end_at") = now()
    r("pass_walls") = Rec.Raw(walls.mkString("[", ",", "]"))
    ops.toSeq
  }

  final class QueryRun(spark: SparkSession, kv: Map[String, String], out: java.nio.file.Path, r: Rec,
      tracer: Option[Tracer]) {
    def run(): Unit = {
      val dir = kv("data")
      val names = kv("names").split(",").toSeq
      val rng = new Random(kv("seed").toLong)
      // Two untimed warm-up passes: a query's second and third runs in a
      // JVM are still much slower than later ones (JIT compilation). The
      // first writes each query's result for the oracle check.
      def warmup(): Unit = {
        r("dump_errors") = Rec.Raw(Rec.obj(rng.shuffle(names).map { n =>
          n -> (try {
            SparkEntry.queries(n)(spark, dir).write.parquet(out.resolve("dump").resolve(n).toString)
            null
          } catch { case NonFatal(e) => s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}" })
        }))
        rng.shuffle(names).foreach(n => timeOp(n, -1, None)(SparkEntry.queries(n)(spark, dir))(_.count()))
      }
      val ops = passes(kv, tracer, r, warmup = () => warmup()) { (p, tr) =>
        rng.shuffle(names).map { n =>
          timeOp(n, p, tr)(SparkEntry.queries(n)(spark, dir))(_.count())
        }
      }
      r("ops") = Rec.Raw(ops.map(_.json).mkString("[", ",", "]"))
      r("oracle_sql") = Rec.Raw(Rec.obj(names.map(n => n -> SparkEntry.oracleSql.getOrElse(n, null))))
    }
  }

  /** The sink's tables in write order, as JdbcSink.writeAll writes them. */
  private def sinkTables(mt: MoviesPipeline.MoviesTables, ct: CreditsPipeline.CreditsTables,
      kt: KeywordsPipeline.KeywordsTables): Seq[(String, DataFrame)] = Seq(
    "genres" -> mt.genres,
    "languages" -> mt.languages.select("id", "lang_key", "name"),
    "collections" -> mt.collections,
    "countries" -> mt.countries.select("id", "code", "name"),
    "production_companies" -> mt.productionCompanies,
    "persons" -> ct.persons,
    "keywords" -> kt.keywords,
    "movies" -> mt.movies,
    "movies_genres" -> mt.moviesGenres,
    "movies_production_companies" -> mt.moviesProductionCompanies,
    "production_countries" -> mt.productionCountries,
    "spoken_languages" -> mt.spokenLanguages,
    "movies_keywords" -> kt.moviesKeywords,
    "directors" -> ct.directors,
    "actors" -> ct.actors)

  final class ImportRun(spark: SparkSession, kv: Map[String, String], out: java.nio.file.Path, r: Rec,
      tracer: Option[Tracer]) {
    private val csv = kv("csv")
    private def path(f: String) = s"$csv/$f"
    /** (pass, layer, value) of every traced import. */
    private val layers = ArrayBuffer.empty[(Int, String, Double)]
    private var pass = 0
    /** Per pass: the tables read back, or why they could not be. */
    private val checks = ArrayBuffer.empty[String]

    private def db(p: Int): String = s"jdbc:derby:memory:import$p"

    /** Per table: row count, then per column (sink DDL order, bridge
      * identity ids skipped) its non-null count and its sum, or its total
      * length for text. */
    private def fingerprint(url: String): String = {
      val con = DriverManager.getConnection(url)
      try {
        Rec.obj(JdbcSink.tableDdl.map { case (t, _) =>
          val md = con.getMetaData.getColumns(null, null, t.toUpperCase, null)
          val cols = ArrayBuffer.empty[(String, Int)]
          while (md.next()) cols += md.getString("COLUMN_NAME") -> md.getInt("DATA_TYPE")
          val isBridge = JdbcSink.tableDdl.toMap.apply(t).contains("IDENTITY")
          val used = if (isBridge) cols.filterNot(_._1 == "ID") else cols
          val sums = used.map { case (c, ty) =>
            if (ty == java.sql.Types.VARCHAR) s"COUNT($c), SUM(CAST(LENGTH($c) AS BIGINT))"
            else if (ty == java.sql.Types.DOUBLE) s"COUNT($c), SUM($c)"
            else s"COUNT($c), SUM(CAST($c AS BIGINT))"
          }
          val rs = con.createStatement().executeQuery(
            s"SELECT COUNT(*)${sums.map(", " + _).mkString} FROM $t")
          rs.next()
          val colVals = used.indices.map { i =>
            val ty = used(i)._2
            val s = if (ty == java.sql.Types.DOUBLE) rs.getDouble(3 + 2 * i) else rs.getLong(3 + 2 * i).toDouble
            Rec.arr(Seq(rs.getLong(2 + 2 * i), s))
          }
          t -> Rec.Raw(Rec.obj(Seq("rows" -> rs.getLong(1), "cols" -> Rec.Raw(colVals.mkString("[", ",", "]")))))
        })
      } finally con.close()
    }

    private def dropDb(url: String): Unit =
      try DriverManager.getConnection(url + ";drop=true").close()
      catch { case _: java.sql.SQLException => () } // Derby reports a drop as an exception

    private def timed[T](name: String)(body: => T): T = {
      val t = System.nanoTime()
      try body finally layers += ((pass, name, (System.nanoTime() - t) / 1e9))
    }

    /** The import split at layer boundaries: scan, rating average,
      * pipeline construction, and per table its computation (a no-op
      * write, which also fills the pipelines' own caches) and then its
      * `JdbcSink.writeTable` call. The table itself is not cached: the
      * write computes it again from the pipelines' cached frames, as the
      * program's own import does. Written from a cached table, all
      * partitions start inserting at once, and Derby then fails concurrent
      * inserts into an identity column (40XL1 from its sequence updater)
      * far more often than under the program's own write pattern. */
    private def tracedImport(url: String, tr: Tracer): Unit = try {
      tr.label(s"$pass/import/scan")
      Seq("movies" -> (MovieDbImport.Movies, RefSchemas.moviesCsv),
        "credits" -> (MovieDbImport.Credits, RefSchemas.creditsCsv),
        "keywords" -> (MovieDbImport.Keywords, RefSchemas.keywordsCsv),
        "ratings" -> (MovieDbImport.Ratings, RefSchemas.ratingsCsv)).foreach { case (n, (f, s)) =>
        val rows = timed(s"etl.scan.$n")(EtlKit.readCsv(spark, path(f), s).count())
        layers += ((pass, s"etl.scan_rows.$n", rows.toDouble))
      }
      tr.label(s"$pass/import/rating_avg")
      timed("etl.rating_avg")(EtlKit.ratingAvg(
        EtlKit.readCsv(spark, path(MovieDbImport.Ratings), RefSchemas.ratingsCsv)).count())
      tr.label(s"$pass/import/build")
      val (mt, ct, kt) = timed("ops.build") {
        (MoviesPipeline.fromCsv(spark, path(MovieDbImport.Movies), path(MovieDbImport.Ratings)),
          CreditsPipeline.fromCsv(spark, path(MovieDbImport.Credits)),
          KeywordsPipeline.fromCsv(spark, path(MovieDbImport.Keywords)))
      }
      tr.label(s"$pass/import/sink")
      timed("sink.schema")(JdbcSink.createSchema(url))
      sinkTables(mt, ct, kt).foreach { case (t, df) =>
        tr.label(s"$pass/import/compute/$t")
        timed(s"etl.compute.$t")(df.write.format("noop").mode("overwrite").save())
        tr.label(s"$pass/import/write/$t")
        timed(s"sink.write.$t")(JdbcSink.writeTable(df, url, t))
      }
    } finally tr.label(null)

    /** Reads pass p's tables back, then drops its database and the cache. */
    private def check(p: Int): Unit = {
      val (tables, error) =
        try (Rec.Raw(fingerprint(db(p))), null)
        catch { case NonFatal(e) => (null, s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}") }
      checks += Rec.obj(Seq("pass" -> p, "tables" -> tables, "error" -> error))
      spark.catalog.clearCache()
      dropDb(db(p))
    }

    def run(): Unit = {
      val ops = passes(kv, tracer, r, after = check) { (p, tr) =>
        pass = p
        val op = timeOp("import", p, None)(null) { _ =>
          tr match {
            case Some(t) => tracedImport(db(p) + ";create=true", t)
            case None => MovieDbImport.run(spark, csv, db(p) + ";create=true")
          }
          1L
        }
        Seq(op.copy(traced = tr.nonEmpty))
      }
      r("ops") = Rec.Raw(ops.map(_.json).mkString("[", ",", "]"))
      r("checks") = Rec.Raw(checks.mkString("[", ",", "]"))

      // The layout probe: the same ratings average over a Kaggle-layout file.
      r("kaggle_rating_avg") = Rec.Raw(Rec.obj(
        EtlKit.ratingAvg(EtlKit.readCsv(spark, kv("kaggle"), RefSchemas.ratingsCsv))
          .collect().toSeq.map(row => row.get(0).toString -> row.getDouble(1))))

      tracer.foreach { _ =>
        r("layers") = Rec.Raw(layers.map { case (p, n, v) => Rec.arr(Seq(p, n, v)) }.mkString("[", ",", "]"))
        // Input quality counts, outside every timed region.
        val movies = EtlKit.readCsv(spark, path(MovieDbImport.Movies), RefSchemas.moviesCsv)
        val credits = EtlKit.readCsv(spark, path(MovieDbImport.Credits), RefSchemas.creditsCsv)
        val keywords = EtlKit.readCsv(spark, path(MovieDbImport.Keywords), RefSchemas.keywordsCsv)
        val ratings = EtlKit.readCsv(spark, path(MovieDbImport.Ratings), RefSchemas.ratingsCsv)
        r("skipped_rows") = EtlKit.badIdCount(movies, "id") + EtlKit.badIdCount(credits, "id") +
          EtlKit.badIdCount(keywords, "id") + ratings.filter(
            EtlKit.strictInt(col("movieId")).isNull || col("rating").try_cast("double").isNull).count()
        def nulls(df: DataFrame, cols: (String, org.apache.spark.sql.types.DataType)*): Long =
          df.select(cols.map { case (c, s) =>
            sum(when(col(c).isNotNull && EtlKit.parsePy(col(c), s).isNull, 1).otherwise(0)) }: _*)
            .collect().head.toSeq.map(v => Option(v).map(_.toString.toLong).getOrElse(0L)).sum
        r("null_cells") =
          nulls(movies, "genres" -> RefSchemas.idName, "belongs_to_collection" -> RefSchemas.collection,
            "spoken_languages" -> RefSchemas.spokenLanguages,
            "production_companies" -> RefSchemas.idName,
            "production_countries" -> RefSchemas.productionCountries) +
          nulls(credits, "cast" -> RefSchemas.cast, "crew" -> RefSchemas.crew) +
          nulls(keywords, "keywords" -> RefSchemas.idName)
      }
    }
  }
}

/** A flat JSON object under construction, and the few JSON renderings the
  * harness needs. */
final class Rec {
  private val fields = ArrayBuffer.empty[(String, Any)]
  def update(k: String, v: Any): Unit = fields += k -> v
  def json: String = Rec.obj(fields.toSeq)
}

object Rec {
  final case class Raw(s: String)
  def value(v: Any): String = v match {
    case null => "null"
    case Raw(s) => s
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case other => value(other.toString)
  }
  def obj(kvs: Seq[(String, Any)]): String =
    kvs.map { case (k, v) => value(k) + ":" + value(v) }.mkString("{", ",", "}")
  def arr(vs: Seq[Any]): String = vs.map(value).mkString("[", ",", "]")
}
