package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger
import scala.annotation.tailrec
import scala.util.Try
import scala.util.control.NonFatal
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Developer benchmark of the query registry at the sf dir named by
  * SPARK_GRAFT_SF_DIR. With no argument it runs every query; `q1,q2,...`
  * or `top:<record>[:n]` (the n slowest queries of an earlier record)
  * runs a subset the same way. After an untimed warm-up each query runs
  * twice and keeps its faster successful run, then [[floorGate]] re-times
  * the queries over 2× their committed floor. The record goes to
  * target/bench/<sf>-<epoch>.json, and the last stdout line is a summary
  * under 1 KB that names it. A query that throws is reported in `errors`
  * and the exit code is 1.
  */
object Bench {
  /** Local property naming the query run a Spark job belongs to. */
  val Label = "graft.bench.query"

  /** Counts Spark jobs by their [[Label]]. AQE stage jobs inherit the
    * property of the action that submits them; unlabeled jobs count as
    * "other". */
  final class JobCounter extends SparkListener {
    private val n = new ConcurrentHashMap[String, AtomicInteger]()
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val l = Option(e.properties).flatMap(p => Option(p.getProperty(Label)))
      n.computeIfAbsent(l.getOrElse("other"), _ => new AtomicInteger).incrementAndGet()
    }
    def apply(label: String): Int = Option(n.get(label)).fold(0)(_.get)
    def total: Int = n.values.stream.mapToInt(_.get).sum
  }

  /** One run of `name` with its jobs labeled `label`: (seconds, error). */
  def run(spark: SparkSession, sfDir: String, name: String,
      label: String): (Double, Option[String]) = {
    val sc = spark.sparkContext
    sc.setLocalProperty(Label, label)
    val t0 = System.nanoTime()
    val err = try { SparkEntry.queries(name)(spark, sfDir).count(); None }
      catch { case NonFatal(e) =>
        Some(Option(e.getMessage).getOrElse(e.getClass.getName).take(200)) }
      finally sc.setLocalProperty(Label, null)
    ((System.nanoTime() - t0) / 1e9, err)
  }

  /** Min-of-2: (best seconds, error). A failing first run is not repeated,
    * and a failing second run keeps the first time, so a time-to-crash
    * never poses as a fast run. The second run's jobs carry the bare
    * query name. */
  def timeQuery(spark: SparkSession, sfDir: String,
      name: String): (Double, Option[String]) = {
    val (first, err) = run(spark, sfDir, name, s"$name#1")
    if (err.nonEmpty) (first, err)
    else {
      val (second, err2) = run(spark, sfDir, name, name)
      (if (err2.isEmpty) math.min(first, second) else first, err2)
    }
  }

  /** Queries whose best time is strictly over 2× their floor, worst ratio
    * first, at most `cap`. A missing or non-positive floor is inert. */
  def floorCandidates(results: Seq[(String, Double)],
      floors: Map[String, Double], cap: Int = 32): Seq[String] =
    results
      .collect { case (name, best) if floors.get(name).exists(f => f > 0 && best > 2 * f) =>
        name -> best / floors(name) }
      .sortBy(-_._2).take(cap).map(_._1)

  final case class Gate(results: Seq[(String, Double)], rounds: Int, over: Seq[String]) {
    def ok: Boolean = over.isEmpty
  }

  /** The floor gate over successful queries' best times: up to 3 rounds
    * re-time only the [[floorCandidates]] and keep each query's minimum
    * (a failed re-time, None, keeps the old best). The gate fails when
    * queries are still over their floor after the last round. */
  def floorGate(results: Seq[(String, Double)], floors: Map[String, Double],
      retime: String => Option[Double]): Gate = {
    @tailrec def loop(rs: Seq[(String, Double)], rounds: Int): Gate = {
      val over = floorCandidates(rs, floors)
      if (over.isEmpty || rounds == 3) Gate(rs, rounds, over)
      else loop(rs.map { case r @ (name, best) =>
        if (over.contains(name)) name -> retime(name).fold(best)(math.min(best, _)) else r
      }, rounds + 1)
    }
    loop(results, 0)
  }

  private def floorLines: Seq[String] = {
    val f = new java.io.File("scripts/bench_floors.tsv")
    if (!f.exists) Nil
    else {
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().toList finally src.close()
    }
  }

  /** Committed per-query floors for one sf dir (by basename); a missing
    * file or unparsable rows give no floor, which leaves the gate inert. */
  def loadFloors(sfDir: String): Map[String, Double] = {
    val sf = new java.io.File(sfDir).getName
    floorLines.filterNot(l => l.startsWith("#") || l.trim.isEmpty).flatMap { l =>
      l.split("\t") match {
        case Array(s, q, v) if s == sf => v.toDoubleOption.map(q -> _)
        case _ => None
      }
    }.toMap
  }

  private val TopSpec = """top:(.+?)(?::([0-9]+))?""".r

  /** A `top:<file>[:<n>]` spec as (file, n), parsed from the right: a
    * trailing `:<digits>` is n (default 30) and the rest is the path, so
    * the path may itself contain ':'. */
  def parseTop(spec: String): (String, Int) = spec match {
    case TopSpec(file, n) => (file, Option(n).fold(30)(_.toInt))
    case _ => sys.error("usage: Bench top:<file>[:n]")
  }

  /** The query names of a record's `queries` map, slowest first. Other
    * maps with the same keys (`jobs`) are not read. */
  def topQueries(record: String): Seq[String] =
    """"queries":\{([^}]*)\}""".r.findFirstMatchIn(record).toSeq.flatMap { m =>
      """"([^"]+)":([0-9.eE+\-]+)""".r.findAllMatchIn(m.group(1))
        .map(p => p.group(1) -> p.group(2).toDouble)
    }.sortBy(-_._2).map(_._1)

  /** The last stdout line: no per-query map, so it stays under 1 KB. */
  def summaryLine(total: Double, gateOk: Boolean, nQueries: Int, nErrors: Int,
      cpus: Int, stealPct: Double, full: String, sf: String): String =
    s"""{"metric":"total","value":$total,"unit":"sec","gate_ok":$gateOk,"n_queries":$nQueries,"n_errors":$nErrors,"cpus":$cpus,"steal_pct":$stealPct,"full":${jstr(full)},"sf":${jstr(sf)}}"""

  private def jstr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def obj(kvs: Seq[(String, String)]): String =
    kvs.map { case (k, v) => s"${jstr(k)}:$v" }.mkString("{", ",", "}")

  private def round(v: Double, digits: Int): Double = {
    val s = math.pow(10, digits)
    math.round(v * s) / s
  }

  /** (steal, total) jiffies of all CPUs from /proc/stat; zeros elsewhere. */
  private def cpuTimes(): (Long, Long) = Try {
    val v = Files.readAllLines(Paths.get("/proc/stat")).get(0)
      .split("\\s+").drop(1).map(_.toLong)
    (v.lift(7).getOrElse(0L), v.take(8).sum)
  }.getOrElse((0L, 0L))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names = args.headOption match {
      case None => SparkEntry.queries.keys.toSeq.sorted
      case Some(spec) if spec.startsWith("top:") =>
        val (file, n) = parseTop(spec)
        topQueries(new String(Files.readAllBytes(Paths.get(file)), StandardCharsets.UTF_8))
          .filter(SparkEntry.queries.contains).take(n)
      case Some(csv) => csv.split(",").toSeq
    }
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    val (steal0, total0) = cpuTimes()
    val spark = Sessions.local.getOrCreate()
    // WARN noise of a long battery buries the summary line
    spark.sparkContext.setLogLevel("ERROR")
    val jobs = new JobCounter
    spark.sparkContext.addSparkListener(jobs)
    // Untimed warm-up: JVM, codegen and parquet-footer startup cost is not
    // charged to the first timed query
    spark.sparkContext.setLocalProperty(Label, "warmup")
    spark.range(1000000L).selectExpr("sum(id)").collect()
    try SparkEntry.entry(spark).count() catch {
      case NonFatal(e) => System.err.println(s"bench warm-up failed: ${e.getMessage}")
    }
    spark.sparkContext.setLocalProperty(Label, null)
    val timed = names.map(n => n -> timeQuery(spark, sfDir, n))
    val errors = timed.collect { case (n, (_, Some(e))) => n -> e }
    val floors = loadFloors(sfDir)
    val gate = floorGate(timed.collect { case (n, (t, None)) => n -> t }, floors,
      n => run(spark, sfDir, n, s"$n#r") match {
        case (t, None) => Some(t)
        case _ => None
      })
    val best = timed.map { case (n, (t, _)) => n -> t }.toMap ++ gate.results
    spark.stop() // drains the listener bus, so every job is counted
    val (steal1, total1) = cpuTimes()
    val stealPct = round(100.0 * (steal1 - steal0) / math.max(1L, total1 - total0), 2)
    val maxVsFloor = gate.results
      .collect { case (n, b) if floors.get(n).exists(_ > 0) => b / floors(n) }
      .foldLeft(0.0)(math.max)
    val total = round(best.values.sum, 3)
    val sf = new java.io.File(sfDir).getName
    val path = s"target/bench/$sf-${System.currentTimeMillis / 1000}.json"
    val floorGateJson = obj(Seq("ok" -> gate.ok.toString, "rounds" -> gate.rounds.toString,
      "max_vs_floor" -> round(maxVsFloor, 2).toString,
      "over" -> gate.over.sorted.map(jstr).mkString("[", ",", "]"),
      "floors_n" -> floors.size.toString,
      "floors_provenance" -> jstr(floorLines.find(_.startsWith("#"))
        .getOrElse("").stripPrefix("#").trim)))
    val record = obj(Seq("metric" -> jstr("total"), "value" -> total.toString,
      "unit" -> jstr("sec"), "floor_gate" -> floorGateJson,
      "queries" -> obj(names.map(n => n -> round(best(n), 3).toString)),
      "jobs" -> obj(names.map(n => n -> jobs(n).toString)),
      "jobs_total" -> jobs.total.toString, "jobs_other" -> jobs("other").toString,
      "errors" -> obj(errors.map { case (n, e) => n -> jstr(e) }),
      "n_errors" -> errors.size.toString, "cpus" -> Sessions.cpus.toString,
      "host" -> jstr(Try(new String(Files.readAllBytes(Paths.get("/proc/sys/kernel/hostname")),
        StandardCharsets.UTF_8).trim).getOrElse("?")),
      "steal_pct" -> stealPct.toString, "sf" -> jstr(sfDir)))
    try {
      Files.createDirectories(Paths.get("target/bench"))
      Files.write(Paths.get(path), (record + "\n").getBytes(StandardCharsets.UTF_8))
    } catch {
      case NonFatal(e) => System.err.println(s"bench: could not write $path: $e")
    }
    println(summaryLine(total, gate.ok, names.size, errors.size, Sessions.cpus,
      stealPct, path, sfDir))
    if (errors.nonEmpty) sys.exit(1)
  }
}
