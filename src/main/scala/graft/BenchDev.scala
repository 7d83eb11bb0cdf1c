package graft

/** Dev-only subset bench for optimization iteration: times a named subset
  * of SparkEntry.queries with the SAME methodology as [[Bench]] (count()
  * action, min-of-2 per query, warmup, ERROR log level) but no floors,
  * sentinel, repass, or record files — so plan/shape experiments can be
  * A/B-timed in ~seconds without running the 314-query battery or
  * touching the committed records. Args: comma-separated query names (or
  * `top:<file>` = names from a JSON bench record, descending by time,
  * take n via `top:<file>:<n>`); env SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS
  * as in Bench. Prints one line per query and a total.
  */
object BenchDev {
  private val TopSpec = """top:(.+?)(?::([0-9]+))?""".r

  /** A `top:<file>[:<n>]` spec as (file, n), parsed from the right: a
    * trailing `:<digits>` is n (default 30) and the rest is the path, so
    * the path may itself contain ':'. Pure for the spec. */
  def parseTop(spec: String): (String, Int) = spec match {
    case TopSpec(file, n) => (file, Option(n).fold(30)(_.toInt))
    case _ => sys.error("usage: BenchDev top:<file>[:n]")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names: Seq[String] = args.headOption match {
      case Some(spec) if spec.startsWith("top:") =>
        val (file, n) = parseTop(spec)
        val src = scala.io.Source.fromFile(file, "UTF-8")
        val txt = try src.mkString finally src.close()
        """"(q[0-9]+[a-z_0-9]*)":([0-9.]+)""".r.findAllMatchIn(txt)
          .map(m => m.group(1) -> m.group(2).toDouble).toSeq
          .filter(kv => SparkEntry.queries.contains(kv._1))
          .sortBy(-_._2).take(n).map(_._1)
      case Some(csv) => csv.split(",").toSeq
      case None => sys.error("usage: BenchDev <q1,q2,...|top:file[:n]>")
    }
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown: ${unknown.mkString(",")}")
    val jobs = sys.env.get("SPARK_GRAFT_DEVJOBS").contains("1")
    val spark = Sessions.local.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (jobs) {
      val t = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onJobStart(
              j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
            // nothing sets callSite.short; a stage is named after the
            // call site that created it, e.g. "parquet at OpsKit.scala:52"
            val site = Option(j.properties)
              .flatMap(p => Option(p.getProperty("spark.job.description")))
              .orElse(j.stageInfos.headOption.map(_.name))
              .getOrElse("?")
            t.put(j.jobId, (System.nanoTime(), site))
          }
          override def onJobEnd(
              j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
            val (t0, site) = t.getOrDefault(j.jobId, (0L, "?"))
            val dt = (System.nanoTime() - t0) / 1e9
            println(f"  JOB ${j.jobId}%4d ${dt}%7.3f s  $site")
          }
        })
    }
    spark.range(1000000L).selectExpr("sum(id)").collect()
    // NonFatal only: an OOM or linkage error must surface, not silently
    // skip warmup and skew the first min-of-2 (r18 ADVICE)
    try SparkEntry.entry(spark).count() catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"BENCHDEV warmup failed: ${e.getMessage}")
    }
    var total = 0.0
    names.foreach { name =>
      def once(): Double = {
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      }
      val best = math.min(once(), once())
      total += best
      println(f"BENCHDEV $name%-32s $best%7.3f s")
    }
    println(f"BENCHDEV TOTAL ${names.size}%d queries $total%8.3f s")
    spark.stop()
  }
}
