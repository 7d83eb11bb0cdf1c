package graft

/** Dump `.explain("formatted")` evidence for named queries into files —
  * the optimization round's plans/rN artifacts. For each query NAME the
  * file carries (1) every construction-time plan the query materializes
  * (pinned/audited checkpoints, artifact builds — the plans a final
  * explain cannot show), as plan trees, and (2) the final returned
  * DataFrame's formatted explain. Args: <outDir> <sfDir> <q1,q2,...>
  * [suffix]. AQE disabled so the dump is the static canonical form the
  * plan goldens use.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(outDir, sfDir, csv, rest @ _*) = args: @unchecked
    val suffix = rest.headOption.getOrElse("after")
    val spark = Sessions.local
      .config("spark.sql.adaptive.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(outDir).mkdirs()
    csv.split(",").foreach { name =>
      spark.catalog.clearCache()
      ScanAudit.drain()
      ScanAudit.enabled = true
      val (ctor, finalExplain) =
        try {
          val df = SparkEntry.queries(name)(spark, sfDir)
          (ScanAudit.drain().map(_._1),
            df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode))
        } finally ScanAudit.enabled = false
      val w = new java.io.PrintWriter(s"$outDir/${name}_$suffix.txt", "UTF-8")
      try {
        w.println(s"== $name ($suffix) — sf: $sfDir ==")
        ctor.zipWithIndex.foreach { case (p, i) =>
          w.println(s"\n-- construction-time plan ${i + 1} " +
            "(pinned/audited materialization) --")
          w.println(p.toString)
        }
        w.println("\n-- final plan (explain formatted) --")
        w.println(finalExplain)
      } finally w.close()
      println(s"PLANDUMP $name -> $outDir/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
