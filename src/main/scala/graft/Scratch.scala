package graft

/** Dev scratchpad: smoke-run SparkEntry.entry the way the driver's t1
  * gate does, and dump a plan when a query name is passed. Args:
  * `<name> [sfDir] [--time]` — with --time, skip the plan dump and print
  * wall seconds for two consecutive runs (warm JVM second run).
  */
object Scratch {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val time = args.contains("--time")
    val rest = args.filterNot(_ == "--time")
    rest.headOption match {
      case Some(name) =>
        val dir = rest.lift(1).getOrElse("/root/testdata/sf0.01")
        if (time) {
          spark.range(1000000L).selectExpr("sum(id)").collect() // warmup
          for (i <- 1 to 2) {
            val t0 = System.nanoTime()
            val n = SparkEntry.queries(name)(spark, dir).count()
            println(f"$name run$i rows=$n t=${(System.nanoTime() - t0) / 1e9}%.2f s")
          }
        } else {
          val df = SparkEntry.queries(name)(spark, dir)
          df.explain("formatted")
          println(s"$name rows=${df.count()}")
        }
      case None =>
        val df = SparkEntry.entry(spark)
        println(s"entry rows=${df.count()}")
        df.show(5, false)
    }
  }
}
