package graft

import org.apache.spark.sql.SparkSession

/** Shared SparkSession configuration for every entrypoint (Verify, Bench,
  * Scratch, tests). Keeps session-level flags in ONE place so no query
  * builder ever mutates conf as a side effect.
  */
object Sessions {
  /** Local-mode threads for the mains: `SPARK_GRAFT_CPUS` when set, else
    * every processor the JVM sees. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS")
    .fold(Runtime.getRuntime.availableProcessors)(_.toInt)

  /** [[builder]] at `local[cpus]`, one shuffle partition per thread. */
  def local: SparkSession.Builder = builder(s"local[$cpus]", cpus)

  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      // keep saveAsTable data out of the working tree (static conf, so it
      // must be set here, not via spark.conf)
      .config("spark.sql.warehouse.dir",
        s"${sys.props("java.io.tmpdir")}/graft-warehouse")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // events.parquet carries TIMESTAMP(NANOS); read the raw long and
      // convert explicitly (OpsKit.events) instead of failing the scan.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Derby-backed tests and the JDBC sink share the driver JVM.
      .config("spark.sql.adaptive.enabled", "true")
      // Bounded single-partition windows are written as
      // partitionBy(lit(0)) (OpsKit.boundedWin) so WindowExec's "No
      // Partition Defined" warning stays a real signal for UNINTENDED
      // global windows; EliminateWindowPartitions would fold the
      // constant away and resurrect the warning (and the empty spec) on
      // every sanctioned site, so it is excluded. The rule only ever
      // fires on foldable partition keys — which this codebase produces
      // solely through boundedWin, by design.
      .config("spark.sql.optimizer.excludedRules", ExcludedRules)
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)

  /** Size of Spark's JVM-wide LRU cache of compiled generated classes
    * (static conf, so set here; Spark's default is 100). One CSV→15-table
    * import needs about 200 classes: at 100, three imports of the test
    * fixture in one session compiled 207, 203 and 204 classes with
    * Janino; at 1000 they compile 173, 0 and 0. A warm pass of the six
    * benchmark queries compiles 130 classes at 100 and 9–18 at 1000. The
    * 314-query battery compiles 9695 classes at 100 and 7496 at 1000,
    * for about 8 MB more metaspace. SCALING.md ("Import") has the
    * measurements. */
  val CodegenCacheEntries = 1000

  /** The optimizer rules every session excludes (see [[builder]]). */
  val ExcludedRules =
    "org.apache.spark.sql.catalyst.optimizer.EliminateWindowPartitions"
}
