package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run (suites run in a single
  * forked JVM; creating/stopping a session per suite is slow and flaky). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = Sessions.builder("local[4]", 4).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** A new directory under `java.io.tmpdir`, deleted when the test JVM
    * exits. */
  def tempDir(prefix: String): java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    graft.ops.OpsKit.reapOnExit(p)
    p
  }

  def fixture(name: String): String =
    getClass.getResource(s"/fixtures/$name").getPath
}
