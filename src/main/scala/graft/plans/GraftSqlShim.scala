package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The one place graft crosses into Spark's private[sql] surface:
  * turning a custom [[LogicalPlan]] into a DataFrame, and reading a
  * session's UUID. Both are private[sql], so this shim lives in the
  * `org.apache.spark.sql` package — the standard extension-library idiom
  * (every third-party connector/operator library ships one). Kept to
  * these two methods so the dependency on the private API stays
  * explicit, greppable, and swappable if a public hook lands.
  */
object GraftSqlShim {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(
      classic.ClassicConversions.castToImpl(spark), plan)

  def sessionUUID(spark: SparkSession): String =
    classic.ClassicConversions.castToImpl(spark).sessionUUID
}
