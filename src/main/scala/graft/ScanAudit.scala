package graft

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan

/** Construction-time plan recorder for the scan-count gate
  * ([[graft.ScanCount]]).
  *
  * `OpsKit.pinned` and the near-dup family artifacts (built once per
  * session through [[graft.ops.SessionMemo]]) materialize their inputs
  * EAGERLY while a query is being BUILT, so the corpus scans they execute
  * never appear in the final DataFrame's plan — a gate that only walked
  * the final plan would read a heavily-pinned query as "zero scans". When
  * enabled, those call sites hand their input plan here before
  * materializing; ScanCount drains the buffer per query and counts scans
  * across construction + final plan together. Off by default: in normal
  * Verify/Bench/test runs `record` is a single volatile read.
  */
object ScanAudit {
  @volatile var enabled = false
  private val plans = mutable.Buffer.empty[(SparkPlan, Boolean)]

  /** `amortized = true` marks a per-session cost (a family artifact's
    * [[graft.ops.SessionMemo]] build: it runs for the FIRST query in a
    * session that needs it and never again in that session). Both gates exclude amortized plans —
    * including them would make per-query counts and plan signatures
    * depend on which query ran first, i.e. flaky. The amortization
    * itself is the family-artifact design the scale story documents
    * (ONE pair/label build per battery, SURVEY §8). */
  private val amortizedCtx = new ThreadLocal[Boolean] {
    override def initialValue: Boolean = false
  }

  /** Everything recorded while `f` evaluates is amortized — a family
    * artifact's build closure may itself call pinned()/ckpt() helpers, and those
    * inner records must inherit the build's per-battery accounting or
    * a building run counts scans a reading run doesn't (observed on
    * q141: cold 2, warm 0, before this scope existed). */
  def amortizedScope[T](f: => T): T = {
    val prev = amortizedCtx.get
    amortizedCtx.set(true)
    try f finally amortizedCtx.set(prev)
  }

  def record(df: DataFrame, amortized: Boolean = false): Unit =
    if (enabled)
      plans.synchronized {
        plans += ((df.queryExecution.executedPlan,
          amortized || amortizedCtx.get))
      }

  def drain(): Seq[(SparkPlan, Boolean)] =
    plans.synchronized { val out = plans.toList; plans.clear(); out }
}
