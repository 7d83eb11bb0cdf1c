package graft.ops

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{GraftSqlShim, SparkSession}

/** Values built at most once per (session, dir, tag): the near-dup family
  * artifacts, the k-means and PQ training state, and each table's parquet
  * schema. A new session builds its own, so its confs apply and it never
  * reads what another session built.
  *
  * Each key maps to a once-holder that is put into the map first and
  * forced outside the map's lock. Concurrent callers of one key wait for
  * a single build, and a build may read other keys of this memo (labels
  * read pairs, `anf-regs r` reads `anf-regs r-1`, PQ reads k-means). A
  * build that throws is dropped, so the next call builds again.
  */
object SessionMemo {
  private final class Once(build: () => Any) {
    lazy val value: Any = build()
  }

  private val memo =
    new ConcurrentHashMap[(String, String, String, Any), Once]()
  private val counts = new ConcurrentHashMap[String, AtomicInteger]()

  /** The value for (session of `s`, `dir`, `tag`), built by `build` on
    * the first call. `stamp` tells states of one input apart (a table
    * path's file listing): a new stamp builds a new entry. */
  def apply[A](s: SparkSession, dir: String, tag: String, stamp: Any = ())(
      build: => A): A = {
    val key = (GraftSqlShim.sessionUUID(s), dir, tag, stamp)
    val once = memo.computeIfAbsent(key, _ => new Once(() => {
      val v = build
      counts.computeIfAbsent(tag, _ => new AtomicInteger).incrementAndGet()
      v
    }))
    try once.value.asInstanceOf[A]
    catch { case e: Throwable => memo.remove(key, once); throw e }
  }

  /** Successful builds of `tag` so far, over all sessions and dirs. */
  def builds(tag: String): Int = Option(counts.get(tag)).fold(0)(_.get)
}
