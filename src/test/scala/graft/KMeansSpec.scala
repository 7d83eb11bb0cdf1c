package graft

import graft.ops.SessionMemo
import org.scalatest.funsuite.AnyFunSuite

/** q111 k-means training invariants the oracle hash can't see on its own:
  *
  *  - partitioning: every vector lands in exactly one cluster (sizes sum
  *    to the corpus), and all 8 seeded clusters survive on this corpus;
  *  - Lloyd's monotone descent: total inertia after 3 rounds is no worse
  *    than after the seed-only assignment — the property that makes the
  *    iteration a TRAINING step rather than a relabeling;
  *  - partition-count independence: the integer-quantized centroid sums
  *    make the result identical when the corpus arrives pre-shuffled into
  *    a different partitioning (the 1000-executor determinism claim).
  */
class KMeansSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def run(rounds: Int,
      s: org.apache.spark.sql.SparkSession = spark): Map[Long, (Long, Double)] =
    ops.SimilarityOps.kmeansTrain(s, dir, rounds)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap

  test("q111 partitions the corpus across all 8 clusters") {
    val m = run(3)
    val corpus = spark.read.parquet(s"$dir/embeddings.parquet").count()
    assert(m.keySet == (0L until 8L).toSet, s"clusters: ${m.keySet}")
    assert(m.values.map(_._1).sum == corpus)
    assert(m.values.forall(_._2 >= 0.0))
  }

  test("q111 three Lloyd rounds never increase total inertia") {
    val i1 = run(1).values.map(_._2).sum
    val i3 = run(3).values.map(_._2).sum
    assert(i3 <= i1, s"inertia rose: rounds=1 $i1 -> rounds=3 $i3")
    // and training actually moved: centroids ≠ seeds on this corpus
    assert(i3 < i1, "3 rounds left inertia exactly at the seed value")
  }

  test("q111 result is independent of input partitioning") {
    val base = run(3)
    // a new session RE-TRAINS under the different shuffle partitioning
    // (the memo is per session), so this is more than the final
    // assignment; a second call in that session reuses its training
    val spark2 = spark.newSession()
    spark2.conf.set("spark.sql.shuffle.partitions", "7")
    val b0 = SessionMemo.builds("km-3-8")
    val other = run(3, spark2)
    assert(SessionMemo.builds("km-3-8") == b0 + 1,
      "the new session did not train exactly once")
    assert(run(3, spark2) == other)
    assert(SessionMemo.builds("km-3-8") == b0 + 1,
      "a second call in the same session trained again")
    assert(other == base)
  }

  test("q309 PQ codebooks train (move off their seeds) and are " +
      "independent of input partitioning") {
    def snap(s: org.apache.spark.sql.SparkSession) =
      ops.SimilarityOps.pqCodebooksLocal(s, dir)
        .map { case (cl, j, cwid, arr) => ((cl, j, cwid), arr.toSeq) }
        .toMap
    val base = snap(spark)
    // training moved: at least one codeword differs from its seed (a
    // seed is an INTEGER residual subvector, so any trained mean with a
    // fractional part certifies an actual Lloyd update ran)
    assert(base.values.exists(_.exists(v => v != math.floor(v))),
      "every codeword is still integer-valued: training never updated")
    // partition-count independence, the q111 determinism claim one
    // quantizer down: integer residual-grid sums + one IEEE division
    // per dim make the codebooks a new session retrains bit-identical
    // under a different shuffle partitioning
    val spark2 = spark.newSession()
    spark2.conf.set("spark.sql.shuffle.partitions", "7")
    val b0 = SessionMemo.builds("pq")
    val other = snap(spark2)
    assert(SessionMemo.builds("pq") == b0 + 1,
      "the new session did not train its codebooks exactly once")
    assert(snap(spark2) == other)
    assert(SessionMemo.builds("pq") == b0 + 1,
      "a second call in the same session trained again")
    assert(other == base)
  }
}
