package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** q154 MMR re-rank — the diversity property on a planted panel: a
  * relevance-only top-k drains a paraphrase cluster before changing
  * topic; MMR must escape the cluster after one representative.
  *
  * Note the greedy geometry: step 1 picks the query vector itself
  * (cos = 1), and against a selected set of just the query, maxsim
  * equals relevance, so step 2 is ALWAYS the most relevant non-query
  * doc (score degenerates to 4·rel). Diversification can first appear
  * at step 3 — the fixture plants the paraphrase cluster around the
  * step-2 pick so the escape is observable there. */
class MmrSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("planted paraphrase cluster: step 3 escapes to the diverse doc") {
    import spark.implicits._
    // query = vec 0 (vec_id % 100 == 0). Unit-norm corpus:
    //   v1 rel 0.90 — the top doc;
    //   v2 rel 0.89, v3 rel 0.88 — near-copies of v1 (mutual sim 0.999);
    //   v4 rel 0.85 — different topic (sim to v1 only 0.765);
    //   v5 rel 0.30 — filler.
    // Step 3 scores: v2 = 7(0.89) − 3(0.9997) ≈ 3.23 loses to
    // v4 = 7(0.85) − 3(0.85) = 3.40 — the escape a relevance-only
    // ranker (v0, v1, v2, v3, …) never makes.
    val dir = TestSpark.tempDir("graft-mmr").toString
    def v(xs: Double*) = xs.map(_.toFloat).toArray
    val rows = Seq(
      (0L, v(1.0, 0.0, 0.0, 0.0), 0),
      (1L, v(0.90, 0.43589, 0.0, 0.0), 0),
      (2L, v(0.89, 0.45596, 0.0, 0.0), 0),
      (3L, v(0.88, 0.47497, 0.0, 0.0), 0),
      (4L, v(0.85, 0.0, 0.52678, 0.0), 1),
      (5L, v(0.30, 0.0, 0.0, 0.95394), 1))
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = SparkEntry.queries("q154_mmr_rerank")(spark, dir)
      .collect()
      .map(r => (r.getLong(3), r.getLong(1))) // (step, vec_id)
      .toMap
    assert(got(1L) == 0L, s"step1 picked ${got(1L)}")
    assert(got(2L) == 1L, s"step2 picked ${got(2L)}")
    assert(got(3L) == 4L, s"step3 picked ${got(3L)} — no diversification")
    // the cluster then drains in order; the filler never makes top-5
    assert(got(4L) == 2L && got(5L) == 3L,
      s"steps 4-5 picked ${got(4L)}, ${got(5L)}")
  }
}
