package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** q152 Hamming join — the hot-block cap on a planted saturated corpus:
  * a 300-copy boilerplate family saturates all four of its block values
  * past the 256 cap (every pair it forms is witnessed ONLY by degenerate
  * blocks, the pairs exact-hash dedup q26 already owns), while a planted
  * unrelated near-pair keeps its sub-cap witness and must survive. */
class HammingJoinSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("hot blocks dropped, sub-cap near-pair survives") {
    import spark.implicits._
    val dir = TestSpark.tempDir("graft-ham").toString
    val boiler = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val b1 = "red green blue yellow purple orange pink cyan teal maroon"
    val b2 = "red green blue yellow purple orange pink cyan teal magenta"
    val rows =
      (0L until 300L).map(i => (i, boiler)) ++ Seq((300L, b1), (301L, b2))
    rows.toDF("doc_id", "text")
      .select(col("doc_id"), col("text"), lit("en").as("lang"),
        lit("planted").as("source"), length(col("text")).as("n_chars"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    // precondition: the planted pair is actually within the threshold
    // and far from the boilerplate family (unrelated vocabularies)
    val sh = Seq(boiler, b1, b2).toDF("text")
      .select(call_function("simhash16", col("text")).as("sh"))
      .collect().map(_.getLong(0))
    val hamPair = java.lang.Long.bitCount(sh(1) ^ sh(2))
    val hamCross = java.lang.Long.bitCount(sh(0) ^ sh(1))
    assert(hamPair <= 3, s"planted pair at hamming $hamPair — refixture")
    assert(hamCross > 3, s"families collide at hamming $hamCross")

    val got = SparkEntry.queries("q152_hamming_join")(spark, dir)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(3))))
      .toMap // doc_id -> (n_twins, nearest_twin)

    // the 300-copy family pairs only through blocks of size >= 300:
    // every block value it occupies is over the cap, so none of its
    // members may report a twin
    (0L until 300L).foreach { i =>
      assert(!got.contains(i), s"boilerplate doc $i leaked through cap")
    }
    // the unrelated near-pair shares at least one sub-cap block value
    // (its vocabulary is disjoint from the boilerplate's) and survives
    assert(got.get(300L).map(_._2).contains(301L), s"pair lost: $got")
    assert(got.get(301L).map(_._2).contains(300L), s"pair lost: $got")
  }
}
