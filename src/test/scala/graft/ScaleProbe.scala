package graft

import org.apache.spark.sql.functions._

/** Measurement harness for SCALING.md's 10×-documents column: synthesizes
  * a documents corpus `mult`× the size of sf0.1's (default 10× → 50 000
  * docs) and times the LSH family on both corpora in one session, min of
  * three runs each.
  *
  * Corpus construction keeps the near-dup structure LIKE-FOR-LIKE with
  * sf0.1: variant 0 of each doc is the original; variant k > 0 applies a
  * deterministic stride-k permutation to the word sequence, which destroys
  * n-gram adjacency — so variants are DISTINCT documents to every
  * shingle-based operator, not extra planted near-dups (near-dups still
  * come from `corpusWithNearDups`'s own +100000 perturbed copies, the same
  * relative rate as at sf0.1). Synthetic doc_ids stay below 100000 so the
  * planted-copy offset cannot collide.
  *
  * Test scope on purpose: a measurement tool, not part of the library.
  * Run: SPARK_GRAFT_CPUS=8 sbt "Test/runMain graft.ScaleProbe"
  */
object ScaleProbe {
  private def skewProbe(): Unit = {
    val base = "/root/testdata/sf0.1"
    val out = "/tmp/graft-skew-90"
    val spark = Sessions.local.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (!new java.io.File(s"$out/documents.parquet").exists()) {
      val docs = spark.read.parquet(s"$base/documents.parquet")
      docs.select(col("doc_id"), col("text"), col("lang"),
          when(pmod(graft.ops.LlmKit.strHash(col("doc_id").cast("string")),
            lit(10L)) < 9, lit("src0"))
            .otherwise(col("source")).as("source"),
          col("n_chars"))
        .repartition(8)
        .write.mode("overwrite").parquet(s"$out/documents.parquet")
      val top = spark.read.parquet(s"$out/documents.parquet")
        .groupBy("source").count()
        .orderBy(col("count").desc).head()
      println(s"generated $out: dominant source ${top.get(0)} holds " +
        s"${top.getLong(1)} of ${docs.count()} docs")
    }
    // force the PHASED stage-4 shape (threshold 0) — the de-skew claim
    // under test; the adaptive default would pick the windowed shape at
    // these row counts
    def minOf3(dir: String): (Double, Double) = {
      val ts = (1 to 3).map { _ =>
        val tmp = java.nio.file.Files
          .createTempDirectory("graft-skewprobe").toString + "/corpus"
        val t0 = System.nanoTime()
        graft.sink.CorpusBuild.run(spark, dir, tmp, phasedThreshold = 0L)
          .count()
        (System.nanoTime() - t0) / 1e9
      }
      (ts.min, ts.head)
    }
    spark.range(1000000L).selectExpr("sum(id)").collect()
    val (bu, bf) = minOf3(base)
    val (sk, sf) = minOf3(out)
    println(f"q299 phased stage-4: uniform=$bu%6.2fs (first $bf%6.2f)  " +
      f"skew90=$sk%6.2fs (first $sf%6.2f)  ratio=${sk / bu}%4.2f")
    // the STANDALONE packing queries (r15 verdict #1): q54/q302 now run
    // the same adaptive cumsum; force the phased branch (threshold 0 —
    // the de-skew claim under test) and time them on both corpora. The
    // skewed corpus does strictly more per-source work in its dominant
    // source but spreads it over PackPhaseBuckets tasks.
    def minOf3q(f: (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame, dir: String): Double =
      (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        f(spark, dir).count()
        (System.nanoTime() - t0) / 1e9
      }.min
    for ((name, f) <- Seq[(String, (org.apache.spark.sql.SparkSession,
        String) => org.apache.spark.sql.DataFrame)](
      "q54_sequence_pack" ->
        ((s, d) => graft.ops.CurationOps.sequencePack(s, d, 0L)),
      "q302_pack_fragmentation" ->
        ((s, d) => graft.ops.CurationOps.packFragmentation(s, d, 0L)))) {
      val u = minOf3q(f, base)
      val k = minOf3q(f, out)
      println(f"$name%-24s phased: uniform=$u%6.2fs  skew90=$k%6.2fs  " +
        f"ratio=${k / u}%4.2f")
    }
    spark.stop()
  }

  def main(args: Array[String]): Unit = {
    // --skew: the corpus-build skew probe (r15 verdict #3). Builds a copy
    // of sf0.1 with 90% of documents remapped to ONE dominant source and
    // times q299_corpus_build on both corpora. Before the phased stage-4
    // rework, the dominant source's selection rank and packing cumsum
    // serialized into one window task; with the per-(source, bucket)
    // windows the two runs should be comparable (the skewed corpus does
    // strictly more work in its big source but spreads it over
    // PackBuckets tasks).
    if (args.contains("--skew")) { skewProbe(); return }
    val mult = if (args.nonEmpty) args(0).toInt else 10
    val base = "/root/testdata/sf0.1"
    val out = s"/tmp/graft-synth-x$mult"
    // optional second arg: probe a SUBSET (csv) — e.g. the q298 20×
    // check only re-measures the new query, not the whole family
    val defaults = Seq("q27_minhash_lsh", "q47_dedup_clusters",
      "q57_star_clusters", "q100_curation_pipeline", "q101_substr_spans",
      "q107_bigram_lm", "q120_prefix_simjoin", "q132_window_dedup",
      "q133_pagerank", "q135_lsh_recall", "q141_label_propagation",
      "q152_hamming_join", "q153_kcore",
      // round-9 document-scale additions: SNM blocking (rank joins —
      // candidate volume is (w−1)·n by construction) and the threshold
      // sweep (LSH candidates × 7 thresholds)
      "q224_sorted_neighborhood", "q235_threshold_sweep")
    val queries =
      if (args.length > 1) args(1).split(",").toSeq.map(_.trim)
      else defaults
    val spark = Sessions.local.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    if (!new java.io.File(s"$out/documents.parquet").exists()) {
      val docs = spark.read.parquet(s"$base/documents.parquet")
      val n = docs.count() // 5 000 at sf0.1
      // primes, so most (stride, doc length) pairs are coprime and the
      // permutation is a full cycle; a shared factor only repeats some
      // words, which is still a valid distinct document
      val strides = Seq(1, 3, 7, 11, 13, 17, 19, 23, 29, 31,
        37, 41, 43, 47, 53, 59, 61, 67, 71, 73)
      require(mult <= strides.size, s"at most ${strides.size}x supported")
      val stride = element_at(
        array(strides.map(lit): _*), col("k").cast("int") + 1)
      val words = split(col("text"), " ")
      val permuted = array_join(
        transform(sequence(lit(0), size(words) - 1),
          i => element_at(words, ((i * stride) % size(words)) + 1)), " ")
      val text2 = when(col("k") === 0, col("text")).otherwise(permuted)
      docs
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          explode(sequence(lit(0L), lit(mult - 1L))).as("k"))
        .select((col("doc_id") + col("k") * n).as("doc_id"),
          text2.as("text"), col("lang"), col("source"),
          length(text2).as("n_chars"))
        .repartition(8)
        .write.mode("overwrite").parquet(s"$out/documents.parquet")
      println(s"generated $out: " +
        spark.read.parquet(s"$out/documents.parquet").count() + " docs")
    }

    // (min, first): the first run is the artifact-BUILD cost for
    // queries riding persisted/memoized working sets (docBigrams, the
    // decision table); the min is the consume cost a warm session pays
    def minOf3(name: String, dir: String): (Double, Double) = {
      val ts = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, dir).count()
        (System.nanoTime() - t0) / 1e9
      }
      (ts.min, ts.head)
    }

    // untimed warmup (codegen, parquet footers, signature caches)
    spark.range(1000000L).selectExpr("sum(id)").collect()
    for (q <- queries) {
      val (b, bf) = minOf3(q, base)
      val (s, sf) = minOf3(q, out)
      println(f"$q%-24s sf0.1=${b}%6.2fs (first ${bf}%6.2f)  " +
        f"x$mult=${s}%6.2fs (first ${sf}%6.2f)  ratio=${s / b}%4.1f")
    }
    spark.stop()
  }
}
