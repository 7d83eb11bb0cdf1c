package graft


import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end contract of [[graft.sink.CorpusBuild.run]] beyond the q299
  * oracle hash gate: the published files obey the chain's own decisions
  * (keep-set membership, quota arithmetic, bin layout), and the whole
  * build is a deterministic function of the input corpus.
  */
class CorpusBuildSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def freshOut() =
    TestSpark.tempDir("graft-corpusbuild-spec").toString + "/corpus"

  private lazy val out1 = freshOut()
  private lazy val cert1 = graft.sink.CorpusBuild
    .run(spark, dir, out1).collect()
    .map(r => r.getAs[String]("source") ->
      (r.getAs[Long]("n_docs"), r.getAs[Long]("n_kept"),
        r.getAs[Double]("alpha"), r.getAs[Long]("quota"),
        r.getAs[Long]("n_selected"), r.getAs[Long]("n_bins"),
        r.getAs[Long]("n_tokens"), r.getAs[Long]("checksum")))
    .toMap

  test("published layout: hive source dirs + manifest, rows are kept docs") {
    assert(cert1.nonEmpty)
    val root = new java.io.File(out1)
    val hiveDirs = root.listFiles().filter(_.isDirectory).map(_.getName)
    for (src <- cert1.keys)
      assert(hiveDirs.contains(s"source=$src"), s"missing dir for $src")
    assert(hiveDirs.contains("_manifest"))
    // every published doc is a 'keep' decision of the q100 table — the
    // chain linkage the certification checksum certifies implicitly,
    // asserted here explicitly against the decision query itself
    val keepIds = SparkEntry.queries("q100_curation_pipeline")(spark, dir)
      .filter(col("decision") === "keep" && col("doc_id") < 100000)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val published = spark.read.parquet(out1)
      .select("doc_id").collect().map(_.getLong(0))
    assert(published.length === published.distinct.length, "dup doc_id")
    assert(published.forall(keepIds), "published a non-keep doc")
  }

  test("quota arithmetic: water-filled quotas sum to T and never exceed the kept pool") {
    val t = cert1.values.map(_._2).sum / 2
    assert(cert1.values.map(_._4).sum === t, "quotas must sum to the budget")
    for ((src, (_, nKept, _, quota, nSel, _, _, _)) <- cert1) {
      assert(quota <= nKept, s"quota exceeds kept pool for $src")
      // water-filling caps quotas at the pool, so selection always
      // fills the quota exactly — Σ n_selected == T by construction
      assert(nSel === quota, s"selection count $src")
    }
    assert(cert1.values.map(_._5).sum === t, "selection must fill the budget")
    // weights are a smoothed distribution over the published sources
    val aSum = cert1.values.map(_._3).sum
    assert(math.abs(aSum - 1.0) < 1e-3, s"alpha sum $aSum")
  }

  test("waterFillQuotas: a starved source gives its whole pool and the " +
      "shortfall redistributes — the budget is met exactly") {
    // plain Hamilton would hand 'tiny' floor(800·0.3) = 240 > 3 and the
    // build would silently publish 797 docs; water-filling must clip
    // tiny at its 3-doc pool and raise the level for the others
    val caps = Seq("big_a" -> 1000L, "big_b" -> 1000L, "tiny" -> 3L)
    val alpha = Map("big_a" -> 0.4, "big_b" -> 0.3, "tiny" -> 0.3)
    val q = graft.sink.CorpusBuild.waterFillQuotas(caps, alpha, 800L)
      .map { case (s, _, n) => s -> n }.toMap
    assert(q("tiny") === 3L)
    assert(q.values.sum === 800L, "exact budget")
    assert(q("big_a") > q("big_b"), "level shares follow the weights")
    for ((s, c) <- caps) assert(q(s) <= c, s"quota over cap for $s")
    // supply-exhausted edge: budget above total capacity → everyone
    // contributes everything
    val all = graft.sink.CorpusBuild
      .waterFillQuotas(caps, alpha, 5000L).map(_._3).sum
    assert(all === 2003L)
  }

  test("waterFillQuotas: level-on-boundary rounding ties still fill the " +
      "budget (r16 ADVICE), and broken inputs still throw") {
    // both cases found by brute-force simulation of the exact BigDecimal
    // + double arithmetic: the water level lands EXACTLY on a
    // normalized-cap boundary, so the strict bracket (clipped ≤ lvl <
    // next) has no solution and the pre-fix code threw on a
    // mathematically valid input.
    // case 1: the equality-tolerant bracket recovers it
    val caps1 = Seq("s0" -> 18L, "s1" -> 6L, "s2" -> 16L)
    val al1 = Map("s0" -> 1.0 / 6, "s1" -> 1.0 / 6, "s2" -> 1.0 / 3)
    val q1 = graft.sink.CorpusBuild.waterFillQuotas(caps1, al1, 30L)
      .map { case (s, _, n) => s -> n }.toMap
    assert(q1.values.sum === 30L, "exact budget through the tie")
    for ((s, c) <- caps1) assert(q1(s) <= c, s"quota over cap for $s")
    // case 2: lvl rounds onto the boundary from the wrong side at EVERY
    // r (neither strict nor equality-tolerant brackets) — only the
    // validated-candidate fallback finds the (quota-neutral) level
    val caps2 = Seq("a" -> 17L, "b" -> 37L, "c" -> 6L, "d" -> 48L)
    val al2 = Map("a" -> 1.0 / 7, "b" -> 1.0 / 6, "c" -> 1.0 / 7,
      "d" -> 1.0 / 7)
    val q2 = graft.sink.CorpusBuild.waterFillQuotas(caps2, al2, 25L)
      .map { case (s, _, n) => s -> n }.toMap
    assert(q2.values.sum === 25L, "exact budget through the double tie")
    for ((s, c) <- caps2) assert(q2(s) <= c, s"quota over cap for $s")
    // the exact level is 42 with c clipped at its 6-doc cap either way
    assert(q2("c") === 6L)
    // genuinely broken inputs (NaN alpha) must still surface loudly
    // rather than default to a wrong bracket
    intercept[Exception] {
      graft.sink.CorpusBuild.waterFillQuotas(
        caps1, Map("s0" -> Double.NaN, "s1" -> 1.0, "s2" -> 1.0), 30L)
    }
  }

  test("bin layout replays: greedy boundary-crossing pack per source") {
    val C = graft.sink.CorpusBuild.BinTokens
    val rows = spark.read.parquet(out1)
      .select(col("source").cast("string"), col("doc_id"), col("bin_id"),
        size(split(col("text"), " ")).cast("long").as("n"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    for ((src, g) <- rows.groupBy(_._1)) {
      var cum = 0L
      for ((_, _, bin, n) <- g.sortBy(_._2)) {
        assert(bin === cum / C, s"bin drift in $src")
        cum += n
      }
      // per-source totals in the certification match the replay
      assert(cert1(src)._7 === g.map(_._4).sum, s"n_tokens $src")
      assert(cert1(src)._6 === g.map(_._3).distinct.length, s"n_bins $src")
    }
  }

  test("phased and windowed stage-4 shapes publish identical corpora") {
    // force the phased (source, bucket) path with threshold 0 and
    // compare certification row-for-row against the default windowed
    // run — the telescoping-equality argument, executed: same selection,
    // same bins, same checksums, from a physically different plan
    val outP = freshOut()
    val certP = graft.sink.CorpusBuild
      .run(spark, dir, outP, phasedThreshold = 0L).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("quota"),
        r.getAs[Long]("n_selected"), r.getAs[Long]("n_bins"),
        r.getAs[Long]("n_tokens"), r.getAs[Long]("checksum")))
      .sortBy(_._1).toSeq
    val base = cert1.toSeq.sortBy(_._1)
      .map { case (s, v) => (s, v._4, v._5, v._6, v._7, v._8) }
    assert(certP === base)
  }

  test("q54/q302 phased cumsum == plain windows (r15 verdict back-port)") {
    // the standalone packing queries run OpsKit.adaptivePackCumsum; force
    // the phased (source, bucket) branch with threshold 0 and compare
    // row-for-row against the default plain-window run — the same
    // telescoping-equality argument as the stage-4 case above, executed
    // on the named queries the r15 verdict flagged
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.mkString("")).toSeq
    assert(rows(graft.ops.CurationOps.sequencePack(spark, dir, 0L)) ===
      rows(SparkEntry.queries("q54_sequence_pack")(spark, dir)))
    assert(rows(graft.ops.CurationOps.packFragmentation(spark, dir, 0L)) ===
      rows(SparkEntry.queries("q302_pack_fragmentation")(spark, dir)))
  }

  test("the build can opt into document-aware (best-fit) packing") {
    // packing="bestfit" re-bins the SELECTED docs with shard-local BFD:
    // the selection (and therefore quotas and budget) is untouched, and
    // no multi-doc bin exceeds the token budget — the no-split property
    // q304 prices against greedy's boundary-crossing splits
    val outB = freshOut()
    val certB = graft.sink.CorpusBuild
      .run(spark, dir, outB, packing = "bestfit").collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("quota"), r.getAs[Long]("n_selected")))
      .toMap
    // same selected doc set as the greedy build — packing must not
    // change WHAT is published, only its layout
    val idsB = spark.read.parquet(outB)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val idsG = spark.read.parquet(out1)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(idsB === idsG)
    for ((src, (quota, nSel)) <- certB)
      assert(nSel === quota, s"selection count $src")
    // capacity: every bin's token mass fits the budget (no doc at this
    // SF exceeds BinTokens, so no single-doc overflow bins exist)
    val C = graft.sink.CorpusBuild.BinTokens
    val over = spark.read.parquet(outB)
      .groupBy(col("source"), col("bin_id"))
      .agg(sum(size(split(col("text"), " "))).as("toks"))
      .filter(col("toks") > C)
    assert(over.count() === 0L, "a best-fit bin exceeds the token budget")
    // and it actually packs: any source selecting ≥2 docs (each far
    // below the 2048 budget at this SF) must co-locate them
    val nBins = spark.read.parquet(outB)
      .select(col("source"), col("bin_id")).distinct().count()
    if (certB.values.exists(_._2 > 1))
      assert(nBins < idsB.size, "BFD degenerated to one doc per bin")
  }

  test("the build is deterministic: a second run certifies identically") {
    val out2 = freshOut()
    val cert2 = graft.sink.CorpusBuild.run(spark, dir, out2).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("n_selected"),
        r.getAs[Long]("checksum"))).sortBy(_._1).toSeq
    val base = cert1.toSeq.sortBy(_._1)
      .map { case (s, v) => (s, v._5, v._8) }
    assert(cert2 === base)
  }
}
