package graft.sink

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.{GovernanceOps, LlmKit, OpsKit, TextOps}

/** The end-to-end curated-corpus build — the LLM-pipeline analog of
  * [[graft.MovieDbImport.run]] (reference analog: loader.py's main() is
  * the reference's one end-to-end entrypoint, loader.py:1; this is the
  * same idea for the training-data pipeline SURVEY §8 assembles
  * piecemeal). One call chains the committed per-stage operators, each
  * reusing the family's shared artifacts so the corpus is scanned a
  * bounded number of times end-to-end:
  *
  *   1. curation decisions (q100): quality → decontamination → near-dup
  *      closure per document, read from the memoized decision
  *      artifact (ONE LSH + closure pass per battery, amortized);
  *   2. DoReMi mixture weights (q298): 8 Hedge rounds over per-source
  *      excess loss — the reference/proxy LMs come from the SHARED
  *      docBigrams artifact (corpus-wide statistics, one scan per
  *      battery), but the losses are evaluated on the KEPT pool only:
  *      the weights the build samples by describe the pool it samples
  *      from, not documents the gates already dropped;
  *   3. water-filled apportionment ([[waterFillQuotas]] — q280's
  *      max-min-fair level + q124's largest-remainder rounding) of a
  *      budget T = n_kept div 2 across sources proportional to the
  *      DoReMi weights, capped at each source's kept pool with the
  *      shortfall redistributed so Σ quota == T by construction; then
  *      deterministic hash-priority selection within each source (the
  *      q89/q124 salted-md5 idiom — no RNG, same sample on any
  *      cluster);
  *   4. sequence packing (q54): greedy boundary-crossing layout of the
  *      selected docs into 2048-token bins, windowed per source;
  *   5. publish (q106's sink): hive-partitioned by source through
  *      [[CorpusPublish.publish]], then certify FROM THE FILES — the
  *      returned row set is one row per published source with the
  *      chain-side expectations (n_docs, n_kept, alpha, quota) joined
  *      against file-derived facts (n_selected, n_bins, n_tokens, and
  *      an order-independent MD5-slice checksum over doc_id, bin_id,
  *      text). A lost, duplicated, mis-assigned, or mis-packed row
  *      flips a checksum; the oracle replays the whole chain from the
  *      source tables, so the hash gate certifies the build, not just
  *      the final aggregation.
  *
  * Scale shape: the decision artifact and the bigram artifact are the
  * battery-amortized passes the family already pays; within this build
  * the corpus is scanned ONCE (the text scan feeding the publish join —
  * the selection/packing working set reads the artifact, which carries
  * n_toks since r15), inside the scan gate's global cap. Iterative state
  * (Hedge weights, apportionment) is K ≈ 20 driver scalars re-entering
  * the plan as literals — the bounded-state idiom q271/q284/q298
  * pinned. The selection rank and packing cumsum pick their physical
  * shape ADAPTIVELY from the measured per-source kept counts (K driver
  * scalars the build already holds): plain per-source windows while
  * every source fits one task ([[PhasedMinRows]]), the q109 phased
  * shape — (source, bucket)-partitioned local windows plus broadcast
  * per-source bucket-prefix offsets — past it, so a 90%-one-source
  * corpus ranks and packs across [[PackBuckets]] tasks per source
  * instead of serializing into one (r14 verdict #3) while the small-SF
  * build keeps its flat plan; both shapes are value-identical
  * (CorpusBuildSpec). The publish is the q106 one-shuffle layout.
  */
object CorpusBuild {
  /** Token budget per packed training row (q54's constant). */
  val BinTokens = 2048

  /** Phase buckets per source for the stage-4 selection rank and packing
    * cumsum (the q109 phased shape): each source's window work spreads
    * over up to this many partitioned tasks instead of one. Aliases
    * [[graft.ops.OpsKit.PackPhaseBuckets]] — one constant governs the
    * build and the standalone packing queries (q54/q302) alike. */
  val PackBuckets: Int = OpsKit.PackPhaseBuckets

  /** Kept-rows-per-source threshold above which stage 4 switches from
    * one plain window per source to the phased (source, bucket) shape
    * (alias of [[graft.ops.OpsKit.PackPhaseMinRows]], see there). */
  val PhasedMinRows: Long = OpsKit.PackPhaseMinRows

  /** Per-doc MD5-slice row hash over the PUBLISHED columns that carry
    * the chain's decisions: identity, bin assignment, and content. */
  private def rowHash = conv(substring(md5(concat_ws("\u0001",
    col("doc_id"), col("bin_id"), col("text"))), 18, 15), 16, 10)
    .cast("long")

  /** Weighted max-min-fair (water-filling) integer apportionment of a
    * budget `t` across sources with capacities `caps` and weights
    * `alpha`: quota_i = min(cap_i, ⌊alpha_i·L⌋ + Hamilton bump) with the
    * water level L chosen so Σ quota == min(t, Σcaps) BY CONSTRUCTION —
    * q280's closed-form level over the cap/alpha order statistics (clip
    * the r sources with the smallest normalized capacity cap_i/alpha_i;
    * L_r = (t − P_r)/(A − A_r); the valid r is where the largest clipped
    * normalized cap sits at or below L_r and the next sits above it).
    * This replaces plain Hamilton apportionment, which silently
    * under-filled the budget whenever a source's kept pool was smaller
    * than its share (r14 verdict #4): a starved source now contributes
    * everything it has and the shortfall redistributes to the others at
    * the common level. The largest-remainder pass runs over the
    * UN-clipped sources only (clipped quotas are exact integers already).
    *
    * Engine-parity notes (the oracle replays this in SQL): alpha prefix
    * sums go through DECIMAL(28,12) — exact, order-free — before the one
    * double division per candidate level; raw shares, floors, and
    * remainders are single IEEE expressions over bit-identical operands;
    * remainder ties break (rem DESC, src ASC), the q124 convention.
    * Returns (source, alpha, quota) sorted by source. */
  private[graft] def waterFillQuotas(caps: Seq[(String, Long)],
      alpha: Map[String, Double], t: Long): Seq[(String, Double, Long)] = {
    val n = caps.size
    if (caps.map(_._2).sum <= t)
      // supply exhausted: every source gives everything it has
      return caps.map { case (s, c) => (s, alpha(s), c) }.sortBy(_._1)
    def dec(x: Double): BigDecimal =
      BigDecimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP)
    val ranked = caps
      .map { case (s, c) => (s, c, alpha(s), c.toDouble / alpha(s)) }
      .sortBy { case (s, _, _, nrm) => (nrm, s) }
    val sa = ranked.map(r => dec(r._3)).sum
    val pcap = ranked.scanLeft(0L)(_ + _._2)
    val pa = ranked.scanLeft(BigDecimal(0))((acc, x) => acc + dec(x._3))
    // candidate r = clip the r smallest normalized caps, r in [0, n).
    // A valid bracketing level exists whenever t < Σcaps (checked above),
    // but the STRICT double-inequality search can miss it when rounding
    // lands lvl exactly on a normalized-cap boundary — a mathematically
    // valid input the r16 ADVICE showed would crash a production build.
    // At an exact tie the clipped-vs-unclipped call is quota-neutral
    // (raw share = cap there), so the fix is validation, not a looser
    // inequality: compute the quotas for candidate r values in priority
    // order (strict bracket, then equality-tolerant, then every r) and
    // return the first whose quotas ACTUALLY meet the contract —
    // Σ == t, every quota within [0, cap], Hamilton deficit within the
    // unclipped count. Only genuinely broken inputs (NaN alpha,
    // negative caps) leave no valid candidate and reach the throw
    // (r15 ADVICE: loud, not a silent default).
    def quotasFor(r: Int): Option[Seq[(String, Double, Long)]] = {
      val lvl = (t - pcap(r)).toDouble / (sa - pa(r)).toDouble
      if (lvl.isNaN || lvl.isInfinite || lvl < 0) return None
      val clipped = ranked.take(r).map { case (s, c, a, _) => (s, a, c) }
      val un = ranked.drop(r).map { case (s, _, a, _) =>
        val raw = a * lvl
        (s, a, math.floor(raw).toLong, raw - math.floor(raw))
      }
      val deficit = t - pcap(r) - un.map(_._3).sum
      if (deficit < 0 || deficit > un.size) return None
      val bumped = un.sortBy { case (s, _, _, rem) => (-rem, s) }
        .zipWithIndex
        .map { case ((s, a, fq, _), i) =>
          (s, a, fq + (if (i < deficit) 1L else 0L))
        }
      val out = (clipped ++ bumped).sortBy(_._1)
      val capOf = caps.toMap
      val ok = out.map(_._3).sum == t &&
        out.forall { case (s, _, q) => q >= 0 && q <= capOf(s) }
      if (ok) Some(out) else None
    }
    def bracket(strict: Boolean): Option[Int] = (0 until n).find { r =>
      val lvl = (t - pcap(r)).toDouble / (sa - pa(r)).toDouble
      val clippedNrm = if (r == 0) -1.0 else ranked(r - 1)._4
      clippedNrm <= lvl &&
        (if (strict) ranked(r)._4 > lvl else ranked(r)._4 >= lvl)
    }
    val candidates =
      (bracket(strict = true).toSeq ++ bracket(strict = false).toSeq ++
        (0 until n)).distinct
    candidates.iterator.flatMap(quotasFor).nextOption()
      .getOrElse(throw new IllegalStateException(
        s"waterFillQuotas: no valid water level for t=$t over " +
          s"caps=${caps.mkString(",")} alpha=$alpha"))
  }

  /** Stages 1–2 of [[run]] as a standalone: the kept-pool DoReMi target
    * weights the build samples by — also the reference mixture the
    * streaming monitor (q301 / [[graft.streaming.StreamOps
    * .mixtureMonitor]]) compares live ingest shares against. Returns
    * (source, alpha) sorted by source; the 8 Hedge rounds iterate K
    * driver scalars, bit-identical to q298's fold and to the oracle's
    * unrolled MATERIALIZED rounds — (1+λ) polynomial weights, dsum-grid
    * normalizer, 0.99/0.01 smoothing. */
  def doremiTargets(spark: SparkSession, dir: String):
      Seq[(String, Double)] = {
    val dec = GovernanceOps.curationDecisions(spark, dir)
    val keptIds = dec.filter(col("doc_id") < 100000)
      .filter(col("decision") === "keep")
      .select(col("doc_id"))
    val dbg = TextOps.docBigrams(spark, dir)
    val cnt = dbg.groupBy(col("bg")).agg(sum(col("k")).as("c12"))
      .withColumn("w1", substring_index(col("bg"), "\u0001", 1))
    // c1/cu as PARTITIONED WINDOW sums over the bigram-vocab table
    // instead of two standalone aggregates joined back (r18, guide
    // §2.4: operations keyed the same way share one exchange). The
    // join form cost a prefix-agg exchange + an SMJ on w1 + a vocab-agg
    // exchange + a broadcast; the window form is one exchange per key.
    // Values are identical: prefix/vocab derived FROM cnt, so the inner
    // joins never dropped a row, and the window sums are the same exact
    // integer sums per w1/w2 group. ntot telescopes: Σ_w2 cu = Σ c12.
    val wW1 = Window.partitionBy(col("w1"))
    val wW2 = Window.partitionBy(col("w2"))
    val ntot = cnt.agg(sum(col("c12")).as("nu"))
    val lm = cnt
      .withColumn("w2", substring_index(col("bg"), "\u0001", -1))
      .withColumn("c1", sum(col("c12")).over(wW1))
      .withColumn("cu", sum(col("c12")).over(wW2))
    // LM statistics are corpus-wide (the shared artifact); the excess
    // losses integrate over KEPT docs only
    val perDoc = dbg.join(keptIds, "doc_id")
      .join(lm, "bg")
      .crossJoin(broadcast(ntot))
      .groupBy(col("doc_id"), col("source"))
      .agg(sum(col("k")).as("n_bg"),
        OpsKit.dsum(col("k").cast("double") * (col("c12").cast("double") /
          col("c1").cast("double"))).as("refs"),
        sum((col("k") * col("cu")).cast("decimal(38,0)")).as("proxys"),
        max(col("nu")).as("nu"))
      .select(col("source"),
        (col("refs") / col("n_bg").cast("double")).as("ref_prob"),
        (col("proxys").cast("double") /
          (col("n_bg").cast("double") * col("nu").cast("double")))
          .as("proxy_prob"))
    // audited, not pinned (r18 optimization): lam is consumed exactly once
    // by the K-row collect below, so the localCheckpoint materialization
    // pinned() pays (a full extra job + a Row re-encode per row) bought
    // nothing — there is no iterative replanning hazard on a single-shot
    // collect. Saves one job per call; the scan gate still sees the plan.
    val lam = OpsKit.audited(perDoc
      .select(col("source"),
        greatest(col("ref_prob") / col("proxy_prob") - lit(1.0), lit(0.0))
          .as("excess"))
      .groupBy(col("source"))
      .agg((OpsKit.dsum(col("excess")) / count(lit(1)).cast("double"))
        .as("excess_loss")))
    // the 8 Hedge rounds iterate K driver scalars — bit-identical to
    // q298's fold (and to the oracle's unrolled MATERIALIZED rounds):
    // (1+λ) polynomial weights, dsum-grid normalizer, 0.99/0.01 smoothing
    val lamRows = OpsKit.labeled(spark, "doremi: excess-loss fold")(
      lam.select(col("source"), col("excess_loss")).collect())
      .map(r => r.getString(0) -> r.getDouble(1)).toSeq.sortBy(_._1)
    val kDom = lamRows.size
    var aMap = lamRows.map { case (src, _) => src -> 1.0 }.toMap
    for (_ <- 1 to 8) {
      val ar = lamRows.map { case (src, lamV) =>
        src -> aMap(src) * (1.0 + lamV)
      }
      val z = ar.map { case (_, v) =>
        BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP)
      }.sum.toDouble
      aMap = ar.map { case (src, v) =>
        src -> (0.99 * (v / z) + 0.01 / kDom.toDouble)
      }.toMap
    }
    lamRows.map { case (src, _) => src -> aMap(src) }
  }

  /** @param packing "greedy" (default — q54's boundary-crossing layout,
    *   the shape the q299 oracle replays) or "bestfit" — shard-local
    *   best-fit-decreasing via [[graft.ops.CurationOps.bestFitPack]]: no
    *   selected document is ever split across bins, at the pad cost
    *   q304 prices. Selection, quotas, publish, and certification are
    *   identical in both modes; only the bin assignment differs.
    * @param targets0 precomputed DoReMi targets (stage 2). A caller that
    *   runs the build more than once on the SAME (spark, dir) — q311
    *   prices two packing policies per invocation — computes the targets
    *   once and passes them in, instead of paying the identical LM-chain
    *   jobs per build (r18 optimization; value-identical by construction:
    *   doremiTargets is a pure function of (spark, dir)). None = compute
    *   here, the single-build (q299) shape. */
  def run(spark: SparkSession, dir: String, out: String,
      phasedThreshold: Long = PhasedMinRows,
      packing: String = "greedy",
      targets0: Option[Seq[(String, Double)]] = None): DataFrame = {
    import spark.implicits._

    // ---- stage 1: per-doc curation decisions (shared disk artifact) ----
    val dec = GovernanceOps.curationDecisions(spark, dir)
    // the decision table covers the doubled near-dup corpus; originals
    // (the publishable pool) are the sub-100000 ids — q100's convention
    val originals = dec.filter(col("doc_id") < 100000)
    // per-source totals and kept counts from the decision artifact, NOT
    // from documents — no corpus scan, and the funnel numbers certified
    // here can never disagree with the decisions they summarize
    val perSrcRows = OpsKit.labeled(spark, "corpusbuild: funnel counts")(
      OpsKit.audited(originals.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("decision") === "keep", 1L).otherwise(0L))
          .as("n_kept")))
      .collect())
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("n_docs"),
        r.getAs[Long]("n_kept")))
      .sortBy(_._1)

    // ---- stage 2: DoReMi weights on the kept pool (q298's LM chain,
    // factored as doremiTargets — shared with the q301 mixture monitor)
    val targets = targets0.getOrElse(
      OpsKit.labeled(spark, "corpusbuild: doremi targets")(
        doremiTargets(spark, dir)))
    val aMap = targets.toMap

    // ---- stage 3: water-filled apportionment of T = n_kept div 2 ------
    // K scalars on the driver; every floor/remainder/level expression is
    // the identical IEEE double expression in the oracle's CTE replay
    val budget = perSrcRows.map(_._3).sum / 2
    // capacities keyed off the SAME source set the Hedge weights cover
    // (sources with an empty kept pool have no excess-loss row and no
    // weight — they cannot receive quota)
    val keptBySrc = perSrcRows.map { case (src, _, k) => src -> k }.toMap
    val quotas = waterFillQuotas(
      targets.map { case (src, _) => src -> keptBySrc(src) }, aMap, budget)

    // ---- stage 4: selection + packing + publish — ONE corpus scan -----
    // The selection rank and packing cumsum run per source. HOW they run
    // is adaptive (r15): the per-source kept counts are already K driver
    // scalars, so the build picks its physical shape from the measured
    // stats — the AQE idea applied with exact numbers instead of
    // estimates:
    //  - every source at or under `phasedThreshold` kept rows → one
    //    plain window per source (one task per source is FASTER than
    //    the phased chain's extra exchanges at small scale: the phased
    //    shape costs ~4.5 s of fixed stage latency at sf0.1 for zero
    //    benefit);
    //  - any source above the threshold → the q109 phased (TeraSort)
    //    shape for ALL sources: rank and cumsum WITHIN (source, bucket)
    //    — bounded partitioned windows — plus broadcast per-source
    //    bucket-prefix offsets over the K×B-row bucket table, so a
    //    dominant source spreads over PackBuckets tasks instead of
    //    serializing into one (r14 verdict #3).
    // The two shapes are value-IDENTICAL (CorpusBuildSpec pins equal
    // certification checksums): buckets are monotone non-decreasing in
    // the ordering key (equal keys share a bucket, so the (h, doc_id)
    // tie-break stays local), local row_number/sum plus the prefix
    // offset telescopes to the global rank/cumsum, and the token cumsum
    // is integer arithmetic — order-free. The working set (doc_id,
    // source, n_toks, quota, h) derives ENTIRELY from the decision
    // artifact — n_toks rides it since r15 — so the windows and offset
    // aggregates cost re-reads of the already-materialized artifact
    // parquet, not corpus scans; the one corpus scan in this stage is
    // the text join feeding the publish.
    val quotaDf = broadcast(quotas.toDF("src", "alpha", "quota"))
    val hCol = LlmKit.strHash(
      concat(lit("q299:"), col("doc_id").cast("string")))
    val slim = originals.filter(col("decision") === "keep")
      .select(col("doc_id"), col("source"), col("n_toks"))
      .join(quotaDf, col("source") === col("src"))
      .select(col("doc_id"), col("source"), col("n_toks"), col("quota"),
        hCol.as("h"))
    val binned =
      if (perSrcRows.map(_._3).foldLeft(0L)(math.max) <= phasedThreshold) {
        // windowed shape: every source is small enough that one window
        // task per source beats the phased chain's stage constants
        val wSel = Window.partitionBy(col("source"))
          .orderBy(col("h"), col("doc_id"))
        val wPack = Window.partitionBy(col("source")).orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        slim
          .withColumn("pick", row_number().over(wSel).cast("long"))
          .filter(col("pick") <= col("quota"))
          .withColumn("cum", sum(col("n_toks")).over(wPack))
          .withColumn("bin_id",
            floor((col("cum") - col("n_toks")) / lit(BinTokens.toDouble)))
          .select(col("doc_id"), col("source"), col("n_toks"),
            col("bin_id"))
      } else {
        // phased shape: de-skewed, bounded windows only.
        // double-space bucketing (phasedRank's long arithmetic would
        // overflow: h spans [0, 16^15) and (h−lo)·B exceeds Long.Max);
        // IEEE multiply/divide by positive constants is monotone, which
        // is all bucket assignment needs
        def bucket(k: org.apache.spark.sql.Column,
            lo: org.apache.spark.sql.Column,
            hi: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
          least(lit(PackBuckets - 1),
            floor((k - lo).cast("double") * PackBuckets /
              (hi - lo + 1).cast("double"))).cast("int")
        val bounds = broadcast(slim.groupBy(col("source").as("bsrc"))
          .agg(min(col("h")).as("hlo"), max(col("h")).as("hhi"),
            min(col("doc_id")).as("dlo"), max(col("doc_id")).as("dhi")))
        val sb = slim.join(bounds, col("source") === col("bsrc"))
          .withColumn("hb", bucket(col("h"), col("hlo"), col("hhi")))
          .withColumn("pb", bucket(col("doc_id"), col("dlo"), col("dhi")))
          .select(col("doc_id"), col("source"), col("n_toks"),
            col("quota"), col("h"), col("hb"), col("pb"))
        val wSelLocal = Window.partitionBy(col("source"), col("hb"))
          .orderBy(col("h"), col("doc_id"))
        val wSelOff = Window.partitionBy(col("source")).orderBy(col("hb"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val selOff = sb.groupBy(col("source"), col("hb"))
          .agg(count(lit(1)).as("cnt"))
          .select(col("source").as("osrc"), col("hb").as("ohb"),
            coalesce(sum(col("cnt")).over(wSelOff), lit(0L)).as("off"))
        val sel = sb
          .withColumn("lr", row_number().over(wSelLocal).cast("long"))
          .join(broadcast(selOff),
            col("source") === col("osrc") && col("hb") === col("ohb"))
          .filter(col("off") + col("lr") <= col("quota"))
          .select(col("doc_id"), col("source"), col("n_toks"), col("pb"))
        val wCumLocal = Window.partitionBy(col("source"), col("pb"))
          .orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wPackOff = Window.partitionBy(col("source")).orderBy(col("pb"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val packOff = sel.groupBy(col("source"), col("pb"))
          .agg(sum(col("n_toks")).as("tb"))
          .select(col("source").as("psrc"), col("pb").as("ppb"),
            coalesce(sum(col("tb")).over(wPackOff), lit(0L)).as("poff"))
        sel
          .withColumn("lcum", sum(col("n_toks")).over(wCumLocal))
          .join(broadcast(packOff),
            col("source") === col("psrc") && col("pb") === col("ppb"))
          .withColumn("cum", col("poff") + col("lcum"))
          .withColumn("bin_id",
            floor((col("cum") - col("n_toks")) / lit(BinTokens.toDouble)))
          .select(col("doc_id"), col("source"), col("n_toks"),
            col("bin_id"))
      }
    // document-aware opt-in (r15 verdict item 2): re-bin the SELECTED
    // docs with shard-local best-fit-decreasing — the greedy bin_id is
    // discarded, everything upstream (decisions, quotas, selection) and
    // downstream (publish, certification) is shared. bin ids stay
    // unique per source: pb spans ≤ id_max/8192 shards, local bins are
    // 1-based within a shard, and 2^20 bins·2048 tokens per shard is
    // far past any 8192-id shard's token mass.
    val finalBins =
      if (packing == "bestfit")
        graft.ops.CurationOps.bestFitPack(
          binned.select(col("doc_id"), col("source"), col("n_toks")),
          BinTokens.toLong, 8192L)
          .select(col("doc_id"), col("source"), col("n_toks"),
            (col("pb") * (1L << 20) + col("bin")).as("bin_id"))
      else binned
    // second (and last) corpus scan: re-join the selected ids to their
    // text for the publish — shuffles only the SELECTED half of the
    // corpus once, instead of carrying text through two window sorts.
    // audited: the publish write below executes this plan during query
    // construction — hand its documents scan to the scan gate first
    val packed = OpsKit.tbl(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
      .join(finalBins, "doc_id")
      .select(col("doc_id"), col("text"), col("n_toks"), col("bin_id"),
        col("source"))
    OpsKit.labeled(spark, "corpusbuild: publish")(
      CorpusPublish.publish(OpsKit.audited(packed), out, "source", "doc_id",
        1000))

    // ---- stage 5: certify FROM THE FILES -------------------------------
    // two-level: per (source, bin) loads first, so the cert can price
    // the PACKING itself (r16 verdict item 4) — max_bin_tokens and
    // overfull_bins separate the policies structurally at any scale
    // (greedy groups docs by their START bin, so spilling docs overfill
    // it; best-fit never exceeds the cap). Checksum xor is associative,
    // so the two-level rollup is exactly the old single-level value.
    val byBin = spark.read.parquet(out)
      .groupBy(col("source").cast("string").as("source"), col("bin_id"))
      .agg(count(lit(1)).as("nb"),
        // token totals recomputed from the published TEXT, not trusted
        // from the written n_toks column (which the checksum re-derives
        // through bin_id anyway): the files certify themselves
        sum(size(split(col("text"), " ")).cast("long")).as("load"),
        bit_xor(rowHash).as("pck"))
    val cert = byBin.groupBy(col("source"))
      .agg(sum(col("nb")).as("n_selected"),
        count(lit(1)).as("n_bins"),
        sum(col("load")).as("n_tokens"),
        max(col("load")).as("max_bin_tokens"),
        sum(when(col("load") > BinTokens.toLong, 1L).otherwise(0L))
          .as("overfull_bins"),
        bit_xor(col("pck")).as("checksum"))
    val expect = broadcast(perSrcRows.toSeq.toDF("source", "n_docs", "n_kept"))
    cert.join(expect, "source")
      .join(quotaDf, col("source") === col("src"))
      .select(col("source"), col("n_docs"), col("n_kept"), col("alpha"),
        col("quota"), col("n_selected"), col("n_bins"), col("n_tokens"),
        col("max_bin_tokens"), col("overfull_bins"), col("checksum"))
  }
}
