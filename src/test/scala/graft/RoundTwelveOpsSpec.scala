package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Scalar re-derivations for the round-12 additions (q272–q278).
  *
  * The oracle hash gate proves Spark == DuckDB; these prove both equal
  * the textbook construction — recomputing each result in plain Scala
  * from collected raw rows (or a hand-built corpus with known answers),
  * the discipline that caught the q224/q248 vacuous-consistency bugs.
  */
class RoundTwelveOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("q272 Shapley: matches the exact coalition sum and is efficient") {
    // re-derive every φ from first principles: per-user (mask, conv)
    // collected, v(S) = Σ conv over masks ⊆ S, φ_i the weighted sum
    // over all 8 coalitions not containing i — then compare the exact
    // BIGINT numerators, and check the efficiency axiom Σφ = v(full)
    // − v(∅) that makes Shapley "a credit SPLIT" rather than scores
    val collected = SparkEntry.queries("q272_shapley_attribution")(spark, dir)
      .collect()
    val rows = collected.map(r => r.getAs[String]("channel") ->
      (r.getAs[Long]("phi_num"), r.getAs[Long]("v_full"))).toMap
    assert(rows.size == 4)
    val ev = graft.ops.OpsKit.events(spark, dir)
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    def early(t: String) =
      max(when(col("rn") <= 4 && col("event_type") === t, 1L)
        .otherwise(0L))
    val mu = ev.withColumn("rn", row_number().over(w))
      .groupBy(col("user_id"))
      .agg((early("click") + lit(2L) * early("view") +
        lit(4L) * early("signup") + lit(8L) * early("error")).as("mask"),
        max(when(col("event_type") === "purchase" && col("value") > 150.0,
          1L).otherwise(0L)).as("conv"))
      .collect().map(r => (r.getAs[Long]("mask"), r.getAs[Long]("conv")))
    def v(sset: Int): Long =
      mu.filter { case (m, _) => (m & sset) == m }.map(_._2).sum
    val weights = Map(0 -> 6L, 1 -> 2L, 2 -> 2L, 3 -> 6L)
    val names = Seq("click" -> 1, "view" -> 2, "signup" -> 4,
      "error" -> 8)
    for ((name, bit) <- names) {
      val phi = (0 until 16).filter(s => (s & bit) == 0).map { s =>
        weights(Integer.bitCount(s)) * (v(s | bit) - v(s))
      }.sum
      assert(rows(name)._1 == phi, s"$name: ${rows(name)._1} != $phi")
    }
    assert(rows.values.map(_._1).sum == 24L * (v(15) - v(0)),
      "efficiency axiom violated")
    assert(rows.values.head._2 == v(15))
    // r12 ADVICE closure: v(∅) ships alongside v(full), and `share`
    // normalizes by their difference — so the four shares sum to 1
    // exactly when the game is non-degenerate (v_full > v_empty)
    assert(collected.head.getAs[Long]("v_empty") == v(0))
    if (v(15) > v(0)) {
      val shareSum = collected.map(_.getAs[Double]("share")).sum
      assert(math.abs(shareSum - 1.0) < 1e-9,
        s"shares must sum to 1, got $shareSum")
    }
  }

  test("q273 target encoding: leave-fold-out means recompute exactly") {
    val out = SparkEntry.queries("q273_target_encoding")(spark, dir)
      .collect().map(r => (r.getAs[String]("seg"), r.getAs[Long]("fold"))
        -> (r.getAs[Long]("n_out"), r.getAs[Double]("enc"),
            r.getAs[Double]("prior_f"))).toMap
    val raw = graft.ops.OpsKit.tbl(spark, dir, "orders")
      .join(graft.ops.OpsKit.tbl(spark, dir, "customer"),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment"), pmod(col("o_orderkey"), lit(5L)),
        col("o_totalprice"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    // recompute on the dsum grid: per-cell decimal(28,6) sums
    def g(xs: Seq[Double]): BigDecimal =
      xs.map(x => BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP))
        .sum
    for (((seg, fold), (nOut, enc, prior)) <- out) {
      val inSeg = raw.filter(_._1 == seg)
      val outFold = inSeg.filter(_._2 != fold)
      assert(outFold.size.toLong == nOut)
      val allOut = raw.filter(_._2 != fold)
      val priorRe = (g(allOut.map(_._3)).toDouble) / allOut.size.toDouble
      assert(math.abs(priorRe - prior) < 1e-9, s"prior $seg/$fold")
      val encRe = (g(outFold.map(_._3)).toDouble -
        0.0 + 10.0 * priorRe) / (outFold.size.toDouble + 10.0)
      // same ingredients, possibly different summation grouping →
      // tolerance, not bit-equality (the oracle supplies bit-equality)
      assert(math.abs(encRe - enc) < 1e-6, s"enc $seg/$fold $encRe $enc")
    }
  }

  test("q274 conformal: qhat is the ceil((n+1)(1-alpha)) residual by value") {
    val out = SparkEntry.queries("q274_conformal")(spark, dir).collect()
    assert(out.nonEmpty)
    val ev = graft.ops.OpsKit.events(spark, dir)
      .select(col("event_id"), col("event_type"), col("value"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    for (r <- out) {
      val t = r.getAs[String]("event_type")
      val train = ev.filter(e => e._2 == t && e._1 % 2 == 0).map(_._3)
      // μ on the dsum grid, exactly as davg computes it
      val mu = train.map(x => BigDecimal(x).setScale(6,
        BigDecimal.RoundingMode.HALF_UP)).sum.toDouble / train.length
      val res = ev.filter(e => e._2 == t && e._1 % 2 == 1)
        .map(e => math.abs(e._3 - mu)).sorted
      val n = res.length
      assert(r.getAs[Long]("n_cal") == n.toLong)
      val k = ((n + 1) * 9 + 9) / 10
      assert(r.getAs[Long]("k_rank") == k.toLong)
      assert(r.getAs[Double]("qhat") == res(k - 1), s"$t qhat")
      // and the conformal guarantee direction on the calibration set:
      // at least k of n residuals sit at or below qhat
      assert(res.count(_ <= r.getAs[Double]("qhat")) >= k)
    }
  }

  test("q275 vocab richness: exact FoF and Chao1 on a crafted corpus") {
    import spark.implicits._
    // shingle multiset engineered by hand: "a b c d" → {abc, bcd},
    // "a b c e" → {abc, bce}, repeated so abc×3, bcd×2, bce×1 —
    // f1 = f2 = f3 = 1, D = 3, bias-corrected chao1 = 3 + 1·0/(2·2) = 3,
    // Good–Turing r* : r=1 → 2·f2/f1 = 2, r=2 → 3·f3/f2 = 3
    val tmp = TestSpark.tempDir("q275").toString
    Seq((1L, "a b c d"), (2L, "a b c e"), (3L, "a b c d"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val rows = SparkEntry.queries("q275_vocab_richness")(spark, tmp)
      .collect().map(r => r.getAs[Long]("r") ->
        (r.getAs[Long]("f_r"), Option(r.getAs[java.lang.Double]("r_star")),
          r.getAs[Long]("types"), r.getAs[Long]("f1"),
          r.getAs[Long]("f2"), r.getAs[Double]("chao1"))).toMap
    assert(rows.keySet == Set(1L, 2L, 3L))
    assert(rows(1L)._1 == 1 && rows(2L)._1 == 1 && rows(3L)._1 == 1)
    assert(rows(1L)._3 == 3 && rows(1L)._4 == 1 && rows(1L)._5 == 1)
    assert(rows(1L)._6 == 3.0)
    assert(rows(1L)._2.contains(2.0) && rows(2L)._2.contains(3.0))
    assert(rows(3L)._2.isEmpty) // no r=4 class → no estimate, not 0
    // and on the real corpus the identity Σ f_r (full table) = types
    val real = SparkEntry.queries("q275_vocab_richness")(spark, dir)
      .collect()
    assert(real.nonEmpty && real.forall(_.getAs[Double]("chao1") >=
      real.head.getAs[Long]("types").toDouble))
  }

  test("q276 ablation: totals-minus-group equals a literal re-scan") {
    val out = SparkEntry.queries("q276_source_ablation")(spark, dir)
      .collect().map(r => r.getAs[String]("source") ->
        (r.getAs[Double]("excl_mean_chars"),
          r.getAs[Double]("excl_pass_rate"))).toMap
    val docs = graft.ops.OpsKit.tbl(spark, dir, "documents")
      .select(col("source"), col("n_chars")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    for ((src, (em, ep)) <- out) {
      val rest = docs.filter(_._1 != src)
      val emRe = rest.map(_._2).sum.toDouble / rest.size.toDouble
      val epRe = rest.count(_._2 >= 200).toDouble / rest.size.toDouble
      assert(math.abs(em - emRe) < 1e-9, s"$src mean")
      assert(math.abs(ep - epRe) < 1e-12, s"$src pass")
    }
  }

  test("q277 join-size: truth is the exact sum of squared key counts") {
    val r = SparkEntry.queries("q277_join_card_est")(spark, dir)
      .collect().head
    val counts = graft.ops.OpsKit.events(spark, dir)
      .groupBy(col("user_id")).agg(count(lit(1)).as("c"))
      .collect().map(_.getAs[Long]("c"))
    assert(r.getAs[Long]("true_pairs") == counts.map(c => c * c).sum)
    assert(r.getAs[Long]("n_users") == counts.length.toLong)
    assert(r.getAs[Long]("max_user_events") == counts.max)
    // the estimator is exact when every user in a bucket has the same
    // count; in general it must stay within the worst-bucket bound —
    // here just sanity: positive and within 10× of truth on this data
    val est = r.getAs[Double]("est_pairs")
    assert(est > 0 && est < 10.0 * r.getAs[Long]("true_pairs"))
  }

  test("q279 isotonic: minimax fit equals the sequential PAV walk") {
    // the textbook theorem (Robertson-Wright-Dykstra 1.4.4): the
    // closed-form minimax lattice equals pool-adjacent-violators run
    // sequentially — replay PAV in plain Scala on the same bins
    val rows = SparkEntry.queries("q279_isotonic_calibration")(
      spark, "/root/testdata/sf0.01").collect()
      .map(r => (r.getAs[Long]("bin"), r.getAs[Long]("n_users"),
        r.getAs[Long]("n_pos"), r.getAs[Double]("iso_fit")))
      .sortBy(_._1)
    assert(rows.length > 1)
    // PAV: blocks of (weight, sum); merge while the last two violate
    var blocks = List.empty[(Long, Long)] // (n, y) newest first
    for ((_, n, y, _) <- rows) {
      blocks = (n, y) :: blocks
      var merged = true
      while (merged && blocks.size >= 2) {
        val a :: b :: rest = blocks: @unchecked // a newer, b older
        // violation: mean(b) > mean(a) — exact integer cross-multiply
        if (b._2 * a._1 > a._2 * b._1) {
          blocks = (a._1 + b._1, a._2 + b._2) :: rest; merged = true
        } else merged = false
      }
    }
    val fits = blocks.reverse.flatMap { case (n, y) =>
      // each merged block covers `n` users; expand back to bins by
      // walking bin weights
      List.fill(1)((n, y))
    }
    // reconstruct per-bin fit: walk bins against blocks
    var rem = blocks.reverse
    var need = rem.head._1
    val pav = rows.map { case (_, n, _, _) =>
      val f = rem.head._2.toDouble / rem.head._1.toDouble
      need -= n
      if (need == 0 && rem.tail.nonEmpty) { rem = rem.tail; need = rem.head._1 }
      f
    }
    rows.map(_._4).zip(pav).zipWithIndex.foreach { case ((got, want), i) =>
      assert(math.abs(got - want) < 1e-9,
        s"bin ${rows(i)._1}: $got vs PAV $want")
    }
    // and the defining property: monotone nondecreasing
    val fs = rows.map(_._4)
    assert(fs.zip(fs.tail).forall { case (x, y) => x <= y + 1e-12 })
    assert(fits.nonEmpty)
  }

  test("q280 water-filling: allocations sum to T, clip set consistent") {
    val rows = SparkEntry.queries("q280_token_budget")(spark, dir)
      .collect().map(r => (r.getAs[String]("source"),
        r.getAs[Long]("supply"), r.getAs[Long]("t_budget"),
        r.getAs[Double]("level"), r.getAs[Boolean]("clipped"),
        r.getAs[Double]("alloc")))
    assert(rows.nonEmpty)
    val t = rows.head._3
    assert(math.abs(rows.map(_._6).sum - t.toDouble) < 1e-6 * t,
      s"sum alloc ${rows.map(_._6).sum} != T $t")
    rows.foreach { case (src, supply, _, lvl, clipped, alloc) =>
      assert(clipped == (supply.toDouble <= lvl))
      if (clipped) assert(alloc == supply.toDouble, s"$src clipped alloc")
      else assert(alloc == lvl, s"$src rationed alloc")
    }
    // both regimes must occur, or the fixture regressed to degenerate
    assert(rows.exists(_._5) && rows.exists(!_._5))
    // supplies differ (the unequal-subsample premise)
    assert(rows.map(_._2).distinct.length > 1)
  }

  test("q281 group-sequential: per-look z matches a scalar recompute") {
    val rows = SparkEntry.queries("q281_group_sequential")(spark, dir)
      .collect().map(r => r.getAs[Long]("look") ->
        (r.getAs[Long]("n_control"), r.getAs[Long]("n_treat"),
          r.getAs[Long]("x_control"), r.getAs[Long]("x_treat"),
          r.getAs[Double]("z_stat"), r.getAs[Double]("obf_bound"),
          r.getAs[Boolean]("crossed"))).toMap
    assert(rows.keySet == Set(1L, 2L, 3L, 4L, 5L))
    val ev = graft.ops.OpsKit.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getDouble(3)))
    def entryLook(u: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(u.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16) % 5 + 1
    }
    val allByUser = ev.groupBy(_._2).map { case (u, es) =>
      (u, es.exists(e => e._3 == "purchase" && e._4 > 150.0))
    }
    for (k <- 1L to 5L) {
      val byUser = allByUser.filter { case (u, _) => entryLook(u) <= k }
      val (ctl, trt) = byUser.partition(_._1 % 2 == 0)
      val (nc, nt) = (ctl.size.toLong, trt.size.toLong)
      val (xc, xt) = (ctl.count(_._2).toLong, trt.count(_._2).toLong)
      val (gnc, gnt, gxc, gxt, z, b, crossed) = rows(k)
      assert((gnc, gnt, gxc, gxt) == ((nc, nt, xc, xt)), s"look $k counts")
      if (nc > 0 && nt > 0) {
        val pc = xc.toDouble / nc; val pt = xt.toDouble / nt
        val pp = (xc + xt).toDouble / (nc + nt)
        val se = math.sqrt(pp * (1 - pp) * (1.0 / nc + 1.0 / nt))
        if (se > 0) {
          assert(math.abs(z - (pt - pc) / se) < 1e-12, s"look $k z")
          assert(crossed == (math.abs(z) > b))
        }
      }
    }
    // enrollment genuinely grows across looks (degeneracy witness)
    val ns = (1L to 5L).map(k => rows(k)._1 + rows(k)._2)
    assert(ns.zip(ns.tail).forall { case (a, b2) => a <= b2 })
    assert(ns.distinct.size > 1, s"enrollment must vary: $ns")
  }

  test("q282 QTE: per-arm quantiles equal sorted-index selection") {
    val rows = SparkEntry.queries("q282_qte")(spark, dir).collect()
      .map(r => r.getAs[Long]("tau_pct") ->
        (r.getAs[Double]("q_control"), r.getAs[Double]("q_treat"),
          r.getAs[Double]("qte"))).toMap
    assert(rows.keySet == Set(25L, 50L, 75L))
    val pv = graft.ops.OpsKit.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("value")).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    def qDisc(xs: Array[Double], tauPct: Long): Double = {
      val s = xs.sorted
      // first value whose inclusive rank r satisfies 100r >= tau*n
      s(((tauPct * s.length + 99) / 100 - 1).toInt.max(0))
    }
    val ctl = pv.filter(_._1 % 2 == 0).map(_._2)
    val trt = pv.filter(_._1 % 2 != 0).map(_._2)
    for (tau <- Seq(25L, 50L, 75L)) {
      val (qc, qt, d) = rows(tau)
      assert(qc == qDisc(ctl, tau), s"tau $tau control")
      assert(qt == qDisc(trt, tau), s"tau $tau treat")
      assert(d == qt - qc)
    }
  }

  test("q283 overlap: exact Jaccard matches sets; estimate in range") {
    val rows = SparkEntry.queries("q283_source_overlap")(spark, dir)
      .collect().map(r => (r.getAs[String]("source_a"),
        r.getAs[String]("source_b"), r.getAs[Long]("size_a"),
        r.getAs[Long]("size_b"), r.getAs[Long]("inter"),
        r.getAs[Double]("exact_jac"), r.getAs[Double]("est_jac")))
    val nSrc = graft.ops.OpsKit.tbl(spark, dir, "documents")
      .select(col("source")).distinct().count().toInt
    assert(rows.length == nSrc * (nSrc - 1) / 2, "one row per pair")
    // independent shingle sets via the registered expression, collected
    val sh = graft.ops.OpsKit.tbl(spark, dir, "documents")
      .select(col("source"),
        explode(graft.ops.LlmKit.hashedShingles(col("text"))).as("h"))
      .distinct().collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).map { case (s0, xs) => s0 -> xs.map(_._2).toSet }
    rows.foreach { case (a, b, sa, sb, inter, ej, est) =>
      val (setA, setB) = (sh(a), sh(b))
      assert(sa == setA.size && sb == setB.size)
      assert(inter == (setA & setB).size.toLong, s"$a-$b inter")
      val want = inter.toDouble / (sa + sb - inter).toDouble
      assert(ej == want)
      // 16-perm Broder estimate: grid of 1/16ths, within 4σ of exact
      assert(est >= 0.0 && est <= 1.0 &&
        math.round(est * 16) == est * 16)
      val sd = math.sqrt(math.max(ej * (1 - ej), 0.01) / 16.0)
      assert(math.abs(est - ej) <= 4 * sd + 1e-9, s"$a-$b est $est vs $ej")
    }
  }

  test("q278 Bloom: no false negatives, confusion counts consistent") {
    val r = SparkEntry.queries("q278_bloom_antijoin")(spark, dir)
      .collect().head
    // the Bloom guarantee: every true member passes
    assert(r.getAs[Long]("n_true_pass") == r.getAs[Long]("n_true_members"))
    assert(r.getAs[Long]("n_bloom_pass") ==
      r.getAs[Long]("n_true_pass") + r.getAs[Long]("n_false_pos"))
    // independent ground truth for membership
    val flagged = graft.ops.OpsKit.tbl(spark, dir, "orders")
      .filter(col("o_totalprice") > 400000.0)
      .select(col("o_orderkey")).collect().map(_.getLong(0)).toSet
    val cand = graft.ops.OpsKit.tbl(spark, dir, "lineitem")
      .select(col("l_orderkey")).distinct()
      .collect().map(_.getLong(0))
    assert(r.getAs[Long]("n_candidates") == cand.length.toLong)
    assert(r.getAs[Long]("n_true_members") ==
      cand.count(flagged.contains).toLong)
    assert(r.getAs[Long]("bits_set") <= 8192L)
  }

  private def md5Long(s: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(15)
    java.lang.Long.parseLong(hex, 16)
  }

  private def grid6(xs: Iterable[Double]): Double =
    xs.map(x => BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP))
      .sum.toDouble

  test("q284 Bradley-Terry: MM fixed point matches a scalar replay") {
    val rows = SparkEntry.queries("q284_bradley_terry")(spark, dir)
      .collect().map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("wins"), r.getAs[Long]("matches"),
          r.getAs[Double]("strength"))).toMap
    val docs = graft.ops.OpsKit.tbl(spark, dir, "documents")
      .select(col("doc_id"), col("source"), col("n_chars")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        md5Long("bt:" + r.getLong(0)) % 16))
    val pairs = for {
      a <- docs; c <- docs
      if a._4 == c._4 && a._1 < c._1 && a._2 != c._2 && a._3 != c._3
    } yield if (a._3 > c._3) (a._2, c._2) else (c._2, a._2)
    val w = pairs.groupBy(identity).map { case (k, v) => k -> v.length }
    val nij = collection.mutable.Map[(String, String), Long]()
    w.foreach { case ((i, j), c) =>
      nij((i, j)) = nij.getOrElse((i, j), 0L) + c
      nij((j, i)) = nij.getOrElse((j, i), 0L) + c
    }
    val srcs = nij.keys.map(_._1).toSeq.distinct.sorted
    val wins = srcs.map(s0 =>
      s0 -> w.collect { case ((i, _), c) if i == s0 => c.toLong }.sum).toMap
    val matches = srcs.map(s0 => s0 ->
      nij.collect { case ((i, _), c) if i == s0 => c }.sum).toMap
    var p = srcs.map(_ -> 1.0).toMap
    for (_ <- 1 to 8) {
      val den = srcs.map(i => i -> grid6(
        srcs.filter(j => nij.contains((i, j)))
          .map(j => nij((i, j)).toDouble / (p(i) + p(j))))).toMap
      val raw = srcs.map(i => i -> wins(i).toDouble / den(i)).toMap
      val m = grid6(srcs.map(raw)) / srcs.size
      p = srcs.map(i => i -> raw(i) / m).toMap
    }
    assert(rows.keySet == srcs.toSet)
    for (s0 <- srcs) {
      val (gw, gm, gs) = rows(s0)
      assert(gw == wins(s0), s"$s0 wins")
      assert(gm == matches(s0), s"$s0 matches")
      assert(math.abs(gs - p(s0)) < 1e-12, s"$s0 strength $gs vs ${p(s0)}")
    }
    // mean-1 normalization held (to grid resolution: the normalizer is
    // itself a 6-decimal dsum, so two grid layers stack), not flat
    assert(math.abs(grid6(rows.values.map(_._3)) / srcs.size - 1.0) < 1e-6)
    assert(rows.values.map(_._3).toSet.size > 1)
  }

  test("q285 Mantel-Haenszel: pooled and per-stratum ORs recompute") {
    val rows = SparkEntry.queries("q285_mantel_haenszel")(spark, dir)
      .collect().map(r => r.getAs[String]("band") ->
        (r.getAs[Long]("n11"), r.getAs[Long]("n10"),
          r.getAs[Long]("n01"), r.getAs[Long]("n00"),
          Option(r.getAs[java.lang.Double]("or_stratum")),
          Option(r.getAs[java.lang.Double]("mh_or")),
          Option(r.getAs[java.lang.Double]("crude_or")))).toMap
    val ev = graft.ops.OpsKit.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("value")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val users = ev.groupBy(_._1).map { case (u, es) =>
      val band = es.length match {
        case n if n < 60 => "low"
        case n if n < 75 => "mid"
        case _           => "high"
      }
      (band, u % 2 == 1,
        es.exists(e => e._2 == "purchase" && e._3 > 150.0))
    }
    val cells = users.groupBy(_._1).map { case (band, us) =>
      band -> (us.count(x => x._2 && x._3).toLong,
        us.count(x => x._2 && !x._3).toLong,
        us.count(x => !x._2 && x._3).toLong,
        us.count(x => !x._2 && !x._3).toLong)
    }
    assert(rows.keySet == cells.keySet)
    val terms = cells.values.toSeq
    val num = grid6(terms.map { case (a, b2, c2, dd) =>
      (a * dd).toDouble / (a + b2 + c2 + dd).toDouble })
    val den = grid6(terms.map { case (a, b2, c2, dd) =>
      (b2 * c2).toDouble / (a + b2 + c2 + dd).toDouble })
    val (ta, tb, tc, td) = (terms.map(_._1).sum, terms.map(_._2).sum,
      terms.map(_._3).sum, terms.map(_._4).sum)
    for ((band, (a, b2, c2, dd)) <- cells) {
      val (ga, gb, gc, gd, gor, gmh, gcr) = rows(band)
      assert((ga, gb, gc, gd) == ((a, b2, c2, dd)), s"$band cells")
      if (b2 * c2 > 0)
        assert(math.abs(gor.get -
          (a * dd).toDouble / (b2 * c2).toDouble) < 1e-12)
      else assert(gor.isEmpty)
      if (den > 0) assert(math.abs(gmh.get - num / den) < 1e-12)
      if (tb * tc > 0)
        assert(math.abs(gcr.get -
          (ta * td).toDouble / (tb * tc).toDouble) < 1e-12)
    }
  }

  test("q286 isotropy: closed form equals the brute-force pair mean") {
    val rows = SparkEntry.queries("q286_embed_isotropy")(spark, dir)
      .collect()
    assert(rows.length == 64)
    val meanCos = rows.head.getAs[Double]("mean_cos")
    val n = rows.head.getAs[Long]("n_vecs")
    // var shares partition the energy
    val shares = rows.map(_.getAs[Double]("var_share")).sum
    assert(math.abs(shares - 1.0) < 1e-4, s"shares sum $shares")
    // brute force O(n^2) mean pairwise cosine over unit vectors
    val vecs = graft.ops.OpsKit.tbl(spark, dir, "embeddings")
      .filter(col("embedding").isNotNull)
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
      .map { v =>
        val nrm = math.sqrt(v.map(x => x * x).sum)
        v.map(_ / nrm)
      }
    assert(n == vecs.length.toLong)
    var acc = 0.0
    for (i <- vecs.indices; j <- (i + 1) until vecs.length)
      acc += vecs(i).zip(vecs(j)).map { case (x, y) => x * y }.sum
    val brute = 2.0 * acc / (n.toDouble * (n - 1.0))
    assert(math.abs(meanCos - brute) < 1e-4, s"$meanCos vs $brute")
  }

  test("q287 kappa: chance-corrected agreement recomputes exactly") {
    val rows = SparkEntry.queries("q287_cohens_kappa")(spark, dir)
      .collect()
    val docs = graft.ops.OpsKit.tbl(spark, dir, "documents")
      .select(col("text"), col("n_chars")).collect()
      .map { r =>
        val words = r.getString(0).split(" ", -1).length
        (words >= 40, r.getLong(1).toDouble / words >= 5.5)
      }
    val nn = docs.length.toDouble
    val na = docs.count(_._1).toDouble
    val nb = docs.count(_._2).toDouble
    val agree = docs.count(x => x._1 == x._2).toDouble
    val po = agree / nn
    val pe = (na / nn) * (nb / nn) + (1.0 - na / nn) * (1.0 - nb / nn)
    val kap = (po - pe) / (1.0 - pe)
    for (r <- rows) {
      val (ak, bk) = (r.getAs[Boolean]("a_keep"), r.getAs[Boolean]("b_keep"))
      assert(r.getAs[Long]("n_cell") ==
        docs.count(x => x._1 == ak && x._2 == bk).toLong)
      assert(math.abs(r.getAs[Double]("po") - po) < 1e-12)
      assert(math.abs(r.getAs[Double]("pe") - pe) < 1e-12)
      assert(math.abs(r.getAs[Double]("kappa") - kap) < 1e-12)
    }
    // the labelers genuinely disagree somewhere (non-vacuous kappa)
    assert(rows.map(_.getAs[Long]("n_cell")).sum ==
      docs.length.toLong)
    assert(kap < 1.0)
  }

  test("q288 jackknife: SE matches the leave-one-out replay") {
    val rows = SparkEntry.queries("q288_jackknife_ratio")(spark, dir)
      .collect().map(r => r.getAs[String]("band") ->
        (r.getAs[Long]("n_users"), r.getAs[Long]("total_clicks"),
          r.getAs[Double]("revenue"), r.getAs[Double]("theta"),
          Option(r.getAs[java.lang.Double]("jack_se")))).toMap
    val ev = graft.ops.OpsKit.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("value")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val users = ev.groupBy(_._1).map { case (_, es) =>
      val c = es.count(_._2 == "click").toLong
      val v = grid6(es.filter(_._2 == "purchase").map(_._3) ++
        es.filter(_._2 != "purchase").map(_ => 0.0))
      val band =
        if (c < 11) "low" else if (c < 16) "mid" else "high"
      (band, c, v)
    }.toSeq
    for ((band, us) <- users.groupBy(_._1)) {
      val (gn, gtc, gtv, gth, gse) = rows(band)
      val tc = us.map(_._2).sum
      val tv = grid6(us.map(_._3))
      assert(gn == us.length.toLong && gtc == tc)
      assert(math.abs(gtv - tv) < 1e-9)
      assert(math.abs(gth - tv / tc.toDouble) < 1e-12)
      val ths = us.filter(u => tc - u._2 > 0)
        .map(u => (tv - u._3) / (tc - u._2).toDouble)
      if (ths.size > 1) {
        val jm = grid6(ths) / ths.size
        val ssd = grid6(ths.map(t => (t - jm) * (t - jm)))
        val se = math.sqrt((ths.size - 1.0) / ths.size * ssd)
        assert(math.abs(gse.get - se) < 1e-12, s"$band se")
      }
    }
  }

  test("q289 Kendall: tau-b equals the brute-force pair count") {
    val r = SparkEntry.queries("q289_kendall_tau")(spark, dir)
      .collect().head
    val ev = graft.ops.OpsKit.events(spark, dir)
      .select(col("user_id"), col("event_type")).collect()
      .map(rr => (rr.getLong(0), rr.getString(1)))
    // .toSeq BEFORE .map: mapping a Map to 2-tuples would re-key by
    // the first element and collapse users with equal click counts
    val xy = ev.groupBy(_._1).toSeq.map { case (_, es) =>
      (es.count(_._2 == "click").toLong,
        es.count(_._2 == "purchase").toLong)
    }.toArray
    var conc = 0L; var disc = 0L; var tx = 0L; var ty = 0L
    for (i <- xy.indices; j <- (i + 1) until xy.length) {
      val ((x1, y1), (x2, y2)) = (xy(i), xy(j))
      if (x1 != x2 && y1 != y2) {
        if ((x2 - x1) * (y2 - y1) > 0) conc += 1 else disc += 1
      }
      if (x1 == x2) tx += 1
      if (y1 == y2) ty += 1
    }
    val n = xy.length.toLong
    assert(r.getAs[Long]("n_users") == n)
    assert(r.getAs[Long]("concordant") == conc)
    assert(r.getAs[Long]("discordant") == disc)
    assert(r.getAs[Long]("ties_x") == tx)
    assert(r.getAs[Long]("ties_y") == ty)
    val n0 = n * (n - 1) / 2
    val want = (conc - disc).toDouble /
      math.sqrt((n0 - tx).toDouble * (n0 - ty).toDouble)
    assert(math.abs(r.getAs[Double]("tau_b") - want) < 1e-12)
  }

  test("q290 Chow: segment OLS and F recompute from raw points") {
    val rows = SparkEntry.queries("q290_chow_break")(spark, dir)
      .collect().map(r => r.getAs[String]("segment") ->
        (r.getAs[Long]("n"), r.getAs[Double]("slope"),
          r.getAs[Double]("rss"), r.getAs[Double]("chow_f"))).toMap
    assert(rows.keySet == Set("pre", "post", "pooled"))
    val pts = graft.ops.OpsKit.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(expr("unix_micros(ts) div 86400000000"),
        floor(col("value") * lit(100.0) + lit(0.5)).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val bd = (pts.map(_._1).min + pts.map(_._1).max + 1) / 2
    def fit(ps: Array[(Long, Long)]): (Long, Double, Double) = {
      val n = ps.length.toDouble
      val sx = ps.map(p => BigInt(p._1)).sum.toDouble
      val sy = ps.map(p => BigInt(p._2)).sum.toDouble
      val sxy = ps.map(p => BigInt(p._1) * BigInt(p._2)).sum.toDouble
      val sxx = ps.map(p => BigInt(p._1) * BigInt(p._1)).sum.toDouble
      val syy = ps.map(p => BigInt(p._2) * BigInt(p._2)).sum.toDouble
      val dx = n * sxx - sx * sx
      val num = n * sxy - sx * sy
      val dy = n * syy - sy * sy
      (ps.length.toLong, num / dx, (dy - (num / dx) * num) / n)
    }
    val pre = fit(pts.filter(_._1 < bd))
    val post = fit(pts.filter(_._1 >= bd))
    val pooled = fit(pts)
    for ((seg, want) <- Seq("pre" -> pre, "post" -> post,
        "pooled" -> pooled)) {
      val (gn, gs, grss, _) = rows(seg)
      assert(gn == want._1, s"$seg n")
      assert(math.abs(gs - want._2) < 1e-9, s"$seg slope")
      assert(math.abs(grss - want._3) < math.abs(want._3) * 1e-9,
        s"$seg rss")
    }
    val f = ((pooled._3 - pre._3 - post._3) / 2.0) /
      ((pre._3 + post._3) / (pre._1 + post._1 - 4).toDouble)
    assert(math.abs(rows("pre")._4 - f) < math.abs(f) * 1e-9)
  }

  test("q291 AQP: estimate, CI and audit recompute from the sample") {
    val rows = SparkEntry.queries("q291_aqp_sample")(spark, dir)
      .collect()
    assert(rows.nonEmpty)
    val ev = graft.ops.OpsKit.events(spark, dir)
      .select(col("event_type"), col("value"), col("event_id")).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
    for (r <- rows) {
      val t = r.getAs[String]("event_type")
      val all = ev.filter(_._1 == t)
      val smp = all.filter(e => md5Long("aqp:" + e._3) % 10 == 0)
      assert(r.getAs[Long]("n_exact") == all.length.toLong)
      assert(r.getAs[Long]("m") == smp.length.toLong)
      val meanExact = grid6(all.map(_._2)) / all.length
      assert(math.abs(r.getAs[Double]("mean_exact") - meanExact) < 1e-9)
      if (smp.length > 1) {
        val sv = grid6(smp.map(_._2))
        val svv = grid6(smp.map(e => e._2 * e._2))
        val m = smp.length.toDouble
        val est = sv / m
        val ci = 1.96 * math.sqrt(((svv - sv * sv / m) / (m - 1)) / m)
        assert(math.abs(r.getAs[Double]("est_mean") - est) < 1e-12)
        assert(math.abs(r.getAs[Double]("ci_half") - ci) < 1e-12)
        assert(r.getAs[Boolean]("in_ci") ==
          (math.abs(meanExact - est) <= ci))
      }
    }
  }

  test("q292 McNemar: discordant-cell statistic recomputes") {
    val r = SparkEntry.queries("q292_mcnemar")(spark, dir)
      .collect().head
    val docs = graft.ops.OpsKit.tbl(spark, dir, "documents")
      .select(col("text"), col("n_chars")).collect()
      .map { rr =>
        val words = rr.getString(0).split(" ", -1).length
        (words >= 40, rr.getLong(1).toDouble / words >= 5.5)
      }
    val aOnly = docs.count(x => x._1 && !x._2).toLong
    val bOnly = docs.count(x => !x._1 && x._2).toLong
    assert(r.getAs[Long]("a_only") == aOnly)
    assert(r.getAs[Long]("b_only") == bOnly)
    val mc = (aOnly - bOnly).toDouble * (aOnly - bOnly) /
      (aOnly + bOnly).toDouble
    val d = math.max(math.abs(aOnly - bOnly) - 1, 0L)
    val cc = (d * d).toDouble / (aOnly + bOnly).toDouble
    assert(math.abs(r.getAs[Double]("mcnemar") - mc) < 1e-12)
    assert(math.abs(r.getAs[Double]("mcnemar_cc") - cc) < 1e-12)
    assert(r.getAs[Boolean]("significant") == (cc > 3.841))
  }

  test("q293 Wasserstein: W1 equals the brute-force CDF integral") {
    val rows = SparkEntry.queries("q293_wasserstein")(spark, dir)
      .collect().map(r => (r.getAs[String]("type_a"),
        r.getAs[String]("type_b")) -> r.getAs[Double]("w1")).toMap
    val ev = graft.ops.OpsKit.events(spark, dir)
      .select(col("event_type"), col("value")).collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    val types = ev.map(_._1).distinct.sorted
    assert(rows.size == types.length * (types.length - 1) / 2)
    for (i <- types.indices; j <- (i + 1) until types.length) {
      val (ta, tb) = (types(i), types(j))
      val va = ev.filter(_._1 == ta).map(_._2).sorted
      val vb = ev.filter(_._1 == tb).map(_._2).sorted
      val grid = (va ++ vb).distinct.sorted
      val terms = grid.zip(grid.tail).map { case (v, vn) =>
        val fa = va.count(_ <= v).toDouble / va.length
        val fb = vb.count(_ <= v).toDouble / vb.length
        math.abs(fa - fb) * (vn - v)
      }
      val want = grid6(terms :+ 0.0)
      assert(math.abs(rows((ta, tb)) - want) < 1e-9, s"$ta-$tb")
    }
  }

  test("q294 Theil-Sen: median pairwise slope matches a scalar replay") {
    val rows = SparkEntry.queries("q294_theil_sen")(spark, dir)
      .collect().map(r => r.getAs[String]("event_type") ->
        (r.getAs[Long]("np"), r.getAs[Double]("theil_sen_slope"),
          r.getAs[Double]("ols_slope"))).toMap
    val ev = graft.ops.OpsKit.events(spark, dir)
      .select(col("event_type"),
        expr("unix_micros(ts) div 86400000000"),
        floor(col("value") * lit(100.0) + lit(0.5)).cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    for ((t, (gnp, gts, gols)) <- rows) {
      val daily = ev.filter(_._1 == t).groupBy(_._2).toSeq
        .map { case (day, es) =>
          (day, grid6(es.map(_._3.toDouble)) / es.length) }
        .sortBy(_._1)
      val slopes = (for {
        i <- daily.indices; j <- (i + 1) until daily.length
      } yield (daily(j)._2 - daily(i)._2) /
        (daily(j)._1 - daily(i)._1).toDouble).sorted
      assert(gnp == slopes.length.toLong, s"$t np")
      assert(gts == slopes(((slopes.length + 1) / 2 - 1).toInt),
        s"$t theil-sen")
      // OLS from raw integer points (exact moments)
      val raw = ev.filter(_._1 == t)
      val n = raw.length.toDouble
      val sx = raw.map(p => BigInt(p._2)).sum.toDouble
      val sy = raw.map(p => BigInt(p._3)).sum.toDouble
      val sxy = raw.map(p => BigInt(p._2) * BigInt(p._3)).sum.toDouble
      val sxx = raw.map(p => BigInt(p._2) * BigInt(p._2)).sum.toDouble
      val want = (n * sxy - sx * sy) / (n * sxx - sx * sx)
      assert(math.abs(gols - want) < math.abs(want) * 1e-9 + 1e-12,
        s"$t ols $gols vs $want")
    }
  }

  test("q295 Nelson-Aalen: hazard increments and cumulation replay") {
    val rows = SparkEntry.queries("q295_nelson_aalen")(spark, dir)
      .collect().map(r => r.getAs[Long]("day") ->
        (r.getAs[Long]("n_risk"), r.getAs[Long]("d"),
          r.getAs[Double]("h_inc"), r.getAs[Double]("h_cum")))
      .sortBy(_._1)
    val ev = graft.ops.OpsKit.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("value"),
        expr("unix_micros(ts)")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
        r.getLong(3)))
    val durs = ev.groupBy(_._1).toSeq.map { case (_, es) =>
      val t0 = es.map(_._4).min
      val conv = es.filter(e => e._2 == "purchase" && e._3 > 150.0)
      val end = if (conv.nonEmpty) conv.map(_._4).min else es.map(_._4).max
      ((end - t0) / 86400000000L, conv.nonEmpty)
    }
    // event days in order, with at-risk = subjects lasting >= day
    val eventDays = durs.filter(_._2).map(_._1).distinct.sorted
    assert(rows.map(_._1).toSeq == eventDays)
    var hcum = BigDecimal(0)
    for ((day, (gn, gd, ghi, ghc)) <- rows) {
      val n = durs.count(_._1 >= day).toLong
      val dd = durs.count(u => u._1 == day && u._2).toLong
      assert(gn == n, s"day $day n_risk")
      assert(gd == dd, s"day $day d")
      val hi = dd.toDouble / n.toDouble
      assert(ghi == hi, s"day $day h_inc")
      hcum += BigDecimal(hi).setScale(6, BigDecimal.RoundingMode.HALF_UP)
      assert(math.abs(ghc - hcum.toDouble) < 1e-12, s"day $day h_cum")
    }
    // genuine censoring: some subjects never convert
    assert(durs.exists(!_._2))
  }

  test("q296 DKW: sup deviation and the Massart bound recompute") {
    val rows = SparkEntry.queries("q296_dkw_band")(spark, dir)
      .collect()
    val ev = graft.ops.OpsKit.events(spark, dir)
      .select(col("event_type"), col("value"), col("event_id")).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
    for (r <- rows) {
      val t = r.getAs[String]("event_type")
      val all = ev.filter(_._1 == t)
      val smp = all.filter(e => md5Long("dkw:" + e._3) % 5 == 0)
      assert(r.getAs[Long]("n_full") == all.length.toLong)
      assert(r.getAs[Long]("n_sample") == smp.length.toLong)
      if (smp.nonEmpty) {
        val grid = all.map(_._2).distinct.sorted
        val dev = grid.map { v =>
          math.abs(all.count(_._2 <= v).toDouble / all.length -
            smp.count(_._2 <= v).toDouble / smp.length)
        }.max
        assert(math.abs(r.getAs[Double]("max_dev") - dev) < 1e-12)
        val eps = math.sqrt(3.6888794541139363 / (2.0 * smp.length))
        assert(r.getAs[Double]("epsilon") == eps)
        assert(r.getAs[Boolean]("within_band") == (dev <= eps))
      }
    }
  }

  test("q297 power: required n recomputes and feasibility flips") {
    val rows = SparkEntry.queries("q297_power_analysis")(spark, dir)
      .collect().map(r => r.getAs[Double]("mde") ->
        (r.getAs[Long]("n_users"), r.getAs[Double]("p_base"),
          r.getAs[Long]("n_required"), r.getAs[Boolean]("feasible")))
      .toMap
    assert(rows.size == 5)
    val ev = graft.ops.OpsKit.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("value")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val users = ev.groupBy(_._1).map { case (_, es) =>
      es.exists(e => e._2 == "purchase" && e._3 > 150.0) }
    val n = users.size.toLong
    val p1 = users.count(identity).toDouble / n
    val z = 1.959963984540054 + 0.8416212335729143
    for ((mde, (gn, gp, greq, gf)) <- rows) {
      assert(gn == n)
      assert(gp == p1)
      val p2 = p1 + mde
      val want = math.ceil(z * z *
        (p1 * (1.0 - p1) + p2 * (1.0 - p2)) / (mde * mde)).toLong
      assert(greq == want, s"mde $mde req $greq vs $want")
      assert(gf == (n / 2 >= want))
    }
  }
}
