package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.GovernanceOps

/** Round-7 additions: integer PageRank (q133), token-window dedup (q132),
  * Gopher-style quality gates (q134), and the LSH recall audit (q135). */
class QualityGraphOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  /** Scalar reference of q133's integer recurrence — written against maps
    * and Longs, no Spark, so the distributed plan is checked against an
    * independent implementation rather than itself. */
  private def scalarPagerank(
      nodes: Seq[Long], undirected: Seq[(Long, Long)], iters: Int)
      : Map[Long, Long] = {
    val adj = undirected
      .flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .filter { case (a, b) => a != b }
      .distinct
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val deg = adj.view.mapValues(_.size.toLong).toMap
    var r = nodes.map(_ -> 1000000000000L).toMap
    for (_ <- 1 to iters) {
      val contrib = scala.collection.mutable.Map.empty[Long, Long]
        .withDefaultValue(0L)
      for ((u, vs) <- adj; v <- vs) contrib(v) += r(u) / deg(u)
      r = nodes.map(n => n -> (150000000000L + 85L * contrib(n) / 100L)).toMap
    }
    r
  }

  test("q133 engine matches the scalar recurrence on a planted star graph") {
    import spark.implicits._
    // star (hub 0, leaves 1-4) + pair (6,7) + isolated node 5, with a
    // duplicate, a reversed, and a self-loop edge thrown in
    val nodes = (0L to 7L).toDF("doc_id")
    val pairs = Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L), (1L, 0L),
      (0L, 1L), (5L, 5L), (6L, 7L)).toDF("id1", "id2")
    val got = GovernanceOps.integerPagerank(nodes, pairs, 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val want = scalarPagerank(0L to 7L,
      Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L), (6L, 7L)), 3)
    assert(got.view.mapValues(_._2).toMap == want)
    // the hub out-centralities the ranking exists to expose
    assert(got(0L)._2 > got(1L)._2, "hub must outrank a leaf")
    assert(got(5L) == ((0L, 150000000000L)), "isolated node keeps the base")
    assert(got(0L)._1 == 4L && got(1L)._1 == 1L && got(6L)._1 == 1L)
    // floor division only sheds mass — total can never exceed N·10^12
    assert(got.values.map(_._2).sum <= 8L * 1000000000000L)
  }

  test("q141 engine matches a scalar synchronous LPA on a planted graph") {
    import spark.implicits._
    // triangle {0,1,2} bridged by edge 2-3 to pair {3,4}; isolated 5;
    // dirty input: duplicate, reversed, and self-loop edges
    val nodes = (0L to 5L).toDF("doc_id")
    val pairs = Seq((0L, 1L), (0L, 2L), (1L, 2L), (2L, 1L), (0L, 1L),
      (2L, 3L), (3L, 4L), (5L, 5L)).toDF("id1", "id2")
    val clean = Seq((0L, 1L), (0L, 2L), (1L, 2L), (2L, 3L), (3L, 4L))
    // scalar synchronous LPA, same tie-break (max count, min label)
    val adj = clean.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .distinct.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var lbl = (0L to 5L).map(n => n -> n).toMap
    for (_ <- 1 to 3) {
      lbl = lbl.map { case (n, old) =>
        n -> adj.get(n).fold(old) { nbrs =>
          nbrs.map(lbl).groupBy(identity).view.mapValues(_.size).toSeq
            .minBy { case (l, c) => (-c, l) }._1
        }
      }
    }
    val sizes = lbl.values.groupBy(identity).view.mapValues(_.size.toLong)
    val want = lbl.map { case (n, l) => (n, l, sizes(l)) }.toSet
    val got = GovernanceOps.labelPropagation(nodes, pairs, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want)
    // the dense triangle must be one community; the isolated node its own
    val byNode = got.map(t => t._1 -> t._2).toMap
    assert(byNode(0L) == byNode(1L) && byNode(1L) == byNode(2L))
    assert(byNode(5L) == 5L)
  }

  test("q142 matches a scalar 2-hop mean aggregation on the real corpus") {
    // buckets come from the native lsh_bucket expression (its own parity
    // is pinned by NativeExprSpec); everything downstream is re-derived
    // scalar: bucket graph, two floor-mean hops with self-carry
    val spark2 = TestSpark.spark
    val rows = spark2.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"),
        org.apache.spark.sql.functions.call_function(
          "lsh_bucket", col("embedding")).as("bucket"),
        col("embedding"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        r.getSeq[Float](2).map(x =>
          math.floor(x.toDouble * 1048576.0).toLong).toArray))
    val byBucket = rows.groupBy(_._2)
    val nbrs = rows.map { case (id, b, _) =>
      id -> byBucket(b).map(_._1).filter(_ != id).toSeq }.toMap
    var feat = rows.map(r => r._1 -> r._3).toMap
    for (_ <- 1 to 2) {
      val prev = feat
      feat = feat.map { case (id, f) =>
        val ns = nbrs(id)
        id -> (if (ns.isEmpty) f
        else {
          val deg = ns.size.toDouble
          Array.tabulate(f.length) { i =>
            math.floor(ns.map(n => prev(n)(i)).sum.toDouble / deg).toLong
          }
        })
      }
    }
    val want = rows.map { case (id, _, _) =>
      (id, nbrs(id).size.toLong, feat(id).mkString(",")) }.sortBy(_._1)
    val got = SparkEntry.queries("q142_graph_feature_agg")(spark2, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .sortBy(_._1)
    assert(got.toSeq == want.toSeq)
  }

  test("q143 matches a scalar A-Priori reference on the real lineitem") {
    val rows = TestSpark.spark.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_orderkey"), col("l_partkey")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).distinct
    val s1 = rows.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val nOrders = rows.map(_._1).distinct.length.toLong
    val freq = s1.filter(_._2 >= 3).keySet
    val baskets = rows.filter(r => freq(r._2)).groupBy(_._1)
    val supp = baskets.values.toSeq
      .flatMap { b =>
        val ps = b.map(_._2).sorted
        for (i <- ps.indices; j <- i + 1 until ps.size) yield (ps(i), ps(j))
      }
      .groupBy(identity).view.mapValues(_.size.toLong)
      .filter(_._2 >= 2).toMap
    val want = supp.toSeq
      .map { case ((p1, p2), sp) =>
        (p1, p2, sp, s1(p1), s1(p2),
          sp.toDouble / s1(p1).toDouble,
          (sp.toDouble * nOrders.toDouble) /
            (s1(p1).toDouble * s1(p2).toDouble))
      }
      .sortBy { case (p1, p2, sp, _, _, _, _) => (-sp, p1, p2) }
      .take(20)
    val got = SparkEntry.queries("q143_basket_rules")(TestSpark.spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5), r.getDouble(6)))
      .sortBy(t => (-t._3, t._1, t._2)).toSeq
    assert(got == want)
    // A-Priori sanity: a pair's support never exceeds either item's
    got.foreach { case (_, _, sp, sa, sb, conf, lift) =>
      assert(sp <= math.min(sa, sb))
      assert(conf > 0.0 && conf <= 1.0)
      assert(lift > 0.0)
    }
  }

  test("q144 matches the quadratic dominance definition on real lineitem") {
    val pts = TestSpark.spark.read.parquet(s"$dir/lineitem.parquet")
      .groupBy(col("l_partkey"))
      .agg(min(floor(col("l_extendedprice") * lit(100.0) + lit(0.5))
        .cast("long")).as("pc"),
        sum(floor(col("l_quantity")).cast("long")).as("dc"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    def dominated(p: (Long, Long, Long)) = pts.exists(q =>
      q._2 <= p._2 && q._3 >= p._3 && (q._2 < p._2 || q._3 > p._3))
    val want = pts.filterNot(dominated).map(t => (t._1, t._2, t._3))
      .sortBy(_._1).toSeq
    val got = SparkEntry.queries("q144_pareto_skyline")(TestSpark.spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("q145 matches a quadratic within-block scalar reference") {
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val names = TestSpark.spark.read.parquet(s"$dir/part.parquet")
      .groupBy(col("p_name")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val byBlk = names.groupBy(_._1.split(" ").last)
    val want = byBlk.values.toSeq.flatMap { vs0 =>
      val vs = vs0.toSeq
      for {
        (n1, c1) <- vs; (n2, c2) <- vs if n1 < n2
        if math.abs(n1.length - n2.length) <= 3
        d = lev(n1, n2) if d <= 3
      } yield (n1, n2, d.toLong, c1, c2)
    }.sortBy(t => (t._1, t._2))
    val got = SparkEntry.queries("q145_fuzzy_match")(TestSpark.spark, dir)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(got == want)
    // the distance-0 (byte-identical) case belongs to exact dedup, not ER
    assert(got.forall(_._3 >= 1))
  }

  test("q146 sweep respects the banding containment order") {
    // each 4-row band is two 2-row bands (and each 8-row band two 4-row
    // bands), so a coarser config's candidate set is a SUBSET of the
    // finer one's: n_cand and n_found must be monotone in band count
    val rows = SparkEntry.queries("q146_lsh_band_sweep")(spark, dir)
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
      .sortBy(-_._1) // 16, 8, 4 bands
    assert(rows.map(t => (t._1, t._2)).toSeq ==
      Seq((16, 2), (8, 4), (4, 8)))
    val Seq(c16, c8, c4) = rows.map(_._3).toSeq
    val Seq(f16, f8, f4) = rows.map(_._5).toSeq
    assert(c16 >= c8 && c8 >= c4, s"candidates not monotone: $c16 $c8 $c4")
    assert(f16 >= f8 && f8 >= f4, s"found not monotone: $f16 $f8 $f4")
    // every config shares n_true, and recall is exactly found/true
    rows.foreach { case (_, _, _, nt, nf, rc) =>
      assert(nt > 0 && rc == nf.toDouble / nt.toDouble)
    }
    // the planted near-dups are actually findable at the default config
    assert(f8 > 0, "8x4 finds no planted pairs — signature drift?")
  }

  test("q147 matches a scalar exact-moment OLS on the real events") {
    val pts = graft.ops.OpsKit.events(TestSpark.spark, dir)
      .select(col("event_type"), unix_micros(col("ts")), col("value"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1) / 86400000000L,
        math.floor(r.getDouble(2) * 100.0 + 0.5).toLong))
    val want = pts.groupBy(_._1).toSeq.map { case (et, rows) =>
      val n = rows.length.toLong
      val sx = rows.map(r => BigInt(r._2)).sum.toDouble
      val sy = rows.map(r => BigInt(r._3)).sum.toDouble
      val sxy = rows.map(r => BigInt(r._2) * BigInt(r._3)).sum.toDouble
      val sxx = rows.map(r => BigInt(r._2) * BigInt(r._2)).sum.toDouble
      val syy = rows.map(r => BigInt(r._3) * BigInt(r._3)).sum.toDouble
      val nd = n.toDouble
      val dx = nd * sxx - sx * sx
      val dy = nd * syy - sy * sy
      val num = nd * sxy - sx * sy
      val slope = if (dx > 0.0) num / dx else Double.NaN
      val icept = if (dx > 0.0) (sy - (num / dx) * sx) / nd else Double.NaN
      // same left-assoc op sequence as the engine's column expression:
      // (((num/√dx)/√dy) * (num/√dx)) / √dy
      val r2 = if (dx > 0.0 && dy > 0.0)
        (num / math.sqrt(dx)) / math.sqrt(dy) *
          (num / math.sqrt(dx)) / math.sqrt(dy)
      else Double.NaN
      (et, n, slope, icept, r2)
    }.sortBy(_._1)
    val got = SparkEntry.queries("q147_trend_ols")(TestSpark.spark, dir)
      .collect()
      .map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) Double.NaN else r.getDouble(2),
        if (r.isNullAt(3)) Double.NaN else r.getDouble(3),
        if (r.isNullAt(4)) Double.NaN else r.getDouble(4)))
      .sortBy(_._1).toSeq
    assert(got.map(t => (t._1, t._2)) == want.map(t => (t._1, t._2)))
    got.zip(want).foreach { case (g, w) =>
      def eq(a: Double, b: Double) =
        (a.isNaN && b.isNaN) || a == b
      assert(eq(g._3, w._3) && eq(g._4, w._4) && eq(g._5, w._5),
        s"${g._1}: got ($g) want ($w)")
      // r² is a proportion of explained variance
      if (!g._5.isNaN) assert(g._5 >= 0.0 && g._5 <= 1.0 + 1e-12)
    }
  }

  test("q148 matches a scalar sorted-CDF cross-tab on the real events") {
    val rows = graft.ops.OpsKit.events(TestSpark.spark, dir)
      .select(col("event_type"), col("value")).collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    val n = rows.length.toLong
    val sortedVals = rows.map(_._2).sorted
    // inclusive rank of each distinct value via one sorted pass
    val f = sortedVals.zipWithIndex.groupBy(_._1).view
      .mapValues(g => g.map(_._2).max + 1L).toMap
    val decOf = (v: Double) => (f(v) * 10 - 1) / n
    val want = rows.groupBy(r => (r._1, decOf(r._2))).toSeq
      .map { case ((et, dec), g) => (et, dec, g.length.toLong) }
    val totals = rows.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val wantFull = want
      .map { case (et, dec, c) =>
        (et, dec, c, c.toDouble / totals(et).toDouble) }
      .sortBy(t => (t._1, t._2))
    val got = SparkEntry.queries("q148_global_decile_mix")(
        TestSpark.spark, dir)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(got == wantFull)
    // shares within a type sum to exactly 1 (counts partition the type)
    got.groupBy(_._1).foreach { case (et, g) =>
      assert(g.map(_._3).sum == totals(et), s"$et counts don't partition")
    }
  }

  test("q149 matches a scalar FK cascade on the real tables") {
    val sp = TestSpark.spark
    val delC = sp.read.parquet(s"$dir/customer.parquet")
      .filter(col("c_nationkey") === 3)
      .select(col("c_custkey")).collect().map(_.getLong(0)).toSet
    val ord = sp.read.parquet(s"$dir/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val delO = ord.filter(o => delC(o._2)).map(_._1).toSet
    val liKeys = sp.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_orderkey")).collect().map(_.getLong(0))
    val nCust = sp.read.parquet(s"$dir/customer.parquet").count()
    val want = Seq(
      ("customer", nCust, delC.size.toLong, nCust - delC.size),
      ("orders", ord.length.toLong, delO.size.toLong,
        ord.length - delO.size),
      ("lineitem", liKeys.length.toLong, liKeys.count(delO).toLong,
        (liKeys.length - liKeys.count(delO)).toLong)).sortBy(_._1)
    val got = SparkEntry.queries("q149_erasure_cascade")(sp, dir)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    assert(got == want)
    // the cascade actually bites at every level on this fixture
    assert(got.forall(t => t._3 > 0 && t._4 > 0))
  }

  test("q132 matches a scalar first-wins reference over the real corpus") {
    val out = SparkEntry.queries("q132_window_dedup")(spark, dir).cache()
    val copies = out.filter(col("doc_id") >= 100000L)
    assert(copies.count() > 0, "the planted dup corpus is missing")
    assert(copies.filter(col("n_kept") =!= 0L).count() == 0,
      "a copy window beat its original's order key")
    // scalar reference: same corpus, Scala collections, no Spark — windows
    // are 20-token slices, the minimal (doc_id, win_idx) key owns a window
    // (note: NATURAL window collisions between originals exist in the
    // tiny-vocab testdata — short final windows repeat — so the reference
    // must model global first-wins, not per-doc bookkeeping)
    val texts = graft.ops.LlmKit.corpusWithDups(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getString(1))
    val wins = texts.flatMap { case (id, t) =>
      t.split(" ", -1).grouped(20).zipWithIndex
        .map { case (w, i) => (id, i.toLong, w.mkString(" ")) }
    }
    val firstKey = wins.groupBy(_._3).view
      .mapValues(_.map(w => w._1 * 1000000L + w._2).min).toMap
    val want = wins.groupBy(_._1).view.mapValues { ws =>
      val kept = ws.count(w => firstKey(w._3) == w._1 * 1000000L + w._2)
      (ws.size.toLong, kept.toLong, ws.size.toLong - kept)
    }.toMap
    val got = out.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(got == want)
  }

  test("q134: each gate fires on its planted violation, composite ANDs") {
    import spark.implicits._
    val tmp = TestSpark.tempDir("gopher").toString
    val w4 = (1 to 48).map(i => f"w$i%03d") // 4-char distinct tokens
    val docs = Seq(
      // 50 tokens, 4-char words, two stop words, no repetition: keeps
      (1L, (w4 ++ Seq("the", "a")).mkString(" ")),
      // 39 tokens: fails g_len only
      (2L, (w4.take(37) ++ Seq("the", "a")).mkString(" ")),
      // one token at 42% frequency: fails g_rep
      (3L, (w4.take(27) ++ Seq.fill(21)("spam") ++ Seq("the", "a"))
        .mkString(" ")),
      // mean word length 10.7: fails g_wordlen
      (4L, ((1 to 48).map(i => f"w$i%010d") ++ Seq("the", "a"))
        .mkString(" ")),
      // no stop words at all: fails g_stop
      (5L, (w4 ++ Seq("w049", "w050")).mkString(" "))
    ).toDF("doc_id", "text")
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = SparkEntry.queries("q134_gopher_gates")(spark, tmp)
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(2), r.getBoolean(3), r.getBoolean(4), r.getBoolean(5),
          r.getBoolean(6))).toMap
    assert(out(1L) == ((true, true, true, true, true)))
    assert(out(2L) == ((false, true, true, true, false)))
    assert(out(3L) == ((true, true, true, false, false)))
    assert(out(4L) == ((true, false, true, true, false)))
    assert(out(5L) == ((true, true, false, true, false)))
  }

  test("q135: recall is a ratio of the exact pair set and banding is honest") {
    val out = SparkEntry.queries("q135_lsh_recall")(spark, dir)
      .collect().map(r =>
        r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.nonEmpty, "no exact pairs — the perturbed corpus is missing")
    out.foreach { case (band, (nExact, nLsh, recall)) =>
      assert(band >= 5L && band <= 10L, s"band $band outside J ∈ [0.5, 1]")
      assert(nLsh <= nExact, s"band $band: LSH found pairs brute force missed")
      assert(recall >= 0.0 && recall <= 1.0)
    }
    // the perturbed twins live in the top bands; 8×4 banding at J ≈ 0.9
    // collides with near-certainty, so recall there must be high
    val top = out.filter(_._1 >= 9L)
    assert(top.nonEmpty && top.forall(_._2._3 >= 0.8),
      s"top-band recall collapsed: ${top.mkString(", ")}")
  }

  test("q137: ADC rankings are complete, sorted, non-negative, deterministic") {
    val run1 = SparkEntry.queries("q137_pq_adc")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3))).sortBy(r => (r._1, r._4))
    assert(run1.nonEmpty)
    run1.groupBy(_._1).foreach { case (q, rows) =>
      assert(rows.map(_._4).toSeq == (1L to 5L), s"query $q ranks broken")
      val dists = rows.sortBy(_._4).map(_._3)
      assert(dists.forall(_ >= 0.0), s"query $q negative ADC distance")
      assert(dists.zip(dists.tail).forall { case (a, b) => a <= b },
        s"query $q distances not monotone with rank")
    }
    // partition-count determinism: the decimal ADC sum and (dist, vec_id)
    // tiebreak must make the ranking independent of physical planning
    val run2 = SparkEntry.queries("q137_pq_adc")(spark, dir)
      .repartition(7).collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2), r.getLong(3))).sortBy(r => (r._1, r._4))
    assert(run1.toSeq == run2.toSeq)
  }

  test("q138 matches a scalar greedy k-center run on the real corpus") {
    // independent scalar implementation: quantize, then farthest-point
    // traversal with (max dist, min vec_id) tie-breaks, then assignment
    val vecs = TestSpark.spark.read
      .parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
      .collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(x =>
          math.floor(x.toDouble * 1048576.0).toLong).toArray)
      .sortBy(_._1)
    def d2(a: Array[Long], b: Array[Long]): Long =
      a.indices.map(i => (a(i) - b(i)) * (a(i) - b(i))).sum
    val byId = vecs.toMap
    var selected = Vector((1, 0L, 0L)) // (rank, vec_id, d_sel)
    var mind = vecs.map { case (id, v) => id -> d2(v, byId(0L)) }.toMap
    for (r <- 2 to 5) {
      val (pid, pd) = mind.toSeq.maxBy { case (id, dd) => (dd, -id) }
      selected :+= ((r, pid, pd))
      mind = mind.map { case (id, dd) =>
        id -> math.min(dd, d2(byId(id), byId(pid))) }
    }
    val cells = vecs.map { case (id, v) =>
      selected.map { case (r, sid, _) => (d2(v, byId(sid)), r) }.min
    }
    val expected = selected.map { case (r, sid, dsel) =>
      val cell = cells.filter(_._2 == r)
      (r, sid, dsel, cell.size.toLong,
        if (cell.isEmpty) 0L else cell.map(_._1).max)
    }.sortBy(_._1)
    val got = SparkEntry.queries("q138_kcenter_coreset")(
        TestSpark.spark, dir)
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
      .sortBy(_._1).toVector
    assert(got == expected)
    // greedy k-center invariant: selection distances are non-increasing
    val dsels = got.drop(1).map(_._3)
    assert(dsels.zip(dsels.tail).forall { case (a, b) => a >= b })
  }

  test("q139 matches a scalar BM25 reference on the real corpus") {
    // independent scalar BM25 (lift idf, k1 = 1.5, b = 0.75) over the
    // same tokenization; checks the full top-5 per query
    val docs = TestSpark.spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) ->
        r.getString(1).split(" ", -1).filter(_.nonEmpty).toSeq).toMap
    val tf = docs.map { case (id, ts) =>
      id -> ts.groupBy(identity).view.mapValues(_.size.toLong).toMap }
    val dl = tf.view.mapValues(_.values.sum).toMap
    val n = docs.size.toLong
    val avgdl = dl.values.sum.toDouble / n.toDouble
    val dfm = tf.values.flatMap(_.keys).groupBy(identity)
      .view.mapValues(_.size.toLong).toMap
    def score(qTerms: Set[String], doc: Long): BigDecimal =
      qTerms.toSeq.flatMap { t =>
        tf(doc).get(t).map { f =>
          val idf = (n.toDouble - dfm(t).toDouble + 0.5) /
            (dfm(t).toDouble + 0.5)
          val tp = f.toDouble * 2.5 / (f.toDouble + 1.5 *
            (0.25 + 0.75 * (dl(doc).toDouble / avgdl)))
          BigDecimal(idf * tp).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        }
      }.sum
    val expected = docs.keys.filter(_ % 100 == 0).toSeq.sorted.flatMap { q =>
      val qs = tf(q).keySet
      docs.keys.toSeq
        .map(doc => (q, doc, score(qs, doc)))
        .filter(_._3 > 0)
        .sortBy { case (_, doc, sc) => (-sc, doc) }
        .take(5).zipWithIndex
        .map { case ((qq, doc, sc), i) => (qq, doc, sc.toDouble, i + 1L) }
    }
    val got = SparkEntry.queries("q139_bm25")(TestSpark.spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .sortBy(r => (r._1, r._4)).toSeq
    assert(got == expected)
  }

  test("q140 matches a sequential textbook Kaplan-Meier on the real events") {
    // sequential scalar KM: sort durations once, walk them in order with
    // a running at-risk count and a running product — the construction
    // the distributed phased/fold plan must agree with
    val ev = graft.ops.OpsKit.events(TestSpark.spark, dir)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")),
        col("value"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getDouble(3)))
    val subj = ev.groupBy(_._1).toSeq.map { case (_, rows) =>
      val t0 = rows.map(_._3).min
      // the event is the HIGH-VALUE conversion (q178's outcome), r12
      val tp = rows.filter(r => r._2 == "purchase" && r._4 > 150.0)
        .map(_._3).reduceOption(_ min _)
      val end = tp.getOrElse(rows.map(_._3).max)
      ((end - t0) / 3600000000L, tp.isDefined)
    }
    val durs = subj.map(_._1).distinct.sorted
    val perDur = durs.map { dur =>
      (dur, subj.count(x => x._1 == dur && x._2).toLong,
        subj.count(x => x._1 == dur && !x._2).toLong)
    }
    var atRisk = subj.size.toLong
    var surv = BigDecimal(1)
    val steps = Vector.newBuilder[(Long, Long, Long, Double)]
    for ((dur, dcnt, ccnt) <- perDur) {
      val f = 1.0 - dcnt.toDouble / atRisk.toDouble
      surv = surv * BigDecimal(f)
      if (dcnt > 0) steps += ((dur, dcnt, atRisk, surv.toDouble))
      atRisk -= dcnt + ccnt
    }
    // life-table censoring: roll censored counts in [t_i, t_{i+1}) up
    // to event time t_i (censored before the first event are risk-set
    // only) — the r12 reporting contract
    val eventDurs = perDur.filter(_._2 > 0).map(_._1)
    def cInt(t: Long): Long = {
      val next = eventDurs.find(_ > t).getOrElse(Long.MaxValue)
      perDur.filter(p => p._1 >= t && p._1 < next).map(_._3).sum
    }
    val expected = steps.result().map { case (dur, d2, risk, sv) =>
      (dur, d2, cInt(dur), risk, sv)
    }
    val got = SparkEntry.queries("q140_kaplan_meier")(TestSpark.spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
      .sortBy(_._1).toVector
    // the engine's bucketed fold nests multiplications differently from
    // the sequential walk, so compare survival to 1e-12 relative, the
    // integer columns exactly
    assert(got.map(t => (t._1, t._2, t._3, t._4)) ==
      expected.map(t => (t._1, t._2, t._3, t._4)))
    got.zip(expected).foreach { case (g, e) =>
      assert(math.abs(g._5 - e._5) <= 1e-12 * math.max(1.0, e._5.abs),
        s"surv at dur=${g._1}: ${g._5} vs ${e._5}")
    }
    // survival is non-increasing and in [0, 1] (exactly 0 when the
    // largest duration is an event: d = n_risk at the last step)
    val ss = got.map(_._5)
    assert(ss.forall(x => x >= 0.0 && x <= 1.0))
    assert(ss.zip(ss.tail).forall { case (a, b) => a >= b })
  }

  test("q136 matches a scalar KS computation on planted distributions") {
    import spark.implicits._
    val tmp = TestSpark.tempDir("ks").toString
    // click uniform-ish low, purchase shifted high; shared values (ties
    // across sides), duplicates within a side, and values straddling the
    // ⌊value⌋ bucket boundary the distributed CDF partitions on
    val click = Seq(0.5, 0.5, 1.2, 1.9, 2.0, 2.4, 3.7, 5.0)
    val purch = Seq(1.9, 2.4, 4.1, 4.2, 4.2, 5.0, 6.3)
    val rows = click.map(("click", _)) ++ purch.map(("purchase", _)) ++
      Seq(("view", 0.1)) // must be ignored
    rows.zipWithIndex
      .map { case ((t, v), i) =>
        (i.toLong, i.toLong * 1000000000L, i.toLong % 3, t, v, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val got = SparkEntry.queries("q136_ks_drift")(spark, tmp).collect()
    assert(got.length == 1)
    val r = got.head
    // scalar reference: sup over all observed values of |F1·n2 − F2·n1|
    val (n1, n2) = (click.size.toLong, purch.size.toLong)
    val pts = (click ++ purch).distinct.sorted
    val nums = pts.map(v => (v,
      math.abs(click.count(_ <= v) * n2 - purch.count(_ <= v) * n1)))
    val mx = nums.map(_._2).max
    assert(r.getLong(0) == n1 && r.getLong(1) == n2)
    assert(r.getLong(2) == mx, s"ks_num ${r.getLong(2)} != scalar $mx")
    assert(r.getDouble(3) == nums.filter(_._2 == mx).map(_._1).min)
    assert(r.getDouble(4) == mx.toDouble / (n1 * n2).toDouble)
  }

  test("q185 wedge enumeration caps a planted hot hub at C(cap,2)") {
    import spark.implicits._
    // one ubiquitous hub (0) with 500 neighbors — the degree-squared
    // worst case the cap exists for — plus a benign 3-star (hub 1000)
    // whose wedges must survive untouched
    val hot = (1L to 500L).flatMap(i => Seq((0L, i), (i, 0L)))
    val benign = Seq((1000L, 2001L), (1000L, 2002L), (1000L, 2003L))
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val edges = (hot ++ benign).toDF("src", "dst")
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val wedges = GovernanceOps.hubCappedWedges(edges, deg)
      .select(col("a"), col("z"), col("b"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val cap = GovernanceOps.WedgeHubCap
    val hubWedges = wedges.filter(_._2 == 0L)
    // capped: exactly the C(cap,2) pairs over the cap SMALLEST neighbors
    assert(hubWedges.length == cap * (cap - 1) / 2,
      s"hot hub produced ${hubWedges.length} wedges")
    assert(hubWedges.forall { case (a, _, b) => a <= cap && b <= cap },
      "cap must keep the lexicographically smallest neighbors")
    // the benign star is untouched: C(3,2) wedges through hub 1000
    assert(wedges.count(_._2 == 1000L) == 3)
    // degz carries the FULL hub degree, not the capped one
    val degz = GovernanceOps.hubCappedWedges(edges, deg)
      .filter(col("z") === 0L).select(col("degz")).head().getLong(0)
    assert(degz == 500L, s"degz $degz must be the uncapped degree")
  }
}
