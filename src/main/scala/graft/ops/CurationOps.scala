package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Training-data curation operators over `documents` — the preprocessing
  * steps between raw corpus and training shards:
  *
  *  - q42 weighted SimHash: term-frequency-weighted signature (the
  *    production variant of q28's set-based SimHash — a repeated token
  *    pulls its bits proportionally);
  *  - q43 chunking: split each document into fixed-size token windows with
  *    overlap, the canonical long-document → training-sample step. Pure
  *    per-row array work, no shuffle;
  *  - q44 stratified sampling: deterministic hash-based per-stratum rates
  *    (downsample the dominant language, keep the tail) — reproducible
  *    across runs and engines because the sampling key is a content hash,
  *    not an RNG;
  *  - q70 content-defined chunking: rolling-hash boundaries (Rabin-style
  *    CDC) — an edit shifts one chunk, not every window after it;
  *  - q89 weighted PPS sampling (sequential Poisson): hash-priority
  *    top-k per stratum, probability proportional to document size;
  *  - q90 per-language length-band trim: exact [p05, p95] percentile
  *    bounds per language, broadcast back as the outlier filter;
  *  - q96 snapshot drift gate: per-bucket chi-square terms between two
  *    corpus snapshots (integer histograms, log-free arithmetic);
  *  - q98 corpus snapshot diff: added/removed/changed ids via a
  *    full-outer key join + content-hash compare — the CDC input to
  *    incremental dedup (q56);
  *  - q99 windowed drift monitor: the continuous form of q96, running
  *    [[graft.streaming.StreamOps.driftMonitor]] in batch mode so the
  *    streaming operator sits under the driver's hash gate;
  *  - q105 dataset card: the one-row corpus health summary (volumes,
  *    composition, exact-dup signal) a release datasheet leads with;
  *  - q124 largest-remainder quota sample: exact integer apportionment
  *    of a fixed sample budget across sources (Hamilton's method) +
  *    deterministic hash-priority selection — sample size exactly T by
  *    construction, no RNG, no doubles in allocation.
  */
object CurationOps {
  import LlmKit._
  import OpsKit._

  private val ChunkSize = 32
  private val ChunkStride = 24 // 8-token overlap

  /** Shared oracle fragment: the BUILD's stage 1–4 selection — kept-pool
    * DoReMi targets ([[keptDoremiCteSql]]) → water-filled quotas →
    * hash-ranked per-source selection, ending in `sel` (source, doc_id,
    * text) and the `quota` table. Replayed by q299 (greedy build cert)
    * AND q311 (packing-policy pricing of the published artifact), so
    * the two oracles can never disagree about WHICH documents the build
    * publishes. */
  private lazy val buildSelCteSql: String =
    s"""$keptDoremiCteSql,
       |tkt AS (SELECT CAST(COUNT(*) // 2 AS BIGINT) AS t FROM kd),
       |caps AS (SELECT source AS src, CAST(COUNT(*) AS BIGINT) AS cap
       |         FROM kd GROUP BY source),
       |wf AS (SELECT c.src, c.cap, a8.a,
       |         CAST(c.cap AS DOUBLE) / a8.a AS nrm
       |       FROM caps c JOIN a8 ON a8.src = c.src),
       |wfr AS MATERIALIZED (
       |  SELECT src, cap, a, nrm,
       |    CAST(row_number() OVER (ORDER BY nrm, src) AS BIGINT) AS r,
       |    CAST(SUM(cap) OVER (ORDER BY nrm, src
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS pcap,
       |    SUM(CAST(a AS DECIMAL(28,12))) OVER (ORDER BY nrm, src
       |      ROWS UNBOUNDED PRECEDING) AS pa
       |  FROM wf),
       |wft AS (SELECT SUM(CAST(a AS DECIMAL(28,12))) AS sa,
       |          CAST(COUNT(*) AS BIGINT) AS n FROM wf),
       |wcand AS (
       |  SELECT w.r, w.nrm, w.pcap,
       |    CAST(t.t - w.pcap AS DOUBLE) / CAST(s.sa - w.pa AS DOUBLE)
       |      AS lvl
       |  FROM wfr w CROSS JOIN tkt t CROSS JOIN wft s
       |  WHERE w.r < s.n
       |  UNION ALL
       |  SELECT 0, CAST(-1 AS DOUBLE), 0,
       |    CAST(t.t AS DOUBLE) / CAST(s.sa AS DOUBLE)
       |  FROM tkt t CROSS JOIN wft s),
       |wlvl AS (
       |  SELECT c.lvl, c.r, c.pcap
       |  FROM wcand c JOIN wfr nx ON nx.r = c.r + 1
       |  WHERE c.nrm <= c.lvl AND nx.nrm > c.lvl),
       |unq AS (
       |  SELECT w.src, w.a,
       |    CAST(FLOOR(w.a * l.lvl) AS BIGINT) AS fq,
       |    w.a * l.lvl - FLOOR(w.a * l.lvl) AS rem
       |  FROM wfr w CROSS JOIN wlvl l WHERE w.r > l.r),
       |wdef AS (SELECT CAST(MAX(t.t) AS BIGINT)
       |           - CAST(MAX(l.pcap) AS BIGINT)
       |           - CAST(SUM(u.fq) AS BIGINT) AS deficit
       |         FROM unq u CROSS JOIN tkt t CROSS JOIN wlvl l),
       |quota AS MATERIALIZED (
       |  SELECT w.src, w.a, CAST(w.cap AS BIGINT) AS quota
       |  FROM wfr w CROSS JOIN wlvl l WHERE w.r <= l.r
       |  UNION ALL
       |  SELECT u.src, u.a,
       |    CAST(u.fq + CASE WHEN CAST(row_number() OVER (
       |        ORDER BY u.rem DESC, u.src) AS BIGINT)
       |        <= d.deficit THEN 1 ELSE 0 END AS BIGINT)
       |  FROM unq u CROSS JOIN wdef d),
       |rk299 AS (
       |  SELECT kd.source, kd.doc_id, kd.text,
       |    CAST(row_number() OVER (PARTITION BY kd.source ORDER BY
       |      ${strHashSql("concat('q299:', CAST(doc_id AS VARCHAR))")},
       |      doc_id) AS BIGINT) AS rk
       |  FROM kd),
       |sel AS (
       |  SELECT r.source, r.doc_id, r.text
       |  FROM rk299 r JOIN quota q ON q.src = r.source
       |  WHERE r.rk <= q.quota)""".stripMargin

  /** Shared oracle fragment: decisions -> kept pool -> kept-only DoReMi
    * Hedge rounds ending in `a8` (per-source alpha) plus the `kd`
    * kept-document table — replayed by BOTH the q299 build certification
    * and the q301 mixture monitor, so the two oracles can never disagree
    * about the target mixture. */
  /** Deferral-twin constants (q310/q314): synthetic flood anchor window
    * (floor(1700000000/3600)·3600), the 9 ragged hour windows the
    * 8-hour span covers, and the per-window token budget the DoReMi
    * weights are scaled by. */
  private val DeferW0 = 1699999200L
  private val DeferNW = 9
  private val DeferBudget = 4096.0

  /** The pinned ranked deferral corpus shared by q310 (one hop) and
    * q314 (two hops): q305's synthetic hour-window flood, DoReMi
    * quotas, and the per-(window, source) hash-priority token cumsum.
    * ONE definition, so the two deferral rules can never disagree
    * about ranking or quotas; [[deferRankCteSql]] is its oracle
    * rendering. */
  private def deferRankBase(s: SparkSession, d: String,
      targets: Seq[(String, Double)]): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("wsec"), col("source"))
      .orderBy(col("h"), col("doc_id"))
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val wt = {
      import s.implicits._
      broadcast(targets.toDF("src", "weight"))
    }
    OpsKit.pinned(tbl(s, d, "documents")
      .select(
        (lit(1700000000L) + pmod(col("doc_id") * 977, lit(28800L)))
          .as("tsec"),
        col("doc_id"),
        when(pmod(col("doc_id"), lit(3)) === 0, lit("src0"))
          .otherwise(col("source")).as("source"),
        size(split(col("text"), " ")).cast("long").as("n_toks"))
      .withColumn("wsec", col("tsec") - pmod(col("tsec"), lit(3600L)))
      .withColumn("widx",
        ((col("wsec") - lit(DeferW0)) / 3600).cast("int"))
      .join(wt, col("source") === col("src"))
      .withColumn("quota",
        floor(col("weight") * lit(DeferBudget)).cast("long"))
      .withColumn("h", LlmKit.strHash(
        concat(lit("q305:"), col("doc_id").cast("string"))))
      .withColumn("c", sum(col("n_toks")).over(w))
      .select(col("widx"), col("source"), col("doc_id"),
        col("n_toks"), col("quota"), col("c")))
  }

  /** Oracle rendering of [[deferRankBase]] as `fl$tag`/`rk$tag` CTEs
    * (assumes `a8`, the DoReMi weight table, is in scope from
    * [[keptDoremiCteSql]]). */
  private def deferRankCteSql(tag: String): String =
    s"""fl$tag AS (
       |  SELECT (1700000000 + (doc_id * 977) % 28800) AS tsec, doc_id,
       |    CASE WHEN doc_id % 3 = 0 THEN 'src0' ELSE source END
       |      AS source,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
       |  FROM documents),
       |rk$tag AS MATERIALIZED (
       |  SELECT CAST((f.tsec - f.tsec % 3600 - $DeferW0) / 3600
       |      AS INTEGER) AS widx,
       |    f.source, f.doc_id, f.n_toks,
       |    CAST(FLOOR(a.a * $DeferBudget) AS BIGINT) AS quota,
       |    CAST(SUM(f.n_toks) OVER (
       |      PARTITION BY f.tsec - f.tsec % 3600, f.source
       |      ORDER BY ${LlmKit.strHashSql(
                "concat('q305:', CAST(f.doc_id AS VARCHAR))")}, f.doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      AS BIGINT) AS c
       |  FROM fl$tag f JOIN a8 a ON a.src = f.source)""".stripMargin

  private lazy val keptDoremiCteSql: String = {
        val iters = (1 to 8).map { t =>
          s"""r$t AS (
             |  SELECT a.src, a.a * m.m AS ar
             |  FROM a${t - 1} a JOIN mult m ON m.src = a.src),
             |z$t AS (SELECT ${dsumSql("ar")} AS z,
             |          CAST(COUNT(*) AS BIGINT) AS kk FROM r$t),
             |a$t AS MATERIALIZED (
             |  SELECT src, 0.99 * (ar / z) + 0.01 / CAST(kk AS DOUBLE)
             |    AS a
             |  FROM r$t, z$t)""".stripMargin
        }.mkString(",\n")
    s"""dec AS MATERIALIZED (
           |  SELECT doc_id, decision
           |  FROM (${GovernanceOps.curationDecisionTableSql})),
           |keep AS (SELECT doc_id FROM dec
           |         WHERE decision = 'keep' AND doc_id < 100000),
           |kd AS MATERIALIZED (
           |  SELECT d.doc_id, d.source, d.text
           |  FROM documents d JOIN keep USING (doc_id)),
           |dbg AS MATERIALIZED (
           |  SELECT doc_id, source, bg, CAST(COUNT(*) AS BIGINT) AS k
           |  FROM (
           |    SELECT doc_id, source,
           |      unnest([w[i] || chr(1) || w[i+1]
           |              for i in range(1, len(w))]) AS bg
           |    FROM (SELECT doc_id, source, string_split(text, ' ') AS w
           |          FROM documents)
           |    WHERE len(w) >= 2)
           |  GROUP BY doc_id, source, bg),
           |c AS (SELECT bg, CAST(SUM(k) AS BIGINT) AS c12,
           |        string_split(bg, chr(1))[1] AS w1
           |      FROM dbg GROUP BY bg),
           |p AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1
           |      FROM c GROUP BY w1),
           |v AS (SELECT string_split(bg, chr(1))[2] AS w2,
           |        CAST(SUM(c12) AS BIGINT) AS cu
           |      FROM c GROUP BY 1),
           |nt AS (SELECT CAST(SUM(cu) AS BIGINT) AS nu FROM v),
           |perdoc AS (
           |  SELECT b.doc_id, b.source,
           |    ${dsumSql("CAST(b.k AS DOUBLE) * (CAST(c.c12 AS DOUBLE)" +
          " / CAST(p.c1 AS DOUBLE))")}
           |      / CAST(SUM(b.k) AS DOUBLE) AS ref_prob,
           |    CAST(SUM(b.k * v.cu) AS DOUBLE)
           |      / (CAST(SUM(b.k) AS DOUBLE) * CAST(MAX(nt.nu) AS DOUBLE))
           |      AS proxy_prob
           |  FROM dbg b JOIN keep USING (doc_id)
           |  JOIN c USING (bg) JOIN p USING (w1)
           |  JOIN v ON v.w2 = string_split(b.bg, chr(1))[2]
           |  CROSS JOIN nt
           |  GROUP BY b.doc_id, b.source),
           |lam AS MATERIALIZED (
           |  SELECT source,
           |    ${dsumSql("GREATEST(ref_prob / proxy_prob - 1.0, 0.0)")}
           |      / CAST(COUNT(*) AS DOUBLE) AS excess_loss
           |  FROM perdoc GROUP BY source),
           |mult AS MATERIALIZED (
           |  SELECT source AS src, 1.0 + excess_loss AS m
           |  FROM lam),
           |a0 AS (SELECT src, CAST(1.0 AS DOUBLE) AS a FROM mult),
           |$iters""".stripMargin
  }

  /** q54's body, threshold-parameterized so CorpusBuildSpec and
    * ScaleProbe --skew can force the phased cumsum shape (the adaptive
    * default picks plain per-source windows at every test SF). See the
    * q54 registry comment and [[OpsKit.adaptivePackCumsum]]. */
  def sequencePack(s: SparkSession, d: String,
      threshold: Long = PackPhaseMinRows): DataFrame = {
    val C = 2048
    val slim = tbl(s, d, "documents")
      .select(col("source"), col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_toks"))
    adaptivePackCumsum(slim, threshold)
      .withColumn("bin_id",
        floor((col("cum") - col("n_toks")) / lit(C.toDouble)))
      .groupBy(col("source"), col("bin_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"))
  }

  /** q302's body, threshold-parameterized like [[sequencePack]].
    * Audit block size 256 (not q54's production 2048): at the fixture's
    * subsampled per-source volumes a 2048-token bin swallows every
    * source whole and no split ever happens — the metric must see
    * multi-bin layouts and boundary crossings to be exercised (r12
    * degeneracy discipline); the arithmetic is identical at any C.
    * The input subsample is q250/q280's deterministic unequal one (md5
    * keys, source-dependent 25/50/75% rates): the generator's equal
    * per-source volumes would make every per-source audit column
    * constant — sources must land on DIFFERENT bin counts and split
    * rates for the arithmetic to be exercised. */
  def packFragmentation(s: SparkSession, d: String,
      threshold: Long = PackPhaseMinRows): DataFrame = {
    val C = 256L
    val slim = tbl(s, d, "documents")
      .filter(LlmKit.strHash(col("doc_id").cast("string")) % 4 <
        LlmKit.strHash(col("source")) % 3 + 1)
      .select(col("source"), col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_toks"))
    adaptivePackCumsum(slim, threshold)
      .withColumn("crossings",
        floor((col("cum") - 1) / lit(C.toDouble)) -
          floor((col("cum") - col("n_toks")) / lit(C.toDouble)))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("n_tokens"),
        (max(floor((col("cum") - 1) / lit(C.toDouble))) + 1)
          .cast("long").as("n_bins"),
        sum(when(col("crossings") > 0, 1L).otherwise(0L))
          .as("n_split_docs"),
        sum(col("crossings") + 1).cast("long").as("n_fragments"),
        sum(when(col("crossings") > 0, col("n_toks")).otherwise(0L))
          .as("split_tokens"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("n_bins"), col("n_split_docs"), col("n_fragments"),
        (col("split_tokens").cast("double") /
          col("n_tokens").cast("double")).as("split_token_share"))
  }

  /** Shard-local best-fit-decreasing (BFD) bin packing — the
    * document-aware alternative to q54's greedy boundary-crossing
    * layout: no document is ever split across training rows; the price
    * is internal padding, which q304 prices against q302's
    * fragmentation metric (r15 verdict item 2).
    *
    * Input: the slim working set (source, doc_id, n_toks), every doc
    * ≤ `cap` tokens (longer docs are the chunker's job, q43). Docs are
    * sharded by id range — pb = doc_id div `shardIds` — and packed
    * independently within each (source, pb) shard: items sorted by
    * (n_toks DESC, doc_id), each placed into the FEASIBLE open bin with
    * the highest load (ties → lowest bin index), else a new bin. The
    * algorithm is inherently sequential per shard — this is the one
    * place a typed sorted-group fold is the right tool, and the shards
    * bound it: at 100 TB each (source, pb) group holds ≤ `shardIds`
    * docs, state is one long per open bin, and shards pack in parallel
    * across the cluster (shard-local packing costs at most one
    * under-filled bin per shard seam). Deterministic: order and
    * tie-breaks are total, so the oracle replays it exactly as a
    * per-shard recursive CTE.
    *
    * Output: input columns + (pb, bin) with bin 1-based within the
    * shard; (pb, bin) is the bin identity within a source. */
  def bestFitPack(slim: DataFrame, cap: Long, shardIds: Long): DataFrame = {
    val sess = slim.sparkSession
    import sess.implicits._
    slim
      .select(col("source"), floor(col("doc_id") / lit(shardIds))
        .cast("long").as("pb"), col("doc_id"), col("n_toks"))
      .as[(String, Long, Long, Long)]
      .groupByKey { case (src, pb, _, _) => (src, pb) }
      .flatMapSortedGroups(col("n_toks").desc, col("doc_id")) {
        case ((src, pb), it) =>
          val loads = scala.collection.mutable.ArrayBuffer.empty[Long]
          it.map { case (_, _, docId, n) =>
            var best = -1
            var bestLoad = -1L
            var i = 0
            while (i < loads.length) {
              if (loads(i) + n <= cap && loads(i) > bestLoad) {
                best = i; bestLoad = loads(i)
              }
              i += 1
            }
            val bin =
              if (best < 0) { loads += n; loads.length.toLong }
              else { loads(best) += n; (best + 1).toLong }
            (src, pb, docId, n, bin)
          }
      }
      .toDF("source", "pb", "doc_id", "n_toks", "bin")
  }

  def all: Seq[NamedQuery] = Seq(

    // ----- q42: TF-weighted SimHash ---------------------------------------
    NamedQuery(
      "q42_weighted_simhash",
      (s, d) =>
        tbl(s, d, "documents")
          .select(col("doc_id"),
            call_function("simhash16_weighted", col("text")).as("simhash")),
      Some {
        val hsSql =
          s"""list_transform(string_split(text, ' '), t -> ${strHashSql("t")})"""
        s"""SELECT doc_id,
           |  list_reduce(list_prepend(CAST(0 AS BIGINT),
           |    list_transform(range(0, 16), j ->
           |      CASE WHEN list_reduce(list_prepend(CAST(0 AS BIGINT),
           |          list_transform($hsSql, h ->
           |            CASE WHEN (h & CAST(pow(2, j) AS BIGINT)) > 0
           |                 THEN CAST(1 AS BIGINT)
           |                 ELSE CAST(-1 AS BIGINT) END)),
           |          (a, b) -> a + b) > 0
           |        THEN CAST(pow(2, j) AS BIGINT)
           |        ELSE CAST(0 AS BIGINT) END)),
           |    (a, b) -> a + b) AS simhash
           |FROM documents""".stripMargin
      }),

    // ----- q43: fixed-size token chunks with overlap ----------------------
    NamedQuery(
      "q43_chunking",
      (s, d) => {
        // token array bound before the lambda (HOF recompute trap —
        // an inline split re-tokenizes the doc once per chunk)
        val toks = col("wt")
        val nChunks = greatest(
          ceil((size(toks) - lit(ChunkSize)) / lit(ChunkStride.toDouble))
            .cast("int") + 1, lit(1))
        tbl(s, d, "documents")
          .select(col("doc_id"), split(col("text"), " ").as("wt"))
          .select(col("doc_id"),
            posexplode(transform(sequence(lit(0), nChunks - 1), i =>
              slice(toks, i * ChunkStride + 1, lit(ChunkSize))))
              .as(Seq("chunk_idx", "chunk_toks")))
          .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
            array_join(col("chunk_toks"), " ").as("chunk_text"),
            size(col("chunk_toks")).cast("long").as("n_tokens"))
      },
      Some {
        val toks = "string_split(text, ' ')"
        val nChunks =
          s"greatest(CAST(ceil((len($toks) - $ChunkSize) / ${ChunkStride.toDouble}) AS BIGINT) + 1, 1)"
        s"""SELECT doc_id, i - 1 AS chunk_idx,
           |  array_to_string(($toks)[(i-1)*$ChunkStride + 1 :
           |    (i-1)*$ChunkStride + $ChunkSize], ' ') AS chunk_text,
           |  len(($toks)[(i-1)*$ChunkStride + 1 :
           |    (i-1)*$ChunkStride + $ChunkSize]) AS n_tokens
           |FROM documents, unnest(range(1, $nChunks + 1)) AS u(i)"""
          .stripMargin
      }),

    // ----- q44: deterministic stratified sampling -------------------------
    // Keep 40% of 'en' (the dominant stratum), 100% of everything else.
    // The sampling decision is md5(doc_id)-based: stable under re-runs,
    // partition counts, and engines — a requirement for reproducible
    // training mixes.
    NamedQuery(
      "q44_stratified_sample",
      (s, d) => {
        val bucket = pmod(strHash(col("doc_id").cast("string")), lit(100))
        val rate = when(col("lang") === "en", 40).otherwise(100)
        tbl(s, d, "documents")
          .filter(bucket < rate)
          .select(col("doc_id"), col("lang"), bucket.as("sample_bucket"))
      },
      Some(s"""SELECT doc_id, lang,
              |  ${strHashSql("CAST(doc_id AS VARCHAR)")} % 100 AS sample_bucket
              |FROM documents
              |WHERE ${strHashSql("CAST(doc_id AS VARCHAR)")} % 100
              |  < CASE WHEN lang = 'en' THEN 40 ELSE 100 END""".stripMargin)),

    // ----- q54: sequence packing into fixed token budgets -----------------
    // The "pack documents into 2048-token training rows" step: within each
    // source shard, docs are laid out in doc_id order and a doc belongs to
    // the bin its FIRST token lands in (greedy boundary-crossing pack —
    // deterministic, no bin search). The running layout offset is
    // OpsKit.adaptivePackCumsum's per-source cumsum: plain per-source
    // windows while every source fits one task, the phased (source,
    // bucket) shape — bounded local windows + broadcast bucket-prefix
    // offsets — when a dominant source would serialize into one window
    // task (the r15-verdict back-port of CorpusBuild stage 4's de-skew;
    // both shapes are value-identical). Output is the per-bin manifest
    // (docs, tokens) a packing writer would consume. All inputs are
    // integers; bin_id's floor-divide is exact below 2^53 in both engines.
    NamedQuery(
      "q54_sequence_pack",
      (s, d) => sequencePack(s, d),
      Some("""WITH c AS (
             |  SELECT source, doc_id,
             |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
             |    CAST(SUM(len(string_split(text, ' '))) OVER (
             |      PARTITION BY source ORDER BY doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS BIGINT) AS cum
             |  FROM documents)
             |SELECT source,
             |  CAST(FLOOR((cum - n_toks) / 2048.0) AS BIGINT) AS bin_id,
             |  COUNT(*) AS n_docs, CAST(SUM(n_toks) AS BIGINT) AS n_tokens
             |FROM c GROUP BY source, bin_id""".stripMargin)),

    // ----- q302: sequence-fragmentation audit of the packed layout --------
    // The cost report for q54's boundary-crossing packing: a document
    // whose token span crosses a 2048-token bin boundary is SPLIT across
    // training rows — attention never sees it whole, and the fraction of
    // split documents (and of tokens living in split documents) is the
    // metric a packing policy is judged by (the motivation for
    // best-fit / document-aware packing schemes). Per source: docs,
    // tokens, bins touched, split documents (≥1 boundary crossed),
    // fragments (each crossing adds one), and the token share captive in
    // split docs. Crossings per doc are pure integer arithmetic on the
    // SAME cumsum q54 computes — floor((cum−1)/C) − floor((cum−n)/C) —
    // so the audit rides one corpus scan and q54's adaptive per-source
    // cumsum (plain windows small, phased (source, bucket) under skew);
    // every output is an integer or one trailing exact-decimal ratio.
    NamedQuery(
      "q302_pack_fragmentation",
      (s, d) => packFragmentation(s, d),
      Some(s"""WITH sub AS (
             |  SELECT * FROM documents
             |  WHERE ${LlmKit.strHashSql("CAST(doc_id AS VARCHAR)")} % 4
             |    < ${LlmKit.strHashSql("source")} % 3 + 1),
             |c AS (
             |  SELECT source, doc_id,
             |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
             |    CAST(SUM(len(string_split(text, ' '))) OVER (
             |      PARTITION BY source ORDER BY doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS BIGINT) AS cum
             |  FROM sub),
             |x AS (
             |  SELECT source, n_toks,
             |    CAST(FLOOR((cum - 1) / 256.0) AS BIGINT)
             |      - CAST(FLOOR((cum - n_toks) / 256.0) AS BIGINT)
             |      AS crossings,
             |    CAST(FLOOR((cum - 1) / 256.0) AS BIGINT) AS last_bin
             |  FROM c)
             |SELECT source, COUNT(*) AS n_docs,
             |  CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
             |  CAST(MAX(last_bin) + 1 AS BIGINT) AS n_bins,
             |  CAST(SUM(CASE WHEN crossings > 0 THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_split_docs,
             |  CAST(SUM(crossings + 1) AS BIGINT) AS n_fragments,
             |  CAST(SUM(CASE WHEN crossings > 0 THEN n_toks ELSE 0 END)
             |      AS DOUBLE) / CAST(SUM(n_toks) AS DOUBLE)
             |    AS split_token_share
             |FROM x GROUP BY source""".stripMargin)),

    // ----- q304: packing-policy comparison — greedy vs best-fit ----------
    // q302 exists to price packing policies; this query runs the pricing:
    // the SAME subsample is packed twice — q54's greedy boundary-crossing
    // layout (documents split across bin boundaries, bins perfectly full)
    // and shard-local best-fit-decreasing ([[bestFitPack]]: no document
    // ever split, bins padded) — and the per-source report carries both
    // cost sides: greedy's split-doc count and captive-token share vs
    // BFD's bin overhead and pad share. greedy_bins = ceil(tokens/C) is
    // the information-theoretic floor, so bin_delta ≥ 0 is exactly what
    // no-split costs in extra training rows. Audit block size 256 and
    // the unequal md5 subsample as in q302 (degeneracy discipline); the
    // corpus is scanned ONCE (shared pinned slim feeds both packers).
    // The oracle replays BFD exactly as a per-(source, shard) recursive
    // CTE over the (n_toks DESC, doc_id) rank — list-of-loads state,
    // first-position tie-break — and greedy as the q302 window cumsum;
    // every column is integer arithmetic or one exact-integer division.
    NamedQuery(
      "q304_pack_compare",
      (s, d) => {
        val C = 256L
        val shard = 512L
        val slim = OpsKit.pinned(tbl(s, d, "documents")
          .filter(LlmKit.strHash(col("doc_id").cast("string")) % 4 <
            LlmKit.strHash(col("source")) % 3 + 1)
          .filter(size(split(col("text"), " ")) <= C)
          .select(col("source"), col("doc_id"),
            size(split(col("text"), " ")).cast("long").as("n_toks")))
        val g = adaptivePackCumsum(slim)
          .withColumn("crossings",
            floor((col("cum") - 1) / lit(C.toDouble)) -
              floor((col("cum") - col("n_toks")) / lit(C.toDouble)))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_toks")).as("n_tokens"),
            (max(floor((col("cum") - 1) / lit(C.toDouble))) + 1)
              .cast("long").as("greedy_bins"),
            sum(when(col("crossings") > 0, 1L).otherwise(0L))
              .as("greedy_split_docs"),
            sum(when(col("crossings") > 0, col("n_toks")).otherwise(0L))
              .as("split_tokens"))
        val b = bestFitPack(slim, C, shard)
          .groupBy(col("source"))
          .agg(countDistinct(col("pb"), col("bin")).as("bfd_bins"))
        // K source rows: broadcast, never sort-merge two tiny aggregates
        g.join(broadcast(b), "source")
          .select(col("source"), col("n_docs"), col("n_tokens"),
            col("greedy_bins"), col("greedy_split_docs"),
            (col("split_tokens").cast("double") /
              col("n_tokens").cast("double")).as("greedy_split_share"),
            col("bfd_bins"),
            ((col("bfd_bins") * C - col("n_tokens")).cast("double") /
              (col("bfd_bins") * C).cast("double")).as("bfd_pad_share"),
            (col("bfd_bins") - col("greedy_bins")).as("bin_delta"))
      },
      Some(s"""WITH RECURSIVE sub AS (
             |  SELECT source, doc_id,
             |    CAST(len(string_split(text,' ')) AS BIGINT) AS n_toks,
             |    CAST(doc_id // 512 AS BIGINT) AS pb
             |  FROM documents
             |  WHERE ${LlmKit.strHashSql("CAST(doc_id AS VARCHAR)")} % 4
             |    < ${LlmKit.strHashSql("source")} % 3 + 1
             |    AND len(string_split(text,' ')) <= 256),
             |c AS (
             |  SELECT source, n_toks,
             |    CAST(SUM(n_toks) OVER (PARTITION BY source ORDER BY doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS BIGINT) AS cum
             |  FROM sub),
             |x AS (
             |  SELECT source, n_toks, cum,
             |    CAST(FLOOR((cum - 1) / 256.0) AS BIGINT)
             |      - CAST(FLOOR((cum - n_toks) / 256.0) AS BIGINT)
             |      AS crossings
             |  FROM c),
             |g AS (
             |  SELECT source, COUNT(*) AS n_docs,
             |    CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
             |    CAST(MAX(CAST(FLOOR((cum - 1) / 256.0) AS BIGINT)) + 1
             |      AS BIGINT) AS greedy_bins,
             |    CAST(SUM(CASE WHEN crossings > 0 THEN 1 ELSE 0 END)
             |      AS BIGINT) AS greedy_split_docs,
             |    CAST(SUM(CASE WHEN crossings > 0 THEN n_toks ELSE 0 END)
             |      AS BIGINT) AS split_tokens
             |  FROM x GROUP BY source),
             |ranked AS (
             |  SELECT *, CAST(row_number() OVER (PARTITION BY source, pb
             |    ORDER BY n_toks DESC, doc_id) AS BIGINT) AS rk
             |  FROM sub),
             |pack AS (
             |  SELECT source, pb, CAST(0 AS BIGINT) AS rk,
             |    CAST(NULL AS BIGINT) AS doc_id,
             |    CAST(NULL AS BIGINT) AS n_toks,
             |    CAST(NULL AS BIGINT) AS bin,
             |    CAST([] AS BIGINT[]) AS loads
             |  FROM (SELECT DISTINCT source, pb FROM ranked)
             |  UNION ALL
             |  SELECT r.source, r.pb, r.rk, r.doc_id, r.n_toks,
             |    CASE WHEN fit.best IS NULL THEN len(p.loads) + 1
             |         ELSE fit.pos END AS bin,
             |    CASE WHEN fit.best IS NULL THEN p.loads || [r.n_toks]
             |         ELSE p.loads[:fit.pos-1]
             |           || [p.loads[fit.pos] + r.n_toks]
             |           || p.loads[fit.pos+1:]
             |    END AS loads
             |  FROM pack p
             |  JOIN ranked r ON r.source = p.source AND r.pb = p.pb
             |    AND r.rk = p.rk + 1
             |  CROSS JOIN LATERAL (
             |    SELECT list_max(list_filter(p.loads,
             |        x -> x + r.n_toks <= 256)) AS best,
             |      list_position(p.loads, list_max(list_filter(p.loads,
             |        x -> x + r.n_toks <= 256))) AS pos
             |  ) fit),
             |b AS (
             |  SELECT source, COUNT(DISTINCT (pb, bin)) AS bfd_bins
             |  FROM pack WHERE rk >= 1 GROUP BY source)
             |SELECT g.source, g.n_docs, g.n_tokens, g.greedy_bins,
             |  g.greedy_split_docs,
             |  CAST(g.split_tokens AS DOUBLE) / CAST(g.n_tokens AS DOUBLE)
             |    AS greedy_split_share,
             |  b.bfd_bins,
             |  CAST(b.bfd_bins * 256 - g.n_tokens AS DOUBLE)
             |    / CAST(b.bfd_bins * 256 AS DOUBLE) AS bfd_pad_share,
             |  b.bfd_bins - g.greedy_bins AS bin_delta
             |FROM g JOIN b ON b.source = g.source""".stripMargin)),

    // ----- q55: curation decision manifest --------------------------------
    // Signals → decisions: the keep/drop table with reason codes that the
    // rest of the pipeline (packing, mixing) consumes. First-priority rule
    // wins: exact duplicates (keep-first by content hash) are dropped
    // before quality rules apply, so reasons are unambiguous and the
    // manifest sums to the corpus. Runs on the planted-duplicate corpus so
    // every branch is exercised. The content-hash groupBy and the
    // manifest join both shuffle on the hash — at 100 TB the dedup keep
    // list is the same two-pass shape, no driver state.
    NamedQuery(
      "q55_curation_manifest",
      (s, d) => {
        val withH = corpusWithDups(s, d)
          .select(col("doc_id"), md5(col("text")).as("h"),
            size(split(col("text"), " ")).cast("long").as("n_toks"))
        val keep = withH.groupBy(col("h")).agg(min(col("doc_id")).as("keep_id"))
        withH.join(keep, Seq("h"))
          .select(col("doc_id"), col("n_toks"),
            when(col("doc_id") =!= col("keep_id"), lit("exact_dup"))
              .when(col("n_toks") < 20, lit("too_short"))
              .otherwise(lit("keep")).as("decision"))
      },
      Some(s"""WITH corpus AS ($corpusWithDupsSql),
              |wh AS (
              |  SELECT doc_id, md5(text) AS h,
              |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
              |  FROM corpus),
              |keep AS (SELECT h, min(doc_id) AS keep_id FROM wh GROUP BY h)
              |SELECT doc_id, n_toks,
              |  CASE WHEN doc_id <> keep_id THEN 'exact_dup'
              |       WHEN n_toks < 20 THEN 'too_short'
              |       ELSE 'keep' END AS decision
              |FROM wh JOIN keep USING (h)""".stripMargin)),

    // ----- q70: content-defined chunking (rolling-hash boundaries) --------
    // The dedup-friendly alternative to q43's fixed windows: chunk
    // boundaries fall where a rolling hash over the last 4 token hashes
    // is ≡ 0 (mod 16), so an insertion early in a document shifts ONE
    // chunk, not every window after it — the property content-defined
    // chunking exists for (Rabin-style CDC; here a polynomial over md5
    // token hashes so both engines compute the identical function).
    // Hashes are reduced mod 2^16 before the degree-3 polynomial so the
    // arithmetic peaks below 2^31 — no BIGINT overflow in either engine.
    // Per-row array work: token hashes materialize ONCE per projection
    // (bound column, never an inline arg — the HOF recompute trap), the
    // boundary scan is one filter over positions. Zero shuffle.
    NamedQuery(
      "q70_cdc_chunking",
      (s, d) => {
        val hm = (x: org.apache.spark.sql.Column) =>
          transform(x, t => pmod(strHash(t) % MinhashP, lit(65536L)))
        val roll = (i: org.apache.spark.sql.Column) =>
          ((element_at(col("hm"), i - 3) * 31 +
            element_at(col("hm"), i - 2)) * 31 +
            element_at(col("hm"), i - 1)) * 31 +
            element_at(col("hm"), i)
        tbl(s, d, "documents")
          .select(col("doc_id"), hm(split(col("text"), " ")).as("hm"))
          .select(col("doc_id"), size(col("hm")).cast("long").as("n_tokens"),
            when(size(col("hm")) >= 4,
              filter(sequence(lit(4), size(col("hm"))),
                i => roll(i) % 16 === 0))
              .otherwise(array().cast("array<int>")).as("bpos"))
          .select(col("doc_id"), col("n_tokens"),
            (size(col("bpos")) + 1).cast("long").as("n_chunks"),
            array_join(transform(col("bpos"), _.cast("string")), ",")
              .as("boundaries_csv"),
            (col("n_tokens").cast("double") /
              (size(col("bpos")) + 1).cast("double")).as("avg_chunk_len"))
      },
      Some(s"""WITH th AS (
              |  SELECT doc_id,
              |    list_transform(${tokenHashesSql("text")},
              |                   h -> h % 65536) AS hm
              |  FROM documents),
              |b AS (
              |  SELECT doc_id, CAST(len(hm) AS BIGINT) AS n_tokens,
              |    CASE WHEN len(hm) >= 4 THEN
              |      [i for i in range(4, len(hm) + 1)
              |       if (((hm[i-3]*31 + hm[i-2])*31 + hm[i-1])*31 + hm[i])
              |          % 16 = 0]
              |    ELSE [] END AS bpos
              |  FROM th)
              |SELECT doc_id, n_tokens,
              |  CAST(len(bpos) + 1 AS BIGINT) AS n_chunks,
              |  COALESCE(array_to_string(bpos, ','), '') AS boundaries_csv,
              |  CAST(n_tokens AS DOUBLE) / CAST(len(bpos) + 1 AS DOUBLE)
              |    AS avg_chunk_len
              |FROM b""".stripMargin)),

    // ----- q89: weighted PPS sample (sequential Poisson sampling) ---------
    // q44 samples uniformly within strata; a training mix usually wants
    // probability-proportional-to-SIZE — long documents carry more tokens
    // and deserve proportionally more sampling mass. Sequential Poisson
    // sampling (Ohlsson 1998, the standard PPS scheme surveys run):
    // priority = u / w with u a content-hash uniform and w the document
    // weight; the k smallest priorities per stratum are the sample.
    // Deterministic (hash, not RNG), one-pass, and at scale it's a
    // per-stratum top-k — partial-aggregated TakeOrdered work, no global
    // sort, no per-row state. u = h / 2^60 is exact: the int→double
    // rounding is the same IEEE round-to-nearest in both engines and the
    // divisor is a power of two; priority is one double division.
    NamedQuery(
      "q89_pps_sample",
      (s, d) => {
        val k = 5
        val u = strHash(col("doc_id").cast("string")).cast("double") /
          lit(1152921504606846976.0) // 2^60 ≥ max 15-hex-digit hash
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("source"))
          .orderBy(col("priority"), col("doc_id"))
        // n_chars > 0 guard on BOTH engines: a size-0 doc has PPS weight 0
        // (never sampled), and the 0.0-divide otherwise splits the engines
        // (Spark NULL priority sorts first; DuckDB +inf sorts last)
        tbl(s, d, "documents")
          .filter(col("n_chars") > 0)
          .select(col("source"), col("doc_id"),
            (u / col("n_chars").cast("double")).as("priority"))
          .withColumn("rank", row_number().over(w).cast("long"))
          .filter(col("rank") <= k)
      },
      Some(s"""SELECT source, doc_id, priority, rank FROM (
              |  SELECT source, doc_id, priority,
              |    row_number() OVER (PARTITION BY source
              |      ORDER BY priority, doc_id) AS rank
              |  FROM (
              |    SELECT source, doc_id,
              |      (CAST(${strHashSql("CAST(doc_id AS VARCHAR)")} AS DOUBLE)
              |       / 1152921504606846976.0)
              |        / CAST(n_chars AS DOUBLE) AS priority
              |    FROM documents WHERE n_chars > 0))
              |WHERE rank <= 5""".stripMargin)),

    // ----- q90: per-language length-band trim (outlier removal) -----------
    // The C4-style length filter, done per stratum: keep documents whose
    // length sits inside the [p05, p95] band of their OWN language — a
    // global band would let the dominant language's distribution set the
    // cutoffs for the tail ones. Exact interpolated percentiles (the q50
    // parity contract) over each language, broadcast back as a 5-row
    // bounds table — at 100 TB the percentile pass is one partial-agg
    // shuffle on lang and the trim itself is a broadcast-join filter, so
    // the corpus streams once per pass and nothing global-sorts.
    NamedQuery(
      "q90_length_band",
      (s, d) => {
        val docs = tbl(s, d, "documents")
        val bounds = docs.groupBy(col("lang"))
          .agg(expr("percentile(n_chars, 0.05)").as("lo"),
            expr("percentile(n_chars, 0.95)").as("hi"))
        docs.join(broadcast(bounds), Seq("lang"))
          .filter(col("n_chars").cast("double") >= col("lo") &&
            col("n_chars").cast("double") <= col("hi"))
          .select(col("doc_id"), col("lang"), col("n_chars"),
            col("lo"), col("hi"))
      },
      Some("""WITH bounds AS (
             |  SELECT lang, quantile_cont(n_chars, 0.05) AS lo,
             |    quantile_cont(n_chars, 0.95) AS hi
             |  FROM documents GROUP BY lang)
             |SELECT doc_id, d.lang, n_chars, lo, hi
             |FROM documents d JOIN bounds b ON d.lang = b.lang
             |WHERE CAST(n_chars AS DOUBLE) >= lo
             |  AND CAST(n_chars AS DOUBLE) <= hi""".stripMargin)),

    // ----- q96: distribution drift between corpus snapshots (chi-square) --
    // The batch-over-batch monitoring gate: has the length distribution
    // of the incoming snapshot drifted from the reference? Two snapshots
    // (even/odd doc_id halves here; in production, yesterday's and
    // today's shards), one integer bucket histogram each, and the
    // per-bucket chi-square term (n_new − e)²/e with e the old histogram
    // rescaled to the new total. Every input to the double arithmetic is
    // an exact integer count, and the term is one fixed op sequence —
    // bit-exact across engines with no ln/PSI in sight (that's why
    // chi-square and not KL/PSI: log's libm is not a parity contract).
    // Two partial-agg shuffles on a ≤13-key bucket column, then a
    // broadcast of the 1-row totals — nothing scales with the corpus.
    NamedQuery(
      "q96_drift_chi2",
      (s, d) => {
        val h = tbl(s, d, "documents")
          .select((col("doc_id") % 2 === 0).as("is_old"),
            least(floor(col("n_chars") / 25), lit(12)).cast("long")
              .as("bucket"))
          .groupBy(col("bucket"))
          .agg(sum(when(col("is_old"), 1L).otherwise(0L)).as("n_old"),
            sum(when(!col("is_old"), 1L).otherwise(0L)).as("n_new"))
        val t = h.agg(sum(col("n_old")).as("t_old"),
          sum(col("n_new")).as("t_new"))
        val e = col("n_old").cast("double") *
          (col("t_new").cast("double") / col("t_old").cast("double"))
        h.crossJoin(broadcast(t))
          .select(col("bucket"), col("n_old"), col("n_new"),
            when(col("n_old") > 0, e).as("expected_new"),
            when(col("n_old") > 0,
              (col("n_new").cast("double") - e) *
                (col("n_new").cast("double") - e) / e).as("chi2_term"))
      },
      Some("""WITH b AS (
             |  SELECT doc_id % 2 = 0 AS is_old,
             |    least(CAST(floor(n_chars / 25) AS BIGINT), 12) AS bucket
             |  FROM documents),
             |h AS (
             |  SELECT bucket,
             |    CAST(SUM(CASE WHEN is_old THEN 1 ELSE 0 END) AS BIGINT)
             |      AS n_old,
             |    CAST(SUM(CASE WHEN NOT is_old THEN 1 ELSE 0 END) AS BIGINT)
             |      AS n_new
             |  FROM b GROUP BY bucket),
             |t AS (
             |  SELECT CAST(SUM(n_old) AS BIGINT) AS t_old,
             |    CAST(SUM(n_new) AS BIGINT) AS t_new FROM h)
             |SELECT bucket, n_old, n_new,
             |  CASE WHEN n_old > 0 THEN CAST(n_old AS DOUBLE)
             |    * (CAST(t_new AS DOUBLE) / CAST(t_old AS DOUBLE)) END
             |    AS expected_new,
             |  CASE WHEN n_old > 0 THEN
             |    (CAST(n_new AS DOUBLE) - CAST(n_old AS DOUBLE)
             |      * (CAST(t_new AS DOUBLE) / CAST(t_old AS DOUBLE)))
             |    * (CAST(n_new AS DOUBLE) - CAST(n_old AS DOUBLE)
             |      * (CAST(t_new AS DOUBLE) / CAST(t_old AS DOUBLE)))
             |    / (CAST(n_old AS DOUBLE)
             |      * (CAST(t_new AS DOUBLE) / CAST(t_old AS DOUBLE))) END
             |    AS chi2_term
             |FROM h, t""".stripMargin)),

    // ----- q98: corpus snapshot diff (the incremental-ingest primitive) ---
    // What changed between snapshot A and snapshot B: added / removed /
    // changed doc ids, decided by a full outer join on the key and a
    // content-hash compare — the CDC step that feeds incremental dedup
    // (q56) instead of re-running the full pipeline. Snapshot B here is A
    // with planted edits: every 17th doc deleted, every 13th surviving
    // doc reworded (first token dropped), every 11th doc duplicated
    // under a new id. Unchanged rows are dropped from the output (at
    // 100 TB they are ~all of the corpus; the diff is the small side).
    // One shuffle on the join key; the hash is computed per side before
    // the join, never on the diff output.
    NamedQuery(
      "q98_snapshot_diff",
      (s, d) => {
        val a = tbl(s, d, "documents")
          .select(col("doc_id"), strHash(col("text")).as("ha"))
        val docs = tbl(s, d, "documents")
        val b = docs.filter(col("doc_id") % 17 =!= 0)
          .select(col("doc_id"),
            when(col("doc_id") % 13 === 0, dropFirstToken(col("text")))
              .otherwise(col("text")).as("text"))
          .unionByName(docs.filter(col("doc_id") % 11 === 0)
            .select((col("doc_id") + 500000).as("doc_id"), col("text")))
          .select(col("doc_id"), strHash(col("text")).as("hb"))
        a.join(b, Seq("doc_id"), "full_outer")
          .select(col("doc_id"),
            when(col("ha").isNull, "added")
              .when(col("hb").isNull, "removed")
              .when(col("ha") =!= col("hb"), "changed").as("status"))
          .filter(col("status").isNotNull)
      },
      Some(s"""WITH a AS (
              |  SELECT doc_id, ${strHashSql("text")} AS ha FROM documents),
              |b AS (
              |  SELECT doc_id, ${strHashSql(
                 s"CASE WHEN doc_id % 13 = 0 THEN ${dropFirstTokenSql("text")} ELSE text END")}
              |    AS hb
              |  FROM documents WHERE doc_id % 17 <> 0
              |  UNION ALL
              |  SELECT doc_id + 500000 AS doc_id, ${strHashSql("text")} AS hb
              |  FROM documents WHERE doc_id % 11 = 0)
              |SELECT doc_id,
              |  CASE WHEN ha IS NULL THEN 'added'
              |       WHEN hb IS NULL THEN 'removed'
              |       WHEN ha <> hb THEN 'changed' END AS status
              |FROM a FULL OUTER JOIN b USING (doc_id)
              |WHERE CASE WHEN ha IS NULL THEN 'added'
              |           WHEN hb IS NULL THEN 'removed'
              |           WHEN ha <> hb THEN 'changed' END IS NOT NULL"""
        .stripMargin)),

    // ----- q99: windowed drift monitor (batch twin of the streaming op) ---
    // q96 gates snapshot-over-snapshot; this is the CONTINUOUS form:
    // [[graft.streaming.StreamOps.driftMonitor]] computes per event-time
    // window the chi-square terms of the window's length histogram
    // against a static reference corpus. The registered query runs the
    // IDENTICAL function in batch mode over a synthetic event-time
    // (epoch + doc_id minutes — deterministic, mirrored in the oracle),
    // so the streaming operator's logic sits under the driver's hash
    // gate; StreamOpsSpec separately proves stream == batch on the same
    // input. Window starts align to the epoch hour exactly as Spark's
    // window() does (start = ts − ts mod 3600).
    NamedQuery(
      "q99_drift_windows",
      (s, d) => {
        val docs = tbl(s, d, "documents")
        val withTs = docs.select(
          timestamp_seconds(lit(1700000000L) + col("doc_id") * 60)
            .as("ts"),
          col("doc_id"), col("text"))
        graft.streaming.StreamOps.driftMonitor(withTs, docs)
      },
      Some(s"""WITH b AS (
              |  SELECT least(CAST(floor(length(text) / 25) AS BIGINT), 12)
              |           AS bucket,
              |    1700000000 + doc_id * 60 AS tsec
              |  FROM documents),
              |h AS (
              |  SELECT tsec - (tsec % 3600) AS wsec, bucket,
              |    COUNT(*) AS n_new
              |  FROM b GROUP BY 1, 2),
              |nw AS (
              |  SELECT wsec, CAST(SUM(n_new) AS BIGINT) AS n_win
              |  FROM h GROUP BY wsec),
              |-- every window × ALL 13 buckets, zero-filled: a vanished
              |-- bucket's (0 - e)^2/e term must appear (see driftMonitor)
              |hb AS (
              |  SELECT nw.wsec, b.bucket, COALESCE(h.n_new, 0) AS n_new,
              |    nw.n_win
              |  FROM nw
              |  CROSS JOIN (SELECT unnest(range(0, 13)) AS bucket) b
              |  LEFT JOIN h ON h.wsec = nw.wsec AND h.bucket = b.bucket),
              |ref AS (
              |  SELECT least(CAST(floor(n_chars / 25) AS BIGINT), 12)
              |           AS bucket,
              |    COUNT(*) AS n_old
              |  FROM documents GROUP BY 1),
              |t AS (SELECT CAST(SUM(n_old) AS BIGINT) AS t_old FROM ref)
              |SELECT strftime(make_timestamp(wsec * 1000000), '$TsFmtDuck')
              |    AS window_start,
              |  bucket, CAST(n_new AS BIGINT) AS n_new, n_win,
              |  CASE WHEN n_old > 0 THEN
              |    (CAST(n_old AS DOUBLE) / CAST(t_old AS DOUBLE))
              |      * CAST(n_win AS DOUBLE) END AS expected_new,
              |  CASE WHEN n_old > 0 THEN
              |    (CAST(n_new AS DOUBLE)
              |      - (CAST(n_old AS DOUBLE) / CAST(t_old AS DOUBLE))
              |        * CAST(n_win AS DOUBLE))
              |    * (CAST(n_new AS DOUBLE)
              |      - (CAST(n_old AS DOUBLE) / CAST(t_old AS DOUBLE))
              |        * CAST(n_win AS DOUBLE))
              |    / ((CAST(n_old AS DOUBLE) / CAST(t_old AS DOUBLE))
              |        * CAST(n_win AS DOUBLE)) END AS chi2_term
              |FROM hb
              |LEFT JOIN ref USING (bucket), t""".stripMargin)),

    // ----- q150: windowed quality-gate pass rate (streaming twin) ---------
    // The live ingest dashboard: per event-time hour, how much of the
    // incoming corpus clears the Gopher gates (q134's rules). The
    // registered query runs [[graft.streaming.StreamOps
    // .qualityGateMonitor]] — the STREAMING operator — in batch mode
    // over the q99 synthetic event-time, so the stream logic sits under
    // the driver's hash gate; StreamOpsSpec separately proves
    // stream == batch and that the per-row gate booleans equal q134's
    // groupBy-derived ones doc-for-doc (run-length-on-sorted ==
    // group-max — same multiset). The oracle recomputes the gates the
    // construction-INDEPENDENT way (a doc-level GROUP BY, q134's own
    // shape), so a bug in the fold cannot self-confirm.
    NamedQuery(
      "q150_quality_windows",
      (s, d) => {
        val docs = tbl(s, d, "documents")
        val withTs = docs.select(
          timestamp_seconds(lit(1700000000L) + col("doc_id") * 60)
            .as("ts"),
          col("doc_id"), col("text"))
        graft.streaming.StreamOps.qualityGateMonitor(withTs)
      },
      Some(s"""WITH t AS (
              |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
              |  FROM documents),
              |tc AS (SELECT doc_id, tok, COUNT(*) AS c
              |       FROM t GROUP BY doc_id, tok),
              |agg AS (SELECT doc_id,
              |    CAST(SUM(c) AS BIGINT) AS n_toks,
              |    CAST(SUM(len(tok) * c) AS BIGINT) AS sum_len,
              |    CAST(SUM(CASE WHEN tok IN ('the', 'a') THEN c ELSE 0
              |      END) AS BIGINT) AS n_stop,
              |    MAX(c) AS top_c
              |  FROM tc GROUP BY doc_id),
              |k AS (
              |  SELECT 1700000000 + doc_id * 60 AS tsec,
              |    (n_toks BETWEEN 40 AND 100000
              |     AND sum_len >= n_toks * 3 AND sum_len * 2 <= n_toks * 9
              |     AND n_stop >= 2 AND top_c * 5 <= n_toks) AS keep
              |  FROM agg)
              |SELECT strftime(make_timestamp((tsec - (tsec % 3600))
              |    * 1000000), '$TsFmtDuck') AS window_start,
              |  CAST(COUNT(*) AS BIGINT) AS n_docs,
              |  CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
              |    AS n_pass,
              |  CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS DOUBLE)
              |    / CAST(COUNT(*) AS DOUBLE) AS pass_rate
              |FROM k GROUP BY 1""".stripMargin)),

    // ----- q105: dataset card (one-row corpus health summary) -------------
    // The datasheet a dataset release ships with, as ONE row: sizes,
    // composition, and integrity signals a consumer reads before
    // training. Every field is a single-pass aggregate (the expensive
    // detectors have their own queries — this is the cheap always-on
    // summary): volumes from one scan, language/source breadth via
    // count(distinct), exact-dup groups via an md5 sub-aggregate, and
    // the dominant-language share as an exact integer ratio cast once.
    // Scale: two partial-agg shuffles (the global aggregate and the md5
    // groupBy), both on uniform keys; no joins, no windows.
    NamedQuery(
      "q105_dataset_card",
      (s, d) => {
        val docs = tbl(s, d, "documents")
        val toks = size(split(col("text"), " ")).cast("long")
        val base = docs.agg(
          count(lit(1)).as("n_docs"),
          sum(toks).as("n_tokens"),
          sum(col("n_chars")).cast("long").as("n_chars"),
          countDistinct(col("source")).as("n_sources"),
          countDistinct(col("lang")).as("n_langs"),
          sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_en"))
        val dups = docs.groupBy(md5(col("text")).as("h"))
          .agg(count(lit(1)).as("c"))
          .agg(count(lit(1)).as("n_distinct_texts"),
            sum(when(col("c") > 1, col("c")).otherwise(0L))
              .cast("long").as("n_docs_in_dup_groups"))
        base.crossJoin(dups)
          .select(col("n_docs"), col("n_tokens"), col("n_chars"),
            col("n_sources"), col("n_langs"),
            (col("n_en").cast("double") / col("n_docs").cast("double"))
              .as("en_share"),
            col("n_distinct_texts"), col("n_docs_in_dup_groups"),
            (col("n_tokens").cast("double") / col("n_docs").cast("double"))
              .as("avg_doc_tokens"))
      },
      Some("""WITH base AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
             |      AS n_tokens,
             |    CAST(SUM(n_chars) AS BIGINT) AS n_chars,
             |    CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
             |    CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
             |    CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
             |         AS BIGINT) AS n_en
             |  FROM documents),
             |dups AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS n_distinct_texts,
             |    CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT)
             |      AS n_docs_in_dup_groups
             |  FROM (SELECT md5(text) AS h, COUNT(*) AS c
             |        FROM documents GROUP BY 1))
             |SELECT n_docs, n_tokens, n_chars, n_sources, n_langs,
             |  CAST(n_en AS DOUBLE) / CAST(n_docs AS DOUBLE) AS en_share,
             |  n_distinct_texts, n_docs_in_dup_groups,
             |  CAST(n_tokens AS DOUBLE) / CAST(n_docs AS DOUBLE)
             |    AS avg_doc_tokens
             |FROM base, dups""".stripMargin)),

    // ----- q106: published-corpus manifest certification ------------------
    // The last-mile sink under the driver's hash gate: publish `documents`
    // through CorpusPublish into a fresh directory, then certify FROM THE
    // FILES — per partition, row count + order-independent checksum (XOR
    // of a 60-bit MD5 slice per row). The oracle computes the same values
    // from the source table directly, so the gate passes iff the sink
    // wrote exactly the input rows into exactly the right hive partitions
    // (lost, duplicated, or mis-partitioned rows all flip a checksum).
    // MD5, not xxhash64, because both engines share it bit-for-bit; the
    // 15-hex-digit slice keeps the value inside BIGINT on both sides.
    // The read-back is partition-pruned parquet over one shuffle's worth
    // of files; the certification itself is one partial-agg shuffle.
    NamedQuery(
      "q106_publish_manifest",
      (s, d) => {
        val docs = tbl(s, d, "documents")
          .select(col("doc_id"), col("text"), col("lang"), col("source"))
        // a fresh tree per invocation, deleted at JVM exit like q299's
        val tmp = java.nio.file.Files.createTempDirectory("graft-q106-publish")
        OpsKit.reapOnExit(tmp)
        val out = tmp.toString
        graft.sink.CorpusPublish.publish(docs, out, "source", "doc_id", 1000)
        val rowh = conv(substring(md5(concat_ws("\u0001",
          col("doc_id"), col("lang"), col("text"))), 18, 15), 16, 10)
          .cast("long")
        s.read.parquet(out)
          .groupBy(col("source").cast("string").as("partition"))
          .agg(count(lit(1)).as("n_rows"), bit_xor(rowh).as("checksum"))
      },
      Some("""SELECT CAST(source AS VARCHAR) AS "partition",
             |  CAST(COUNT(*) AS BIGINT) AS n_rows,
             |  bit_xor(CAST(concat('0x', substr(md5(concat_ws(chr(1),
             |    CAST(doc_id AS VARCHAR), lang, text)), 18, 15)) AS BIGINT))
             |    AS checksum
             |FROM documents GROUP BY 1""".stripMargin)),

    // ----- q255: range-partitioned GLOBAL-SORT publish certification ------
    // q106 certifies the hive-partitioned layout; this certifies the other
    // warehouse primitive — a global ORDER BY doc_id publish via sampled
    // range boundaries (CorpusPublish.publishGlobalSorted: one
    // repartitionByRange shuffle, local sorts, NO single-partition
    // funnel). The certification reads the FILES back and proves, in one
    // bounded pass, that what is on disk is a total order of exactly the
    // input: per-file [min,max] ranges are pairwise DISJOINT and ORDERED
    // (lag over the ≤n_files-row per-file table — bounded, not a corpus
    // window), the published _range_manifest MATCHES the files it
    // describes, and the row multiset is COMPLETE (count + the q106
    // MD5-slice XOR checksum + global key bounds). The oracle states the
    // invariants from the source table directly: same count/checksum/
    // bounds, and `true` for the three certification booleans — any
    // overlap, manifest drift, or lost/duplicated row flips a column and
    // fails the hash gate. File count is NOT asserted here (sampled cut
    // points may merge sparse ranges); CorpusPublishSpec pins it plus
    // within-file sortedness.
    NamedQuery(
      "q255_sorted_publish",
      (s, d) => {
        val docs = tbl(s, d, "documents")
          .select(col("doc_id"), col("lang"), col("text"))
        val tmp = java.nio.file.Files.createTempDirectory("graft-q255-publish")
        OpsKit.reapOnExit(tmp)
        val out = tmp.toString + "/sorted"
        val manifest =
          graft.sink.CorpusPublish.publishGlobalSorted(docs, out, "doc_id", 8)
        val rowh = conv(substring(md5(concat_ws("\u0001",
          col("doc_id"), col("lang"), col("text"))), 18, 15), 16, 10)
          .cast("long")
        val perFile = s.read.parquet(out)
          .groupBy(input_file_name().as("file"))
          .agg(min(col("doc_id")).as("fmin"), max(col("doc_id")).as("fmax"),
            count(lit(1)).as("fcnt"), bit_xor(rowh).as("fchk"))
        val mdf = s.createDataFrame(manifest)
          .select(col("file"), col("min_key"), col("max_key"),
            col("n_rows").as("m_rows"))
        // ≤ 8 rows from here down: the window and final agg are bounded
        val w = org.apache.spark.sql.expressions.Window.partitionBy(lit(0)).orderBy(col("fmin"))
        perFile.join(mdf, Seq("file"), "full")
          .withColumn("prev_max", lag(col("fmax"), 1).over(w))
          .agg(
            sum(col("fcnt")).as("n_rows"),
            bit_xor(col("fchk")).as("checksum"),
            min(when(col("prev_max").isNull ||
              (col("prev_max") < col("fmin")), 1).otherwise(0))
              .cast("boolean").as("ranges_disjoint"),
            min(when(col("fmin") === col("min_key") &&
              (col("fmax") === col("max_key")) &&
              (col("fcnt") === col("m_rows")), 1).otherwise(0))
              .cast("boolean").as("manifest_matches_files"),
            min(col("fmin")).as("global_min"),
            max(col("fmax")).as("global_max"))
      },
      Some("""SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
             |  bit_xor(CAST(concat('0x', substr(md5(concat_ws(chr(1),
             |    CAST(doc_id AS VARCHAR), lang, text)), 18, 15)) AS BIGINT))
             |    AS checksum,
             |  true AS ranges_disjoint, true AS manifest_matches_files,
             |  CAST(MIN(doc_id) AS BIGINT) AS global_min,
             |  CAST(MAX(doc_id) AS BIGINT) AS global_max
             |FROM documents""".stripMargin)),

    // ----- q109: balanced training-shard assignment (snake packing) -------
    // The step between curation and the publisher: assign every document
    // to one of N training shards so shard TOKEN totals come out nearly
    // equal, not just row counts (a size-skewed shard stalls its data-
    // loader worker every epoch). Greedy bin packing is inherently
    // sequential; the distributable form is SNAKE (boustrophedon)
    // assignment — rank docs by size descending and deal them out
    // N-forward-then-N-backward, so every window of 2N consecutive ranks
    // contributes exactly once to each shard and big docs pair with
    // small ones.
    //
    // The GLOBAL rank is computed scale-safely: a plain global
    // row_number() window would sort the whole corpus in ONE partition,
    // so instead each doc ranks LOCALLY within its exact-length bucket
    // (window partitioned by n_tokens — bounded groups), and the bucket's
    // starting offset is a running sum over the tiny per-length count
    // table (a post-aggregation window, Heaps-bounded like q90's bands).
    // offset + local rank == the global rank, value-for-value — the
    // oracle computes the same thing as one ordinary row_number(), which
    // is exactly the point: same semantics, distributed plan.
    NamedQuery(
      "q109_shard_assign",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val nShards = 8
        val nTok = size(split(col("text"), " ")).cast("long")
        val sized = tbl(s, d, "documents")
          .select(col("doc_id"), col("source"), nTok.as("n_tokens"))
        val offsets = sized.groupBy(col("n_tokens"))
          .agg(count(lit(1)).as("cnt"))
          .withColumn("off",
            sum(col("cnt")).over(
              boundedWin.orderBy(col("n_tokens").desc)) - col("cnt"))
          .select(col("n_tokens"), col("off"))
        val localW = Window.partitionBy(col("n_tokens"))
          .orderBy(col("doc_id"))
        val rank = col("off") + row_number().over(localW).cast("long")
        val pos = (rank - 1) % (2 * nShards)
        sized.join(broadcast(offsets), Seq("n_tokens"))
          .select(col("doc_id"), col("source"), col("n_tokens"),
            when(pos < nShards, pos)
              .otherwise(lit(2 * nShards - 1) - pos).as("shard"))
      },
      Some("""WITH sized AS (
             |  SELECT doc_id, source,
             |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
             |  FROM documents),
             |ranked AS (
             |  SELECT doc_id, source, n_tokens,
             |    (CAST(row_number() OVER (
             |       ORDER BY n_tokens DESC, doc_id) AS BIGINT) - 1) % 16
             |      AS pos
             |  FROM sized)
             |SELECT doc_id, source, n_tokens,
             |  CASE WHEN pos < 8 THEN pos ELSE 15 - pos END AS shard
             |FROM ranked""".stripMargin)),

    // ----- q124: largest-remainder stratified quota sample ----------------
    // Exact integer apportionment of a fixed sample budget across
    // sources — the step between mixing weights (q58 produces them) and
    // an actual drawn sample: naive floor(T·n_s/N) under-allocates by up
    // to #sources−1 docs, so the T − Σfloor leftover seats go to the
    // largest remainders (Hamilton's method; remainder ties break by
    // source name). Every quota is exact integer arithmetic — no double
    // ever touches allocation, so the sample size is exactly T by
    // construction. Selection within each source is deterministic hash
    // priority (the q89 idiom: salted md5 rank, no RNG), so the same
    // corpus always yields the same sample on any cluster. Scale shape:
    // a source-keyed count, one 20-row driver-free apportionment (tiny
    // window over the per-source aggregate), and one per-source ranking
    // window over the corpus — all shuffle-partitionable on source.
    NamedQuery(
      "q124_quota_sample",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val target = 100L
        val docs = tbl(s, d, "documents").select(col("doc_id"), col("source"))
        val counts = docs.groupBy(col("source"))
          .agg(count(lit(1)).as("ns"))
        val withTotal = counts.crossJoin(
          broadcast(counts.agg(sum(col("ns")).as("n"))))
          .select(col("source"), col("ns"),
            expr(s"($target * ns) div n").as("fq"),
            expr(s"($target * ns) % n").as("rem"))
        val deficit = withTotal.agg(
          (lit(target) - sum(col("fq"))).as("deficit"))
        val wq = boundedWin.orderBy(col("rem").desc, col("source"))
        val quotas = withTotal.crossJoin(broadcast(deficit))
          .withColumn("rk", row_number().over(wq))
          .select(col("source"),
            (col("fq") + when(col("rk") <= col("deficit"), 1L)
              .otherwise(0L)).as("quota"))
        val wh = Window.partitionBy(col("source"))
          .orderBy(col("h"), col("doc_id"))
        docs
          .withColumn("h", strHash(concat(lit("q124:"),
            col("doc_id").cast("string"))))
          .join(broadcast(quotas), "source")
          .withColumn("pick", row_number().over(wh).cast("long"))
          .filter(col("pick") <= col("quota"))
          .select(col("source"), col("quota"), col("doc_id"), col("pick"))
      },
      Some(s"""WITH c AS (
              |  SELECT source, COUNT(*) AS ns FROM documents
              |  GROUP BY source),
              |n AS (SELECT CAST(SUM(ns) AS BIGINT) AS n FROM c),
              |wt AS (
              |  SELECT source, ns,
              |    (100 * ns) // n.n AS fq, (100 * ns) % n.n AS rem
              |  FROM c CROSS JOIN n),
              |dft AS (SELECT 100 - CAST(SUM(fq) AS BIGINT) AS deficit
              |        FROM wt),
              |q AS (
              |  SELECT source,
              |    CAST(fq + CASE WHEN row_number() OVER
              |        (ORDER BY rem DESC, source) <= dft.deficit
              |      THEN 1 ELSE 0 END AS BIGINT) AS quota
              |  FROM wt CROSS JOIN dft),
              |h AS (
              |  SELECT d.doc_id, d.source, q.quota,
              |    ${strHashSql("concat('q124:', CAST(d.doc_id AS VARCHAR))")}
              |      AS h
              |  FROM documents d JOIN q USING (source))
              |SELECT source, quota, doc_id, pick FROM (
              |  SELECT source, quota, doc_id,
              |    CAST(row_number() OVER (PARTITION BY source
              |      ORDER BY h, doc_id) AS BIGINT) AS pick
              |  FROM h)
              |WHERE pick <= quota""".stripMargin)),

    // ----- q160: Poisson-PPS sample + Horvitz-Thompson total estimate -----
    // The accounting half of survey sampling that q89 (ordered sequential
    // Poisson) leaves out: draw a POISSON PPS sample — include doc i iff
    // u_i < π_i with π_i = min(1, c·w_i), c tuned for ~50 expected draws
    // per source — then estimate each source's total character volume
    // from the sample alone with the Horvitz-Thompson estimator
    // Σ w_i/π_i (Horvitz & Thompson 1952, the unbiased inverse-
    // probability weighting every sample-based pipeline audit rests on).
    // Emitting the exact total next to the estimate makes the query its
    // own calibration report: rel_err is what a 100 TB operator would
    // accept instead of a full scan. Deterministic u_i = hash/2^60 (the
    // q89 uniform — exact power-of-two divisor, identical IEEE rounding
    // both engines); π and the HT terms are short identical double
    // trees; the HT sum itself is decimal-exact (dsum) so partial-agg
    // order can't move the hash. Scale shape: one partial-agg shuffle
    // for per-source totals, broadcast back, one filter, one final
    // partial agg — the corpus streams exactly twice, no windows, no
    // per-row state.
    NamedQuery(
      "q160_ht_estimate",
      (s, d) => {
        val u = strHash(col("doc_id").cast("string")).cast("double") /
          lit(1152921504606846976.0) // 2^60, cf. q89
        val totals = tbl(s, d, "documents")
          .filter(col("n_chars") > 0)
          .groupBy(col("source"))
          .agg(sum(col("n_chars")).as("t_exact"),
            count(lit(1)).as("n_docs"))
        val pi = least(lit(1.0),
          lit(50.0) / col("t_exact").cast("double") *
            col("n_chars").cast("double"))
        tbl(s, d, "documents")
          .filter(col("n_chars") > 0)
          .join(broadcast(totals), "source")
          .select(col("source"), col("n_docs"), col("t_exact"),
            col("n_chars"), pi.as("pi"), u.as("u"))
          .filter(col("u") < col("pi"))
          .groupBy(col("source"))
          .agg(max(col("n_docs")).as("n_docs"),
            max(col("t_exact")).as("t_exact"),
            count(lit(1)).as("n_sampled"),
            dsum(col("n_chars").cast("double") / col("pi")).as("t_ht"))
          .withColumn("rel_err",
            (col("t_ht") - col("t_exact").cast("double")) /
              col("t_exact").cast("double"))
      },
      Some(s"""WITH tot AS (
              |  SELECT source, CAST(SUM(n_chars) AS BIGINT) AS t_exact,
              |    CAST(COUNT(*) AS BIGINT) AS n_docs
              |  FROM documents WHERE n_chars > 0 GROUP BY source),
              |draw AS (
              |  SELECT d.source, t.n_docs, t.t_exact, d.n_chars,
              |    least(1.0, 50.0 / CAST(t.t_exact AS DOUBLE)
              |                * CAST(d.n_chars AS DOUBLE)) AS pi,
              |    CAST(${strHashSql("CAST(doc_id AS VARCHAR)")} AS DOUBLE)
              |      / 1152921504606846976.0 AS u
              |  FROM documents d JOIN tot t ON d.source = t.source
              |  WHERE d.n_chars > 0)
              |SELECT source, MAX(n_docs) AS n_docs,
              |  MAX(t_exact) AS t_exact,
              |  CAST(COUNT(*) AS BIGINT) AS n_sampled,
              |  ${dsumSql("CAST(n_chars AS DOUBLE) / pi")} AS t_ht,
              |  (${dsumSql("CAST(n_chars AS DOUBLE) / pi")}
              |     - CAST(MAX(t_exact) AS DOUBLE))
              |    / CAST(MAX(t_exact) AS DOUBLE) AS rel_err
              |FROM draw WHERE u < pi
              |GROUP BY source""".stripMargin)),

    // ----- q163: similarity-reorder layout — compression-locality report --
    // Storage-side near-dup clustering: archive formats compress ~10×
    // better when similar documents are ADJACENT in the file (the
    // dictionary window sees the repetition), so corpus publishers
    // reorder shards by content similarity before writing. This query
    // measures that layout choice the q162 way — report, not assertion:
    // assign each doc to a shard and an intra-shard sort key under two
    // layouts with the same 64-shard budget — (a) similarity order:
    // shard = minhash sig[1] mod 64, order by (sig[2], doc_id), so docs
    // agreeing on the first permutation's minimum (P[agree] = Jaccard)
    // co-locate; (b) baseline: shard = doc_id mod 64, order by doc_id —
    // then score each layout by its mean ADJACENT-pair token Jaccard
    // and the fraction of adjacent pairs that are near-dups (J ≥ 0.5).
    // On the planted-twin corpus the similarity layout pulls twins into
    // the same shard cell while the baseline separates them by the
    // +100000 key offset. Scale shape: per-row signatures (the shared
    // native expression), then ONE window per layout partitioned by the
    // 64-way shard — bounded groups, never a global order; exactly the
    // shuffle the reorder itself would cost at publish time. Adjacent
    // Jaccard is exact integers to one double division (q29's tree);
    // means are decimal-exact (dsum). Empty token sets (a 1-token doc's
    // twin) are excluded on both engines before the division.
    NamedQuery(
      "q163_sim_reorder",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val sg = corpusWithNearDups(s, d)
          .select(col("doc_id"),
            array_distinct(split(col("text"), " ")).as("ts"),
            array_distinct(hashedShingles(col("text"))).as("ds"))
          .withColumn("sig", minhashSigFromHashes(col("ds")))
        val k = sg.select(col("doc_id"), col("ts"),
          (element_at(col("sig"), 1) % 64).as("shard_sim"),
          element_at(col("sig"), 2).as("k2"),
          (col("doc_id") % 64).as("shard_rnd"))
          .persist()
        val wSim = Window.partitionBy(col("shard_sim"))
          .orderBy(col("k2"), col("doc_id"))
        val wRnd = Window.partitionBy(col("shard_rnd"))
          .orderBy(col("doc_id"))
        def adj(w: org.apache.spark.sql.expressions.WindowSpec,
            name: String) = {
          val pts = lag(col("ts"), 1).over(w)
          val icnt = size(array_intersect(col("ts"), col("pts")))
          k.withColumn("pts", pts)
            .filter(col("pts").isNotNull &&
              size(col("ts")) > 0 && size(col("pts")) > 0)
            .select(lit(name).as("layout"),
              (icnt.cast("double") /
                (size(col("ts")) + size(col("pts")) - icnt)).as("j"))
        }
        adj(wSim, "similarity").unionByName(adj(wRnd, "baseline"))
          .groupBy(col("layout"))
          .agg(count(lit(1)).as("n_pairs"),
            (dsum(col("j")) / count(lit(1))).as("mean_adj_jaccard"),
            (sum(when(col("j") >= 0.5, 1L).otherwise(0L)).cast("double") /
              count(lit(1)).cast("double")).as("frac_neardup"))
      },
      Some {
        val jexpr = "CAST(len(list_filter(ts, x -> list_contains(pts, x)))" +
          " AS DOUBLE) / (len(ts) + len(pts)" +
          " - len(list_filter(ts, x -> list_contains(pts, x))))"
        s"""WITH corpus AS ($corpusWithNearDupsSql),
           |tokh AS (SELECT doc_id, text,
           |           ${tokenHashesSql("text")} AS th FROM corpus),
           |gs AS (SELECT doc_id, text,
           |         list_distinct(${hashedShinglesSql("text", "th")}) AS ds
           |       FROM tokh),
           |sg AS (SELECT doc_id,
           |         list_distinct(string_split(text, ' ')) AS ts,
           |         ${minhashSigOverHashesSql("ds")} AS sig
           |       FROM gs),
           |k AS (SELECT doc_id, ts, sig[1] % 64 AS shard_sim,
           |        sig[2] AS k2, doc_id % 64 AS shard_rnd FROM sg),
           |sim AS (SELECT ts, lag(ts) OVER (
           |          PARTITION BY shard_sim ORDER BY k2, doc_id) AS pts
           |        FROM k),
           |rnd AS (SELECT ts, lag(ts) OVER (
           |          PARTITION BY shard_rnd ORDER BY doc_id) AS pts
           |        FROM k),
           |js AS (
           |  SELECT 'similarity' AS layout, $jexpr AS j FROM sim
           |  WHERE pts IS NOT NULL AND len(ts) > 0 AND len(pts) > 0
           |  UNION ALL
           |  SELECT 'baseline' AS layout, $jexpr AS j FROM rnd
           |  WHERE pts IS NOT NULL AND len(ts) > 0 AND len(pts) > 0)
           |SELECT layout, CAST(COUNT(*) AS BIGINT) AS n_pairs,
           |  ${dsumSql("j")} / COUNT(*) AS mean_adj_jaccard,
           |  CAST(SUM(CASE WHEN j >= 0.5 THEN 1 ELSE 0 END) AS DOUBLE)
           |    / CAST(COUNT(*) AS DOUBLE) AS frac_neardup
           |FROM js GROUP BY layout""".stripMargin
      }),

    // ----- q182: CCNet-style per-source LM buckets (head/middle/tail) -----
    // CCNet's (Wenzek et al. 2020 §4.3) shipping decision: score every
    // document against a reference LM, split EACH SOURCE into
    // head/middle/tail terciles, and train on head+middle. The score here
    // is q62's corpus-unigram mean token probability (higher = more
    // fluent, the in-engine stand-in for low perplexity — no external LM,
    // no libm ln); the tercile is ntile(3) per source over the total
    // (score DESC, doc_id) order, which both engines define identically.
    // Emitted per (source, bucket): doc count, decimal-grid mean score,
    // and the score range — the table a mixture designer reads to set the
    // per-source keep line. Scale: scoring is the q62 broadcast-vocab
    // pass; the ntile window partitions by SOURCE (bounded fan-in per
    // partition is the per-source doc count — the same contract as q89's
    // per-stratum top-k, never a global sort).
    NamedQuery(
      "q182_ccnet_buckets",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val docs = tbl(s, d, "documents")
        val toks = docs
          .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("c"))
        val total = vocab.agg(sum(col("c")).as("total"))
        val scored = toks
          .join(broadcast(vocab), "tok")
          .crossJoin(broadcast(total))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_tokens"),
            sum(col("c").cast("decimal(38,0)")).as("sumc"),
            max(col("total")).as("n"))
          .select(col("doc_id"),
            (col("sumc").cast("double") /
              (col("n_tokens").cast("double") * col("n").cast("double")))
              .as("score"))
          .join(docs.select(col("doc_id"), col("source")), "doc_id")
        val w = Window.partitionBy(col("source"))
          .orderBy(col("score").desc, col("doc_id"))
        scored
          .withColumn("bucket", ntile(3).over(w).cast("long"))
          .groupBy(col("source"), col("bucket"))
          .agg(count(lit(1)).as("n_docs"),
            (dsum(col("score")) / count(lit(1)).cast("double"))
              .as("mean_score"),
            min(col("score")).as("min_score"),
            max(col("score")).as("max_score"))
      },
      Some(s"""WITH tok AS (
             |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
             |  FROM documents),
             |v AS (SELECT tok, COUNT(*) AS c FROM tok GROUP BY tok),
             |n AS (SELECT CAST(SUM(c) AS BIGINT) AS total FROM v),
             |sc AS (
             |  SELECT t.doc_id,
             |    CAST(SUM(v.c) AS DOUBLE)
             |      / (CAST(COUNT(*) AS DOUBLE) * CAST(MAX(n.total) AS DOUBLE))
             |      AS score
             |  FROM tok t JOIN v USING (tok) CROSS JOIN n
             |  GROUP BY t.doc_id),
             |bk AS (
             |  SELECT d.source, sc.score,
             |    CAST(ntile(3) OVER (PARTITION BY d.source
             |      ORDER BY sc.score DESC, sc.doc_id) AS BIGINT) AS bucket
             |  FROM sc JOIN documents d USING (doc_id))
             |SELECT source, bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
             |  ${dsumSql("score")} / CAST(COUNT(*) AS DOUBLE) AS mean_score,
             |  MIN(score) AS min_score, MAX(score) AS max_score
             |FROM bk GROUP BY source, bucket""".stripMargin)),

    // ----- q212: target-mixture sampler (domain rebalancing) --------------
    // The data-mixing step between curation and training: draw a budget
    // of N = n_docs div 2 documents whose SOURCE mix hits a target
    // (uniform here — each of the k sources gets quota N div k), using
    // the per-source md5-rank selection of q44/q89 so the draw is a
    // deterministic function of the data, reproducible on any cluster.
    // A source short of its quota yields what it has (selected =
    // min(avail, quota)); the achieved share column shows the residual
    // imbalance a second redistribution pass would close — reported,
    // not hidden. sel_sum (exact Σ doc_id over the selected set) is the
    // witness that both engines selected the SAME documents, not merely
    // the same counts. Shape: one per-source rank window over the
    // (doc_id, source) projection, quota/k as broadcast scalars, one
    // source-bounded rollup — corpus touched once, selection emitted
    // without a global sort.
    NamedQuery(
      "q212_mixture_sampler",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val docs = tbl(s, d, "documents")
          .select(col("doc_id"), col("source"))
        val scal = docs.agg(count(lit(1)).as("n_docs"),
            countDistinct(col("source")).as("k"))
          .select(expr("(n_docs div 2) div k").as("quota"))
        val w = Window.partitionBy(col("source"))
          .orderBy(strHash(col("doc_id").cast("string")), col("doc_id"))
        val sel = docs
          .withColumn("rk", row_number().over(w).cast("long"))
          .crossJoin(broadcast(scal))
          .filter(col("rk") <= col("quota"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_selected"),
            sum(col("doc_id")).as("sel_sum"))
        val avail = docs.groupBy(col("source"))
          .agg(count(lit(1)).as("avail"))
        val tot = sel.agg(sum(col("n_selected")).as("n_total"))
        avail.join(sel, "source")
          .crossJoin(broadcast(scal))
          .crossJoin(broadcast(tot))
          .select(col("source"), col("avail"), col("quota"),
            col("n_selected"), col("sel_sum"),
            (col("n_selected").cast("double") /
              col("n_total").cast("double")).as("achieved_share"))
      },
      Some(s"""WITH docs AS (SELECT doc_id, source FROM documents),
              |scal AS (
              |  SELECT (COUNT(*) // 2) // COUNT(DISTINCT source) AS quota
              |  FROM docs),
              |rk AS (
              |  SELECT source, doc_id, CAST(row_number() OVER (
              |    PARTITION BY source ORDER BY
              |      ${strHashSql("CAST(doc_id AS VARCHAR)")}, doc_id)
              |    AS BIGINT) AS rk
              |  FROM docs),
              |sel AS (
              |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_selected,
              |    CAST(SUM(doc_id) AS BIGINT) AS sel_sum
              |  FROM rk CROSS JOIN scal WHERE rk.rk <= scal.quota
              |  GROUP BY source),
              |avail AS (
              |  SELECT source, CAST(COUNT(*) AS BIGINT) AS avail
              |  FROM docs GROUP BY source),
              |tot AS (SELECT CAST(SUM(n_selected) AS BIGINT) AS n_total
              |        FROM sel)
              |SELECT a.source, a.avail, CAST(scal.quota AS BIGINT) AS quota,
              |  s.n_selected, s.sel_sum,
              |  CAST(s.n_selected AS DOUBLE) / CAST(tot.n_total AS DOUBLE)
              |    AS achieved_share
              |FROM avail a JOIN sel s USING (source)
              |CROSS JOIN scal CROSS JOIN tot""".stripMargin)),

    // ----- q242: mixture concentration report (HHI per language) ----------
    // The one-number diversity readout per corpus slice: the
    // Herfindahl–Hirschman index of source shares within each language,
    // its reciprocal (the "effective number of sources" — 20 equal
    // sources → 20.0, one dominant source → ~1), and the top source's
    // share. The antitrust economist's concentration measure is exactly
    // what a mixture designer needs before believing a slice is
    // "diverse": q46/q58 report the shares, this collapses them into
    // the comparable scalar. HHI = Σnᵢ²/n² — the nᵢ² sum widens to
    // HUGEINT/DECIMAL (source counts are corpus-scale), the two ratios
    // are identical double trees, and everything is
    // (lang × source)-bounded after one rollup.
    NamedQuery(
      "q242_mixture_hhi",
      (s, d) => {
        val cells = OpsKit.tbl(s, d, "documents")
          .groupBy(col("lang"), col("source"))
          .agg(count(lit(1)).as("c"))
        val st = cells.groupBy(col("lang")).agg(
          sum(col("c")).as("n_docs"),
          count(lit(1)).as("n_sources"),
          max(col("c")).as("top_c"),
          sum(expr("CAST(c AS DECIMAL(38,0)) * c")).cast("double")
            .as("s2"))
        val nd = col("n_docs").cast("double")
        val hhi = col("s2") / (nd * nd)
        st.select(col("lang"), col("n_docs"), col("n_sources"),
          hhi.as("hhi"), (lit(1.0) / hhi).as("effective_sources"),
          (col("top_c").cast("double") / nd).as("top_source_share"))
      },
      Some("""WITH cells AS (
             |  SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS c
             |  FROM documents GROUP BY 1, 2),
             |st AS (
             |  SELECT lang, CAST(SUM(c) AS BIGINT) AS n_docs,
             |    CAST(COUNT(*) AS BIGINT) AS n_sources,
             |    CAST(MAX(c) AS BIGINT) AS top_c,
             |    CAST(SUM(CAST(c AS HUGEINT) * c) AS DOUBLE) AS s2
             |  FROM cells GROUP BY lang)
             |SELECT lang, n_docs, n_sources,
             |  s2 / (CAST(n_docs AS DOUBLE) * CAST(n_docs AS DOUBLE))
             |    AS hhi,
             |  1.0 / (s2 / (CAST(n_docs AS DOUBLE)
             |               * CAST(n_docs AS DOUBLE)))
             |    AS effective_sources,
             |  CAST(top_c AS DOUBLE) / CAST(n_docs AS DOUBLE)
             |    AS top_source_share
             |FROM st""".stripMargin)),

    // ----- q247: deterministic negative sampling (training-pair prep) -----
    // The recommender/embedding-training data step: for every observed
    // (customer, part) positive, draw 3 uniform candidate negatives
    // from the part universe and REJECT any that is secretly a
    // positive for that customer (the accidental-hit problem — at 100 TB
    // the rejection join is why this is a pipeline operator and not a
    // random() call). Draws are md5-indexed into the part universe via
    // a dense rank over the part table, built with the phased
    // range-bucket shape (part scales with SF — no global window),
    // so the sample is reproducible row-for-row across
    // engines and runs; the per-customer report carries the achieved
    // negative:positive ratio and the accidental-hit count it rejected.
    // Shapes: facts join broadcast part-rank, one anti-join-shaped
    // left join against the positive set on (customer, part).
    NamedQuery(
      "q247_negative_sampling",
      (s, d) => {
        // Examined in r18 and left UNPINNED: pos feeds three consumers,
        // but pinning it was measured ~2x slower — the checkpoint's
        // unknown stats demote the rejection join's pos side from an
        // auto-broadcast to a sort-merge join, which costs more than
        // the two saved re-derivations. (At 100 TB pos is corpus-scale
        // and the rejection join shuffles under either form.)
        val pos = tbl(s, d, "orders")
          .select(col("o_orderkey"), col("o_custkey"))
          .join(tbl(s, d, "lineitem")
            .select(col("l_orderkey").as("o_orderkey"), col("l_partkey")),
            "o_orderkey")
          .select(col("o_custkey").as("c"), col("l_partkey").as("p"))
          .distinct()
        val parts = tbl(s, d, "part").select(col("p_partkey"))
        val nP = parts.agg(count(lit(1)).as("np"))
        // `part` scales with SF, so the dense draw index is the q148/q224
        // phased rank (range buckets + broadcast offsets), never a raw
        // single-partition row_number — see OpsKit.phasedRank
        val ranked = OpsKit.phasedRank(parts, col("p_partkey"), "rk")
        val draws = pos.crossJoin(broadcast(
            s.range(0, 3).select(col("id").as("j"))))
          .crossJoin(broadcast(nP))
          .select(col("c"), col("p"), col("j"),
            (LlmKit.strHash(concat(col("c").cast("string"), lit(":"),
              col("p").cast("string"), lit(":"),
              col("j").cast("string"))) % col("np") + 1).as("rk"))
          .join(broadcast(ranked), "rk")
          .select(col("c"), col("p_partkey").as("cand"))
        val kept = draws
          .join(pos.select(col("c"), col("p").as("cand"))
            .withColumn("hit", lit(1L)), Seq("c", "cand"), "left")
        val perC = kept.groupBy(col("c"))
          .agg(count(lit(1)).as("n_drawn"),
            sum(when(col("hit").isNull, 1L).otherwise(0L)).as("n_kept"),
            sum(coalesce(col("hit"), lit(0L))).as("n_accidental"))
        pos.groupBy(col("c")).agg(count(lit(1)).as("n_pos"))
          .join(perC, "c")
          .select(col("c").as("custkey"), col("n_pos"), col("n_drawn"),
            col("n_kept"), col("n_accidental"),
            (col("n_kept").cast("double") / col("n_pos").cast("double"))
              .as("neg_ratio"))
      },
      Some {
        val h = LlmKit.strHashSql(
          "concat(CAST(c AS VARCHAR), ':', CAST(p AS VARCHAR), " +
            "':', CAST(j AS VARCHAR))")
        s"""WITH pos AS (
           |  SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
           |  FROM orders o JOIN lineitem l
           |    ON l.l_orderkey = o.o_orderkey),
           |np AS (SELECT CAST(COUNT(*) AS BIGINT) AS np FROM part),
           |ranked AS (
           |  SELECT p_partkey,
           |    CAST(row_number() OVER (ORDER BY p_partkey) AS BIGINT)
           |      AS rk
           |  FROM part),
           |draws AS (
           |  SELECT pos.c, pos.p, j.j,
           |    $h % (SELECT np FROM np) + 1 AS rk
           |  FROM pos, (SELECT unnest(range(0, 3)) AS j) j),
           |cand AS (
           |  SELECT d.c, r.p_partkey AS cand
           |  FROM draws d JOIN ranked r USING (rk)),
           |kept AS (
           |  SELECT ca.c, ca.cand,
           |    CASE WHEN p2.p IS NULL THEN 0 ELSE 1 END AS hit
           |  FROM cand ca LEFT JOIN pos p2
           |    ON p2.c = ca.c AND p2.p = ca.cand),
           |per_c AS (
           |  SELECT c, CAST(COUNT(*) AS BIGINT) AS n_drawn,
           |    CAST(SUM(CASE WHEN hit = 0 THEN 1 ELSE 0 END) AS BIGINT)
           |      AS n_kept,
           |    CAST(SUM(hit) AS BIGINT) AS n_accidental
           |  FROM kept GROUP BY c)
           |SELECT p.c AS custkey, p.n_pos, k.n_drawn, k.n_kept,
           |  k.n_accidental,
           |  CAST(k.n_kept AS DOUBLE) / CAST(p.n_pos AS DOUBLE)
           |    AS neg_ratio
           |FROM (SELECT c, CAST(COUNT(*) AS BIGINT) AS n_pos
           |      FROM pos GROUP BY c) p
           |JOIN per_c k USING (c)""".stripMargin
      }),

    // ----- q250: empirical-Bayes source-quality shrinkage -----------------
    // How to RANK sources by a quality rate when their sample sizes
    // differ wildly: a raw k/n ranking crowns whichever small source
    // got lucky (the winner's curse). Beta-binomial shrinkage pulls
    // each source's rate toward the pooled mean with strength m
    // estimated from the BETWEEN-source spread by method of moments
    // (m = p̄(1−p̄)/var − 1, floored at 1 — a spread wider than
    // binomial noise means trust the sources more, not less): the
    // standard eBay/baseball-card estimator, no conjugate-prior
    // integral anywhere, just moments. Quality = "document ≥ 200
    // chars", measured on a DELIBERATELY unequal per-source subsample
    // (keep md5(doc_id) % 4 < (md5(source) % 3) + 1 → 25/50/75% rates;
    // the inclusion key is a doc_id HASH because raw doc_id % 4 is
    // CONSTANT within a source — ids are dealt round-robin mod 20 — so
    // the unhashed form kept sources all-or-nothing):
    // the generator gives every source the same n, and with equal n
    // beta-binomial shrinkage is order-preserving BY ALGEBRA — every
    // rank_move was structurally zero (r12 degeneracy sweep). Unequal
    // evidence is the regime the estimator exists for (the winner's
    // curse needs a small-n source to get lucky). Rank movement
    // between raw and shrunk IS the output — the sources the naive
    // ranking oversold. Source-bounded everything after one corpus
    // rollup; the 20-term variance rides the dsum grid; ranks are
    // windows over 20 rows.
    NamedQuery(
      "q250_eb_shrinkage",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val bySrc = OpsKit.tbl(s, d, "documents")
          .filter(LlmKit.strHash(col("doc_id").cast("string")) % 4 <
            LlmKit.strHash(col("source")) % 3 + 1)
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n"),
            sum(when(col("n_chars") >= 200, 1L).otherwise(0L)).as("k"))
        val raw = col("k").cast("double") / col("n").cast("double")
        val withP = bySrc.withColumn("p_raw", raw)
        val glob = withP.agg(
          sum(col("k")).as("kt"), sum(col("n")).as("nt"),
          count(lit(1)).as("ns"),
          dsum(col("p_raw")).as("sp"),
          dsum(col("p_raw") * col("p_raw")).as("spp"))
          .select(
            (col("kt").cast("double") / col("nt").cast("double"))
              .as("p_bar"),
            ((col("spp") - col("sp") * col("sp") /
              col("ns").cast("double")) /
              (col("ns") - lit(1)).cast("double")).as("var_b"))
          .select(col("p_bar"),
            greatest(lit(1.0),
              col("p_bar") * (lit(1.0) - col("p_bar")) / col("var_b") -
                lit(1.0)).as("m"))
        val shrunk = withP.crossJoin(broadcast(glob))
          .withColumn("p_shrunk",
            (col("k").cast("double") + col("m") * col("p_bar")) /
              (col("n").cast("double") + col("m")))
        val wRaw = boundedWin.orderBy(col("p_raw").desc, col("source"))
        val wSh = boundedWin.orderBy(col("p_shrunk").desc, col("source"))
        shrunk
          .withColumn("rank_raw", row_number().over(wRaw).cast("long"))
          .withColumn("rank_shrunk", row_number().over(wSh).cast("long"))
          .select(col("source"), col("n"), col("k"), col("p_raw"),
            col("p_shrunk"), col("m"), col("rank_raw"),
            col("rank_shrunk"),
            (col("rank_raw") - col("rank_shrunk")).as("rank_move"))
      },
      Some {
        val spp = dsumSql(
          "(CAST(k AS DOUBLE) / CAST(n AS DOUBLE)) " +
            "* (CAST(k AS DOUBLE) / CAST(n AS DOUBLE))")
        val sp = dsumSql("CAST(k AS DOUBLE) / CAST(n AS DOUBLE)")
        s"""WITH b AS (
           |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
           |    CAST(SUM(CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END)
           |      AS BIGINT) AS k
           |  FROM documents
           |  WHERE ${LlmKit.strHashSql("CAST(doc_id AS VARCHAR)")} % 4
           |    < ${LlmKit.strHashSql("source")} % 3 + 1
           |  GROUP BY source),
           |g AS (
           |  SELECT
           |    CAST(SUM(k) AS DOUBLE) / CAST(SUM(n) AS DOUBLE) AS p_bar,
           |    ($spp - $sp * $sp / CAST(COUNT(*) AS DOUBLE))
           |      / CAST(COUNT(*) - 1 AS DOUBLE) AS var_b
           |  FROM b),
           |gm AS (
           |  SELECT p_bar,
           |    greatest(1.0, p_bar * (1.0 - p_bar) / var_b - 1.0) AS m
           |  FROM g),
           |sh AS (
           |  SELECT b.source, b.n, b.k,
           |    CAST(b.k AS DOUBLE) / CAST(b.n AS DOUBLE) AS p_raw,
           |    (CAST(b.k AS DOUBLE) + gm.m * gm.p_bar)
           |      / (CAST(b.n AS DOUBLE) + gm.m) AS p_shrunk,
           |    gm.m
           |  FROM b, gm)
           |SELECT source, n, k, p_raw, p_shrunk, m,
           |  CAST(row_number() OVER (ORDER BY p_raw DESC, source)
           |    AS BIGINT) AS rank_raw,
           |  CAST(row_number() OVER (ORDER BY p_shrunk DESC, source)
           |    AS BIGINT) AS rank_shrunk,
           |  CAST(row_number() OVER (ORDER BY p_raw DESC, source)
           |    AS BIGINT)
           |  - CAST(row_number() OVER (ORDER BY p_shrunk DESC, source)
           |    AS BIGINT) AS rank_move
           |FROM sh""".stripMargin
      }),

    // ----- q263: hashed-feature importance selection (DSIR-style) ---------
    // Data selection via importance reweighting (the shape of DSIR — Xie
    // et al., NeurIPS 2023): score every raw document by how much it
    // looks like a TARGET distribution (here: the English slice) under
    // cheap hashed features, then keep/resample by that importance.
    // Features are 64 hashed token buckets (the md5 token hash mod 64 —
    // a hashed n-gram model's bucket table, the part of DSIR that makes
    // it linear-scan cheap at corpus scale). Where DSIR multiplies
    // per-feature probability ratios (a log-sum), this computes the
    // ratio of EXPECTED feature probabilities,
    //   score(d) = E_f~d[p_target(f)] / E_f~d[p_raw(f)]
    // with add-one smoothing — same target-vs-raw discriminant family,
    // chosen deliberately because it stays in integer arithmetic end to
    // end (libm log/exp differ across engines; cf. q52/q62): both
    // expectations are exact integer sums, the score is ONE double
    // division, and the Bernoulli resample (keep with prob min(1,
    // score/2)) is an integer cross-multiplied compare against an
    // md5-derived deterministic draw (q196/q249 idiom) — bit-identical
    // on any partitioning and in the oracle. Scale: token stream →
    // (doc, bucket) rollup, a 64-row feature table broadcast back, a
    // doc-sized re-agg; no windows, no corpus² anything.
    NamedQuery(
      "q263_importance_select",
      (s, d) => {
        val docs = tbl(s, d, "documents")
          .select(col("doc_id"), col("source"), col("lang"))
        val toks = tbl(s, d, "documents")
          .select(col("doc_id"), col("lang"),
            explode(split(col("text"), " ")).as("tok"))
          .select(col("doc_id"), col("lang"),
            pmod(strHash(col("tok")), lit(64)).as("f"))
        val feat = toks.groupBy(col("f")).agg(
          count(lit(1)).as("rcnt"),
          sum(when(col("lang") === "en", 1L).otherwise(0L)).as("tcnt"))
        val totals = feat.agg(sum(col("rcnt")).as("nr"),
          sum(col("tcnt")).as("nt"))
        val dec = (c: org.apache.spark.sql.Column) =>
          c.cast("decimal(38,0)")
        val perDoc = toks.groupBy(col("doc_id"), col("f"))
          .agg(count(lit(1)).as("nf"))
          .join(broadcast(feat), "f")
          .groupBy(col("doc_id"))
          .agg(sum(col("nf")).as("n_tokens"),
            sum(col("nf") * (col("tcnt") + 1)).as("num0"),
            sum(col("nf") * (col("rcnt") + 1)).as("den0"))
          .crossJoin(broadcast(totals))
          .select(col("doc_id"), col("n_tokens"),
            (dec(col("num0")) * dec(col("nr") + 64)).as("num"),
            (dec(col("den0")) * dec(col("nt") + 64)).as("den"))
        val h6 = pmod(strHash(concat(lit("dsir:"),
          col("doc_id").cast("string"))), lit(1000000))
        perDoc.join(docs, "doc_id")
          .select(col("doc_id"), col("source"), col("lang"),
            col("n_tokens"),
            (col("num").cast("double") / col("den").cast("double"))
              .as("score"),
            (col("num") > col("den")).as("target_leaning"),
            (dec(h6 * 2) * col("den") < dec(lit(1000000)) * col("num"))
              .as("resampled"))
      },
      Some {
        val h = strHashSql("tok")
        val hd = strHashSql("'dsir:' || CAST(p.doc_id AS VARCHAR)")
        s"""WITH toks AS (
           |  SELECT doc_id, lang, $h % 64 AS f FROM (
           |    SELECT doc_id, lang,
           |      unnest(string_split(text, ' ')) AS tok
           |    FROM documents)),
           |feat AS (
           |  SELECT f, CAST(COUNT(*) AS BIGINT) AS rcnt,
           |    CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
           |      AS BIGINT) AS tcnt
           |  FROM toks GROUP BY f),
           |tot AS (SELECT CAST(SUM(rcnt) AS BIGINT) AS nr,
           |               CAST(SUM(tcnt) AS BIGINT) AS nt FROM feat),
           |pd AS (
           |  SELECT doc_id, CAST(SUM(nf) AS BIGINT) AS n_tokens,
           |    CAST(SUM(nf * (tcnt + 1)) AS HUGEINT)
           |      * CAST(MAX(t.nr) + 64 AS HUGEINT) AS num,
           |    CAST(SUM(nf * (rcnt + 1)) AS HUGEINT)
           |      * CAST(MAX(t.nt) + 64 AS HUGEINT) AS den
           |  FROM (SELECT doc_id, f, CAST(COUNT(*) AS BIGINT) AS nf
           |        FROM toks GROUP BY doc_id, f) c
           |  JOIN feat USING (f) CROSS JOIN tot t
           |  GROUP BY doc_id)
           |SELECT p.doc_id, d.source, d.lang, p.n_tokens,
           |  CAST(p.num AS DOUBLE) / CAST(p.den AS DOUBLE) AS score,
           |  p.num > p.den AS target_leaning,
           |  CAST(($hd % 1000000) * 2 AS HUGEINT) * p.den
           |    < CAST(1000000 AS HUGEINT) * p.num AS resampled
           |FROM pd p JOIN documents d ON d.doc_id = p.doc_id""".stripMargin
      }),

    // ----- q273: leakage-safe K-fold target encoding -----------------------
    // Target (mean) encoding of a high-cardinality categorical is the
    // classic tabular-feature step — and the classic LEAK: encoding a
    // row with a mean its own target contributed to lets the model read
    // the label through the feature. The leakage-safe form encodes each
    // fold with statistics from the OTHER K−1 folds only (plus additive
    // smoothing toward the fold-excluded global prior, m = 10 — the
    // Micci-Barreca 2001 construction). Everything is totals-minus-
    // fold-totals: enc(seg, f) = (S_seg − S_seg,f + m·prior_f)
    // / (n_seg − n_seg,f + m), prior_f = (S − S_f)/(n − n_f), with all
    // sums decimal-exact (dsum) and each division a single fixed-order
    // IEEE op — so both engines bit-match. Folds are pmod(o_orderkey,5):
    // deterministic, reproducible, join-free. Scale shape: ONE pass
    // builds the (seg × fold) grid (25 rows), the per-seg and per-fold
    // margins REUSE that grid (no second scan), and the encoded table
    // is grid-sized — the fact table is never shuffled at all beyond
    // the one custkey join to fetch the segment.
    NamedQuery(
      "q273_target_encoding",
      (s, d) => {
        val m = lit(10.0)
        val joined = tbl(s, d, "orders")
          .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
          .join(tbl(s, d, "customer")
            .select(col("c_custkey"), col("c_mktsegment")),
            col("o_custkey") === col("c_custkey"))
          .select(col("c_mktsegment").as("seg"),
            pmod(col("o_orderkey"), lit(5L)).as("fold"),
            col("o_totalprice").as("y"))
        // pinned: the 25-row (seg, fold) margin grid feeds four
        // consumers — unpinned each re-runs the orders⋈customer join
        val grid = pinned(joined.groupBy(col("seg"), col("fold"))
          .agg(count(lit(1)).as("n_sf"), dsum(col("y")).as("s_sf")))
        val bySeg = grid.groupBy(col("seg"))
          .agg(sum(col("n_sf")).as("n_s"),
            dsum(col("s_sf")).as("s_s"))
        val byFold = grid.groupBy(col("fold"))
          .agg(sum(col("n_sf")).as("n_f"),
            dsum(col("s_sf")).as("s_f"))
        val tot = grid.agg(sum(col("n_sf")).as("n_all"),
          dsum(col("s_sf")).as("s_all"))
        val prior = byFold.crossJoin(broadcast(tot))
          .select(col("fold"), ((col("s_all") - col("s_f")) /
            (col("n_all") - col("n_f")).cast("double")).as("prior_f"))
        grid.join(broadcast(bySeg), Seq("seg"))
          .join(broadcast(prior), Seq("fold"))
          .select(col("seg"), col("fold"),
            (col("n_s") - col("n_sf")).as("n_out"),
            (((col("s_s") - col("s_sf")) + m * col("prior_f")) /
              ((col("n_s") - col("n_sf")).cast("double") + m)).as("enc"),
            col("prior_f"))
      },
      Some(s"""WITH j AS (
             |  SELECT c.c_mktsegment AS seg, o.o_orderkey % 5 AS fold,
             |    o.o_totalprice AS y
             |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
             |grid AS (
             |  SELECT seg, fold, CAST(COUNT(*) AS BIGINT) AS n_sf,
             |    ${dsumSql("y")} AS s_sf
             |  FROM j GROUP BY seg, fold),
             |bseg AS (
             |  SELECT seg, CAST(SUM(n_sf) AS BIGINT) AS n_s,
             |    ${dsumSql("s_sf")} AS s_s
             |  FROM grid GROUP BY seg),
             |bfold AS (
             |  SELECT fold, CAST(SUM(n_sf) AS BIGINT) AS n_f,
             |    ${dsumSql("s_sf")} AS s_f
             |  FROM grid GROUP BY fold),
             |tot AS (SELECT CAST(SUM(n_sf) AS BIGINT) AS n_all,
             |    ${dsumSql("s_sf")} AS s_all FROM grid),
             |prior AS (
             |  SELECT fold, (s_all - s_f)
             |    / CAST(n_all - n_f AS DOUBLE) AS prior_f
             |  FROM bfold CROSS JOIN tot)
             |SELECT g.seg, g.fold, b.n_s - g.n_sf AS n_out,
             |  ((b.s_s - g.s_sf) + 10.0 * p.prior_f)
             |    / (CAST(b.n_s - g.n_sf AS DOUBLE) + 10.0) AS enc,
             |  p.prior_f
             |FROM grid g JOIN bseg b USING (seg)
             |JOIN prior p USING (fold)""".stripMargin)),

    // ----- q276: leave-one-source-out ablation table ------------------------
    // The data-mixing question every corpus owner asks before retraining:
    // "what does dropping source s do to the corpus profile?" Computed
    // WITHOUT 20 re-scans: one per-source rollup (n_docs, exact char
    // sum, quality-gate passes at n_chars ≥ 200), then every
    // leave-one-out metric is totals-minus-group arithmetic on the
    // broadcast grand total — the same O(sources) trick as q273's fold
    // exclusion, and the only shape that survives when "source" has
    // thousands of values over 100 TB. Integer sums exact; each shipped
    // rate/mean is one fixed-order IEEE division; delta_mean is a single
    // subtraction of two such doubles — engine-exact throughout.
    NamedQuery(
      "q276_source_ablation",
      (s, d) => {
        val perSrc = tbl(s, d, "documents")
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("sum_chars"),
            sum(when(col("n_chars") >= 200, 1L).otherwise(0L))
              .as("n_pass"))
        val tot = perSrc.agg(sum(col("n_docs")).as("nt"),
          sum(col("sum_chars")).as("ct"), sum(col("n_pass")).as("pt"))
        perSrc.crossJoin(broadcast(tot))
          .select(col("source"), col("n_docs"),
            ((col("ct") - col("sum_chars")).cast("double") /
              (col("nt") - col("n_docs")).cast("double"))
              .as("excl_mean_chars"),
            ((col("pt") - col("n_pass")).cast("double") /
              (col("nt") - col("n_docs")).cast("double"))
              .as("excl_pass_rate"),
            (((col("ct") - col("sum_chars")).cast("double") /
              (col("nt") - col("n_docs")).cast("double")) -
              (col("ct").cast("double") / col("nt").cast("double")))
              .as("delta_mean_chars"))
      },
      Some("""WITH p AS (
             |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             |    CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
             |    CAST(SUM(CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END)
             |         AS BIGINT) AS n_pass
             |  FROM documents GROUP BY source),
             |t AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS nt,
             |        CAST(SUM(sum_chars) AS BIGINT) AS ct,
             |        CAST(SUM(n_pass) AS BIGINT) AS pt FROM p)
             |SELECT p.source, p.n_docs,
             |  CAST(t.ct - p.sum_chars AS DOUBLE)
             |    / CAST(t.nt - p.n_docs AS DOUBLE) AS excl_mean_chars,
             |  CAST(t.pt - p.n_pass AS DOUBLE)
             |    / CAST(t.nt - p.n_docs AS DOUBLE) AS excl_pass_rate,
             |  (CAST(t.ct - p.sum_chars AS DOUBLE)
             |    / CAST(t.nt - p.n_docs AS DOUBLE))
             |  - (CAST(t.ct AS DOUBLE) / CAST(t.nt AS DOUBLE))
             |    AS delta_mean_chars
             |FROM p CROSS JOIN t""".stripMargin)),

    // ----- q280: token-budget water-filling across sources ----------------
    // The allocation question behind every data-mixture recipe: given a
    // total token budget T and per-source supplies, hand each source
    // min(supply, L) where the water level L is chosen so the
    // allocations sum exactly to T — small sources contribute
    // everything they have, large ones are rationed at the common
    // level (the max-min-fair allocation; same construction as
    // water-filling in resource allocation). L has a CLOSED FORM over
    // the supply order statistics: clip the r smallest supplies, then
    // L_r = (T − P_r)/(n − r), and the valid r is the one where
    // s_(r) ≤ L_r < s_(r+1) — one ranked prefix pass over the 20-row
    // source table, no iteration. Supplies use the q250 deterministic
    // unequal subsample (md5 keys, 25/50/75% rates): the generator's
    // equal per-source volumes would put every source on the same side
    // of L and the clipped flag would be constant (the r12 degeneracy
    // discipline applied at design time). T = ⌊Σs/2⌋. All rank/prefix
    // work is a window over the per-source AGGREGATE (bounded);
    // L and each allocation are single IEEE expressions.
    NamedQuery(
      "q280_token_budget",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val supply = OpsKit.tbl(s, d, "documents")
          .filter(LlmKit.strHash(col("doc_id").cast("string")) % 4 <
            LlmKit.strHash(col("source")) % 3 + 1)
          .groupBy(col("source"))
          .agg(sum(size(split(col("text"), " ")).cast("long"))
            .as("supply"))
        val w = boundedWin.orderBy(col("supply"), col("source"))
        // pinned: the source-bounded ranked table feeds tot, the
        // candidate levels, the next-supply probe AND the final
        // allocation - one corpus scan, not four
        val ranked = OpsKit.pinned(supply
          .withColumn("r", row_number().over(w).cast("long"))
          .withColumn("pr", sum(col("supply")).over(
            w.rowsBetween(Window.unboundedPreceding,
              Window.currentRow))))
        val tot = ranked.agg(sum(col("supply")).as("st"),
          count(lit(1)).as("n"))
          .select(col("st"), col("n"), expr("st div 2").as("t_budget"))
        val cand = ranked.crossJoin(broadcast(tot))
          // level after clipping the r smallest: (T − P_r)/(n − r);
          // r = 0 (clip nothing) is represented by the sentinel row
          // below, r = n (supply exhausted) can't happen with T < Σs —
          // and must be excluded BEFORE the division (n − r = 0)
          .filter(col("r") < col("n"))
          .select(col("r"), col("supply"), col("pr"), col("n"),
            col("t_budget"),
            ((col("t_budget") - col("pr")).cast("double") /
              (col("n") - col("r")).cast("double")).as("lvl"))
        val cand0 = tot.select(lit(0L).as("r"), lit(0L).as("supply"),
          lit(0L).as("pr"), col("n"), col("t_budget"),
          (col("t_budget").cast("double") / col("n").cast("double"))
            .as("lvl"))
        val levels = cand0.unionByName(cand)
        // valid r: every clipped supply ≤ L_r and the next supply > L_r
        val nxt = ranked.select(col("r").as("rn"),
          col("supply").as("next_supply"))
        val lvl = levels
          .join(broadcast(nxt), col("rn") === col("r") + 1, "left")
          .filter(col("supply").cast("double") <= col("lvl") &&
            (col("next_supply").isNull ||
              col("next_supply").cast("double") > col("lvl")))
          .select(col("lvl"), col("t_budget"))
        ranked.crossJoin(broadcast(lvl))
          .select(col("source"), col("supply"), col("r").as("supply_rank"),
            col("t_budget"), col("lvl").as("level"),
            (col("supply").cast("double") <= col("lvl")).as("clipped"),
            least(col("supply").cast("double"), col("lvl")).as("alloc"))
      },
      Some {
        val sub =
          s"""WHERE ${LlmKit.strHashSql("CAST(doc_id AS VARCHAR)")} % 4
             |    < ${LlmKit.strHashSql("source")} % 3 + 1"""
            .stripMargin.replace("\n", " ")
        s"""WITH supply AS (
           |  SELECT source,
           |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
           |      AS supply
           |  FROM documents $sub GROUP BY source),
           |ranked AS (
           |  SELECT source, supply,
           |    CAST(row_number() OVER (ORDER BY supply, source)
           |      AS BIGINT) AS r,
           |    CAST(SUM(supply) OVER (ORDER BY supply, source
           |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS pr
           |  FROM supply),
           |tot AS (SELECT CAST(SUM(supply) AS BIGINT) AS st,
           |    CAST(COUNT(*) AS BIGINT) AS n,
           |    CAST(SUM(supply) // 2 AS BIGINT) AS t_budget
           |  FROM supply),
           |cand AS (
           |  SELECT r, supply, pr, n, t_budget,
           |    CAST(t_budget - pr AS DOUBLE) / CAST(n - r AS DOUBLE)
           |      AS lvl
           |  FROM ranked CROSS JOIN tot
           |  WHERE r < n
           |  UNION ALL
           |  SELECT 0, 0, 0, n, t_budget,
           |    CAST(t_budget AS DOUBLE) / CAST(n AS DOUBLE)
           |  FROM tot),
           |lvl AS (
           |  SELECT c.lvl, c.t_budget
           |  FROM cand c LEFT JOIN ranked nx ON nx.r = c.r + 1
           |  WHERE CAST(c.supply AS DOUBLE) <= c.lvl
           |    AND (nx.supply IS NULL
           |         OR CAST(nx.supply AS DOUBLE) > c.lvl))
           |SELECT rk.source, rk.supply, rk.r AS supply_rank,
           |  l.t_budget, l.lvl AS level,
           |  CAST(rk.supply AS DOUBLE) <= l.lvl AS clipped,
           |  LEAST(CAST(rk.supply AS DOUBLE), l.lvl) AS alloc
           |FROM ranked rk CROSS JOIN lvl l""".stripMargin
      }),

    // ----- q284: Bradley–Terry preference strengths across sources --------
    // The pairwise-preference fit behind reward-model data prep: given
    // "doc A beat doc B" comparisons, Bradley–Terry (1952) assigns each
    // source a strength p with P(i beats j) = pᵢ/(pᵢ+pⱼ), fit by the
    // standard MM iteration (Hunter 2004): pᵢ ← Wᵢ / Σⱼ nᵢⱼ/(pᵢ+pⱼ),
    // renormalized to mean 1 — monotone in the likelihood, so 8 fixed
    // rounds on a connected comparison graph are deterministic and
    // engine-exact (every term is one IEEE division of identical
    // operands; Σⱼ and the normalizer on the dsum grid). Comparisons:
    // cross-source doc pairs inside md5 blocks (B = 16 here; B scales
    // with corpus size so pairs-per-block stays bounded — the LSH-cap
    // discipline), "longer document wins", ties dropped. The MM state
    // is K strengths (sources, not docs) — broadcast each round, with
    // the K×K match matrix pinned once; at 100 TB only the one blocked
    // self-join touches the corpus. Spec re-runs the MM in plain Scala
    // and checks the fixed point ordering.
    NamedQuery(
      "q284_bradley_terry",
      (s, d) => {
        val docs = tbl(s, d, "documents").select(col("doc_id"),
          col("source"), col("n_chars"),
          pmod(LlmKit.strHash(concat(lit("bt:"),
            col("doc_id").cast("string"))), lit(16L)).as("blk"))
        val a = docs.select(col("doc_id").as("ida"),
          col("source").as("sa"), col("n_chars").as("na"), col("blk"))
        val c = docs.select(col("doc_id").as("idb"),
          col("source").as("sb"), col("n_chars").as("nb"),
          col("blk").as("blk2"))
        val pr = a.join(c, col("blk") === col("blk2") &&
          col("ida") < col("idb") && col("sa") =!= col("sb") &&
          col("na") =!= col("nb"))
        val wdf = pinned(pr.select(
            when(col("na") > col("nb"), col("sa")).otherwise(col("sb"))
              .as("i"),
            when(col("na") > col("nb"), col("sb")).otherwise(col("sa"))
              .as("j"))
          .groupBy(col("i"), col("j")).agg(count(lit(1)).as("w")))
        val nsym = pinned(wdf.unionByName(
            wdf.select(col("j").as("i"), col("i").as("j"), col("w")))
          .groupBy(col("i"), col("j")).agg(sum(col("w")).as("nij")))
        val srcs = nsym.select(col("i")).distinct()
        val wins0 = pinned(srcs
          .join(wdf.groupBy(col("i")).agg(sum(col("w")).as("wr")),
            Seq("i"), "left")
          .select(col("i"), coalesce(col("wr"), lit(0L)).as("wins")))
        val matches = nsym.groupBy(col("i"))
          .agg(sum(col("nij")).as("matches"))
        // The 8 MM rounds iterate K strengths against the K×K match
        // matrix — both bounded (K = sources), so they run on the
        // DRIVER over the collected tables (the round-9 constant-cost
        // lesson; 8 pinned rounds cost ~0.3 s each in plan/job
        // constants, measured r13). Arithmetic is identical to the
        // oracle's MATERIALIZED CTE rounds: nij/(pi+pj), wins/den and
        // praw/m are the same IEEE ops in the same order, and every
        // dsum is the 6-decimal grid via java.math HALF_UP — the exact
        // rounding Spark's own double→DECIMAL(28,6) cast applies.
        val nsymRows = nsym.collect()
          .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
        val winsRows = wins0.collect()
          .map(r => r.getString(0) -> r.getLong(1)).toSeq.sortBy(_._1)
        def q6(x: Double): BigDecimal =
          BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        var pMap = winsRows.map { case (i, _) => i -> 1.0 }.toMap
        for (_ <- 1 to 8) {
          val den = nsymRows.groupBy(_._1).map { case (i, g) =>
            i -> g.map { case (_, j, nij) =>
              q6(nij.toDouble / (pMap(i) + pMap(j)))
            }.sum.toDouble
          }
          val praw = winsRows.map { case (i, w) =>
            i -> w.toDouble / den(i)
          }
          val m = praw.map { case (_, v) => q6(v) }.sum.toDouble /
            praw.size.toDouble
          pMap = praw.map { case (i, v) => i -> v / m }.toMap
        }
        import s.implicits._
        val pDf = winsRows.map { case (i, _) => (i, pMap(i)) }
          .toDF("src", "p")
        wins0.join(matches, Seq("i"))
          .join(broadcast(pDf), col("i") === col("src"))
          .select(col("i").as("source"), col("wins"), col("matches"),
            col("p").as("strength"))
      },
      Some {
        val h = LlmKit.strHashSql("concat('bt:', CAST(doc_id AS VARCHAR))")
        // every p_k is referenced TWICE by s_{k+1} (pi and pj) — left
        // to DuckDB's default CTE inlining that doubles the plan per
        // round (2^8 copies of the corpus scan); MATERIALIZED pins
        // each round's K-row state exactly as the Spark side's pinned
        // localCheckpoint does
        val iters = (1 to 8).map { k =>
          s"""s$k AS (
             |  SELECT n.i,
             |    ${dsumSql(s"CAST(n.nij AS DOUBLE) / (pi.p + pj.p)")}
             |      AS den
             |  FROM nsym n
             |  JOIN p${k - 1} pi ON pi.src = n.i
             |  JOIN p${k - 1} pj ON pj.src = n.j
             |  GROUP BY n.i),
             |r$k AS (
             |  SELECT w.i, CAST(w.wins AS DOUBLE) / s$k.den AS praw
             |  FROM wins0 w JOIN s$k ON s$k.i = w.i),
             |m$k AS (SELECT ${dsumSql("praw")} / COUNT(*) AS m FROM r$k),
             |p$k AS MATERIALIZED (
             |  SELECT i AS src, praw / m AS p FROM r$k, m$k)"""
            .stripMargin
        }.mkString(",\n")
        s"""WITH dd AS MATERIALIZED (
           |  SELECT doc_id, source, n_chars, $h % 16 AS blk
           |  FROM documents),
           |pr AS (
           |  SELECT a.source AS sa, c.source AS sb,
           |    a.n_chars AS na, c.n_chars AS nb
           |  FROM dd a JOIN dd c ON a.blk = c.blk AND a.doc_id < c.doc_id
           |  WHERE a.source <> c.source AND a.n_chars <> c.n_chars),
           |wdf AS (
           |  SELECT CASE WHEN na > nb THEN sa ELSE sb END AS i,
           |    CASE WHEN na > nb THEN sb ELSE sa END AS j,
           |    CAST(COUNT(*) AS BIGINT) AS w
           |  FROM pr GROUP BY 1, 2),
           |nsym AS MATERIALIZED (
           |  SELECT i, j, CAST(SUM(w) AS BIGINT) AS nij FROM (
           |    SELECT i, j, w FROM wdf
           |    UNION ALL SELECT j AS i, i AS j, w FROM wdf)
           |  GROUP BY i, j),
           |srcs AS (SELECT DISTINCT i FROM nsym),
           |wins0 AS MATERIALIZED (
           |  SELECT s.i, CAST(COALESCE(SUM(w.w), 0) AS BIGINT) AS wins
           |  FROM srcs s LEFT JOIN wdf w ON w.i = s.i GROUP BY s.i),
           |mt AS (
           |  SELECT i, CAST(SUM(nij) AS BIGINT) AS matches
           |  FROM nsym GROUP BY i),
           |p0 AS (SELECT i AS src, CAST(1.0 AS DOUBLE) AS p FROM srcs),
           |$iters
           |SELECT w.i AS source, w.wins, mt.matches, p8.p AS strength
           |FROM wins0 w JOIN mt ON mt.i = w.i
           |JOIN p8 ON p8.src = w.i""".stripMargin
      }),

    // ----- q287: Cohen's kappa between two heuristic labelers --------------
    // Labeling-pipeline QA: two cheap keep/reject labelers (A: length
    // gate word_count ≥ 40; B: mean-word-length gate n_chars/words ≥
    // 5.5) agree on some documents by CHANCE — raw agreement po
    // overstates consistency. Cohen's kappa (1960) corrects it:
    // κ = (po − pe)/(1 − pe) with pe the agreement expected from the
    // labelers' marginals. Everything derives from the four integer
    // cells of the agreement matrix: po, pe, κ are fixed-order IEEE
    // expressions over exact counts — engine-identical. Output is the
    // 2×2 matrix with cell fractions plus the three scalars broadcast
    // (allowlisted as global scalars). Scale: per-row labeling then a
    // 4-group agg — linear, one shuffle of 4 rows.
    NamedQuery(
      "q287_cohens_kappa",
      (s, d) => {
        val lab = tbl(s, d, "documents").select(
          (size(split(col("text"), " ")) >= 40).as("a_keep"),
          (col("n_chars").cast("double") /
            size(split(col("text"), " ")).cast("double") >= 5.5)
            .as("b_keep"))
        // pinned: the 4-cell agreement matrix feeds the marginals and
        // the final select - one document scan, not two
        val cells = pinned(lab.groupBy(col("a_keep"), col("b_keep"))
          .agg(count(lit(1)).as("n_cell")))
        val tot = cells.agg(sum(col("n_cell")).as("nn"),
          sum(when(col("a_keep"), col("n_cell")).otherwise(0L)).as("na"),
          sum(when(col("b_keep"), col("n_cell")).otherwise(0L)).as("nb"),
          sum(when(col("a_keep") === col("b_keep"), col("n_cell"))
            .otherwise(0L)).as("agree"))
        val pa = col("na").cast("double") / col("nn").cast("double")
        val pb = col("nb").cast("double") / col("nn").cast("double")
        val stats = tot
          .select(col("nn"),
            (col("agree").cast("double") / col("nn").cast("double"))
              .as("po"),
            (pa * pb + (lit(1.0) - pa) * (lit(1.0) - pb)).as("pe"))
          .select(col("nn"), col("po"), col("pe"),
            when(col("pe") < 1.0,
              (col("po") - col("pe")) / (lit(1.0) - col("pe")))
              .as("kappa"))
        cells.crossJoin(broadcast(stats))
          .select(col("a_keep"), col("b_keep"), col("n_cell"),
            (col("n_cell").cast("double") / col("nn").cast("double"))
              .as("cell_frac"),
            col("po"), col("pe"), col("kappa"))
      },
      Some("""WITH lab AS (
             |  SELECT len(string_split(text, ' ')) >= 40 AS a_keep,
             |    CAST(n_chars AS DOUBLE)
             |      / CAST(len(string_split(text, ' ')) AS DOUBLE) >= 5.5
             |      AS b_keep
             |  FROM documents),
             |cells AS (
             |  SELECT a_keep, b_keep, CAST(COUNT(*) AS BIGINT) AS n_cell
             |  FROM lab GROUP BY a_keep, b_keep),
             |tot AS (
             |  SELECT CAST(SUM(n_cell) AS BIGINT) AS nn,
             |    CAST(SUM(CASE WHEN a_keep THEN n_cell ELSE 0 END)
             |      AS BIGINT) AS na,
             |    CAST(SUM(CASE WHEN b_keep THEN n_cell ELSE 0 END)
             |      AS BIGINT) AS nb,
             |    CAST(SUM(CASE WHEN a_keep = b_keep THEN n_cell ELSE 0 END)
             |      AS BIGINT) AS agree
             |  FROM cells),
             |st AS (
             |  SELECT nn,
             |    CAST(agree AS DOUBLE) / CAST(nn AS DOUBLE) AS po,
             |    (CAST(na AS DOUBLE) / CAST(nn AS DOUBLE))
             |      * (CAST(nb AS DOUBLE) / CAST(nn AS DOUBLE))
             |    + (1.0 - CAST(na AS DOUBLE) / CAST(nn AS DOUBLE))
             |      * (1.0 - CAST(nb AS DOUBLE) / CAST(nn AS DOUBLE)) AS pe
             |  FROM tot),
             |st2 AS (
             |  SELECT nn, po, pe,
             |    CASE WHEN pe < 1.0 THEN (po - pe) / (1.0 - pe) END
             |      AS kappa
             |  FROM st)
             |SELECT c.a_keep, c.b_keep, c.n_cell,
             |  CAST(c.n_cell AS DOUBLE) / CAST(s2.nn AS DOUBLE)
             |    AS cell_frac,
             |  s2.po, s2.pe, s2.kappa
             |FROM cells c CROSS JOIN st2 s2""".stripMargin)),

    // ----- q292: McNemar's test on the paired labeler disagreements --------
    // q287's kappa asks "how consistent are the labelers"; McNemar
    // (1947) asks the DIFFERENT question "is one systematically more
    // permissive" — the paired test that only the discordant cells can
    // answer (concordant pairs carry no information about marginal
    // difference). χ² = (b−c)²/(b+c) on the two discordant counts,
    // with Edwards' continuity correction (max(|b−c|−1,0))²/(b+c)
    // beside it and the χ²₁ 5% literal 3.841 as the flag threshold.
    // Exact: two integer counts into two fixed IEEE divisions — the
    // entire 100 TB corpus reduces to one 2×2 before arithmetic.
    NamedQuery(
      "q292_mcnemar",
      (s, d) => {
        val lab = tbl(s, d, "documents").select(
          (size(split(col("text"), " ")) >= 40).as("a_keep"),
          (col("n_chars").cast("double") /
            size(split(col("text"), " ")).cast("double") >= 5.5)
            .as("b_keep"))
        lab.agg(count(lit(1)).as("n_docs"),
            sum(when(col("a_keep") && !col("b_keep"), 1L).otherwise(0L))
              .as("a_only"),
            sum(when(!col("a_keep") && col("b_keep"), 1L).otherwise(0L))
              .as("b_only"))
          .select(col("n_docs"), col("a_only"), col("b_only"),
            when(col("a_only") + col("b_only") > 0L,
              ((col("a_only") - col("b_only")) *
                (col("a_only") - col("b_only"))).cast("double") /
                (col("a_only") + col("b_only")).cast("double"))
              .as("mcnemar"),
            when(col("a_only") + col("b_only") > 0L,
              (greatest(abs(col("a_only") - col("b_only")) - lit(1L),
                lit(0L)) *
                greatest(abs(col("a_only") - col("b_only")) - lit(1L),
                  lit(0L))).cast("double") /
                (col("a_only") + col("b_only")).cast("double"))
              .as("mcnemar_cc"))
          .withColumn("significant",
            when(col("mcnemar_cc").isNotNull,
              col("mcnemar_cc") > lit(3.841)))
      },
      Some("""WITH lab AS (
             |  SELECT len(string_split(text, ' ')) >= 40 AS a_keep,
             |    CAST(n_chars AS DOUBLE)
             |      / CAST(len(string_split(text, ' ')) AS DOUBLE) >= 5.5
             |      AS b_keep
             |  FROM documents),
             |agg AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             |    CAST(SUM(CASE WHEN a_keep AND NOT b_keep THEN 1 ELSE 0
             |      END) AS BIGINT) AS a_only,
             |    CAST(SUM(CASE WHEN NOT a_keep AND b_keep THEN 1 ELSE 0
             |      END) AS BIGINT) AS b_only
             |  FROM lab)
             |SELECT n_docs, a_only, b_only,
             |  CASE WHEN a_only + b_only > 0 THEN
             |    CAST((a_only - b_only) * (a_only - b_only) AS DOUBLE)
             |      / CAST(a_only + b_only AS DOUBLE) END AS mcnemar,
             |  CASE WHEN a_only + b_only > 0 THEN
             |    CAST(GREATEST(abs(a_only - b_only) - 1, 0)
             |         * GREATEST(abs(a_only - b_only) - 1, 0) AS DOUBLE)
             |      / CAST(a_only + b_only AS DOUBLE) END AS mcnemar_cc,
             |  CASE WHEN a_only + b_only > 0 THEN
             |    CAST(GREATEST(abs(a_only - b_only) - 1, 0)
             |         * GREATEST(abs(a_only - b_only) - 1, 0) AS DOUBLE)
             |      / CAST(a_only + b_only AS DOUBLE) > 3.841
             |  END AS significant
             |FROM agg""".stripMargin)),

    // ----- q298: DoReMi group-robust mixture reweighting -------------------
    // The optimization step the mixing family (q46/q58/q182/q242/q280/
    // q284) only reports inputs for: DoReMi (Xie et al., NeurIPS 2023)
    // reweights training domains by multiplicative weights over
    // per-domain EXCESS loss — how much better a strong reference model
    // explains a domain than the weak proxy, i.e. the learnable
    // headroom the mixture should chase. Stand-ins built from the
    // repo's own LM scores: the reference model is the corpus bigram
    // LM (q107 — per-position conditional probability c12/c1), the
    // proxy is the unigram LM (q62 — position probability c(w2)/N,
    // evaluated at the SAME bigram positions so the two means are
    // comparable), and a document's excess is
    // max(0, ref_prob/proxy_prob − 1) — DoReMi's excess loss is a
    // LOG-loss difference log(ref) − log(proxy), and ratio − 1 is its
    // first-order log-free stand-in (monotone in the log-ratio, the
    // q62 mean-prob-for-mean-log-prob argument), clipped at 0 per the
    // paper. λ_k is the per-doc mean excess over each source. The
    // weight update is 8 unrolled exponentiated-gradient rounds with
    // DoReMi's uniform smoothing, α_t = 0.99·(α'/Σα') + 0.01/K with
    // α' = α_{t−1}·(1 + η·λ), η = 1 — the (1+ηλ) polynomial-weights
    // variant of Hedge (Arora–Hazan–Kale 2012) instead of exp(ηλ),
    // because exp() differs across libm builds (q52's ln lesson) while
    // +,·,/ are exactly-rounded IEEE ops, identical in both engines;
    // the smoothing mixes uniform back in every round, so the iterate
    // is a genuine recursion, not a closed-form tilt. All division
    // operands are exact (dsum-grid sums and BIGINT counts). Scale
    // shape: exactly ONE corpus scan (r13 verdict item 5 — was 2) —
    // the SHARED (doc_id, source, bg, k) working set the whole LM
    // family reads (TextOps.docBigrams, persisted; `source` rides the
    // artifact since doc_id determines it). The proxy unigram LM is
    // estimated over the SAME positions the reference bigram LM
    // scores — cu(t) = t's corpus count as a continuation (second
    // element), normalized by total bigram positions — so both
    // per-doc means integrate over identical events AND the grid,
    // the shares, and the losses all derive from one artifact. The
    // MW state is K≈20 source weights iterated on the DRIVER (the
    // k-means bounded-state idiom — unlike q284's MM, whose rounds
    // join the K×K match matrix, these rounds touch nothing
    // distributed) and re-entering the plan as a 20-row literal for
    // the final join. Docs with < 2 tokens have no bigram positions
    // and drop from scoring on both engines (n_docs_scored counts
    // the rest).
    NamedQuery(
      "q298_doremi_mixture",
      (s, d) => {
        // the SHARED (doc_id, source, bg, k) artifact — q298 rides the
        // LM family's ONE persisted corpus scan (TextOps.docBigrams);
        // nothing below re-touches documents
        val dbg = TextOps.docBigrams(s, d)
        val cnt = dbg.groupBy(col("bg")).agg(sum(col("k")).as("c12"))
          .withColumn("w1", substring_index(col("bg"), "\u0001", 1))
        // proxy unigram LM over the SAME positions the bigram LM scores:
        // cu(t) = t's corpus count as a continuation (second element),
        // computed at the bigram-vocab level — vocab-sized work, no
        // token explode; nu = total bigram positions (Σ_w2 cu = Σ c12
        // telescopes, so ntot reads cnt directly). c1/cu are PARTITIONED
        // WINDOW sums over cnt instead of two standalone aggregates
        // joined back (r18, guide §2.4): one exchange per key replaces
        // prefix-agg + SMJ-on-w1 + vocab-agg + broadcast, with identical
        // exact integer values (the inner joins never dropped a row —
        // prefix/vocab derive from cnt).
        val wW1 = org.apache.spark.sql.expressions.Window
          .partitionBy(col("w1"))
        val wW2 = org.apache.spark.sql.expressions.Window
          .partitionBy(col("w2"))
        val ntot = cnt.agg(sum(col("c12")).as("nu"))
        // unigram counts attach at the BIGRAM-vocab level, not onto
        // the corpus stream - the per-(doc,bg) pass meets ONE table
        val lm = cnt
          .withColumn("w2", substring_index(col("bg"), "\u0001", -1))
          .withColumn("c1", sum(col("c12")).over(wW1))
          .withColumn("cu", sum(col("c12")).over(wW2))
        val perDoc = dbg
          .join(lm, "bg")
          .crossJoin(broadcast(ntot))
          .groupBy(col("doc_id"), col("source"))
          .agg(sum(col("k")).as("n_bg"),
            dsum(col("k").cast("double") * (col("c12").cast("double") /
              col("c1").cast("double"))).as("refs"),
            // Σ k·c(w2) exact: the long product is safe (k ≤ doc length,
            // c(w2) ≤ corpus tokens) and the decimal sum matches the
            // oracle's HUGEINT promotion — q62's idiom
            sum((col("k") * col("cu")).cast("decimal(38,0)"))
              .as("proxys"),
            max(col("nu")).as("nu"))
          .select(col("source"),
            (col("refs") / col("n_bg").cast("double")).as("ref_prob"),
            (col("proxys").cast("double") /
              (col("n_bg").cast("double") * col("nu").cast("double")))
              .as("proxy_prob"))
        // proxy_prob > 0 always (every position's unigram count ≥ 1),
        // so the ratio is division-safe under ANSI
        val lam = pinned(perDoc
          .select(col("source"),
            greatest(col("ref_prob") / col("proxy_prob") - lit(1.0),
              lit(0.0)).as("excess"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs_scored"),
            (dsum(col("excess")) / count(lit(1)).cast("double"))
              .as("excess_loss")))
        val shares = pinned(dbg.groupBy(col("source"))
          .agg(sum(col("k")).as("src_pos")))
        val totPos = shares.agg(sum(col("src_pos")).as("all_pos"))
        // The 8 MW rounds iterate K≈20 scalars with NO corpus
        // interaction, so they run on the DRIVER (the round-9
        // constant-cost lesson: 8 pinned K-row rounds cost ~0.3 s each
        // in plan/job constants — measured 4.26 s → the corpus work
        // alone with this shape). Arithmetic is identical to the
        // oracle's CTE rounds: a·m and the divisions are the same IEEE
        // ops in the same order, and the normalizer is the dsum grid —
        // java.math HALF_UP at scale 6, the exact rounding Spark's own
        // double→DECIMAL(28,6) cast applies (Decimal.changePrecision),
        // already proven equal to DuckDB's by every dsum-gated query.
        val lamRows = lam
          .select(col("source"), col("excess_loss")).collect()
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
        import s.implicits._
        val alpha = lamRows.map { case (src, _) => (src, aMap(src)) }
          .toDF("src", "a")
        val posShare = col("src_pos").cast("double") /
          col("all_pos").cast("double")
        lam.join(shares, "source")
          .crossJoin(broadcast(totPos))
          .join(broadcast(alpha), col("source") === col("src"))
          .select(col("source"), col("n_docs_scored"), col("src_pos"),
            posShare.as("pos_share"), col("excess_loss"),
            col("a").as("alpha"),
            (col("a") / posShare).as("tilt"))
      },
      Some {
        // every α_t is referenced twice downstream (normalizer + final
        // join through r_{t+1}) — MATERIALIZED per round, the q284
        // lesson; the corpus-derived CTEs materialize once so the 8
        // unrolled rounds never re-touch documents
        val iters = (1 to 8).map { t =>
          s"""r$t AS (
             |  SELECT a.src, a.a * m.m AS ar
             |  FROM a${t - 1} a JOIN mult m ON m.src = a.src),
             |z$t AS (SELECT ${dsumSql("ar")} AS z,
             |          CAST(COUNT(*) AS BIGINT) AS kk FROM r$t),
             |a$t AS MATERIALIZED (
             |  SELECT src, 0.99 * (ar / z) + 0.01 / CAST(kk AS DOUBLE)
             |    AS a
             |  FROM r$t, z$t)""".stripMargin
        }.mkString(",\n")
        s"""WITH dbg AS MATERIALIZED (
           |  SELECT doc_id, source, bg, CAST(COUNT(*) AS BIGINT) AS k
           |  FROM (
           |    SELECT doc_id, source,
           |      unnest([w[i] || chr(1) || w[i+1]
           |              for i in range(1, len(w))]) AS bg
           |    FROM (SELECT doc_id, source, string_split(text, ' ') AS w
           |          FROM documents)
           |    WHERE len(w) >= 2)
           |  GROUP BY doc_id, source, bg),
           |c AS (SELECT bg, CAST(SUM(k) AS BIGINT) AS c12,
           |        string_split(bg, chr(1))[1] AS w1
           |      FROM dbg GROUP BY bg),
           |p AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1
           |      FROM c GROUP BY w1),
           |v AS (SELECT string_split(bg, chr(1))[2] AS w2,
           |        CAST(SUM(c12) AS BIGINT) AS cu
           |      FROM c GROUP BY 1),
           |nt AS (SELECT CAST(SUM(cu) AS BIGINT) AS nu FROM v),
           |perdoc AS (
           |  SELECT b.doc_id, b.source,
           |    ${dsumSql("CAST(b.k AS DOUBLE) * (CAST(c.c12 AS DOUBLE)" +
          " / CAST(p.c1 AS DOUBLE))")}
           |      / CAST(SUM(b.k) AS DOUBLE) AS ref_prob,
           |    CAST(SUM(b.k * v.cu) AS DOUBLE)
           |      / (CAST(SUM(b.k) AS DOUBLE) * CAST(MAX(nt.nu) AS DOUBLE))
           |      AS proxy_prob
           |  FROM dbg b JOIN c USING (bg) JOIN p USING (w1)
           |  JOIN v ON v.w2 = string_split(b.bg, chr(1))[2]
           |  CROSS JOIN nt
           |  GROUP BY b.doc_id, b.source),
           |lam AS MATERIALIZED (
           |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs_scored,
           |    ${dsumSql("GREATEST(ref_prob / proxy_prob - 1.0, 0.0)")}
           |      / CAST(COUNT(*) AS DOUBLE) AS excess_loss
           |  FROM perdoc GROUP BY source),
           |shares AS MATERIALIZED (
           |  SELECT source, CAST(SUM(k) AS BIGINT) AS src_pos
           |  FROM dbg GROUP BY source),
           |tt AS (SELECT CAST(SUM(src_pos) AS BIGINT) AS all_pos
           |       FROM shares),
           |mult AS MATERIALIZED (
           |  SELECT source AS src, 1.0 + excess_loss AS m
           |  FROM lam),
           |a0 AS (SELECT src, CAST(1.0 AS DOUBLE) AS a FROM mult),
           |$iters
           |SELECT l.source, l.n_docs_scored, s.src_pos,
           |  CAST(s.src_pos AS DOUBLE) / CAST(tt.all_pos AS DOUBLE)
           |    AS pos_share,
           |  l.excess_loss, a8.a AS alpha,
           |  a8.a / (CAST(s.src_pos AS DOUBLE)
           |          / CAST(tt.all_pos AS DOUBLE)) AS tilt
           |FROM lam l JOIN shares s USING (source) CROSS JOIN tt
           |JOIN a8 ON a8.src = l.source""".stripMargin
      }),

    // ----- q299: end-to-end corpus build certification ---------------------
    // The whole curation pipeline as ONE first-class deliverable
    // (graft.sink.CorpusBuild.run — the LLM-pipeline analog of
    // MovieDbImport.run): q100 decisions -> q298 DoReMi weights on the
    // kept pool -> water-filled apportionment of T = n_kept div 2 by
    // those weights (q280's max-min-fair level + q124's
    // largest-remainder rounding, capped at each source's kept pool so
    // a starved source's shortfall redistributes and the quotas sum to
    // T by construction) -> deterministic hash-priority selection ->
    // q54 packing into 2048-token bins -> CorpusPublish hive publish,
    // then certification FROM THE FILES (q106's read-back discipline).
    // The oracle replays the ENTIRE chain from the source tables —
    // decision CTEs, LM CTEs, 8 unrolled MATERIALIZED Hedge rounds,
    // water-level CTEs over the cap/alpha order statistics, selection
    // ranks, packing cumsum — and derives the same per-source row: a
    // build that loses, duplicates, mis-samples, mis-bins, or
    // mis-partitions even one document flips a checksum or a count and
    // fails the hash gate. See CorpusBuild's scaladoc for the scan
    // budget (2 corpus scans + the two battery-amortized artifacts) and
    // the 100 TB shape.
    NamedQuery(
      "q299_corpus_build",
      (s, d) => {
        // each invocation publishes into a fresh temp tree; register it
        // with the ONE static JVM-exit reaper so a bench battery (2
        // timed runs + repasses + ClusterParity) doesn't strand full
        // corpus copies in /tmp OR accumulate per-run shutdown hooks
        // (r14 + r15 ADVICE)
        val tmp = java.nio.file.Files
          .createTempDirectory("graft-q299-build")
        OpsKit.reapOnExit(tmp)
        graft.sink.CorpusBuild.run(s, d, tmp.toString + "/corpus")
      },
      Some(
        s"""WITH $buildSelCteSql,
           |pk AS (
           |  SELECT source, doc_id, text,
           |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
           |    CAST(SUM(len(string_split(text, ' '))) OVER (
           |      PARTITION BY source ORDER BY doc_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           |      AS BIGINT) AS cum
           |  FROM sel),
           |pkb AS (
           |  SELECT source, doc_id, text, n_toks,
           |    CAST(FLOOR((cum - n_toks) / 2048.0) AS BIGINT) AS bin_id
           |  FROM pk),
           |bins299 AS (
           |  SELECT source, bin_id, CAST(COUNT(*) AS BIGINT) AS nb,
           |    CAST(SUM(n_toks) AS BIGINT) AS load,
           |    bit_xor(CAST(concat('0x', substr(md5(concat_ws(chr(1),
           |      CAST(doc_id AS VARCHAR), CAST(bin_id AS VARCHAR), text)),
           |      18, 15)) AS BIGINT)) AS pck
           |  FROM pkb GROUP BY source, bin_id),
           |cert AS (
           |  SELECT source, CAST(SUM(nb) AS BIGINT) AS n_selected,
           |    CAST(COUNT(*) AS BIGINT) AS n_bins,
           |    CAST(SUM(load) AS BIGINT) AS n_tokens,
           |    CAST(MAX(load) AS BIGINT) AS max_bin_tokens,
           |    CAST(SUM(CASE WHEN load > 2048 THEN 1 ELSE 0 END)
           |      AS BIGINT) AS overfull_bins,
           |    bit_xor(pck) AS checksum
           |  FROM bins299 GROUP BY source),
           |ns AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
           |       FROM documents GROUP BY source),
           |nk2 AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_kept
           |        FROM kd GROUP BY source)
           |SELECT c.source, ns.n_docs, nk2.n_kept, q.a AS alpha, q.quota,
           |  c.n_selected, c.n_bins, c.n_tokens, c.max_bin_tokens,
           |  c.overfull_bins, c.checksum
           |FROM cert c JOIN ns USING (source) JOIN nk2 USING (source)
           |JOIN quota q ON q.src = c.source""".stripMargin)),

    // ----- q311: the production artifact, priced per packing policy ------
    // q304 prices greedy vs best-fit on a raw subsample; this prices the
    // PRODUCTION artifact (r16 verdict item 4): CorpusBuild.run executes
    // TWICE — packing="greedy" and packing="bestfit" — into fresh temp
    // trees, and the published FILES are certified per (policy, source)
    // with the pricing columns the q304 comparison promised to connect:
    // bin count, pad tokens (n_bins·2048 − n_tokens; greedy pads only
    // each source's final partial bin, best-fit pads every bin), pad
    // share, and the build checksum (bit-xor of md5(doc_id, bin_id,
    // text) — so the exact BIN ASSIGNMENT of both artifacts is
    // hash-gated, not just the counts). Selection, quotas, and the kept
    // pool are IDENTICAL across policies by construction (same
    // buildSelCteSql fragment in the oracle — n_selected/n_tokens agree
    // row-for-row; n_bins/pad/checksum differ), so the output certifies
    // both that the policies diverge where they should and agree where
    // they must. The oracle replays greedy as q299's window cumsum and
    // best-fit as the q304 recursive CTE at the build's real geometry
    // (cap 2048, 8192-id shards, bin_id = pb·2^20 + bin). Cost: two
    // full builds per run — the price of certifying artifacts, same
    // class as q299.
    NamedQuery(
      "q311_build_pricing",
      (s, d) => {
        val tmp = java.nio.file.Files
          .createTempDirectory("graft-q311-build")
        OpsKit.reapOnExit(tmp)
        val C = graft.sink.CorpusBuild.BinTokens.toLong
        // the two priced builds share (spark, dir): compute the stage-2
        // DoReMi targets ONCE and hand them to both runs — the LM chain
        // is a pure function of its inputs, so this is job dedup within
        // one query invocation, not a semantic change (r18 optimization)
        val targets = graft.sink.CorpusBuild.doremiTargets(s, d)
        def priced(policy: String): DataFrame =
          graft.sink.CorpusBuild
            .run(s, d, s"$tmp/$policy", packing = policy,
              targets0 = Some(targets))
            .select(lit(policy).as("packing"), col("source"),
              col("n_selected"), col("n_bins"), col("n_tokens"),
              (col("n_bins") * C - col("n_tokens")).as("pad_tokens"),
              ((col("n_bins") * C - col("n_tokens")).cast("double") /
                (col("n_bins") * C).cast("double")).as("pad_share"),
              col("max_bin_tokens"), col("overfull_bins"),
              col("checksum"))
        priced("greedy").unionByName(priced("bestfit"))
      },
      Some {
        val ck = "bit_xor(CAST(concat('0x', substr(md5(concat_ws(" +
          "chr(1), CAST(doc_id AS VARCHAR), CAST(bin_id AS VARCHAR), " +
          "text)), 18, 15)) AS BIGINT))"
        s"""WITH RECURSIVE $buildSelCteSql,
           |pk311 AS (
           |  SELECT source, doc_id, text,
           |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
           |    CAST(SUM(len(string_split(text, ' '))) OVER (
           |      PARTITION BY source ORDER BY doc_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           |      AS BIGINT) AS cum
           |  FROM sel),
           |gbin AS (
           |  SELECT source, doc_id, text, n_toks,
           |    CAST(FLOOR((cum - n_toks) / 2048.0) AS BIGINT) AS bin_id
           |  FROM pk311),
           |gb2 AS (
           |  SELECT source, bin_id, CAST(COUNT(*) AS BIGINT) AS nb,
           |    CAST(SUM(n_toks) AS BIGINT) AS load, $ck AS pck
           |  FROM gbin GROUP BY source, bin_id),
           |gcert AS (
           |  SELECT 'greedy' AS packing, source,
           |    CAST(SUM(nb) AS BIGINT) AS n_selected,
           |    CAST(COUNT(*) AS BIGINT) AS n_bins,
           |    CAST(SUM(load) AS BIGINT) AS n_tokens,
           |    CAST(MAX(load) AS BIGINT) AS max_bin_tokens,
           |    CAST(SUM(CASE WHEN load > 2048 THEN 1 ELSE 0 END)
           |      AS BIGINT) AS overfull_bins,
           |    bit_xor(pck) AS checksum
           |  FROM gb2 GROUP BY source),
           |sub311 AS (
           |  SELECT source, doc_id, text,
           |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
           |    CAST(doc_id // 8192 AS BIGINT) AS pb
           |  FROM sel),
           |ranked311 AS (
           |  SELECT *, CAST(row_number() OVER (PARTITION BY source, pb
           |    ORDER BY n_toks DESC, doc_id) AS BIGINT) AS rk
           |  FROM sub311),
           |pack311 AS (
           |  SELECT source, pb, CAST(0 AS BIGINT) AS rk,
           |    CAST(NULL AS BIGINT) AS doc_id,
           |    CAST(NULL AS BIGINT) AS n_toks,
           |    CAST(NULL AS BIGINT) AS bin,
           |    CAST([] AS BIGINT[]) AS loads
           |  FROM (SELECT DISTINCT source, pb FROM ranked311)
           |  UNION ALL
           |  SELECT r.source, r.pb, r.rk, r.doc_id, r.n_toks,
           |    CASE WHEN fit.best IS NULL THEN len(p.loads) + 1
           |         ELSE fit.pos END AS bin,
           |    CASE WHEN fit.best IS NULL THEN p.loads || [r.n_toks]
           |         ELSE p.loads[:fit.pos-1]
           |           || [p.loads[fit.pos] + r.n_toks]
           |           || p.loads[fit.pos+1:]
           |    END AS loads
           |  FROM pack311 p
           |  JOIN ranked311 r ON r.source = p.source AND r.pb = p.pb
           |    AND r.rk = p.rk + 1
           |  CROSS JOIN LATERAL (
           |    SELECT list_max(list_filter(p.loads,
           |        x -> x + r.n_toks <= 2048)) AS best,
           |      list_position(p.loads, list_max(list_filter(p.loads,
           |        x -> x + r.n_toks <= 2048))) AS pos
           |  ) fit),
           |bbin AS (
           |  SELECT p.source, p.doc_id, s.text, p.n_toks,
           |    p.pb * 1048576 + p.bin AS bin_id
           |  FROM pack311 p JOIN sub311 s ON s.source = p.source
           |    AND s.doc_id = p.doc_id
           |  WHERE p.rk >= 1),
           |bb2 AS (
           |  SELECT source, bin_id, CAST(COUNT(*) AS BIGINT) AS nb,
           |    CAST(SUM(n_toks) AS BIGINT) AS load, $ck AS pck
           |  FROM bbin GROUP BY source, bin_id),
           |bcert AS (
           |  SELECT 'bestfit' AS packing, source,
           |    CAST(SUM(nb) AS BIGINT) AS n_selected,
           |    CAST(COUNT(*) AS BIGINT) AS n_bins,
           |    CAST(SUM(load) AS BIGINT) AS n_tokens,
           |    CAST(MAX(load) AS BIGINT) AS max_bin_tokens,
           |    CAST(SUM(CASE WHEN load > 2048 THEN 1 ELSE 0 END)
           |      AS BIGINT) AS overfull_bins,
           |    bit_xor(pck) AS checksum
           |  FROM bb2 GROUP BY source),
           |both311 AS (SELECT * FROM gcert UNION ALL SELECT * FROM bcert)
           |SELECT packing, source, n_selected, n_bins, n_tokens,
           |  n_bins * 2048 - n_tokens AS pad_tokens,
           |  CAST(n_bins * 2048 - n_tokens AS DOUBLE)
           |    / CAST(n_bins * 2048 AS DOUBLE) AS pad_share,
           |  max_bin_tokens, overfull_bins, checksum
           |FROM both311""".stripMargin
      }),

    // ----- q301: streaming mixture monitor (batch twin) --------------------
    // The live counterpart of the q298/q299 mixture design (r15): per
    // event-time hour, the achieved per-source share of the ingest
    // stream vs the kept-pool DoReMi target weights, with a per-source
    // chi-square term and a drift alarm (share outside [w/2, 2w]) — the
    // q99 drift shape pointed at mixture composition. The registered
    // query runs graft.streaming.StreamOps.mixtureMonitor — the
    // STREAMING operator (one watermarked window aggregation with K
    // conditional counts + a stateless explode) — in batch mode over a
    // synthetic event-time that spreads doc_ids across 8 hours;
    // StreamOpsSpec separately proves stream == batch row-for-row. The
    // oracle derives the SAME target weights through the shared
    // kept-DoReMi CTE chain (q299's oracle fragment — the two can never
    // disagree about the target mixture) and recomputes shares from a
    // plain GROUP BY, windows × sources grid LEFT JOIN so zero-count
    // (window, source) cells match the monitor's conditional zeros.
    NamedQuery(
      "q301_mixture_monitor",
      (s, d) => {
        val targets = graft.sink.CorpusBuild.doremiTargets(s, d)
        val withTs = tbl(s, d, "documents").select(
          timestamp_seconds(lit(1700000000L) +
            pmod(col("doc_id") * 977, lit(28800L))).as("ts"),
          col("doc_id"), col("source"))
        graft.streaming.StreamOps.mixtureMonitor(withTs, targets)
      },
      Some(
        s"""WITH $keptDoremiCteSql,
           |ev AS (SELECT (1700000000 + (doc_id * 977) % 28800) AS tsec,
           |         source
           |       FROM documents),
           |evw AS (SELECT (tsec - tsec % 3600) AS wsec, source FROM ev),
           |wtot AS (SELECT wsec, CAST(COUNT(*) AS BIGINT) AS n_total
           |         FROM evw GROUP BY wsec),
           |wcnt AS (SELECT wsec, source, CAST(COUNT(*) AS BIGINT) AS n
           |         FROM evw GROUP BY wsec, source),
           |grid AS (SELECT t.wsec, a.src, a.a, t.n_total
           |         FROM wtot t CROSS JOIN a8 a),
           |j AS (
           |  SELECT g.wsec, g.src AS source,
           |    COALESCE(c.n, CAST(0 AS BIGINT)) AS n_docs,
           |    g.n_total, g.a AS weight
           |  FROM grid g LEFT JOIN wcnt c
           |    ON c.wsec = g.wsec AND c.source = g.src)
           |SELECT strftime(make_timestamp(wsec * 1000000), '$TsFmtDuck')
           |    AS window_start,
           |  source, n_docs, n_total, weight,
           |  CAST(n_docs AS DOUBLE) / CAST(n_total AS DOUBLE) AS share,
           |  weight * CAST(n_total AS DOUBLE) AS expected,
           |  (CAST(n_docs AS DOUBLE) - weight * CAST(n_total AS DOUBLE))
           |    * (CAST(n_docs AS DOUBLE) - weight * CAST(n_total AS DOUBLE))
           |    / (weight * CAST(n_total AS DOUBLE)) AS chi2_term,
           |  (CAST(n_docs AS DOUBLE) / CAST(n_total AS DOUBLE) * 2.0
           |     < weight
           |   OR CAST(n_docs AS DOUBLE) / CAST(n_total AS DOUBLE)
           |     > weight * 2.0) AS drifted
           |FROM j""".stripMargin)),

    // ----- q305: admission control — the q301 loop, closed ----------------
    // q301 ALARMS on mixture drift; this is the controller that acts on
    // it (r15 verdict item 4): per event-time hour each source may admit
    // at most floor(weight · 4096) tokens — weight = the same kept-pool
    // DoReMi target the batch build samples by (doremiTargets, the
    // streaming twin of waterFillQuotas) — and the excess is
    // dropped-and-counted at the gate. The stream is DELIBERATELY
    // flooded (every doc_id ≡ 0 mod 3 remapped to src0, ~37% of traffic
    // against a few-percent target) so the controller is exercised:
    // src0 saturates its quota and its admitted token share lands back
    // inside the monitor's [w/2, 2w] band in every FULL window (the two
    // ragged edge windows of the synthetic 8-hour span carry a sliver
    // of traffic, where a share is quantization noise — their rows are
    // still emitted and hash-gated), while honest sources clear their
    // quotas untouched. Admission is
    // deterministic hash-priority (q89/q124's salted-md5 idiom — no
    // arrival-order nondeterminism): within (window, source), docs are
    // ranked by (md5 salt, doc_id) and admitted while the token cumsum
    // fits the quota — one partitioned window over (hour, source)
    // cells, shard-parallel at any scale. The STREAMING form is
    // graft.streaming.StreamOps.admissionThrottle (one long of state
    // per live (window, source)); StreamOpsSpec pins one-batch parity
    // against this rule and the band property under a two-batch flood.
    // The oracle re-derives the weights through the shared kept-DoReMi
    // CTE chain and replays flood, ranks, quotas, and shares exactly.
    NamedQuery(
      "q305_admission_control",
      (s, d) => {
        val targets = graft.sink.CorpusBuild.doremiTargets(s, d)
        val B = 4096.0
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("wsec"), col("source"))
          .orderBy(col("h"), col("doc_id"))
          .rowsBetween(
            org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow)
        val wt = {
          import s.implicits._
          broadcast(targets.toDF("src", "weight"))
        }
        val ranked = tbl(s, d, "documents")
          .select(
            (lit(1700000000L) + pmod(col("doc_id") * 977, lit(28800L)))
              .as("tsec"),
            col("doc_id"),
            when(pmod(col("doc_id"), lit(3)) === 0, lit("src0"))
              .otherwise(col("source")).as("source"),
            size(split(col("text"), " ")).cast("long").as("n_toks"))
          .withColumn("wsec", col("tsec") - pmod(col("tsec"), lit(3600L)))
          .join(wt, col("source") === col("src"))
          .withColumn("quota", floor(col("weight") * lit(B)).cast("long"))
          .withColumn("h", LlmKit.strHash(
            concat(lit("q305:"), col("doc_id").cast("string"))))
          .withColumn("cumtok", sum(col("n_toks")).over(w))
          .withColumn("admitted", col("cumtok") <= col("quota"))
        // pinned: `per` feeds both the output and the window-total
        // re-aggregation — without the pin the plan computes the whole
        // corpus cumsum twice (the q274 scan-multiplication class; the
        // scan gate counts it)
        val per = OpsKit.pinned(ranked.groupBy(col("wsec"), col("source"))
          .agg(max(col("weight")).as("weight"),
            max(col("quota")).as("quota_tokens"),
            count(lit(1)).as("n_offered"),
            sum(col("n_toks")).as("toks_offered"),
            sum(when(col("admitted"), 1L).otherwise(0L)).as("n_admitted"),
            sum(when(col("admitted"), col("n_toks")).otherwise(0L))
              .as("toks_admitted")))
        val tot = per.groupBy(col("wsec"))
          .agg(sum(col("toks_admitted")).as("w_admitted"))
        val share = col("toks_admitted").cast("double") /
          col("w_admitted").cast("double")
        per.join(broadcast(tot), "wsec")
          .select(
            date_format(timestamp_seconds(col("wsec")), OpsKit.TsFmt)
              .as("window_start"),
            col("source"), col("weight"), col("quota_tokens"),
            col("n_offered"), col("toks_offered"), col("n_admitted"),
            col("toks_admitted"),
            (col("n_offered") - col("n_admitted")).as("n_dropped"),
            share.as("admitted_share"),
            (share * lit(2.0) >= col("weight") &&
              share <= col("weight") * lit(2.0)).as("within_band"))
      },
      Some(
        s"""WITH $keptDoremiCteSql,
           |fl AS (
           |  SELECT (1700000000 + (doc_id * 977) % 28800) AS tsec, doc_id,
           |    CASE WHEN doc_id % 3 = 0 THEN 'src0' ELSE source END
           |      AS source,
           |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
           |  FROM documents),
           |fw AS (SELECT tsec - tsec % 3600 AS wsec, doc_id, source,
           |         n_toks
           |       FROM fl),
           |rk305 AS (
           |  SELECT f.wsec, f.source, f.doc_id, f.n_toks, a.a AS weight,
           |    CAST(FLOOR(a.a * 4096.0) AS BIGINT) AS quota,
           |    CAST(SUM(f.n_toks) OVER (PARTITION BY f.wsec, f.source
           |      ORDER BY ${strHashSql(
                  "concat('q305:', CAST(f.doc_id AS VARCHAR))")}, f.doc_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           |      AS BIGINT) AS cumtok
           |  FROM fw f JOIN a8 a ON a.src = f.source),
           |ad AS (SELECT *, (cumtok <= quota) AS admitted FROM rk305),
           |per AS (
           |  SELECT wsec, source, MAX(weight) AS weight,
           |    MAX(quota) AS quota_tokens, COUNT(*) AS n_offered,
           |    CAST(SUM(n_toks) AS BIGINT) AS toks_offered,
           |    CAST(SUM(CASE WHEN admitted THEN 1 ELSE 0 END) AS BIGINT)
           |      AS n_admitted,
           |    CAST(SUM(CASE WHEN admitted THEN n_toks ELSE 0 END)
           |      AS BIGINT) AS toks_admitted
           |  FROM ad GROUP BY wsec, source),
           |tot AS (SELECT wsec, CAST(SUM(toks_admitted) AS BIGINT)
           |          AS w_admitted
           |        FROM per GROUP BY wsec)
           |SELECT strftime(make_timestamp(p.wsec * 1000000),
           |    '${OpsKit.TsFmtDuck}') AS window_start,
           |  p.source, p.weight, p.quota_tokens, p.n_offered,
           |  p.toks_offered, p.n_admitted, p.toks_admitted,
           |  p.n_offered - p.n_admitted AS n_dropped,
           |  CAST(p.toks_admitted AS DOUBLE) / CAST(t.w_admitted AS DOUBLE)
           |    AS admitted_share,
           |  (CAST(p.toks_admitted AS DOUBLE) / CAST(t.w_admitted AS DOUBLE)
           |     * 2.0 >= p.weight
           |   AND CAST(p.toks_admitted AS DOUBLE)
           |     / CAST(t.w_admitted AS DOUBLE) <= p.weight * 2.0)
           |    AS within_band
           |FROM per p JOIN tot t ON t.wsec = p.wsec""".stripMargin)),

    // ----- q310: admission DEFERRAL + conservation (r16 verdict item 3) ---
    // (Shared machinery for q310/q314: [[deferRankBase]] pins the ranked
    // corpus both deferral twins fold over; [[deferRankCteSql]] is the
    // oracle rendering — one definition each, so the one-hop and
    // two-hop rules can never disagree about ranking or quotas.)
    // q305 drops excess; this variant re-offers it ONCE in the next
    // hour window at deferred-first priority (the streaming form is
    // StreamOps.admissionThrottleDefer; StreamOpsSpec pins doc-for-doc
    // parity). The rule stays window-cumsum expressible because the
    // prefix rule admits a RANK PREFIX: the whole cross-window chain
    // collapses to two scalars per (source, window) — td(k) = tokens
    // deferred INTO window k (all of them count in k's prefix, admitted
    // or not), and a(k) = the largest new-doc cumsum admitted at k —
    // with the recurrence td(k+1) = totNew(k) − a(k). A new doc with
    // cumsum c is admitted at k iff c ≤ Q − td(k); its deferred replay
    // at k+1 is admitted iff its own deferred-order cumsum c − a(k) ≤ Q
    // (deferred docs rank first, so only their own cumsum matters);
    // deferrals out of the LAST window are `deferred_out`, never
    // resolved. The scalars are a bounded driver fold (9 windows × K
    // sources — kmCentroidsLocal's centers-on-the-driver shape) over
    // the PINNED ranked corpus (one scan; the 9 scalar jobs read the
    // checkpoint); per-doc decisions are then one broadcast join + pure
    // column arithmetic, shard-parallel at any scale. The oracle
    // unrolls the same 9 scalar layers as CTEs (kmIterSql's pattern)
    // over the identical ranked base. Every output column is an exact
    // integer (or a boolean over integers) — no float accumulation.
    // `conserved` certifies offered_new + deferred_in == admitted_new +
    // admitted_deferred + dropped + deferred_out on every row.
    NamedQuery(
      "q310_admission_deferral",
      (s, d) => {
        val targets = graft.sink.CorpusBuild.doremiTargets(s, d)
        val W0 = DeferW0
        val nW = DeferNW
        val base = deferRankBase(s, d, targets)
        // the scalar recurrence: 9 bounded jobs over the checkpoint
        val srcs = targets.map(_._1)
        var td = Map.empty[String, Long].withDefaultValue(0L)
        val scalRows = Seq.newBuilder[(Int, String, Long, Long)]
        for (k <- 0 until nW) {
          val tdDf = {
            import s.implicits._
            broadcast(srcs.map(src => (src, td(src))).toDF("tsrc", "tdv"))
          }
          val agg = base.filter(col("widx") === k)
            .join(tdDf, col("source") === col("tsrc"))
            .groupBy(col("source"))
            .agg(coalesce(max(when(col("c") <= col("quota") - col("tdv"),
              col("c"))), lit(0L)).as("a"),
              sum(col("n_toks")).as("totnew"))
            .collect()
            .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
            .toMap
          for (src <- srcs) {
            val (a, tot) = agg.getOrElse(src, (0L, 0L))
            scalRows += ((k, src, td(src), a))
            td = td.updated(src, tot - a)
          }
        }
        val scal = {
          import s.implicits._
          broadcast(scalRows.result()
            .toDF("swidx", "ssrc", "tdv", "av"))
        }
        val dec = base
          .join(scal, col("widx") === col("swidx") &&
            col("source") === col("ssrc"))
          .withColumn("adm_new", col("c") <= col("quota") - col("tdv"))
        val offg = dec.groupBy(col("widx"), col("source"))
          .agg(count(lit(1)).as("n_offered_new"),
            sum(col("n_toks")).as("toks_offered_new"),
            sum(when(col("adm_new"), 1L).otherwise(0L))
              .as("n_admitted_new"),
            sum(when(col("adm_new"), col("n_toks")).otherwise(0L))
              .as("toks_admitted_new"),
            sum(when(!col("adm_new"), 1L).otherwise(0L))
              .as("n_deferred_out"),
            sum(when(!col("adm_new"), col("n_toks")).otherwise(0L))
              .as("toks_deferred_out"))
        val defg = dec
          .filter(!col("adm_new") && col("widx") < nW - 1)
          .withColumn("adm_def", col("c") - col("av") <= col("quota"))
          .groupBy((col("widx") + 1).as("widx"), col("source"))
          .agg(count(lit(1)).as("n_deferred_in"),
            sum(col("n_toks")).as("toks_deferred_in"),
            sum(when(col("adm_def"), 1L).otherwise(0L))
              .as("n_admitted_deferred"),
            sum(when(col("adm_def"), col("n_toks")).otherwise(0L))
              .as("toks_admitted_deferred"),
            sum(when(!col("adm_def"), 1L).otherwise(0L))
              .as("n_dropped"))
        def z(c: String) = coalesce(col(c), lit(0L))
        offg.join(defg, Seq("widx", "source"), "full_outer")
          .select(
            date_format(timestamp_seconds(lit(W0) +
              col("widx").cast("long") * 3600), OpsKit.TsFmt)
              .as("window_start"),
            col("source"),
            z("n_offered_new").as("n_offered_new"),
            z("toks_offered_new").as("toks_offered_new"),
            z("n_deferred_in").as("n_deferred_in"),
            z("toks_deferred_in").as("toks_deferred_in"),
            z("n_admitted_new").as("n_admitted_new"),
            z("n_admitted_deferred").as("n_admitted_deferred"),
            (z("toks_admitted_new") + z("toks_admitted_deferred"))
              .as("toks_admitted"),
            z("n_dropped").as("n_dropped"),
            z("n_deferred_out").as("n_deferred_out"),
            (z("n_offered_new") + z("n_deferred_in") ===
              z("n_admitted_new") + z("n_admitted_deferred") +
              z("n_dropped") + z("n_deferred_out")).as("conserved"))
      },
      Some {
        val lyr = (0 until 9).map { k =>
          s"""ly310$k AS (
             |  SELECT r.source,
             |    COALESCE(MAX(CASE WHEN r.c <= r.quota - t.tdv
             |                      THEN r.c END),
             |             CAST(0 AS BIGINT)) AS a,
             |    COALESCE(CAST(SUM(r.n_toks) AS BIGINT),
             |             CAST(0 AS BIGINT)) AS totnew
             |  FROM rk310 r JOIN td310$k t ON t.source = r.source
             |  WHERE r.widx = $k GROUP BY r.source),
             |td310${k + 1} AS (
             |  SELECT t.source, COALESCE(l.totnew - l.a,
             |    CAST(0 AS BIGINT)) AS tdv
             |  FROM td310$k t LEFT JOIN ly310$k l ON l.source = t.source)"""
            .stripMargin
        }.mkString(",\n")
        val scalU = (0 until 9).map { k =>
          s"""SELECT $k AS widx, t.source, t.tdv,
             |  COALESCE(l.a, CAST(0 AS BIGINT)) AS av
             |FROM td310$k t LEFT JOIN ly310$k l ON l.source = t.source"""
            .stripMargin
        }.mkString("\nUNION ALL\n")
        s"""WITH $keptDoremiCteSql,
           |${deferRankCteSql("310")},
           |td3100 AS (SELECT src AS source, CAST(0 AS BIGINT) AS tdv
           |        FROM a8),
           |$lyr,
           |scal310 AS (
           |$scalU),
           |dec310 AS (
           |  SELECT r.*, t.tdv, t.av,
           |    (r.c <= r.quota - t.tdv) AS adm_new
           |  FROM rk310 r JOIN scal310 t ON t.source = r.source
           |    AND t.widx = r.widx),
           |offg310 AS (
           |  SELECT widx, source, CAST(COUNT(*) AS BIGINT)
           |      AS n_offered_new,
           |    CAST(SUM(n_toks) AS BIGINT) AS toks_offered_new,
           |    CAST(SUM(CASE WHEN adm_new THEN 1 ELSE 0 END) AS BIGINT)
           |      AS n_admitted_new,
           |    CAST(SUM(CASE WHEN adm_new THEN n_toks ELSE 0 END)
           |      AS BIGINT) AS toks_admitted_new,
           |    CAST(SUM(CASE WHEN NOT adm_new THEN 1 ELSE 0 END)
           |      AS BIGINT) AS n_deferred_out,
           |    CAST(SUM(CASE WHEN NOT adm_new THEN n_toks ELSE 0 END)
           |      AS BIGINT) AS toks_deferred_out
           |  FROM dec310 GROUP BY widx, source),
           |defg310 AS (
           |  SELECT widx + 1 AS widx, source,
           |    CAST(COUNT(*) AS BIGINT) AS n_deferred_in,
           |    CAST(SUM(n_toks) AS BIGINT) AS toks_deferred_in,
           |    CAST(SUM(CASE WHEN c - av <= quota THEN 1 ELSE 0 END)
           |      AS BIGINT) AS n_admitted_deferred,
           |    CAST(SUM(CASE WHEN c - av <= quota THEN n_toks ELSE 0 END)
           |      AS BIGINT) AS toks_admitted_deferred,
           |    CAST(SUM(CASE WHEN c - av <= quota THEN 0 ELSE 1 END)
           |      AS BIGINT) AS n_dropped
           |  FROM dec310 WHERE NOT adm_new AND widx < 8
           |  GROUP BY widx + 1, source)
           |SELECT strftime(make_timestamp(
           |    CAST(1699999200 + COALESCE(o.widx, d.widx) * 3600
           |      AS BIGINT) * 1000000),
           |    '${OpsKit.TsFmtDuck}') AS window_start,
           |  COALESCE(o.source, d.source) AS source,
           |  COALESCE(o.n_offered_new, 0) AS n_offered_new,
           |  COALESCE(o.toks_offered_new, 0) AS toks_offered_new,
           |  COALESCE(d.n_deferred_in, 0) AS n_deferred_in,
           |  COALESCE(d.toks_deferred_in, 0) AS toks_deferred_in,
           |  COALESCE(o.n_admitted_new, 0) AS n_admitted_new,
           |  COALESCE(d.n_admitted_deferred, 0) AS n_admitted_deferred,
           |  COALESCE(o.toks_admitted_new, 0)
           |    + COALESCE(d.toks_admitted_deferred, 0) AS toks_admitted,
           |  COALESCE(d.n_dropped, 0) AS n_dropped,
           |  COALESCE(o.n_deferred_out, 0) AS n_deferred_out,
           |  (COALESCE(o.n_offered_new, 0) + COALESCE(d.n_deferred_in, 0)
           |    = COALESCE(o.n_admitted_new, 0)
           |      + COALESCE(d.n_admitted_deferred, 0)
           |      + COALESCE(d.n_dropped, 0)
           |      + COALESCE(o.n_deferred_out, 0)) AS conserved
           |FROM offg310 o FULL OUTER JOIN defg310 d
           |  ON d.widx = o.widx AND d.source = o.source""".stripMargin
      }),

    // ----- q314: TWO-HOP deferral (r17 verdict item 5) --------------------
    // q310's rule with h = 2: an overflowing document is re-offered in
    // the next window (hop 1) and, on a second miss, ONCE more (hop 2)
    // before dropping. Priority is hop-descending (hop-2 cohort first,
    // then hop-1, then new), each cohort in the shared hash order —
    // which keeps every admitted set a rank prefix, so the
    // window-cumsum expressibility argument survives the extra hop:
    // the cross-window coupling is FOUR exact-integer scalars per
    // (source, window) — deferred-in token totals t1/t2 and
    // admitted-cum boundaries a0/a1 — with the recurrences t1(k+1) =
    // totNew(k) − a0(k), t2(k+1) = t1(k) − a1(k). A new doc with
    // cumsum c is admitted iff c ≤ Q − t2 − t1; its hop-1 replay iff
    // c − a0 ≤ Q − t2(next); its hop-2 replay iff c − a0 − a1(next)
    // ≤ Q (the hop-2 cohort ranks first, so only its own cohort
    // cumsum matters). Scalars come from the same bounded driver fold
    // shape as q310 (9 windows × K sources, one Spark job per window
    // over the shared PINNED ranked corpus — deferRankBase, one
    // definition for both twins); per-doc decisions are two broadcast
    // joins + pure column arithmetic. The streaming form is
    // StreamOps.admissionThrottleDefer2 (two-window bounded pending
    // state); StreamOpsSpec pins doc-for-doc parity incl. a doc that
    // defers twice then lands. `conserved` certifies offered_new +
    // h1_in + h2_in == admitted_new + admitted_h1 + admitted_h2 +
    // defer1_out + defer2_out + dropped on every row (defer*_out at
    // the horizon windows are the batch rendering of the stream's
    // silent pendings). All outputs are exact integers or booleans
    // over integers.
    NamedQuery(
      "q314_deferral_2hop",
      (s, d) => {
        val targets = graft.sink.CorpusBuild.doremiTargets(s, d)
        val W0 = DeferW0
        val nW = DeferNW
        val base = deferRankBase(s, d, targets)
        val srcs = targets.map(_._1)
        var t1 = Map.empty[String, Long].withDefaultValue(0L)
        var t2 = Map.empty[String, Long].withDefaultValue(0L)
        var a0p = Map.empty[String, Long].withDefaultValue(0L)
        val scalRows =
          Seq.newBuilder[(Int, String, Long, Long, Long, Long)]
        for (k <- 0 until nW) {
          val scDf = {
            import s.implicits._
            broadcast(srcs.map(src => (src, t1(src), t2(src), a0p(src)))
              .toDF("ssrc", "t1v", "t2v", "a0pv"))
          }
          val agg = base.filter(col("widx").isin(k - 1, k))
            .join(scDf, col("source") === col("ssrc"))
            .groupBy(col("source"))
            .agg(
              coalesce(max(when(col("widx") === k &&
                col("c") <= col("quota") - col("t2v") - col("t1v"),
                col("c"))), lit(0L)).as("a0"),
              coalesce(sum(when(col("widx") === k, col("n_toks"))),
                lit(0L)).as("totnew"),
              coalesce(max(when(col("widx") === k - 1 &&
                col("c") > col("a0pv") &&
                col("c") - col("a0pv") <= col("quota") - col("t2v"),
                col("c") - col("a0pv"))), lit(0L)).as("a1"))
            .collect()
            .map(r => r.getString(0) ->
              (r.getLong(1), r.getLong(2), r.getLong(3)))
            .toMap
          for (src <- srcs) {
            val (a0, tot, a1) = agg.getOrElse(src, (0L, 0L, 0L))
            scalRows += ((k, src, t1(src), t2(src), a0, a1))
            // t2(k+1) reads the OLD t1(k) — update order is load-bearing
            t2 = t2.updated(src, t1(src) - a1)
            t1 = t1.updated(src, tot - a0)
            a0p = a0p.updated(src, a0)
          }
        }
        val allScal = scalRows.result()
        val scal = {
          import s.implicits._
          broadcast(allScal.toDF("swidx", "ssrc", "t1v", "t2v",
            "a0v", "a1v"))
        }
        val scalNext = {
          import s.implicits._
          broadcast(allScal
            .map { case (k, src, _, t2v, _, a1v) =>
              (k - 1, src, t2v, a1v)
            }
            .toDF("nwidx", "nsrc", "t2n", "a1n"))
        }
        val dec = base
          .join(scal, col("widx") === col("swidx") &&
            col("source") === col("ssrc"))
          .join(scalNext, col("widx") === col("nwidx") &&
            col("source") === col("nsrc"), "left")
          .withColumn("adm_new",
            col("c") <= col("quota") - col("t2v") - col("t1v"))
          .withColumn("adm_h1",
            !col("adm_new") && col("widx") < nW - 1 &&
              col("c") - col("a0v") <= col("quota") - col("t2n"))
          .withColumn("adm_h2",
            !col("adm_new") && !col("adm_h1") && col("widx") < nW - 2 &&
              col("c") - col("a0v") - col("a1n") <= col("quota"))
        val offg = dec.groupBy(col("widx"), col("source"))
          .agg(count(lit(1)).as("n_offered_new"),
            sum(col("n_toks")).as("toks_offered_new"),
            sum(when(col("adm_new"), 1L).otherwise(0L))
              .as("n_admitted_new"),
            sum(when(col("adm_new"), col("n_toks")).otherwise(0L))
              .as("toks_admitted_new"),
            sum(when(!col("adm_new"), 1L).otherwise(0L))
              .as("n_defer1_out"))
        val h1g = dec.filter(!col("adm_new") && col("widx") < nW - 1)
          .groupBy((col("widx") + 1).as("widx"), col("source"))
          .agg(count(lit(1)).as("n_h1_in"),
            sum(when(col("adm_h1"), 1L).otherwise(0L))
              .as("n_admitted_h1"),
            sum(when(col("adm_h1"), col("n_toks")).otherwise(0L))
              .as("toks_admitted_h1"),
            sum(when(!col("adm_h1"), 1L).otherwise(0L))
              .as("n_defer2_out"))
        val h2g = dec.filter(!col("adm_new") && !col("adm_h1") &&
            col("widx") < nW - 2)
          .groupBy((col("widx") + 2).as("widx"), col("source"))
          .agg(count(lit(1)).as("n_h2_in"),
            sum(when(col("adm_h2"), 1L).otherwise(0L))
              .as("n_admitted_h2"),
            sum(when(col("adm_h2"), col("n_toks")).otherwise(0L))
              .as("toks_admitted_h2"),
            sum(when(!col("adm_h2"), 1L).otherwise(0L))
              .as("n_dropped"))
        def z(c: String) = coalesce(col(c), lit(0L))
        offg.join(h1g, Seq("widx", "source"), "full_outer")
          .join(h2g, Seq("widx", "source"), "full_outer")
          .select(
            date_format(timestamp_seconds(lit(W0) +
              col("widx").cast("long") * 3600), OpsKit.TsFmt)
              .as("window_start"),
            col("source"),
            z("n_offered_new").as("n_offered_new"),
            z("toks_offered_new").as("toks_offered_new"),
            z("n_h1_in").as("n_h1_in"),
            z("n_h2_in").as("n_h2_in"),
            z("n_admitted_new").as("n_admitted_new"),
            z("n_admitted_h1").as("n_admitted_h1"),
            z("n_admitted_h2").as("n_admitted_h2"),
            (z("toks_admitted_new") + z("toks_admitted_h1") +
              z("toks_admitted_h2")).as("toks_admitted"),
            z("n_defer1_out").as("n_defer1_out"),
            z("n_defer2_out").as("n_defer2_out"),
            z("n_dropped").as("n_dropped"),
            (z("n_offered_new") + z("n_h1_in") + z("n_h2_in") ===
              z("n_admitted_new") + z("n_admitted_h1") +
              z("n_admitted_h2") + z("n_defer1_out") +
              z("n_defer2_out") + z("n_dropped")).as("conserved"))
      },
      Some {
        val nW = DeferNW
        val lyr = (0 until nW).map { k =>
          s"""ly314$k AS MATERIALIZED (
             |  SELECT s.source,
             |    COALESCE(MAX(CASE WHEN r.widx = $k
             |        AND r.c <= r.quota - s.t2 - s.t1 THEN r.c END),
             |      CAST(0 AS BIGINT)) AS a0,
             |    COALESCE(CAST(SUM(CASE WHEN r.widx = $k
             |        THEN r.n_toks END) AS BIGINT),
             |      CAST(0 AS BIGINT)) AS totnew,
             |    COALESCE(MAX(CASE WHEN r.widx = ${k - 1}
             |        AND r.c > s.a0p
             |        AND r.c - s.a0p <= r.quota - s.t2
             |        THEN r.c - s.a0p END),
             |      CAST(0 AS BIGINT)) AS a1
             |  FROM sc314$k s LEFT JOIN rk314 r ON r.source = s.source
             |    AND r.widx IN (${k - 1}, $k)
             |  GROUP BY s.source, s.t1, s.t2, s.a0p),
             |sc314${k + 1} AS MATERIALIZED (
             |  SELECT s.source, l.totnew - l.a0 AS t1,
             |    s.t1 - l.a1 AS t2, l.a0 AS a0p
             |  FROM sc314$k s JOIN ly314$k l ON l.source = s.source)"""
            .stripMargin
        }.mkString(",\n")
        val scalU = (0 until nW).map { k =>
          s"""SELECT $k AS widx, s.source, s.t1 AS t1v, s.t2 AS t2v,
             |  l.a0 AS a0v, l.a1 AS a1v
             |FROM sc314$k s JOIN ly314$k l ON l.source = s.source"""
            .stripMargin
        }.mkString("\nUNION ALL\n")
        s"""WITH $keptDoremiCteSql,
           |${deferRankCteSql("314")},
           |sc3140 AS (SELECT src AS source, CAST(0 AS BIGINT) AS t1,
           |         CAST(0 AS BIGINT) AS t2, CAST(0 AS BIGINT) AS a0p
           |       FROM a8),
           |$lyr,
           |scal314 AS MATERIALIZED (
           |$scalU),
           |d3140 AS (
           |  SELECT r.widx, r.source, r.doc_id, r.n_toks, r.quota, r.c,
           |    t.t1v, t.t2v, t.a0v, n.t2v AS t2n, n.a1v AS a1n,
           |    (r.c <= r.quota - t.t2v - t.t1v) AS adm_new
           |  FROM rk314 r JOIN scal314 t ON t.source = r.source
           |    AND t.widx = r.widx
           |  LEFT JOIN scal314 n ON n.source = r.source
           |    AND n.widx = r.widx + 1),
           |d3141 AS (
           |  SELECT *, (NOT adm_new AND widx < ${nW - 1}
           |    AND c - a0v <= quota - t2n) AS adm_h1
           |  FROM d3140),
           |dec314 AS MATERIALIZED (
           |  SELECT *, (NOT adm_new AND NOT adm_h1
           |    AND widx < ${nW - 2}
           |    AND c - a0v - a1n <= quota) AS adm_h2
           |  FROM d3141),
           |offg314 AS MATERIALIZED (
           |  SELECT widx, source, CAST(COUNT(*) AS BIGINT)
           |      AS n_offered_new,
           |    CAST(SUM(n_toks) AS BIGINT) AS toks_offered_new,
           |    CAST(SUM(CASE WHEN adm_new THEN 1 ELSE 0 END) AS BIGINT)
           |      AS n_admitted_new,
           |    CAST(SUM(CASE WHEN adm_new THEN n_toks ELSE 0 END)
           |      AS BIGINT) AS toks_admitted_new,
           |    CAST(SUM(CASE WHEN NOT adm_new THEN 1 ELSE 0 END)
           |      AS BIGINT) AS n_defer1_out
           |  FROM dec314 GROUP BY widx, source),
           |h1g314 AS MATERIALIZED (
           |  SELECT widx + 1 AS widx, source,
           |    CAST(COUNT(*) AS BIGINT) AS n_h1_in,
           |    CAST(SUM(CASE WHEN adm_h1 THEN 1 ELSE 0 END) AS BIGINT)
           |      AS n_admitted_h1,
           |    CAST(SUM(CASE WHEN adm_h1 THEN n_toks ELSE 0 END)
           |      AS BIGINT) AS toks_admitted_h1,
           |    CAST(SUM(CASE WHEN NOT adm_h1 THEN 1 ELSE 0 END)
           |      AS BIGINT) AS n_defer2_out
           |  FROM dec314 WHERE NOT adm_new AND widx < ${nW - 1}
           |  GROUP BY widx + 1, source),
           |h2g314 AS MATERIALIZED (
           |  SELECT widx + 2 AS widx, source,
           |    CAST(COUNT(*) AS BIGINT) AS n_h2_in,
           |    CAST(SUM(CASE WHEN adm_h2 THEN 1 ELSE 0 END) AS BIGINT)
           |      AS n_admitted_h2,
           |    CAST(SUM(CASE WHEN adm_h2 THEN n_toks ELSE 0 END)
           |      AS BIGINT) AS toks_admitted_h2,
           |    CAST(SUM(CASE WHEN NOT adm_h2 THEN 1 ELSE 0 END)
           |      AS BIGINT) AS n_dropped
           |  FROM dec314 WHERE NOT adm_new AND NOT adm_h1
           |    AND widx < ${nW - 2}
           |  GROUP BY widx + 2, source),
           |spine314 AS (
           |  SELECT DISTINCT widx, source FROM (
           |    SELECT widx, source FROM offg314
           |    UNION ALL SELECT widx, source FROM h1g314
           |    UNION ALL SELECT widx, source FROM h2g314)),
           |fin314 AS (
           |  SELECT sp.widx, sp.source,
           |    COALESCE(o.n_offered_new, 0) AS n_offered_new,
           |    COALESCE(o.toks_offered_new, 0) AS toks_offered_new,
           |    COALESCE(h1.n_h1_in, 0) AS n_h1_in,
           |    COALESCE(h2.n_h2_in, 0) AS n_h2_in,
           |    COALESCE(o.n_admitted_new, 0) AS n_admitted_new,
           |    COALESCE(h1.n_admitted_h1, 0) AS n_admitted_h1,
           |    COALESCE(h2.n_admitted_h2, 0) AS n_admitted_h2,
           |    COALESCE(o.toks_admitted_new, 0)
           |      + COALESCE(h1.toks_admitted_h1, 0)
           |      + COALESCE(h2.toks_admitted_h2, 0) AS toks_admitted,
           |    COALESCE(o.n_defer1_out, 0) AS n_defer1_out,
           |    COALESCE(h1.n_defer2_out, 0) AS n_defer2_out,
           |    COALESCE(h2.n_dropped, 0) AS n_dropped
           |  FROM spine314 sp
           |  LEFT JOIN offg314 o ON o.widx = sp.widx
           |    AND o.source = sp.source
           |  LEFT JOIN h1g314 h1 ON h1.widx = sp.widx
           |    AND h1.source = sp.source
           |  LEFT JOIN h2g314 h2 ON h2.widx = sp.widx
           |    AND h2.source = sp.source)
           |SELECT strftime(make_timestamp(
           |    CAST($DeferW0 + widx * 3600 AS BIGINT) * 1000000),
           |    '${OpsKit.TsFmtDuck}') AS window_start,
           |  source, n_offered_new, toks_offered_new, n_h1_in, n_h2_in,
           |  n_admitted_new, n_admitted_h1, n_admitted_h2,
           |  toks_admitted, n_defer1_out, n_defer2_out, n_dropped,
           |  (n_offered_new + n_h1_in + n_h2_in
           |    = n_admitted_new + n_admitted_h1 + n_admitted_h2
           |      + n_defer1_out + n_defer2_out + n_dropped) AS conserved
           |FROM fin314""".stripMargin
      }),
  )
}
