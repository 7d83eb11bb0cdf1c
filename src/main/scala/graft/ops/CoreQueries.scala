package graft.ops

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational operator surface: one named query per reference operator
  * family from SURVEY.md §2, expressed over the driver's TPC-H-ish test
  * tables. Reference citations point into /root/reference/loader.py.
  *
  * Scale notes are inline per query; the common themes:
  *  - dimension sides of joins are `broadcast()` (reference's dict probes,
  *    loader.py:406, are hash joins with a tiny build side);
  *  - aggregations are plain `groupBy` → partial+final hash aggregation;
  *  - every filter/projection is declarative so Catalyst pushes it into
  *    the parquet scan.
  */
object CoreQueries {
  import OpsKit._

  def all: Seq[NamedQuery] = Seq(

    // ----- O-1/P-1: scan + projection + filter pushdown ------------------
    // Reference: RELEVANT_COLUMNS projection, loader.py:97-104.
    NamedQuery(
      "q01_scan_project",
      (s, d) =>
        tbl(s, d, "lineitem")
          .filter(col("l_quantity") >= 45)
          .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
            col("l_returnflag")),
      Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
             |FROM lineitem WHERE l_quantity >= 45""".stripMargin)),

    // ----- P-2/P-5/P-6/P-7: cast-or-NULL coercions ------------------------
    // Reference: is_positive_integer/float + empty-string→NULL,
    // loader.py:37-50, 132-142.
    NamedQuery(
      "q02_coercions",
      (s, d) =>
        events(s, d).select(
          col("event_id"),
          when(col("value") > 0.0, col("value")).as("pos_value"),
          when(length(col("event_type")) > 0, col("event_type")).as("etype"),
          when(col("value").cast("long") > 0, col("value").cast("long"))
            .as("pos_int")),
      // Spark's double→long cast truncates toward zero; DuckDB's rounds.
      // Only positive values survive the guard, where trunc == floor.
      Some("""SELECT event_id,
             |  CASE WHEN value > 0.0 THEN value END AS pos_value,
             |  CASE WHEN length(event_type) > 0 THEN event_type END AS etype,
             |  CASE WHEN floor(value) > 0 THEN CAST(floor(value) AS BIGINT) END AS pos_int
             |FROM events""".stripMargin)),

    // ----- A-1: group-by average (ratings per movie, loader.py:313-336) ---
    NamedQuery(
      "q03_group_avg",
      (s, d) =>
        events(s, d).groupBy(col("user_id"))
          .agg(count(lit(1)).as("n"), davg(col("value")).as("avg_value")),
      Some(s"""SELECT user_id, COUNT(*) AS n, ${davgSql("value")} AS avg_value
              |FROM events GROUP BY user_id""".stripMargin)),

    // ----- J-1: left outer join with NULL for missing (loader.py:406) -----
    NamedQuery(
      "q04_left_join",
      (s, d) => {
        val li = tbl(s, d, "lineitem")
        val rev = li.groupBy(col("l_orderkey"))
          .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .as("revenue"))
        tbl(s, d, "orders")
          .join(rev, col("o_orderkey") === col("l_orderkey"), "left")
          .select(col("o_orderkey"), col("o_totalprice"), col("revenue"))
      },
      Some(s"""SELECT o_orderkey, o_totalprice, r.revenue
              |FROM orders LEFT JOIN (
              |  SELECT l_orderkey,
              |    ${dsumSql("l_extendedprice * (1 - l_discount)")} AS revenue
              |  FROM lineitem GROUP BY l_orderkey) r
              |ON o_orderkey = r.l_orderkey""".stripMargin)),

    // ----- X-1..X-7: explode + set-dedup (loader.py:145-150 etc.) ---------
    NamedQuery(
      "q05_explode_distinct",
      (s, d) =>
        tbl(s, d, "documents")
          .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
          .distinct(),
      Some("""SELECT DISTINCT doc_id, t.token
             |FROM documents, unnest(string_split(text, ' ')) AS t(token)"""
        .stripMargin)),

    // ----- O-7/A-3: deterministic first-wins dedup (loader.py:147-148) ----
    NamedQuery(
      "q06_first_wins",
      (s, d) => {
        // Tie-break on EVERY selected column so first-wins is fully
        // deterministic even if doc_id ever repeats within a lang.
        val w = Window.partitionBy(col("lang"))
          .orderBy(col("doc_id"), col("source"))
        tbl(s, d, "documents")
          .select(col("lang"), col("doc_id"), col("source"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1).drop("rn")
      },
      Some("""SELECT lang, doc_id, source FROM (
             |  SELECT lang, doc_id, source,
             |    row_number() OVER (PARTITION BY lang ORDER BY doc_id, source) AS rn
             |  FROM documents) WHERE rn = 1""".stripMargin)),

    // ----- O-8: dense surrogate key mint (loader.py:161-171, 208-223) -----
    // Single-partition window is safe: runs over the distinct dimension
    // values only (≤ thousands), never the fact rows — and the guarded
    // mint (EtlKit.withDenseId) raise_errors if that ever stops being true.
    NamedQuery(
      "q07_surrogate_keys",
      (s, d) =>
        graft.etl.EtlKit.withDenseId(
          tbl(s, d, "documents")
            .groupBy(col("lang")).agg(min(col("doc_id")).as("first_seen")),
          "lang_sk", graft.etl.EtlKit.DimIdCap, col("first_seen"))
          .select(col("lang"), col("lang_sk")),
      Some("""SELECT lang,
             |  row_number() OVER (ORDER BY min(doc_id)) - 1 AS lang_sk
             |FROM documents GROUP BY lang""".stripMargin)),

    // ----- A-6: union of two sources + first-wins dedup (loader.py:264-273)
    NamedQuery(
      "q08_union_dedup",
      (s, d) => {
        val a = tbl(s, d, "customer")
          .select(col("c_custkey").as("id"), col("c_name").as("name"),
            lit(0).as("src"))
        val b = tbl(s, d, "supplier")
          .select(col("s_suppkey").as("id"), col("s_name").as("name"),
            lit(1).as("src"))
        val w = Window.partitionBy(col("id")).orderBy(col("src"))
        a.unionByName(b)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("id"), col("name"))
      },
      Some("""SELECT id, name FROM (
             |  SELECT id, name,
             |    row_number() OVER (PARTITION BY id ORDER BY src) AS rn
             |  FROM (
             |    SELECT c_custkey AS id, c_name AS name, 0 AS src FROM customer
             |    UNION ALL
             |    SELECT s_suppkey AS id, s_name AS name, 1 AS src FROM supplier))
             |WHERE rn = 1""".stripMargin)),

    // ----- J-3: filter-join (crew → directors, loader.py:506-513) ---------
    NamedQuery(
      "q09_filter_join",
      (s, d) =>
        events(s, d).filter(col("event_type") === "purchase")
          .join(broadcast(tbl(s, d, "customer")),
            col("user_id") === col("c_custkey"))
          .select(col("event_id"), col("c_name"), col("value")),
      Some("""SELECT event_id, c_name, value
             |FROM events JOIN customer ON user_id = c_custkey
             |WHERE event_type = 'purchase'""".stripMargin)),

    // ----- A-8: group + collect_set (crew job→persons, loader.py:257-263) -
    NamedQuery(
      "q10_collect_set",
      (s, d) =>
        events(s, d).groupBy(col("user_id"))
          .agg(array_join(sort_array(collect_set(col("event_type"))), ",")
            .as("types")),
      Some("""SELECT user_id,
             |  array_to_string(list_sort(list(DISTINCT event_type)), ',') AS types
             |FROM events GROUP BY user_id""".stripMargin)),

    // ----- A-9: histogram (print_all_jobs, loader.py:485-491) -------------
    NamedQuery(
      "q11_histogram",
      (s, d) =>
        events(s, d).groupBy(col("event_type")).agg(count(lit(1)).as("n")),
      Some("SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type")),

    // ----- §2.6: window ranking (actors.order_id analytical surface) ------
    NamedQuery(
      "q12_window_rank",
      (s, d) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        tbl(s, d, "orders")
          .withColumn("rn", row_number().over(w).cast("long"))
          .filter(col("rn") <= 3)
          .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
            col("rn"))
      },
      Some("""SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
             |  SELECT o_custkey, o_orderkey, o_totalprice,
             |    row_number() OVER (PARTITION BY o_custkey
             |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
             |  FROM orders) WHERE rn <= 3""".stripMargin)),

    // ----- §2.6: global top-k (TakeOrderedAndProject, no full sort) -------
    NamedQuery(
      "q13_topk",
      (s, d) =>
        tbl(s, d, "orders")
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
          .limit(10),
      Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
             |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin)),

    // ----- extension: anti join (NOT EXISTS) ------------------------------
    NamedQuery(
      "q14_anti_join",
      (s, d) =>
        tbl(s, d, "customer")
          .join(tbl(s, d, "orders").filter(col("o_totalprice") > 400000.0),
            col("c_custkey") === col("o_custkey"), "left_anti")
          .select(col("c_custkey"), col("c_name")),
      Some("""SELECT c_custkey, c_name FROM customer c
             |WHERE NOT EXISTS (
             |  SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
             |    AND o.o_totalprice > 400000.0)""".stripMargin)),

    // ----- extension: semi join (EXISTS) ----------------------------------
    NamedQuery(
      "q15_semi_join",
      (s, d) =>
        tbl(s, d, "customer")
          .join(tbl(s, d, "orders").filter(col("o_totalprice") > 400000.0),
            col("c_custkey") === col("o_custkey"), "left_semi")
          .select(col("c_custkey"), col("c_name")),
      Some("""SELECT c_custkey, c_name FROM customer c
             |WHERE EXISTS (SELECT 1 FROM orders o
             |  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000.0)"""
        .stripMargin)),

    // ----- flagship: snowflake join + aggregate ---------------------------
    // The analytical query the reference's FK schema exists to serve
    // (db_schema.json:5-16): fact ⋈ dims with every dim broadcast.
    NamedQuery(
      "q16_star_join",
      (s, d) => {
        val li = tbl(s, d, "lineitem")
        val o = tbl(s, d, "orders")
        li.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(tbl(s, d, "customer")),
            col("o_custkey") === col("c_custkey"))
          .join(broadcast(tbl(s, d, "nation")),
            col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(tbl(s, d, "region")),
            col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("r_name"))
          .agg(
            dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
              .as("revenue"),
            count(lit(1)).as("n_items"))
      },
      Some(s"""SELECT r_name,
              |  ${dsumSql("l_extendedprice * (1 - l_discount)")} AS revenue,
              |  COUNT(*) AS n_items
              |FROM lineitem
              |JOIN orders ON l_orderkey = o_orderkey
              |JOIN customer ON o_custkey = c_custkey
              |JOIN nation ON c_nationkey = n_nationkey
              |JOIN region ON n_regionkey = r_regionkey
              |GROUP BY r_name""".stripMargin)),

    // ----- TPC-H Q1-shaped pricing summary (A-1 at fact scale) ------------
    NamedQuery(
      "q17_pricing_summary",
      (s, d) =>
        tbl(s, d, "lineitem")
          .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(
            dsum(col("l_quantity")).as("sum_qty"),
            dsum(col("l_extendedprice")).as("sum_base_price"),
            dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
              .as("sum_disc_price"),
            dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
              * (lit(1.0) + col("l_tax"))).as("sum_charge"),
            davg(col("l_quantity")).as("avg_qty"),
            davg(col("l_discount")).as("avg_disc"),
            count(lit(1)).as("count_order")),
      Some(s"""SELECT l_returnflag, l_linestatus,
              |  ${dsumSql("l_quantity")} AS sum_qty,
              |  ${dsumSql("l_extendedprice")} AS sum_base_price,
              |  ${dsumSql("l_extendedprice * (1 - l_discount)")} AS sum_disc_price,
              |  ${dsumSql("l_extendedprice * (1 - l_discount) * (1 + l_tax)")} AS sum_charge,
              |  ${davgSql("l_quantity")} AS avg_qty,
              |  ${davgSql("l_discount")} AS avg_disc,
              |  COUNT(*) AS count_order
              |FROM lineitem
              |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
              |GROUP BY l_returnflag, l_linestatus""".stripMargin)),

    // ----- JSON payload extraction over `props` ----------------------------
    // The real Python-literal parser (reference loader.py:146 etc.) is
    // [[graft.parse.PyLiteral]], exercised by the q23+ ETL queries; this one
    // covers the plain JSON-column extraction surface.
    // Oracle uses NULLIF so a non-matching row maps to NULL exactly like
    // Spark's cast('' as int) does (DuckDB CAST('') would throw).
    NamedQuery(
      "q18_json_extract",
      (s, d) =>
        events(s, d).select(
          col("event_id"),
          // try_cast: a non-matching row extracts '' which ANSI cast throws on
          regexp_extract(col("props"), "\"k\": (\\d+)", 1).try_cast("int")
            .as("k")),
      Some("""SELECT event_id,
             |  CAST(NULLIF(regexp_extract(props, '"k": (\d+)', 1), '') AS INTEGER) AS k
             |FROM events""".stripMargin)),

    // ----- q71: pivot (long → wide reshape) -------------------------------
    // RelationalGroupedDataset.pivot with an EXPLICIT value list — the
    // scale-correct form: without it Spark runs an extra distinct pass
    // over the data just to learn the column set, and an unbounded value
    // domain would mint unbounded columns. One shuffle on the group key;
    // each pivot cell is an independent conditional aggregate. Empty
    // cells are 0 (na.fill) to match the oracle's SUM(CASE…) form.
    NamedQuery(
      "q71_pivot",
      (s, d) => {
        val langs = Seq("de", "en", "es", "fr", "zh")
        tbl(s, d, "documents")
          .groupBy(col("source"))
          .pivot("lang", langs)
          .count()
          .na.fill(0L, langs)
      },
      Some("""SELECT source,
             |  CAST(SUM(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS BIGINT) AS de,
             |  CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS en,
             |  CAST(SUM(CASE WHEN lang = 'es' THEN 1 ELSE 0 END) AS BIGINT) AS es,
             |  CAST(SUM(CASE WHEN lang = 'fr' THEN 1 ELSE 0 END) AS BIGINT) AS fr,
             |  CAST(SUM(CASE WHEN lang = 'zh' THEN 1 ELSE 0 END) AS BIGINT) AS zh
             |FROM documents GROUP BY source""".stripMargin)),

    // ----- q72: ntile equal-frequency binning (curriculum buckets) --------
    // Length-quartile assignment PER SOURCE — the shape a curriculum /
    // difficulty-bucketing pass uses. The window partitions by source, so
    // every partition sorts independently — no global sort, no single-
    // partition window (the trap q72 exists to demonstrate avoiding; a
    // GLOBAL ntile would need repartitionByRange + a two-pass offset
    // fix-up). Total order inside the window ((n_chars, doc_id)) keeps
    // ntile deterministic under any partitioning.
    NamedQuery(
      "q72_ntile_buckets",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("source"))
          .orderBy(col("n_chars"), col("doc_id"))
        tbl(s, d, "documents")
          .select(col("doc_id"), col("source"), col("n_chars"),
            ntile(4).over(w).cast("long").as("bucket"))
      },
      Some("""SELECT doc_id, source, n_chars,
             |  ntile(4) OVER (PARTITION BY source
             |                 ORDER BY n_chars, doc_id) AS bucket
             |FROM documents""".stripMargin)),

    // ----- q80/q81: INTERSECT / EXCEPT (the rest of the set-op family) ----
    // §2.6 covers union (q08); these close the set-op surface. Spark
    // compiles both to joins under distinct semantics (left-semi for
    // INTERSECT, left-anti for EXCEPT) — one shuffle each side on the
    // full row, no sort. Phrase-level comparison across languages
    // (single tokens are fully shared in the synthetic corpus, so the
    // queries run on BIGRAMS, where both results are non-trivial):
    // phrases used in BOTH en and zh docs, and phrases exclusive to en.
    NamedQuery(
      "q80_intersect",
      (s, d) => langBigrams(s, d, "en").intersect(langBigrams(s, d, "zh")),
      Some(s"""${langBigramsSql("en")}
              |INTERSECT
              |${langBigramsSql("zh")}""".stripMargin)),

    NamedQuery(
      "q81_except",
      (s, d) => langBigrams(s, d, "en").except(langBigrams(s, d, "zh")),
      Some(s"""${langBigramsSql("en")}
              |EXCEPT
              |${langBigramsSql("zh")}""".stripMargin)),

    // ----- q126: INTERSECT ALL / EXCEPT ALL (bag semantics) ---------------
    // The multiset forms of q80/q81: multiplicities survive (a bigram
    // appearing 5× in en and 2× in zh keeps 2 copies in the
    // intersection, 3 in the difference) — the semantics you need when
    // the count IS the signal (shared-phrase mass between corpora, not
    // just shared-phrase existence). Spark plans these as a count-
    // compare aggregate, not a dedup — a genuinely different operator
    // than q80's left-semi. Output: each multiset aggregated to
    // (g, n) — same information, hash-gate-friendly shape.
    NamedQuery(
      "q126_intersect_all",
      (s, d) => langBigrams(s, d, "en")
        .intersectAll(langBigrams(s, d, "zh"))
        .groupBy(col("g")).agg(count(lit(1)).as("n")),
      Some(s"""SELECT g, COUNT(*) AS n FROM (
              |${langBigramsSql("en")}
              |INTERSECT ALL
              |${langBigramsSql("zh")})
              |GROUP BY g""".stripMargin)),

    NamedQuery(
      "q127_except_all",
      (s, d) => langBigrams(s, d, "en")
        .exceptAll(langBigrams(s, d, "zh"))
        .groupBy(col("g")).agg(count(lit(1)).as("n")),
      Some(s"""SELECT g, COUNT(*) AS n FROM (
              |${langBigramsSql("en")}
              |EXCEPT ALL
              |${langBigramsSql("zh")})
              |GROUP BY g""".stripMargin)),

    // ----- q128: unpivot / melt (wide → long reshape) ---------------------
    // The inverse of q71's pivot: per-source per-language counts melted
    // back to (source, lang, n) rows via stack() — the reshape that
    // feeds per-cell tables into long-format consumers (plotting,
    // drift gates, mixing reports). Composing pivot→unpivot round-trips
    // the table; the oracle mirrors with DuckDB's UNPIVOT.
    NamedQuery(
      "q128_unpivot",
      (s, d) => {
        val langs = Seq("de", "en", "es", "fr", "zh")
        tbl(s, d, "documents")
          .groupBy(col("source"))
          .pivot("lang", langs)
          .count()
          .na.fill(0L, langs)
          .select(col("source"), expr("stack(5, " +
            langs.map(l => s"'$l', $l").mkString(", ") +
            ") AS (lang, n)"))
      },
      Some("""UNPIVOT (
             |  SELECT source,
             |    CAST(SUM(CASE WHEN lang = 'de' THEN 1 ELSE 0 END)
             |         AS BIGINT) AS de,
             |    CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
             |         AS BIGINT) AS en,
             |    CAST(SUM(CASE WHEN lang = 'es' THEN 1 ELSE 0 END)
             |         AS BIGINT) AS es,
             |    CAST(SUM(CASE WHEN lang = 'fr' THEN 1 ELSE 0 END)
             |         AS BIGINT) AS fr,
             |    CAST(SUM(CASE WHEN lang = 'zh' THEN 1 ELSE 0 END)
             |         AS BIGINT) AS zh
             |  FROM documents GROUP BY source)
             |ON de, en, es, fr, zh
             |INTO NAME lang VALUE n""".stripMargin)),

    // ----- q166: referential-integrity audit over the full FK graph -------
    // The warehouse health check every load pipeline runs before turning
    // on constraints (the reference defers PK/FK triggers during load,
    // loader.py:67-78 — this is the audit that proves deferral safe):
    // for each of the schema's seven FK edges, count the child rows
    // whose key has NO parent (orphans — hard violations) and the
    // parent keys never referenced by any child (unreferenced — not
    // violations, but the coverage number capacity planning reads).
    // Orphans via LEFT ANTI join child→parent; unreferenced via LEFT
    // ANTI parent→distinct child keys. Both are hash anti-joins that
    // shuffle each table once per edge — at 100 TB the dimension sides
    // broadcast (AQE) and the single fact-table scan is shared by its
    // three edges via cache. Output: one row per edge, exact integers.
    NamedQuery(
      "q166_fk_orphans",
      (s, d) => {
        // Examined in r18 and deliberately left in the anti-join form: a
        // key-grouped full-outer rewrite (one scan per side) was tried
        // and measured SLOWER — it shuffles the fact table by key per
        // edge, where the anti-joins broadcast the dimension side and
        // never shuffle the fact at all; three single-column columnar
        // scans are cheaper than one fact shuffle at any scale.
        def edge(child: String, ck: String, parent: String,
            pk: String): org.apache.spark.sql.DataFrame = {
          val c = tbl(s, d, child).select(col(ck))
          val p = tbl(s, d, parent).select(col(pk))
          val orphans = c.join(p, c(ck) === p(pk), "left_anti")
            .agg(count(lit(1)).as("n_orphan_rows"))
          val unref = p.join(c.distinct(), p(pk) === c(ck), "left_anti")
            .agg(count(lit(1)).as("n_unref_parents"))
          c.agg(count(lit(1)).as("n_child_rows"))
            .crossJoin(orphans).crossJoin(unref)
            .select(lit(s"$child.$ck -> $parent.$pk").as("edge"),
              col("n_child_rows"), col("n_orphan_rows"),
              col("n_unref_parents"))
        }
        Seq(
          edge("lineitem", "l_orderkey", "orders", "o_orderkey"),
          edge("lineitem", "l_partkey", "part", "p_partkey"),
          edge("lineitem", "l_suppkey", "supplier", "s_suppkey"),
          edge("orders", "o_custkey", "customer", "c_custkey"),
          edge("customer", "c_nationkey", "nation", "n_nationkey"),
          edge("supplier", "s_nationkey", "nation", "n_nationkey"),
          edge("nation", "n_regionkey", "region", "r_regionkey"))
          .reduce(_ unionByName _)
      },
      Some {
        def edge(child: String, ck: String, parent: String,
            pk: String): String =
          s"""SELECT '$child.$ck -> $parent.$pk' AS edge,
             |  (SELECT CAST(COUNT(*) AS BIGINT) FROM $child)
             |    AS n_child_rows,
             |  (SELECT CAST(COUNT(*) AS BIGINT) FROM $child c
             |   WHERE NOT EXISTS (SELECT 1 FROM $parent p
             |                     WHERE p.$pk = c.$ck))
             |    AS n_orphan_rows,
             |  (SELECT CAST(COUNT(*) AS BIGINT) FROM $parent p
             |   WHERE NOT EXISTS (SELECT 1 FROM $child c
             |                     WHERE c.$ck = p.$pk))
             |    AS n_unref_parents""".stripMargin
        Seq(
          edge("lineitem", "l_orderkey", "orders", "o_orderkey"),
          edge("lineitem", "l_partkey", "part", "p_partkey"),
          edge("lineitem", "l_suppkey", "supplier", "s_suppkey"),
          edge("orders", "o_custkey", "customer", "c_custkey"),
          edge("customer", "c_nationkey", "nation", "n_nationkey"),
          edge("supplier", "s_nationkey", "nation", "n_nationkey"),
          edge("nation", "n_regionkey", "region", "r_regionkey"))
          .mkString("", "\nUNION ALL\n", "")
      }),

    // ----- q191: column profile (the warehouse intake report) -------------
    // The first query anyone runs on an unfamiliar table: per column —
    // row count, null count, exact distinct count, min and max. ONE scan
    // feeds all six columns (a per-column loop would be six scans of a
    // 100 TB table): each event explodes into six cells, one per column,
    // and a single GROUP BY column profiles them all. A cell carries its
    // column's index, 1 when the value is NULL, an injective string of
    // the value that only the distinct count reads (doubles normalized as
    // countDistinct does: -0.0 counts as 0.0, every NaN as one value),
    // and the value itself in the one carrier of its type, so min and
    // max keep their typed order. Six countDistincts over the raw columns
    // would plan a 7-way Expand whose distinct groups Spark lays out in a
    // different order on every run, so its generated classes miss the
    // codegen cache and compile again each time; one countDistinct over
    // the cell string plans no Expand. Six all-NULL cells from a
    // one-partition `range` are unioned in, so an empty table still
    // reports six rows (n_rows 0, n_nulls NULL, n_distinct 0) as a
    // global aggregate would. Mins/maxes are rendered to strings on a fixed
    // contract per type (longs verbatim, doubles via the DECIMAL(28,6)
    // grid — never engine-native double formatting, whose exponent
    // notation differs — timestamps via the shared TsFmt), so one
    // VARCHAR column carries every type without a schema union. The
    // approximate twin is q41's HLL when the intake report can tolerate
    // ±2%.
    NamedQuery(
      "q191_data_profile",
      (s, d) => {
        val ev = events(s, d)
        val names =
          Seq("event_id", "ts", "user_id", "event_type", "value", "props")
        val noL = lit(null).cast("long")
        val noT = lit(null).cast("timestamp")
        val noD = lit(null).cast("double")
        val noS = lit(null).cast("string")
        def cell(c: String, key: Column, l: Column = noL, t: Column = noT,
            dv: Column = noD, st: Column = noS) =
          struct(lit(names.indexOf(c)).as("i"),
            when(col(c).isNull, 1L).otherwise(0L).as("nu"), key.as("v"),
            l.as("l"), t.as("t"), dv.as("dv"), st.as("st"))
        val v = col("value")
        val cells = ev.select(explode(array(
          cell("event_id", col("event_id").cast("string"),
            l = col("event_id")),
          cell("ts", unix_micros(col("ts")).cast("string"), t = col("ts")),
          cell("user_id", col("user_id").cast("string"),
            l = col("user_id")),
          cell("event_type", col("event_type"), st = col("event_type")),
          cell("value", when(v === 0.0, lit(0.0)).otherwise(v)
            .cast("string"), dv = v),
          cell("props", col("props"), st = col("props")))).as("c"))
          .select("c.*")
        val blanks = s.range(0, names.size, 1, 1).select(
          col("id").cast("int").as("i"), noL.as("nu"), noS.as("v"),
          noL.as("l"), noT.as("t"), noD.as("dv"), noS.as("st"))
        // exactly one carrier is non-NULL in a column's cells
        def rendered(agg: String => Column) = coalesce(
          agg("l").cast("string"), date_format(agg("t"), TsFmt),
          agg("dv").cast("decimal(28,6)").cast("string"), agg("st"))
        cells.union(blanks).groupBy("i").agg(
          count(col("nu")).as("n_rows"),
          sum(col("nu")).as("n_nulls"),
          countDistinct(col("v")).as("n_distinct"),
          rendered(min(_)).as("min_value"),
          rendered(max(_)).as("max_value"))
          .select(element_at(typedLit(names), col("i") + 1)
            .as("column_name"), col("n_rows"), col("n_nulls"),
            col("n_distinct"), col("min_value"), col("max_value"))
      },
      Some(s"""WITH agg AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
             |    CAST(SUM(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END)
             |      AS BIGINT) AS nu_event_id,
             |    CAST(COUNT(DISTINCT event_id) AS BIGINT) AS nd_event_id,
             |    CAST(MIN(event_id) AS VARCHAR) AS mn_event_id,
             |    CAST(MAX(event_id) AS VARCHAR) AS mx_event_id,
             |    CAST(SUM(CASE WHEN ts IS NULL THEN 1 ELSE 0 END)
             |      AS BIGINT) AS nu_ts,
             |    CAST(COUNT(DISTINCT ts) AS BIGINT) AS nd_ts,
             |    strftime(MIN(ts), '$TsFmtDuck') AS mn_ts,
             |    strftime(MAX(ts), '$TsFmtDuck') AS mx_ts,
             |    CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END)
             |      AS BIGINT) AS nu_user_id,
             |    CAST(COUNT(DISTINCT user_id) AS BIGINT) AS nd_user_id,
             |    CAST(MIN(user_id) AS VARCHAR) AS mn_user_id,
             |    CAST(MAX(user_id) AS VARCHAR) AS mx_user_id,
             |    CAST(SUM(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END)
             |      AS BIGINT) AS nu_event_type,
             |    CAST(COUNT(DISTINCT event_type) AS BIGINT)
             |      AS nd_event_type,
             |    MIN(event_type) AS mn_event_type,
             |    MAX(event_type) AS mx_event_type,
             |    CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END)
             |      AS BIGINT) AS nu_value,
             |    CAST(COUNT(DISTINCT value) AS BIGINT) AS nd_value,
             |    CAST(CAST(MIN(value) AS DECIMAL(28,6)) AS VARCHAR)
             |      AS mn_value,
             |    CAST(CAST(MAX(value) AS DECIMAL(28,6)) AS VARCHAR)
             |      AS mx_value,
             |    CAST(SUM(CASE WHEN props IS NULL THEN 1 ELSE 0 END)
             |      AS BIGINT) AS nu_props,
             |    CAST(COUNT(DISTINCT props) AS BIGINT) AS nd_props,
             |    MIN(props) AS mn_props,
             |    MAX(props) AS mx_props
             |  FROM events)
             |SELECT 'event_id' AS column_name, n AS n_rows,
             |  nu_event_id AS n_nulls, nd_event_id AS n_distinct,
             |  mn_event_id AS min_value, mx_event_id AS max_value FROM agg
             |UNION ALL SELECT 'ts', n, nu_ts, nd_ts, mn_ts, mx_ts
             |  FROM agg
             |UNION ALL SELECT 'user_id', n, nu_user_id, nd_user_id,
             |  mn_user_id, mx_user_id FROM agg
             |UNION ALL SELECT 'event_type', n, nu_event_type,
             |  nd_event_type, mn_event_type, mx_event_type FROM agg
             |UNION ALL SELECT 'value', n, nu_value, nd_value, mn_value,
             |  mx_value FROM agg
             |UNION ALL SELECT 'props', n, nu_props, nd_props, mn_props,
             |  mx_props FROM agg""".stripMargin)),

    // ----- q204: join-column discovery (schema matching by containment) ---
    // q166 audits the FK edges someone DECLARED; a data catalog has to
    // FIND them. For every ordered pair of key columns across the
    // schema: |A∩B| / |A| — containment ≈ 1 means A's values live
    // inside B, i.e. A is FK-joinable to B (the direction inclusion
    // dependencies point). Computed exactly with ONE value-partitioned
    // self-join of the stacked distinct (column, value) table — never a
    // per-pair scan: the quadratic is per VALUE over the handful of
    // columns containing it. Output keeps pairs with ≥ 5 % overlap;
    // `joinable` flags full containment, which on this schema recovers
    // exactly the seven declared FK edges (plus the identity-range
    // coincidences a real catalog would also surface) — q166 is the
    // precision check on what this discovers.
    NamedQuery(
      "q204_join_discovery",
      (s, d) => {
        def cols(t: String, cs: Seq[String]) = {
          val df = tbl(s, d, t)
          cs.map(c => df.select(lit(s"$t.$c").as("col"),
            col(c).cast("long").as("v")).distinct())
        }
        // pinned (r18 optimization): the stacked distinct (column, value)
        // table feeds three consumers — the per-column sizes aggregate
        // and both sides of the value self-join. Unpinned, every consumer
        // re-scanned all six tables and re-paid the 10 distinct
        // aggregations (exchange reuse covers only the join's two
        // identical sides); pinned, the distincts run once and the
        // consumers read the checkpoint. Values unchanged.
        val stacked = OpsKit.pinned((
          cols("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey")) ++
            cols("orders", Seq("o_orderkey", "o_custkey")) ++
            cols("customer", Seq("c_custkey", "c_nationkey")) ++
            cols("part", Seq("p_partkey")) ++
            cols("supplier", Seq("s_suppkey")) ++
            cols("nation", Seq("n_nationkey")))
          .reduce(_ unionByName _))
        val sizes = stacked.groupBy(col("col"))
          .agg(count(lit(1)).as("n_distinct"))
        val common = stacked.select(col("col").as("col_a"), col("v"))
          .join(stacked.select(col("col").as("col_b"), col("v")), Seq("v"))
          .filter(col("col_a") =!= col("col_b"))
          .groupBy(col("col_a"), col("col_b"))
          .agg(count(lit(1)).as("n_common"))
        common
          .join(broadcast(sizes.select(col("col").as("col_a"),
            col("n_distinct").as("na"))), Seq("col_a"))
          .select(col("col_a"), col("col_b"), col("n_common"), col("na"),
            (col("n_common").cast("double") / col("na").cast("double"))
              .as("containment"))
          .filter(col("containment") >= 0.05)
          .withColumn("joinable", col("n_common") === col("na"))
      },
      Some {
        val stacked = Seq(
          "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
          "orders" -> Seq("o_orderkey", "o_custkey"),
          "customer" -> Seq("c_custkey", "c_nationkey"),
          "part" -> Seq("p_partkey"),
          "supplier" -> Seq("s_suppkey"),
          "nation" -> Seq("n_nationkey"))
          .flatMap { case (t, cs) => cs.map(c =>
            s"SELECT DISTINCT '$t.$c' AS col, CAST($c AS BIGINT) AS v" +
              s" FROM $t") }
          .mkString("\nUNION ALL\n")
        s"""WITH stacked AS (
           |$stacked),
           |sizes AS (
           |  SELECT col, CAST(COUNT(*) AS BIGINT) AS n_distinct
           |  FROM stacked GROUP BY col),
           |common AS (
           |  SELECT a.col AS col_a, b.col AS col_b,
           |    CAST(COUNT(*) AS BIGINT) AS n_common
           |  FROM stacked a JOIN stacked b
           |    ON a.v = b.v AND a.col <> b.col
           |  GROUP BY a.col, b.col)
           |SELECT c.col_a, c.col_b, c.n_common,
           |  s.n_distinct AS na,
           |  CAST(c.n_common AS DOUBLE) / CAST(s.n_distinct AS DOUBLE)
           |    AS containment,
           |  c.n_common = s.n_distinct AS joinable
           |FROM common c JOIN sizes s ON c.col_a = s.col
           |WHERE CAST(c.n_common AS DOUBLE)
           |  / CAST(s.n_distinct AS DOUBLE) >= 0.05""".stripMargin
      }),

    // ----- q214: functional-dependency discovery --------------------------
    // q204 mines JOIN edges between tables; this mines the WITHIN-table
    // structure a catalog/profiler publishes next: does column A
    // determine column B? For nine candidate A→B pairs (PK→attribute
    // controls that must hold, plus plausible-but-false dependencies
    // that must be refuted), count the determinant keys whose dependent
    // takes more than one value. Both sides of every pair are cast to
    // string — integer→string rendering is identical across engines,
    // and no double ever becomes a key (float formatting is not
    // portable; the q52 rule applied to profiling). Shape: one stacked
    // distinct (fd, a, b) projection per pair union'd into a single
    // stream, one (fd, a) count, one fd-bounded rollup — each source
    // table is scanned once per pair projection and everything
    // aggregates map-side; never a self-join.
    NamedQuery(
      "q214_fd_discovery",
      (s, d) => {
        def fd(t: String, a: String, b: String) =
          tbl(s, d, t).select(
            lit(s"$t.$a->$b").as("fd"),
            col(a).cast("string").as("a"),
            col(b).cast("string").as("b")).distinct()
        val stacked = Seq(
          fd("orders", "o_orderkey", "o_custkey"),
          fd("orders", "o_custkey", "o_orderpriority"),
          fd("part", "p_partkey", "p_brand"),
          fd("part", "p_brand", "p_type"),
          fd("part", "p_type", "p_size"),
          fd("customer", "c_custkey", "c_mktsegment"),
          fd("customer", "c_nationkey", "c_mktsegment"),
          fd("lineitem", "l_orderkey", "l_returnflag"),
          fd("lineitem", "l_partkey", "l_suppkey"))
          .reduce(_ unionByName _)
        stacked
          .groupBy(col("fd"), col("a"))
          .agg(count(lit(1)).as("nb"))
          .groupBy(col("fd"))
          .agg(count(lit(1)).as("n_keys"),
            sum(when(col("nb") > 1, 1L).otherwise(0L)).as("n_violating"),
            max(col("nb")).as("max_rhs"))
          .select(col("fd"), col("n_keys"), col("n_violating"),
            col("max_rhs"), (col("n_violating") === 0).as("fd_holds"),
            (col("n_violating").cast("double") /
              col("n_keys").cast("double")).as("violation_share"))
      },
      Some {
        def fdSql(t: String, a: String, b: String) =
          s"""SELECT DISTINCT '$t.$a->$b' AS fd,
             |  CAST($a AS VARCHAR) AS a, CAST($b AS VARCHAR) AS b
             |FROM $t""".stripMargin
        val stacked = Seq(
          fdSql("orders", "o_orderkey", "o_custkey"),
          fdSql("orders", "o_custkey", "o_orderpriority"),
          fdSql("part", "p_partkey", "p_brand"),
          fdSql("part", "p_brand", "p_type"),
          fdSql("part", "p_type", "p_size"),
          fdSql("customer", "c_custkey", "c_mktsegment"),
          fdSql("customer", "c_nationkey", "c_mktsegment"),
          fdSql("lineitem", "l_orderkey", "l_returnflag"),
          fdSql("lineitem", "l_partkey", "l_suppkey"))
          .mkString("(", ") UNION ALL (", ")")
        s"""WITH stacked AS ($stacked),
           |keys AS (
           |  SELECT fd, a, CAST(COUNT(*) AS BIGINT) AS nb
           |  FROM stacked GROUP BY fd, a)
           |SELECT fd, CAST(COUNT(*) AS BIGINT) AS n_keys,
           |  CAST(SUM(CASE WHEN nb > 1 THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_violating,
           |  CAST(MAX(nb) AS BIGINT) AS max_rhs,
           |  SUM(CASE WHEN nb > 1 THEN 1 ELSE 0 END) = 0 AS fd_holds,
           |  CAST(SUM(CASE WHEN nb > 1 THEN 1 ELSE 0 END) AS DOUBLE)
           |    / CAST(COUNT(*) AS DOUBLE) AS violation_share
           |FROM keys GROUP BY fd""".stripMargin
      }),

    // ----- q226: per-group top-k via the custom physical operator ---------
    // The longest 3 documents per language, run through
    // [[graft.plans.TopKPerGroup]] — graft's whole-operator Catalyst
    // extension (logical node → planner strategy → partial/final
    // bounded-heap execs). The declarative window form sorts every
    // group in full; this plans like TakeOrderedAndProject does for
    // global top-k: map-side k-heaps thin each input partition to
    // ≤ k·|keys| candidate rows BEFORE the exchange, the final heaps
    // merge exactly, and no Sort or Window appears anywhere in the
    // physical plan (PlanShapeSpec pins this, and TopKPerGroupSpec
    // pins row-identical results against the window form). The order
    // (n_chars desc, doc_id asc) is total, which is what makes the
    // distributed heap semantics exact. Oracle: the plain row_number
    // window — construction-independent semantics.
    NamedQuery(
      "q226_topk_per_group",
      (s, d) => graft.plans.TopKPerGroup.topK(
        tbl(s, d, "documents")
          .select(col("lang"), col("doc_id"),
            col("n_chars").cast("long").as("n_chars")),
        keys = Seq("lang"),
        order = Seq(("n_chars", true), ("doc_id", false)),
        k = 3),
      Some("""SELECT lang, doc_id, n_chars FROM (
             |  SELECT lang, doc_id, CAST(n_chars AS BIGINT) AS n_chars,
             |    row_number() OVER (PARTITION BY lang
             |      ORDER BY n_chars DESC, doc_id) AS rk
             |  FROM documents)
             |WHERE rk <= 3""".stripMargin)),
  )

  /** Exploded token bigrams of one language's documents (q80/q81). */
  private def langBigrams(s: SparkSession, d: String, lang: String) = {
    val toks = split(col("text"), " ")
    val n = size(toks)
    tbl(s, d, "documents")
      .filter(col("lang") === lang)
      .select(explode(zip_with(
        slice(toks, lit(1), n - 1), slice(toks, lit(2), n - 1),
        (a, b) => concat(a, lit(" "), b))).as("g"))
  }

  private def langBigramsSql(lang: String): String =
    s"""SELECT unnest(list_transform(range(1, len(tk)),
       |         i -> tk[i] || ' ' || tk[i + 1])) AS g
       |FROM (SELECT string_split(text, ' ') AS tk
       |      FROM documents WHERE lang = '$lang')""".stripMargin
}
