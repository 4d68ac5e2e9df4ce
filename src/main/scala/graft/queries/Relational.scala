package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import Q.{dec2, dsum}

/** Relational operator inventory (SURVEY.md §2) expressed over the
  * testdata star schema. Each entry exercises one reference operator
  * class — scans, projections/filters, joins, aggregations, windows, set
  * ops, sinks-as-queries — with an exact DuckDB oracle.
  *
  * Scale notes are inline: every query is a single declarative plan so
  * Catalyst pushes filters/pruning into the parquet scan; dimension sides
  * of joins are broadcast; aggregates are partial (map-side) by
  * construction.
  */
object Relational {

  private def t(s: SparkSession, dir: String, n: String) = Tables.load(s, dir, n)

  val all: Seq[Q] = Seq(

    // ---- Aggregation core (reference A-group; TPC-H Q1 shape) ----------
    // groupBy+agg: partial aggregation map-side, one shuffle on the (low
    // cardinality) group key — scales linearly with input.
    Q("q1_agg",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "lineitem")
          .groupBy($"l_returnflag", $"l_linestatus")
          .agg(
            dsum($"l_quantity").as("sum_qty"),
            dsum($"l_extendedprice").as("sum_base_price"),
            sum(dec2($"l_extendedprice") * (lit(1) - dec2($"l_discount")))
              .cast("double").as("sum_disc_price"),
            count(lit(1)).as("count_order"))
          .orderBy($"l_returnflag", $"l_linestatus")
      },
      Some("""SELECT l_returnflag, l_linestatus,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        COUNT(*) AS count_order
        FROM lineitem GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus""")),

    // ---- 3-way join + agg + top-k (TPC-H Q3 shape; §3.1 lifecycle) -----
    // customer is the small side → broadcast; lineitem⋈orders shuffles on
    // the join key once; top-k is a global sort of an already-aggregated
    // (small) result.
    Q("q3_join_topk",
      (s, dir) => {
        import s.implicits._
        val c = t(s, dir, "customer").filter($"c_mktsegment" === "BUILDING")
        val o = t(s, dir, "orders")
        val l = t(s, dir, "lineitem")
        l.join(o, $"l_orderkey" === $"o_orderkey")
          .join(broadcast(c), $"o_custkey" === $"c_custkey")
          .groupBy($"o_orderkey", $"o_orderdate")
          .agg(sum(dec2($"l_extendedprice") * (lit(1) - dec2($"l_discount")))
            .cast("double").as("revenue"))
          .orderBy($"revenue".desc, $"o_orderkey")
          .limit(10)
      },
      Some("""SELECT o_orderkey, o_orderdate,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
        GROUP BY o_orderkey, o_orderdate
        ORDER BY revenue DESC, o_orderkey LIMIT 10""")),

    // ---- P1/P6/P13: rename + projection subset + filter ----------------
    // Column pruning + predicate pushdown reach the parquet scan.
    Q("p1_rename_project",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "lineitem")
          .filter($"l_quantity" > 45)
          .select(
            $"l_orderkey".as("order_key"),
            $"l_linenumber".as("line_number"),
            $"l_partkey".as("part_key"),
            $"l_quantity".as("qty"),
            $"l_returnflag".as("return_flag"))
          .orderBy($"order_key", $"line_number")
          .limit(200)
      },
      Some("""SELECT l_orderkey AS order_key, l_linenumber AS line_number,
        l_partkey AS part_key, l_quantity AS qty, l_returnflag AS return_flag
        FROM lineitem WHERE l_quantity > 45
        ORDER BY order_key, line_number LIMIT 200""")),

    // ---- P2: literal substring replace (ref: full-width-minus strip) ---
    Q("p2_replace",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "documents")
          .select($"doc_id", regexp_replace($"text", "spark", "flink").as("text2"))
          .orderBy($"doc_id")
      },
      Some("""SELECT doc_id, replace(text, 'spark', 'flink') AS text2
        FROM documents ORDER BY doc_id""")),

    // ---- P3/P4/P5: safe numeric cast (coerce→null) + null flag + guard --
    // Reference splits a mixed string column into (value, value_text,
    // is_numeric) — data_mapper.py:40-47.
    Q("p3_safe_cast",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "events")
          .withColumn("k_num",
            expr("try_cast(regexp_extract(props, '\"k\": (\\\\d+)', 1) AS BIGINT)"))
          .withColumn("is_numeric", $"k_num".isNotNull)
          .withColumn("k_text", when(!$"is_numeric", $"props"))
          .select($"event_id", $"k_num", $"is_numeric", $"k_text")
          .orderBy($"event_id")
      },
      Some("""SELECT event_id,
        TRY_CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT) AS k_num,
        TRY_CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT) IS NOT NULL AS is_numeric,
        CASE WHEN TRY_CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT) IS NULL THEN props END AS k_text
        FROM events ORDER BY event_id""")),

    // ---- P8: regex rlike row filter -------------------------------------
    Q("p8_rlike",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "documents")
          .filter($"text".rlike("hash (join|scan)"))
          .select($"doc_id", $"lang", $"n_chars")
          .orderBy($"doc_id")
      },
      Some("""SELECT doc_id, lang, n_chars FROM documents
        WHERE regexp_matches(text, 'hash (join|scan)')
        ORDER BY doc_id""")),

    // ---- P11/P12: conditional expression + IN-list filter ---------------
    Q("p11_case_isin",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "customer")
          .filter($"c_mktsegment".isin("BUILDING", "AUTOMOBILE"))
          .select(
            $"c_custkey",
            when($"c_acctbal" < 0, "negative")
              .when($"c_acctbal" < 5000, "mid")
              .otherwise("high").as("band"))
          .orderBy($"c_custkey")
      },
      Some("""SELECT c_custkey,
        CASE WHEN c_acctbal < 0 THEN 'negative'
             WHEN c_acctbal < 5000 THEN 'mid' ELSE 'high' END AS band
        FROM customer WHERE c_mktsegment IN ('BUILDING','AUTOMOBILE')
        ORDER BY c_custkey""")),

    // ---- J1: fact⋈dim broadcast join + IN-list ---------------------------
    // part is a dimension (200 rows at sf0.001, ~2M at 100 TB — still
    // broadcastable); fact side streams, no shuffle.
    Q("j1_bcast_join",
      (s, dir) => {
        import s.implicits._
        val p = t(s, dir, "part")
          .filter($"p_brand".isin("Brand#1", "Brand#2", "Brand#3"))
        t(s, dir, "lineitem")
          .join(broadcast(p), $"l_partkey" === $"p_partkey")
          .groupBy($"p_brand")
          .agg(dsum($"l_quantity").as("sum_qty"), count(lit(1)).as("n"))
          .orderBy($"p_brand")
      },
      Some("""SELECT p_brand,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        COUNT(*) AS n
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE p_brand IN ('Brand#1','Brand#2','Brand#3')
        GROUP BY p_brand ORDER BY p_brand""")),

    // ---- J2/W2: join + ordered scan (time series read path) -------------
    Q("j2_join_sort",
      (s, dir) => {
        import s.implicits._
        val c = t(s, dir, "customer").filter($"c_mktsegment" === "MACHINERY")
        t(s, dir, "orders")
          .join(broadcast(c), $"o_custkey" === $"c_custkey")
          .select($"c_custkey", $"c_name", $"o_orderkey", $"o_orderdate", $"o_totalprice")
          .orderBy($"c_custkey", $"o_orderdate", $"o_orderkey")
          .limit(500)
      },
      Some("""SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice
        FROM orders JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'MACHINERY'
        ORDER BY c_custkey, o_orderdate, o_orderkey LIMIT 500""")),

    // ---- J5: existence probe as one anti-join (kills the ref's N+1) -----
    Q("j5_anti_join",
      (s, dir) => {
        import s.implicits._
        // customers with no large order — the filter keeps the result
        // non-trivial at every sf (an unfiltered anti-join is empty on
        // this data: every customer has some order)
        val o = t(s, dir, "orders").filter($"o_totalprice" > 300000)
          .select($"o_custkey".as("c_custkey"))
        t(s, dir, "customer")
          .join(o, Seq("c_custkey"), "left_anti")
          .select($"c_custkey", $"c_name")
          .orderBy($"c_custkey")
      },
      Some("""SELECT c_custkey, c_name FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders
          WHERE o_custkey = c_custkey AND o_totalprice > 300000)
        ORDER BY c_custkey""")),

    // ---- semi join (EXISTS form) ----------------------------------------
    Q("j6_semi_join",
      (s, dir) => {
        import s.implicits._
        val o = t(s, dir, "orders").filter($"o_orderstatus" === "F")
          .select($"o_custkey".as("c_custkey"))
        t(s, dir, "customer")
          .join(o, Seq("c_custkey"), "left_semi")
          .select($"c_custkey", $"c_mktsegment")
          .orderBy($"c_custkey")
      },
      Some("""SELECT c_custkey, c_mktsegment FROM customer
        WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
        ORDER BY c_custkey""")),

    // ---- left outer join + agg ------------------------------------------
    Q("j7_outer_join_agg",
      (s, dir) => {
        import s.implicits._
        val o = t(s, dir, "orders")
        t(s, dir, "customer")
          .join(o, $"c_custkey" === $"o_custkey", "left")
          .groupBy($"c_custkey")
          .agg(
            count($"o_orderkey").as("n_orders"),
            dsum($"o_totalprice").as("total_spend"))
          .orderBy($"c_custkey")
      },
      Some("""SELECT c_custkey, COUNT(o_orderkey) AS n_orders,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spend
        FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        GROUP BY c_custkey ORDER BY c_custkey""")),

    // ---- A1: deterministic dedup-by-key (first-wins via window) ---------
    // dropDuplicates is nondeterministic under parallelism; the engine's
    // canonical dedup is row_number over an explicit order — same
    // construct backs the S8 upsert-merge writer.
    Q("a1_dedup_first",
      (s, dir) => {
        import s.implicits._
        val w = Window.partitionBy($"user_id").orderBy($"event_id")
        t(s, dir, "events")
          .withColumn("rn", row_number().over(w))
          .filter($"rn" === 1)
          .select($"user_id", $"event_id", $"event_type", $"value")
          .orderBy($"user_id")
      },
      Some("""SELECT user_id, event_id, event_type, value FROM (
        SELECT user_id, event_id, event_type, value,
          row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
        FROM events) WHERE rn = 1 ORDER BY user_id""")),

    // ---- A2: count-distinct ----------------------------------------------
    Q("a2_count_distinct",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "lineitem").agg(
          countDistinct($"l_partkey").as("n_parts"),
          countDistinct($"l_suppkey").as("n_supps"),
          count(lit(1)).as("n_rows"))
      },
      Some("""SELECT COUNT(DISTINCT l_partkey) AS n_parts,
        COUNT(DISTINCT l_suppkey) AS n_supps, COUNT(*) AS n_rows
        FROM lineitem""")),

    // ---- A3: first-match coalesce over a priority list -------------------
    // Reference walks candidate element_ids in order (financial_service
    // _SUMMARY_ITEMS); here: preferred metric per user by event priority.
    Q("a3_coalesce_priority",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "events")
          .groupBy($"user_id")
          .agg(
            max(when($"event_type" === "purchase", $"value")).as("v_purchase"),
            max(when($"event_type" === "click", $"value")).as("v_click"),
            max(when($"event_type" === "view", $"value")).as("v_view"))
          .select(
            $"user_id",
            coalesce($"v_purchase", $"v_click", $"v_view", lit(-1.0)).as("metric"))
          .orderBy($"user_id")
      },
      Some("""SELECT user_id, COALESCE(
          MAX(value) FILTER (WHERE event_type = 'purchase'),
          MAX(value) FILTER (WHERE event_type = 'click'),
          MAX(value) FILTER (WHERE event_type = 'view'), -1.0) AS metric
        FROM events GROUP BY user_id ORDER BY user_id""")),

    // ---- A4: EAV→wide pivot (bounded key set) -----------------------------
    // Explicit pivot values keep the plan single-pass (no distinct-scan).
    Q("a4_pivot",
      (s, dir) => {
        import s.implicits._
        val types = Seq("click", "error", "purchase", "signup", "view")
        val p = t(s, dir, "events")
          .groupBy($"user_id")
          .pivot("event_type", types)
          .agg(count(lit(1)))
        types.foldLeft(p)((df, c) => df.withColumn(c, coalesce(col(c), lit(0L))))
          .orderBy($"user_id")
      },
      Some("""SELECT user_id,
        COUNT(*) FILTER (WHERE event_type='click') AS click,
        COUNT(*) FILTER (WHERE event_type='error') AS error,
        COUNT(*) FILTER (WHERE event_type='purchase') AS purchase,
        COUNT(*) FILTER (WHERE event_type='signup') AS signup,
        COUNT(*) FILTER (WHERE event_type='view') AS view
        FROM events GROUP BY user_id ORDER BY user_id""")),

    // ---- A5: guarded ratio (profit-margin shape) --------------------------
    Q("a5_guarded_ratio",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "lineitem")
          .groupBy($"l_orderkey")
          .agg(
            sum(dec2($"l_extendedprice")).as("base"),
            sum(dec2($"l_extendedprice") * (lit(1) - dec2($"l_discount"))).as("disc"))
          .select(
            $"l_orderkey",
            when($"base" =!= 0, $"disc".cast("double") / $"base".cast("double") * 100)
              .as("disc_pct"))
          .orderBy($"l_orderkey")
      },
      Some("""SELECT l_orderkey,
        CASE WHEN base <> 0 THEN CAST(disc AS DOUBLE) / CAST(base AS DOUBLE) * 100 END AS disc_pct
        FROM (SELECT l_orderkey,
          SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS base,
          SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS disc
          FROM lineitem GROUP BY l_orderkey)
        ORDER BY l_orderkey""")),

    // ---- W1: top-1 per key ("latest report per company") ------------------
    Q("w1_top1_per_key",
      (s, dir) => {
        import s.implicits._
        val w = Window.partitionBy($"o_custkey")
          .orderBy($"o_orderdate".desc, $"o_orderkey".desc)
        t(s, dir, "orders")
          .withColumn("rn", row_number().over(w))
          .filter($"rn" === 1)
          .select($"o_custkey", $"o_orderkey", $"o_orderdate", $"o_totalprice")
          .orderBy($"o_custkey")
      },
      Some("""SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice FROM (
        SELECT *, row_number() OVER (PARTITION BY o_custkey
          ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn FROM orders)
        WHERE rn = 1 ORDER BY o_custkey""")),

    // ---- W2+: lag + running sum (time-series extension, app.py:110 TODO) --
    Q("w2_lag_running",
      (s, dir) => {
        import s.implicits._
        val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
        t(s, dir, "orders")
          .select(
            $"o_custkey", $"o_orderkey", $"o_orderdate", $"o_totalprice",
            lag($"o_totalprice", 1).over(w).as("prev_price"),
            sum(dec2($"o_totalprice"))
              .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
              .cast("double").as("running_spend"))
          .orderBy($"o_custkey", $"o_orderdate", $"o_orderkey")
      },
      Some("""SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
        lag(o_totalprice, 1) OVER w AS prev_price,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (PARTITION BY o_custkey
          ORDER BY o_orderdate, o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        ORDER BY o_custkey, o_orderdate, o_orderkey""")),

    // ---- U1: set ops (union / intersect / except, all DISTINCT semantics) -
    Q("u1_setops",
      (s, dir) => {
        import s.implicits._
        val a = t(s, dir, "orders").filter($"o_totalprice" > 400000)
          .select($"o_custkey".as("custkey"))
        val b = t(s, dir, "customer").filter($"c_acctbal" < 0)
          .select($"c_custkey".as("custkey"))
        a.union(b).distinct()
          .except(a.intersect(b))
          .orderBy($"custkey")
      },
      Some("""(SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 400000
         UNION
         SELECT c_custkey AS custkey FROM customer WHERE c_acctbal < 0)
        EXCEPT
        (SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 400000
         INTERSECT
         SELECT c_custkey AS custkey FROM customer WHERE c_acctbal < 0)
        ORDER BY custkey""")),

    // ---- S8: upsert/merge as window-dedup (no MERGE on vanilla parquet) ---
    // union(existing, updates) → keep highest-priority row per key. This is
    // the exact construct Warehouse.upsert uses; here exposed as a query so
    // the oracle can grade its semantics.
    Q("s8_upsert_merge",
      (s, dir) => {
        import s.implicits._
        val ev = t(s, dir, "events")
        val existing = ev.filter($"event_id" < 5000)
          .select($"event_id", $"value", lit(0).as("src"))
        val updates = ev.filter($"event_id" >= 2500 && $"event_id" < 7500)
          .select($"event_id", ($"value" * 2).as("value"), lit(1).as("src"))
        val w = Window.partitionBy($"event_id").orderBy($"src".desc)
        existing.union(updates)
          .withColumn("rn", row_number().over(w))
          .filter($"rn" === 1)
          .select($"event_id", $"value")
          .orderBy($"event_id")
      },
      Some("""SELECT event_id, value FROM (
        SELECT event_id, value, src,
          row_number() OVER (PARTITION BY event_id ORDER BY src DESC) AS rn
        FROM (
          SELECT event_id, value, 0 AS src FROM events WHERE event_id < 5000
          UNION ALL
          SELECT event_id, value * 2 AS value, 1 AS src FROM events
          WHERE event_id >= 2500 AND event_id < 7500))
        WHERE rn = 1 ORDER BY event_id""")),

    // ---- S9: delete as anti-join -------------------------------------------
    Q("s9_delete_antijoin",
      (s, dir) => {
        import s.implicits._
        val ev = t(s, dir, "events")
        val doomed = ev.filter($"event_type" === "error").select($"event_id")
        ev.join(doomed, Seq("event_id"), "left_anti")
          .groupBy($"event_type")
          .agg(count(lit(1)).as("n"))
          .orderBy($"event_type")
      },
      Some("""SELECT event_type, COUNT(*) AS n FROM events e
        WHERE NOT EXISTS (SELECT 1 FROM events d
          WHERE d.event_type = 'error' AND d.event_id = e.event_id)
        GROUP BY event_type ORDER BY event_type""")),

    // ---- F7: str(int(value)) truncation parity (data_mapper.py:89) --------
    // Spark double→long cast truncates toward zero; DuckDB rounds — the
    // oracle uses TRUNC to pin the reference's Python int() semantics.
    Q("f7_trunc_string",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "events")
          .select($"event_id",
            $"value".cast("long").cast("string").as("value_str"))
          .orderBy($"event_id")
      },
      Some("""SELECT event_id,
        CAST(CAST(TRUNC(value) AS BIGINT) AS VARCHAR) AS value_str
        FROM events ORDER BY event_id""")),

    // ---- J8: range (band) join via grid-cell binning -----------------------
    // Irregular price tiers joined to the fact on a containment
    // predicate. The naive plan is a nested-loop inequality join; the
    // scale shape is: explode each band into the 1000-unit grid cells
    // it covers, bin the fact to its cell (pure projection), equi-join
    // on the cell, and re-check the exact bounds. With a small dim the
    // exploded cells broadcast (as here); with two big sides the cell
    // becomes an ordinary shuffle key — either way no nested loop.
    Q("j8_range_join",
      (s, dir) => {
        import s.implicits._
        val grid = 1000L
        val tiers = Seq(
          (0L, 1000L, "t1_micro"), (1000L, 5000L, "t2_small"),
          (5000L, 20000L, "t3_mid"), (20000L, 100000L, "t4_large"),
          (100000L, 1000000L, "t5_jumbo")).toDF("lo", "hi", "tier")
        val cells = tiers.select($"tier", $"lo", $"hi",
          explode(sequence(($"lo" / grid).cast("long"),
            (($"hi" - 1) / grid).cast("long"))).as("cell"))
        t(s, dir, "orders")
          .select($"o_orderkey", $"o_totalprice",
            floor($"o_totalprice" / grid).cast("long").as("cell"))
          .join(broadcast(cells), "cell")
          .filter($"o_totalprice" >= $"lo" && $"o_totalprice" < $"hi")
          .groupBy($"tier")
          .agg(count(lit(1)).as("n"), Q.dsum($"o_totalprice").as("revenue"))
          .orderBy($"tier")
      },
      Some("""SELECT t.tier, COUNT(*) AS n,
          CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        FROM orders o JOIN (VALUES
            (0, 1000, 't1_micro'), (1000, 5000, 't2_small'),
            (5000, 20000, 't3_mid'), (20000, 100000, 't4_large'),
            (100000, 1000000, 't5_jumbo')) t(lo, hi, tier)
          ON o.o_totalprice >= t.lo AND o.o_totalprice < t.hi
        GROUP BY t.tier ORDER BY t.tier""")),

    // ---- skew-salted join, driver-verified -----------------------------
    // SkewJoin.saltedJoin on the catalog surface: the big side is
    // salted into 8 sub-keys and the small side replicated 8×, so one
    // hot customer's orders spread over 8 reducers instead of one
    // straggler task. The oracle is the PLAIN join — salting only
    // changes physical distribution, so value-parity against the
    // unsalted SQL is exactly the operator's contract. The small side
    // is hinted shuffle_hash (not broadcast) because that is the plan
    // family where explicit salting matters at 100 TB: AQE rebalances
    // skewed sort-merge joins but not shuffle-hash joins or skewed
    // aggregations.
    Q("j9_skew_salted",
      (s, dir) => {
        import s.implicits._
        val big = t(s, dir, "orders").select($"o_custkey", $"o_orderkey")
        val small = t(s, dir, "customer")
          .select($"c_custkey".as("o_custkey"), $"c_mktsegment")
          .hint("shuffle_hash")
        graft.operators.SkewJoin.saltedJoin(big, small, "o_custkey", 8)
          .groupBy($"c_mktsegment")
          .agg(count(lit(1)).as("n_orders"), sum($"o_orderkey").as("key_sum"))
          .orderBy($"c_mktsegment")
      },
      Some("""SELECT c_mktsegment, count(*) AS n_orders,
          CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    // ---- co-bucketed warehouse join, driver-verified --------------------
    // Warehouse.createBucketed on the catalog surface: both sides are
    // published pre-shuffled + per-bucket-sorted on the join key, and
    // the bucketed read joins them with no Exchange on either side
    // (EtlSpec pins the plan property; this entry proves the bucketed
    // write/read path round-trips VALUES exactly — a mis-bucketed or
    // mis-sorted layout would silently drop/duplicate join matches,
    // which the plain-SQL oracle catches). This is the repeated
    // fact⋈fact shape at 100 TB: pay the shuffle once at publish,
    // never per query.
    Q("j10_bucketed_join",
      (s, dir) => {
        import s.implicits._
        // Scratch-namespaced: a fresh dir + per-invocation catalog
        // names, so concurrent runs in one session can't race on the
        // table entries and repeated runs don't stack warehouse copies
        val wh = new graft.sources.Warehouse(s, graft.sources.Scratch.dir(s, "bkt"))
        val ordersT = graft.sources.Scratch.tableName(s, "bkt_orders")
        val custT = graft.sources.Scratch.tableName(s, "bkt_cust")
        wh.createBucketed(ordersT,
          t(s, dir, "orders").select($"o_custkey", $"o_orderkey", $"o_totalprice"),
          Seq("o_custkey"), 8)
        wh.createBucketed(custT,
          t(s, dir, "customer").select($"c_custkey", $"c_mktsegment"),
          Seq("c_custkey"), 8)
        wh.readBucketed(ordersT)
          .join(wh.readBucketed(custT), $"o_custkey" === $"c_custkey")
          .groupBy($"c_mktsegment")
          .agg(count(lit(1)).as("n_orders"), dsum($"o_totalprice").as("revenue"))
          .orderBy($"c_mktsegment")
      },
      Some("""SELECT c_mktsegment, count(*) AS n_orders,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    // ---- S11+: cross-table UoW snapshot read -------------------------
    // The reference commits company+report+items+facts in ONE Postgres
    // transaction (utils/service/unitofwork.py:89-143); the warehouse's
    // equivalent is per-table manifest publishes + ONE DB-level
    // `_CURRENT` flip (Warehouse.commitDbSnapshot). This entry proves
    // the read side end-to-end: publish two tables, flip once, then
    // republish one table TORN (a crashed second UoW — its partner
    // table and its flip never happen). A snapshot reader must resolve
    // BOTH tables to the flipped consistent set — the torn republish is
    // invisible — so the oracle is plain SQL over the original inputs.
    // Scale shape: snapshot resolution is three tiny-file reads on the
    // driver; the data-side plan is the same broadcast join + partial
    // agg it would be reading the live tables.
    Q("s12_uow_snapshot",
      (s, dir) => {
        import s.implicits._
        val wh = graft.sources.Scratch.warehouse(s, "uow")
        wh.atomicPublish("snap_nation", t(s, dir, "nation"))
        wh.atomicPublish("snap_region", t(s, dir, "region"))
        wh.commitDbSnapshot(Seq("snap_nation", "snap_region"))
        // crashed second UoW: one table republished mangled, no flip
        wh.atomicPublish("snap_nation",
          t(s, dir, "nation").withColumn("n_name", lit("TORN")))
        wh.readSnapshot("snap_nation")
          .join(broadcast(wh.readSnapshot("snap_region")),
            $"n_regionkey" === $"r_regionkey")
          .groupBy($"r_name")
          .agg(count(lit(1)).as("n_nations"),
            concat_ws(",", array_sort(collect_list($"n_name"))).as("nations"))
          .orderBy($"r_name")
      },
      Some("""SELECT r_name, count(*) AS n_nations,
          string_agg(n_name, ',' ORDER BY n_name) AS nations
        FROM nation JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name ORDER BY r_name""")),

    // ---- schema evolution: append a batch with a NEW column ----------
    // The lakehouse contract a long-lived table needs: a later ingest
    // adds `n_regionkey`, and the snapshot read serves BOTH vintages —
    // pre-evolution rows null-fill the new column (parquet mergeSchema
    // semantics via the manifest reader's unionByName), nothing is
    // rewritten, nothing fails. The oracle regenerates the vintage
    // split from the original table.
    Q("s13_schema_evolution",
      (s, dir) => {
        import s.implicits._
        val n = t(s, dir, "nation")
        val wh = graft.sources.Scratch.warehouse(s, "sev")
        wh.atomicPublish("nat_ev",
          n.filter($"n_nationkey" < 12).select($"n_nationkey", $"n_name"))
        wh.append("nat_ev",
          n.filter($"n_nationkey" >= 12)
            .select($"n_nationkey", $"n_name", $"n_regionkey"))
        wh.read("nat_ev").orderBy($"n_nationkey")
      },
      Some("""SELECT n_nationkey, n_name,
          CASE WHEN n_nationkey >= 12 THEN n_regionkey END AS n_regionkey
        FROM nation ORDER BY n_nationkey""")),

    // ---- time travel: read the PREVIOUS committed snapshot -----------
    // GC keeps current + previous, so v_current−1 is always resolvable
    // — the incident-response read ("what did this table say before
    // that publish?"). The appended rows are visible to the current
    // read (pinned by the boolean) and invisible to the versioned
    // read, whose content the oracle regenerates from the source.
    Q("s14_time_travel",
      (s, dir) => {
        import s.implicits._
        val r = t(s, dir, "region").select($"r_regionkey", $"r_name")
        val wh = graft.sources.Scratch.warehouse(s, "ttr")
        wh.atomicPublish("reg_tt", r)                       // v1
        wh.append("reg_tt", r.withColumn("r_regionkey",
          $"r_regionkey" + 100))                            // v2
        val cur = wh.read("reg_tt")
          .agg((count(lit(1)) === 10L).as("appended_visible"))
        wh.readVersion("reg_tt", 1)
          .crossJoin(broadcast(cur))
          .orderBy($"r_regionkey")
      },
      Some("""SELECT r_regionkey, r_name, TRUE AS appended_visible
        FROM region ORDER BY r_regionkey""")),

    // ---- CDC: row-level diff between two snapshots -------------------
    // Warehouse.diffVersions (the change-data-feed shape): v2 zeroes
    // every negative balance and drops every 100th customer; the diff
    // must surface exactly the changed rows as remove(old)+add(new)
    // and the dropped rows as removes. Two full-row anti-joins, no
    // driver loops; summarized per side so the plain-SQL oracle can
    // regenerate the expectation from the original table.
    Q("s15_cdc_diff",
      (s, dir) => {
        import s.implicits._
        val c = t(s, dir, "customer").select($"c_custkey", $"c_acctbal")
        val wh = graft.sources.Scratch.warehouse(s, "cdc")
        wh.atomicPublish("cust_cdc", c)                     // v1
        wh.atomicPublish("cust_cdc",                        // v2
          c.filter($"c_custkey" % 100 =!= 0)
            .select($"c_custkey", greatest($"c_acctbal", lit(0.0)).as("c_acctbal")))
        val (added, removed) = wh.diffVersions("cust_cdc", 1, 2)
        added.select(lit("added").as("side"), $"c_acctbal")
          .unionByName(removed.select(lit("removed").as("side"), $"c_acctbal"))
          .groupBy($"side")
          .agg(count(lit(1)).as("n"), dsum($"c_acctbal").as("bal"))
          .orderBy($"side")
      },
      Some("""SELECT 'added' AS side, count(*) AS n,
          CAST(SUM(CAST(greatest(c_acctbal, 0) AS DECIMAL(18,2))) AS DOUBLE) AS bal
        FROM customer WHERE c_custkey % 100 <> 0 AND c_acctbal < 0
        UNION ALL
        SELECT 'removed' AS side, count(*) AS n,
          CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal
        FROM customer WHERE c_custkey % 100 = 0 OR c_acctbal < 0
        ORDER BY side""")),

    // ---- Bloom-indexed point lookup: skipping beyond min/max ----------
    // The table is hash-spread on doc_id across 16 files, so every
    // file's footer [min, max] spans the whole key domain and range
    // skipping keeps all 16 — the layout where `_stats` pruning is
    // useless by construction. `buildBloom` (one column-pruned pass,
    // one OR-merged fixed-width buffer per file) writes the
    // `_bloom_doc_id` sidecar, and the 3-key lookup then plans a scan
    // over only the files whose filters claim a key (~3 of 16; a false
    // positive costs one extra file, the exact IN residual keeps
    // correctness). `pruned` pins that the metadata actually shrank
    // the scan. At 100 TB this is the difference between reading 3
    // files and reading the table for every id-lookup on an
    // arrival-ordered corpus.
    Q("s16_bloom_point_lookup",
      (s, dir) => {
        import s.implicits._
        val d = Tables.load(s, dir, "documents")
          .select($"doc_id", $"source", $"n_chars")
        val wh = graft.sources.Scratch.warehouse(s, "blm")
        wh.atomicPublish("doc_pt", d.repartition(16, $"doc_id"))
        wh.buildBloom("doc_pt", "doc_id")
        val keys: Seq[Any] = Seq(7L, 123L, 400L)
        val (kept, total) = wh.pruneFilesEquals("doc_pt", "doc_id", keys)
        wh.readEquals("doc_pt", "doc_id", keys)
          .withColumn("pruned", lit(kept.size < total))
          .orderBy($"doc_id")
      },
      Some("""SELECT doc_id, source, n_chars, TRUE AS pruned
        FROM documents WHERE doc_id IN (7, 123, 400) ORDER BY doc_id""")),

    // ---- partition evolution: one table, two physical layouts --------
    // The Iceberg headline feature on the manifest warehouse: the even
    // half of orders publishes FLAT (status is a data column), the odd
    // half appends hive-partitioned BY status (appendEvolved) — no
    // rewrite of history, and one snapshot read serves both vintages
    // (per-version basePath + unionByName). The status filter then
    // prunes the evolved vintage by PATH (only the o_orderstatus=F
    // directory's files survive) while flat files fall back to footer
    // stats; `pruned` pins that the mixed snapshot actually skipped
    // files. At 100 TB this is how a table adopts a better layout
    // mid-life without a 100 TB rewrite.
    Q("s17_partition_evolution",
      (s, dir) => {
        import s.implicits._
        val o = t(s, dir, "orders")
          .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
        val wh = graft.sources.Scratch.warehouse(s, "pev")
        wh.atomicPublish("ord_pe", o.filter($"o_orderkey" % 2 === 0))
        wh.appendEvolved("ord_pe", o.filter($"o_orderkey" % 2 === 1),
          Seq("o_orderstatus"))
        val (kept, total) =
          wh.pruneFiles("ord_pe", "o_orderstatus", Some("F"), Some("F"))
        wh.read("ord_pe").filter($"o_orderstatus" === "F")
          .agg(count(lit(1)).as("n"), dsum($"o_totalprice").as("revenue"))
          .select($"n", $"revenue", lit(kept.size < total).as("pruned"))
      },
      Some("""SELECT count(*) AS n,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
          TRUE AS pruned
        FROM orders WHERE o_orderstatus = 'F'"""))
    ,

    // ---- SQL surface: correlated scalar subquery (TPC-H Q17 shape) ---
    // The raw-SQL path through the engine, exercising Catalyst's
    // subquery DECORRELATION: the per-part average-quantity threshold
    // is written as a correlated scalar subquery and must plan as one
    // aggregate + equi-join — never a per-row re-execution (the
    // reference's N+1 anti-pattern) and never a nested-loop
    // (PlanSpec pins it; the explain gate rejects cartesians
    // catalog-wide). Exactness: the subquery's avg is the dsum
    // discipline spelled out — DECIMAL(18,2) sum, cast to DOUBLE,
    // divide by the count — so the threshold is bit-identical on both
    // engines and the `<` comparison never flips on a borderline row.
    Q("q17_corr_subquery",
      (s, dir) => {
        t(s, dir, "lineitem").createOrReplaceTempView("q17_lineitem")
        t(s, dir, "part").createOrReplaceTempView("q17_part")
        s.sql("""
          SELECT CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                   / CAST(7.0 AS DOUBLE) AS DOUBLE) AS avg_yearly
          FROM q17_lineitem l JOIN q17_part p ON p.p_partkey = l.l_partkey
          WHERE p.p_brand = 'Brand#9'
            AND l.l_quantity < (
              SELECT CAST(0.2 AS DOUBLE) *
                (CAST(SUM(CAST(l2.l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                  / CAST(COUNT(*) AS DOUBLE))
              FROM q17_lineitem l2 WHERE l2.l_partkey = p.p_partkey)""")
      },
      Some("""SELECT CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
            / CAST(7.0 AS DOUBLE) AS DOUBLE) AS avg_yearly
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        WHERE p.p_brand = 'Brand#9'
          AND l.l_quantity < (
            SELECT CAST(0.2 AS DOUBLE) *
              (CAST(SUM(CAST(l2.l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                / CAST(COUNT(*) AS DOUBLE))
            FROM lineitem l2 WHERE l2.l_partkey = p.p_partkey)""")),

    // ---- SQL surface: EXISTS subquery (TPC-H Q4 shape) ---------------
    // The EXISTS form of the existence probe (J5's anti-join is the
    // NOT-EXISTS dual): orders with at least one late-shipping line,
    // counted per priority. Catalyst decorrelates the EXISTS into a
    // left-semi join on o_orderkey — one pass over each table, no
    // per-order probe. Dates compare as DATE on both engines (the
    // parquet column is a naive timestamp; a TIMESTAMP literal would
    // be session-zoned on Spark and naive on DuckDB).
    Q("q4_exists_subquery",
      (s, dir) => {
        t(s, dir, "orders").createOrReplaceTempView("q4_orders")
        t(s, dir, "lineitem").createOrReplaceTempView("q4_lineitem")
        s.sql("""
          SELECT o.o_orderpriority, count(*) AS n
          FROM q4_orders o
          WHERE EXISTS (
            SELECT 1 FROM q4_lineitem l
            WHERE l.l_orderkey = o.o_orderkey
              AND CAST(l.l_shipdate AS DATE) > DATE '1999-06-01')
          GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority""")
      },
      Some("""SELECT o.o_orderpriority, count(*) AS n
        FROM orders o
        WHERE EXISTS (
          SELECT 1 FROM lineitem l
          WHERE l.l_orderkey = o.o_orderkey
            AND CAST(l.l_shipdate AS DATE) > DATE '1999-06-01')
        GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority""")),

    // ---- Source/sink format interchange: ORC, JSON-lines, CSV --------
    // The engine's format breadth as one catalog row: the same
    // projection is written to scratch with Spark's native ORC,
    // JSON-lines, and CSV (header) writers, read back with the
    // SOURCE's explicit schema (never inference — at 100 TB schema
    // inference is a full extra scan and a type-drift hazard), and
    // each vintage's exact signature (count, key sum, DECIMAL-exact
    // revenue) must equal the parquet source's. Doubles survive the
    // text formats bit-exactly because both writers emit Java's
    // shortest round-trip decimal representation. One row per format
    // keeps every leg on the hash surface — a silent row drop or
    // double drift in any reader breaks the compare.
    Q("s18_format_interchange",
      (s, dir) => {
        import s.implicits._
        val o = t(s, dir, "orders")
          .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
        val root = graft.sources.Scratch.dir(s, "fmt")
        o.write.mode("overwrite").orc(s"$root/orc")
        o.write.mode("overwrite").json(s"$root/json")
        o.write.mode("overwrite").option("header", "true").csv(s"$root/csv")
        def sig(df: DataFrame, fmt: String) = df.agg(
            count(lit(1)).as("n"),
            sum($"o_orderkey").as("key_sum"),
            dsum($"o_totalprice").as("revenue"))
          .select(lit(fmt).as("fmt"), $"n", $"key_sum", $"revenue")
        sig(o, "parquet")
          .unionByName(sig(s.read.schema(o.schema).orc(s"$root/orc"), "orc"))
          .unionByName(sig(s.read.schema(o.schema).json(s"$root/json"), "json"))
          .unionByName(sig(s.read.schema(o.schema)
            .option("header", "true").csv(s"$root/csv"), "csv"))
          .orderBy($"fmt")
      },
      Some("""WITH s AS (SELECT count(*) AS n,
          CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        FROM orders)
        SELECT fmt, n, key_sum, revenue
        FROM s, (VALUES ('csv'), ('json'), ('orc'), ('parquet')) t(fmt)
        ORDER BY fmt""")),

    // ---- SCD2 dimension history + point-in-time (as-of) read -----------
    // The slowly-changing-dimension machinery (Warehouse.upsertScd2,
    // previously only spec-covered) under the driver gate: three
    // update batches land at three dates — the second moves every
    // custkey % 3 customer to a new segment, the third moves the % 6
    // subset again — and the fingerprint diff must open/close ONLY
    // the changed keys' versions (unchanged rows ride along
    // untouched, never re-versioned). The as-of read at 2024-08-01
    // (valid_from ≤ asof < valid_to) then reconstructs the mid-year
    // state: %3 customers show the June segment and June valid_from,
    // everyone else their January original — and the % 6 December
    // change must be invisible. The oracle derives that state
    // directly from `customer` arithmetic, so any SCD2 bug (a
    // re-opened unchanged row, a wrong close date, a leaked future
    // version) breaks the hash. Scale: each merge is one broadcast-
    // size fingerprint join + a layout-preserving republish — cost ∝
    // dimension size, never fact-table size.
    Q("s19_scd2_asof",
      (s, dir) => {
        import s.implicits._
        val cust = t(s, dir, "customer")
        def batch(seg: org.apache.spark.sql.Column) =
          cust.select($"c_custkey".as("k"), seg.as("segment"))
        val wh = graft.sources.Scratch.warehouse(s, "scd")
        wh.upsertScd2("cust_dim", batch($"c_mktsegment"), Seq("k"),
          "2024-01-01")
        wh.upsertScd2("cust_dim",
          batch(when($"c_custkey" % 3 === 0, lit("MOVED"))
            .otherwise($"c_mktsegment")), Seq("k"), "2024-06-01")
        wh.upsertScd2("cust_dim",
          batch(when($"c_custkey" % 6 === 0, lit("MOVED-AGAIN"))
            .when($"c_custkey" % 3 === 0, lit("MOVED"))
            .otherwise($"c_mktsegment")), Seq("k"), "2024-12-01")
        val asof = "2024-08-01"
        wh.read("cust_dim")
          .filter($"valid_from" <= asof &&
            ($"valid_to".isNull || $"valid_to" > asof))
          .select($"k", $"segment", $"valid_from")
          .orderBy($"k")
      },
      Some("""SELECT c_custkey AS k,
          CASE WHEN c_custkey % 3 = 0 THEN 'MOVED' ELSE c_mktsegment END
            AS segment,
          CASE WHEN c_custkey % 3 = 0 THEN '2024-06-01' ELSE '2024-01-01' END
            AS valid_from
        FROM customer ORDER BY k""")),

    // ---- Runtime-filter join: bloom semi-join pushdown ---------------
    // The shuffle reducer for selective fact⋈dim joins: the filtered
    // orders keys build a broadcast Bloom, and the codegen'd probe
    // prunes lineitem ROWS MAP-SIDE — before any exchange — so only
    // the ~matching fraction (plus fpp) ever shuffles into the exact
    // join, where false positives die. This is the manual form of the
    // engine-level runtime filter (Spark's InSubqueryExec /
    // bloom-filter join pushdown), pinned here as an explicit
    // operator: at 100 TB the exchange shrinks by the join
    // selectivity, the difference between shuffling a table and
    // shuffling an answer. Exactness is untouched — the oracle is the
    // plain join.
    Q("j13_bloom_semi_pushdown",
      (s, dir) => {
        import s.implicits._
        val keys = t(s, dir, "orders")
          .filter($"o_orderpriority" === "1-URGENT" &&
            $"o_orderstatus" === "F")
          .select($"o_orderkey")
        val bloom = keys.select($"o_orderkey".cast("string").as("k"))
          .stat.bloomFilter("k", 100000L, 0.01)
        val bc = s.sparkContext.broadcast(bloom)
        val pre = t(s, dir, "lineitem")
          .select($"l_orderkey", $"l_extendedprice")
          .filter(coalesce(graft.functions.NativeExprs.bloomMightContain(
            s, bc, $"l_orderkey".cast("string")), lit(false)))
        pre.join(keys, $"l_orderkey" === $"o_orderkey")
          .agg(count(lit(1)).as("n_lines"),
            dsum($"l_extendedprice").as("revenue"))
      },
      Some("""SELECT count(*) AS n_lines,
          CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
            AS revenue
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE o_orderpriority = '1-URGENT' AND o_orderstatus = 'F'""")),

    // ---- DESCRIBE HISTORY: version ledger from metadata alone --------
    // The table-history surface (Delta DESCRIBE HISTORY parity) as a
    // catalog row: three lifecycle events — full publish, append,
    // shrinking republish — then `history` answers (version, files,
    // EXACT rows) per retained snapshot purely from manifests + the
    // `_rows` sidecars: zero data files opened, O(metadata) at 100 TB.
    // GC retention is part of the pinned contract: the v1 manifest is
    // aged out by the third publish, so exactly versions 2 and 3
    // remain — and their row counts are derived arithmetic the oracle
    // restates from the source table.
    Q("s24_describe_history",
      (s, dir) => {
        import s.implicits._
        val c = t(s, dir, "customer").select($"c_custkey", $"c_acctbal")
        val wh = graft.sources.Scratch.warehouse(s, "hist")
        wh.atomicPublish("cust_h", c)                         // v1
        wh.append("cust_h",
          c.select(($"c_custkey" + 1000000).as("c_custkey"), $"c_acctbal"))
        wh.atomicPublish("cust_h", c.filter($"c_custkey" % 2 === 0))
        val h = wh.history("cust_h")
        h.map { case (v, nf, nr) => (v, nf > 0, nr.getOrElse(-1L)) }
          .toDF("version", "has_files", "n_rows")
          .orderBy($"version")
      },
      Some("""SELECT CAST(2 AS BIGINT) AS version, TRUE AS has_files,
          CAST((SELECT count(*) * 2 FROM customer) AS BIGINT) AS n_rows
        UNION ALL
        SELECT CAST(3 AS BIGINT), TRUE,
          CAST((SELECT count(*) FROM customer WHERE c_custkey % 2 = 0)
            AS BIGINT)
        ORDER BY version""")),

    // ---- Point-in-time join: facts against SCD2 dim history ----------
    // The temporal-warehouse join s19's as-of READ builds toward:
    // every order joined to the customer segment that was valid ON
    // ITS ORDER DATE, against the SCD2 history Warehouse.upsertScd2
    // maintains (three batches: originals in 1995, the %3 move in
    // 1998, the %6 re-move in 2000). The join is equi on the customer
    // key with the validity range as a residual predicate — the
    // per-row form of as-of, planned as one key-shuffled join, never
    // a theta product; each fact matches exactly one dim version by
    // the SCD2 invariant (ranges partition time per key). ISO date
    // STRINGS compare correctly by code point, so the residual needs
    // no calendar math. The oracle derives every expected segment
    // from date arithmetic alone — a wrong valid_to anywhere in the
    // history breaks the aggregate.
    Q("j12_pit_join",
      (s, dir) => {
        import s.implicits._
        val cust = t(s, dir, "customer")
        def batch(seg: org.apache.spark.sql.Column) =
          cust.select($"c_custkey".as("k"), seg.as("segment"))
        val wh = graft.sources.Scratch.warehouse(s, "pit")
        wh.upsertScd2("cust_pit", batch($"c_mktsegment"), Seq("k"),
          "1995-01-01")
        wh.upsertScd2("cust_pit",
          batch(when($"c_custkey" % 3 === 0, lit("MOVED"))
            .otherwise($"c_mktsegment")), Seq("k"), "1998-01-01")
        wh.upsertScd2("cust_pit",
          batch(when($"c_custkey" % 6 === 0, lit("MOVED-AGAIN"))
            .when($"c_custkey" % 3 === 0, lit("MOVED"))
            .otherwise($"c_mktsegment")), Seq("k"), "2000-01-01")
        val dim = wh.read("cust_pit")
        val o = t(s, dir, "orders").select($"o_custkey",
          date_format($"o_orderdate".cast("timestamp"), "yyyy-MM-dd")
            .as("d"),
          $"o_totalprice")
        o.join(dim, $"o_custkey" === $"k" &&
            $"valid_from" <= $"d" &&
            ($"valid_to".isNull || $"valid_to" > $"d"))
          .groupBy($"segment")
          .agg(count(lit(1)).as("n"), dsum($"o_totalprice").as("revenue"))
          .orderBy($"segment")
      },
      Some("""SELECT CASE
            WHEN c_custkey % 6 = 0
              AND strftime(o_orderdate, '%Y-%m-%d') >= '2000-01-01'
              THEN 'MOVED-AGAIN'
            WHEN c_custkey % 3 = 0
              AND strftime(o_orderdate, '%Y-%m-%d') >= '1998-01-01'
              THEN 'MOVED'
            ELSE c_mktsegment END AS segment,
          count(*) AS n,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
            AS revenue
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY 1 ORDER BY segment""")),

    // ---- Compliance cascade: erase a user everywhere, incrementally --
    // The GDPR right-to-be-forgotten sweep: the erased users' rows
    // anti-join out of the raw events table (s9's delete machinery),
    // and the downstream materialized aggregate is maintained FROM THE
    // REMOVED ROWS ONLY (s20's IVM fold, negative side) — never by
    // re-scanning the surviving 100 TB. The oracle recomputes the
    // aggregate from scratch on the reduced corpus, so the hash
    // proves cascade == recompute; `erased_gone` pins the raw-table
    // deletion itself.
    Q("s23_gdpr_cascade",
      (s, dir) => {
        import s.implicits._
        val ev = Tables.load(s, dir, "events")
          .select($"event_id", $"user_id", $"event_type", $"value")
        val wh = graft.sources.Scratch.warehouse(s, "gdpr")
        wh.atomicPublish("ev_raw", ev)
        wh.atomicPublish("mv_agg",
          wh.read("ev_raw").groupBy($"event_type")
            .agg(count(lit(1)).as("n"), sum(dec2($"value")).as("total")))
        val victims = $"user_id" % 37 === 0
        val removed = wh.read("ev_raw").filter(victims).persist()
        wh.atomicPublish("ev_raw", wh.read("ev_raw").filter(!victims))
        val delta = removed.groupBy($"event_type")
          .agg(count(lit(1)).as("dn"), sum(dec2($"value")).as("dtotal"))
        wh.atomicPublish("mv_agg",
          wh.read("mv_agg").join(delta, Seq("event_type"), "left")
            .select($"event_type",
              ($"n" - coalesce($"dn", lit(0L))).as("n"),
              ($"total" - coalesce($"dtotal", lit(0).cast("decimal(28,2)")))
                .as("total"))
            .filter($"n" > 0))
        val gone = wh.read("ev_raw").filter(victims).count() == 0
        removed.unpersist()
        wh.read("mv_agg")
          .select($"event_type", $"n", $"total".cast("double").as("total"),
            lit(gone).as("erased_gone"))
          .orderBy($"event_type")
      },
      Some("""SELECT event_type, count(*) AS n,
          CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total,
          TRUE AS erased_gone
        FROM events WHERE user_id % 37 <> 0
        GROUP BY event_type ORDER BY event_type""")),

    // ---- Write-audit-publish: staged branch, gated promote -----------
    // The WAP pattern that keeps bad data out of a production table:
    // the full refresh lands on a BRANCH (real version write, current
    // pointer untouched), the audit reads the branch — row-count
    // no-shrink and null-key checks here — and only then does the
    // metadata-only promote flip the table. The hash surface carries
    // the before/after row counts (n_before pins that readers saw
    // only the old half while the branch was staged) and the final
    // aggregate over the promoted data; the audit booleans ride
    // along. A failing audit would abandonBranch and n_after would
    // equal n_before — a hash break. Cost: the promote is O(metadata)
    // however large the staged snapshot.
    Q("s22_wap_publish",
      (s, dir) => {
        import s.implicits._
        val o = t(s, dir, "orders")
          .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
        val wh = graft.sources.Scratch.warehouse(s, "wap")
        wh.atomicPublish("ord_wap", o.filter($"o_orderkey" % 2 === 0))
        wh.publishBranch("ord_wap", "audit", o)
        val nBefore = wh.read("ord_wap").count()
        val staged = wh.readBranch("ord_wap", "audit")
        val auditOk =
          staged.count() >= nBefore &&
          staged.filter($"o_orderkey".isNull).count() == 0
        if (auditOk) wh.promoteBranch("ord_wap", "audit")
        else wh.abandonBranch("ord_wap", "audit")
        wh.read("ord_wap").agg(
            count(lit(1)).as("n_after"),
            dsum($"o_totalprice").as("revenue"))
          .select(lit(nBefore).as("n_before"), $"n_after", $"revenue",
            lit(auditOk).as("audit_ok"))
      },
      Some("""SELECT (SELECT count(*) FROM orders WHERE o_orderkey % 2 = 0)
            AS n_before,
          count(*) AS n_after,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
            AS revenue,
          TRUE AS audit_ok
        FROM orders""")),

    // ---- Metadata-only rollback: undo a bad publish ------------------
    // The operational complement of s14's time travel: v2 "corrupts"
    // every region name, `rollback` re-commits v1's exact FILE LIST as
    // v3 — one manifest write + one pointer CAS, zero data bytes
    // moved (on a 100 TB table the restore is O(metadata)). The read
    // after rollback must hash-equal the original data; the corrupt
    // vintage stays readable as history until GC ages it out.
    Q("s21_rollback",
      (s, dir) => {
        import s.implicits._
        val r = t(s, dir, "region").select($"r_regionkey", $"r_name")
        val wh = graft.sources.Scratch.warehouse(s, "rbk")
        wh.atomicPublish("reg_rb", r)                          // v1
        wh.atomicPublish("reg_rb",                             // v2 (bad)
          r.withColumn("r_name", concat($"r_name", lit("-CORRUPT"))))
        wh.rollback("reg_rb", 1)                               // v3 == v1
        wh.read("reg_rb")
          .withColumn("restored", lit(true))
          .orderBy($"r_regionkey")
      },
      Some("""SELECT r_regionkey, r_name, TRUE AS restored
        FROM region ORDER BY r_regionkey""")),

    // ---- Unpivot: wide measures → long EAV (A4's inverse) -------------
    // The melt operator — the exact inverse of A4's bounded pivot, and
    // the shape a feature store normalizes into before per-measure
    // processing. Spark's `stack` generator expands the 4 measure
    // columns row-locally (a Generate over the scan, no shuffle, no
    // state); at 100 TB the expansion is pure map-side and the
    // downstream groupBy sees a long skinny stream that partial-
    // aggregates before any exchange. The oracle spells the same
    // reshape as a portable UNION ALL.
    Q("a6_unpivot",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "lineitem")
          .filter($"l_orderkey" % 50 === 0)
          .select($"l_orderkey", $"l_linenumber",
            expr("""stack(4,
              'discount', l_discount,
              'extendedprice', l_extendedprice,
              'quantity', l_quantity,
              'tax', l_tax) AS (measure, val)"""))
          .orderBy($"l_orderkey", $"l_linenumber", $"measure")
      },
      Some("""SELECT l_orderkey, l_linenumber, measure, val FROM (
          SELECT l_orderkey, l_linenumber, 'discount' AS measure,
            l_discount AS val FROM lineitem
          UNION ALL SELECT l_orderkey, l_linenumber, 'extendedprice',
            l_extendedprice FROM lineitem
          UNION ALL SELECT l_orderkey, l_linenumber, 'quantity',
            l_quantity FROM lineitem
          UNION ALL SELECT l_orderkey, l_linenumber, 'tax',
            l_tax FROM lineitem)
        WHERE l_orderkey % 50 = 0
        ORDER BY l_orderkey, l_linenumber, measure""")),

    // ---- Constraint-gated publish: bad batches never land ------------
    // The write-side of m21's declarative checks (Delta CHECK
    // constraints): a batch with nulled keys and out-of-domain
    // statuses is REFUSED in one aggregation pass — the table keeps
    // its previous snapshot — and the clean batch publishes through
    // the same gate. `rejected` pins that the bad write threw and
    // left the table untouched; the final aggregate proves the clean
    // data landed. At 100 TB the gate is one extra pass over the
    // batch (never the table), amortizing all declared constraints
    // into a single job.
    Q("s26_checked_publish",
      (s, dir) => {
        import s.implicits._
        val o = t(s, dir, "orders")
          .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
        val wh = graft.sources.Scratch.warehouse(s, "chk")
        val checks = Seq(
          "key_not_null" -> $"o_orderkey".isNotNull,
          "status_domain" -> $"o_orderstatus".isin("F", "O", "P"),
          "price_positive" -> ($"o_totalprice" > 0))
        wh.publishChecked("ord_chk", o.filter($"o_orderkey" % 7 === 0), checks)
        val bad = o.withColumn("o_orderkey",
            when($"o_orderkey" % 5 === 0, lit(null)).otherwise($"o_orderkey"))
          .withColumn("o_orderstatus",
            when($"o_orderkey" % 3 === 0, lit("X")).otherwise($"o_orderstatus"))
        val rejected =
          try { wh.publishChecked("ord_chk", bad, checks); false }
          catch { case e: IllegalStateException =>
            e.getMessage.contains("key_not_null") &&
            e.getMessage.contains("status_domain") }
        wh.read("ord_chk")
          .agg(count(lit(1)).as("n"), dsum($"o_totalprice").as("revenue"))
          .select($"n", $"revenue", lit(rejected).as("rejected"))
      },
      Some("""SELECT count(*) AS n,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
            AS revenue,
          TRUE AS rejected
        FROM orders WHERE o_orderkey % 7 = 0""")),

    // ---- Deletion vectors: row-level delete, zero files rewritten ----
    // The Delta-3/Iceberg-v2 merge-on-read delete: two successive
    // row-level DELETEs record (file, row-position) pairs in a
    // manifest-scoped sidecar — the data files are untouched
    // (`untouched` pins the manifest's file list byte-identical
    // across both deletes) — and the merge-on-read scan subtracts
    // them with one anti-join whose right side is sized by the
    // deleted rows. s9's copy-on-write delete rewrites the table;
    // THIS is what a 100 TB table does instead, until compaction
    // materializes. The oracle filters both predicates out of the
    // source directly.
    // ---- Chunked manifest: 10⁶-file metadata discipline, exact -------
    // The manifest-LIST layer (Warehouse chunked manifests) on the
    // hash gate: 64 range-clustered files under an 8-entry chunk size
    // force the chunked format, then (a) the exact row count is
    // answered from the manifest HEADER alone — `meta_rows` pins it
    // against the oracle's count(*) with zero chunk or data files
    // opened, and (b) a narrow key-range scan must prune at CHUNK
    // level: `pruned` pins that at most 2 of the 8 chunk files were
    // parsed (the `chunkOpens` seam), while the returned aggregate
    // stays exact — pruning is never the correctness boundary. At
    // 100 TB this is the difference between O(files) driver metadata
    // per query and O(chunks).
    Q("s27_chunked_manifest",
      (s, dir) => {
        import s.implicits._
        val o = t(s, dir, "orders")
          .select($"o_orderkey", $"o_totalprice")
        val wh = new graft.sources.Warehouse(s,
          graft.sources.Scratch.dir(s, "chm"),
          manifestChunkSize = 8)
        wh.atomicPublish("ord_c", o.repartitionByRange(64, $"o_orderkey")
          .sortWithinPartitions($"o_orderkey"))
        wh.chunkOpens = 0L
        val metaRows = wh.statsRowCount("ord_c").getOrElse(-1L)
        val headerOnly = wh.chunkOpens == 0L
        wh.chunkOpens = 0L
        val hit = wh.readSkipping("ord_c", "o_orderkey",
          Some(1000L), Some(1100L))
        val agg = hit.agg(count(lit(1)).as("n"),
          dsum($"o_totalprice").as("revenue"))
        val pruned = wh.chunkOpens <= 2
        agg.select($"n", $"revenue", lit(metaRows).as("meta_rows"),
          lit(headerOnly && pruned).as("pruned"))
      },
      Some("""SELECT count(*) AS n,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
            AS revenue,
          (SELECT count(*) FROM orders) AS meta_rows,
          TRUE AS pruned
        FROM orders WHERE o_orderkey BETWEEN 1000 AND 1100""")),

    // ---- Incremental commits on the hash gate ------------------------
    // s27 put chunked READS on the oracle; this puts the O(delta)
    // WRITE path there: a chunked partitioned table takes an append
    // and a partition-scoped upsert through the round-11 Delta commit
    // (untouched chunks reused by reference), and the final per-month
    // totals must hash-match DuckDB replaying the same merge. The
    // `incremental` flag asserts the scale property ON the gate: the
    // append wrote ≤ 2 chunk files (a full rebuild of the ~10-chunk
    // layout would write them all) and opened NO pre-existing version
    // dir's sidecars. The fine-grained counting pins live in
    // LayoutSpec; this row proves the production path computes the
    // right ANSWER while being incremental.
    Q("s28_incremental_commit",
      (s, dir) => {
        import s.implicits._
        val base = t(s, dir, "orders")
          .select($"o_orderkey".as("k"), dec2($"o_totalprice").as("v"),
            date_format($"o_orderdate", "yyyy").as("oy"))
        val wh = new graft.sources.Warehouse(s,
          graft.sources.Scratch.dir(s, "incr"),
          manifestChunkSize = 4)
        // ~7 year partitions x 4 files each = ~28 files / ~7 chunks —
        // multi-chunk but only a handful of hive dirs per publish
        wh.atomicPublish("ord_i",
          base.repartition($"oy", $"k" % 4), partitionCols = Seq("oy"))
        // data-derived touched year (exists at every SF): the year of
        // the lowest order key — same derivation in the oracle
        val hotYear = base.orderBy($"k").select($"oy").limit(1)
          .as[String].head()
        wh.chunkWrites = 0
        wh.append("ord_i", base.filter($"k" % 97 === 0)
          .select(($"k" + 100000000L).as("k"), $"v", lit("2099").as("oy"))
          .coalesce(1))
        val incremental = wh.chunkWrites <= 2 &&
          wh.lastCommitSidecarDirs.size <= 1
        wh.upsert("ord_i",
          base.filter($"oy" === hotYear)
            .withColumn("v", dec2($"v" + 1)),
          Seq("k"), partitionCols = Seq("oy"))
        wh.read("ord_i")
          .groupBy($"oy")
          .agg(count(lit(1)).as("n"), sum($"v").cast("double").as("total"))
          .select($"oy", $"n", $"total", lit(incremental).as("incremental"))
          .orderBy($"oy")
      },
      Some("""WITH base AS (
          SELECT o_orderkey AS k, CAST(o_totalprice AS DECIMAL(18,2)) AS v,
            strftime(o_orderdate, '%Y') AS oy
          FROM orders),
        hot AS (SELECT oy FROM base ORDER BY k LIMIT 1),
        appended AS (
          SELECT k + 100000000 AS k, v, '2099' AS oy
          FROM base WHERE k % 97 = 0),
        merged AS (
          SELECT k,
            CASE WHEN oy = (SELECT oy FROM hot)
              THEN CAST(v + 1 AS DECIMAL(18,2)) ELSE v END AS v, oy
          FROM base
          UNION ALL SELECT * FROM appended)
        SELECT oy, count(*) AS n, CAST(SUM(v) AS DOUBLE) AS total,
          TRUE AS incremental
        FROM merged GROUP BY oy ORDER BY oy""")),

    // ---- DV lineage carry (the round-11 wrong-results find, on the
    // oracle gate): a GDPR delete, then the table keeps living — an
    // append and a partition-scoped upsert. The deletes must survive
    // BOTH file-preserving commits (carried in the untouched
    // partitions, materialized in the rewritten one) or the group
    // counts diverge from the oracle's filtered union. At 100 TB the
    // carry is a deleted-rows-sized sidecar copy per commit; nothing
    // here rescans or rewrites untouched data.
    Q("s29_dv_carry",
      (s, dir) => {
        import s.implicits._
        val o = t(s, dir, "orders")
          .select($"o_orderkey".as("k"), dec2($"o_totalprice").as("v"),
            date_format($"o_orderdate", "yyyy").as("oy"))
        val wh = graft.sources.Scratch.warehouse(s, "dvc")
        wh.atomicPublish("ord_c", o.repartition($"oy"),
          partitionCols = Seq("oy"))
        wh.deleteRows("ord_c", $"k" % 10 === 0)
        wh.append("ord_c", o.filter($"k" % 97 === 0)
          .select(($"k" + 100000000L).as("k"), $"v", lit("2099").as("oy"))
          .coalesce(1))
        // data-derived hot year (exists at every SF), as in s28
        val hotYear = o.orderBy($"k").select($"oy").limit(1)
          .as[String].head()
        wh.upsert("ord_c",
          o.filter($"oy" === hotYear && $"k" % 10 =!= 0)
            .withColumn("v", dec2($"v" + 1)),
          Seq("k"), partitionCols = Seq("oy"))
        wh.read("ord_c")
          .groupBy($"oy")
          .agg(count(lit(1)).as("n"), sum($"v").cast("double").as("total"))
          .orderBy($"oy")
      },
      Some("""WITH base AS (
          SELECT o_orderkey AS k, CAST(o_totalprice AS DECIMAL(18,2)) AS v,
            strftime(o_orderdate, '%Y') AS oy
          FROM orders),
        hot AS (SELECT oy FROM base ORDER BY k LIMIT 1),
        alive AS (SELECT * FROM base WHERE k % 10 <> 0),
        appended AS (
          SELECT k + 100000000 AS k, v, '2099' AS oy
          FROM base WHERE k % 97 = 0),
        merged AS (
          SELECT k,
            CASE WHEN oy = (SELECT oy FROM hot)
              THEN CAST(v + 1 AS DECIMAL(18,2)) ELSE v END AS v, oy
          FROM alive
          UNION ALL SELECT * FROM appended)
        SELECT oy, count(*) AS n, CAST(SUM(v) AS DOUBLE) AS total
        FROM merged GROUP BY oy ORDER BY oy""")),

    // ---- Adaptive-grain lifecycle on the hash gate -------------------
    // The streaming sink's re-grain path (EventStream.maintainGrain)
    // as a catalog row: a corpus-wide BACKFILL bootstraps the sink at
    // month grain, a run of day-local live batches builds the
    // qualification streak, and maintenance REWRITES the table at day
    // grain. The final table — day-formatted partition values
    // included — must hash-match DuckDB replaying the same merge from
    // the source, and `regrained` pins the sticky-prop flip. s28/s29
    // pin incremental commits' data fidelity; this pins the full-
    // rewrite re-grain's. At 100 TB the rewrite is one compaction-
    // class publish triggered by sustained evidence, not a per-batch
    // cost — the streaks live in table props, zero extra jobs.
    Q("s30_regrain",
      (s, dir) => {
        import s.implicits._
        val E = graft.streaming.EventStream
        val ev = Tables.load(s, dir, "events")
          .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
        val wh = graft.sources.Scratch.warehouse(s, "rgr")
        // 1) corpus-wide backfill: 30 distinct days > maxDirsPerBatch
        //    ⇒ the first-batch decision lands on month
        E.upsertByTime(wh, "ev_rg", ev, "ts", Seq("event_id"))
        // 2) the refine qualification streak: the 4 busiest days
        //    (deterministic; each is 1 dir with ≥ minRowsPerDir rows),
        //    cycled if the corpus has fewer qualifying days — the
        //    keyed upsert makes a repeated day batch a no-op on data
        val hot = ev.groupBy(to_date($"ts").as("_d"))
          .agg(count(lit(1)).as("_n"))
          .filter($"_d".isNotNull && $"_n" >= E.DefaultMinRowsPerDir)
          .orderBy($"_n".desc, $"_d").limit(4)
          .select($"_d").as[java.sql.Date].collect()
        // name the precondition LOUDLY on a corpus with no qualifying
        // day: the oracle hardcodes regrained=TRUE, so without this a
        // gate failure reads as an opaque full-row hash mismatch
        // (ADVICE r13). Warn-not-throw: plan-only harnesses (Explain)
        // legitimately run the catalog at sf0.001 where no day
        // reaches the threshold and no oracle is compared.
        if (hot.isEmpty)
          System.err.println("[s30_regrain] precondition unmet: no day " +
            s"in $dir/events reaches DefaultMinRowsPerDir=" +
            s"${E.DefaultMinRowsPerDir} rows — the refine streak cannot " +
            "qualify, regrained will be false, and the DuckDB oracle " +
            "(which expects TRUE) will hash-mismatch")
        Seq.tabulate(if (hot.isEmpty) 0 else 4)(i => hot(i % hot.length))
          .foreach { d =>
            E.upsertByTime(wh, "ev_rg", ev.filter(to_date($"ts") === d),
              "ts", Seq("event_id"))
          }
        // 3) maintenance observes the streak and rewrites at day grain
        val regrained = E.maintainGrain(wh, "ev_rg", "ts") &&
          wh.tableProp("ev_rg", "grain_ts").contains("day")
        wh.read("ev_rg")
          .groupBy($"p_ts", $"event_type")
          .agg(count(lit(1)).as("n"), dsum($"value").as("total"))
          .select($"p_ts", $"event_type", $"n", $"total",
            lit(regrained).as("regrained"))
          .orderBy($"p_ts", $"event_type")
      },
      Some("""SELECT strftime(ts, '%Y-%m-%d') AS p_ts, event_type,
          count(*) AS n,
          CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total,
          TRUE AS regrained
        FROM events GROUP BY 1, 2 ORDER BY 1, 2""")),

    // ---- change data feed: per-commit row deltas (batch consumer) -----
    // `Warehouse.changes` — the Delta-CDF shape on the manifest
    // warehouse (generalizing S8/S9's merge/delete semantics,
    // reference utils/repositories/base_repository.py:55-61, into the
    // incremental-consumer contract): six commits land — publish,
    // append, keyed upsert, DV row-delete, compaction, rollback — and
    // the feed must emit exactly the row-level deltas of each. The
    // append surfaces as inserts; the upsert as delete(old)+insert(new)
    // for the CHANGED keys only (collapseUnchanged cancels the full-
    // rewrite churn with a per-version multiset exceptAll); the
    // row-delete is read back BY POSITION from the version's immutable
    // deletion vector; the compaction (op=optimize) emits NOTHING
    // (same rows, new layout — the manifest op label draws the
    // data-neutral line commitInfo draws for Delta); and the rollback
    // emits the REVERSE diff (the deleted rows return as inserts).
    // The oracle regenerates every delta from the source table.
    Q("s31_changes",
      (s, dir) => {
        import s.implicits._
        val c = t(s, dir, "customer")
          .select($"c_custkey".cast("long").as("c_custkey"), $"c_acctbal")
        val wh = graft.sources.Scratch.warehouse(s, "cdf")
        wh.atomicPublish("cust_cdf", c)                                 // v1
        // the feed window IS snapshot retention: hold all six versions
        wh.setSnapshotRetention("cust_cdf", 8)
        wh.append("cust_cdf", c.filter($"c_custkey" <= 50)
          .select(($"c_custkey" + 1000000L).as("c_custkey"),
            $"c_acctbal"))                                              // v2
        wh.upsert("cust_cdf",
          c.filter($"c_custkey" % 10 === 0)
            .select($"c_custkey", ($"c_acctbal" + 100.0).as("c_acctbal")),
          Seq("c_custkey"))                                             // v3
        wh.deleteRows("cust_cdf", col("c_custkey") % 7 === 0)           // v4
        wh.compact("cust_cdf", numFiles = 2)                            // v5
        wh.rollback("cust_cdf", 3)                                      // v6
        wh.changes("cust_cdf", 1, 6)
          .groupBy($"_commit_version", $"_change_type")
          .agg(count(lit(1)).as("n"), dsum($"c_acctbal").as("bal"))
          .orderBy($"_commit_version", $"_change_type")
      },
      Some("""WITH orig AS (
          SELECT c_custkey AS k, CAST(c_acctbal AS DECIMAL(18,2)) AS bal
          FROM customer),
        app AS (SELECT k + 1000000 AS k, bal FROM orig WHERE k <= 50),
        v3 AS (
          SELECT k, CASE WHEN k % 10 = 0 THEN bal + 100 ELSE bal END AS bal
          FROM orig
          UNION ALL SELECT k, bal FROM app),
        del AS (SELECT k, bal FROM v3 WHERE k % 7 = 0)
        SELECT * FROM (
          SELECT CAST(2 AS BIGINT) AS _commit_version,
            'insert' AS _change_type, count(*) AS n,
            CAST(SUM(bal) AS DOUBLE) AS bal FROM app
          UNION ALL
          SELECT CAST(3 AS BIGINT), 'delete', count(*),
            CAST(SUM(bal) AS DOUBLE) FROM orig WHERE k % 10 = 0
          UNION ALL
          SELECT CAST(3 AS BIGINT), 'insert', count(*),
            CAST(SUM(bal + 100) AS DOUBLE) FROM orig WHERE k % 10 = 0
          UNION ALL
          SELECT CAST(4 AS BIGINT), 'delete', count(*),
            CAST(SUM(bal) AS DOUBLE) FROM del
          UNION ALL
          SELECT CAST(6 AS BIGINT), 'insert', count(*),
            CAST(SUM(bal) AS DOUBLE) FROM del)
        ORDER BY _commit_version, _change_type""")),

    // ---- streaming CDF: the change feed as an incremental consumer ----
    // `readChangesStream` serves `changes()` one commit-window per
    // micro-batch through the v1 Source contract (offset = committed
    // snapshot version; `BatchAsStream` stamps the computed batch plan
    // streaming — the FileStreamSource bridge). Two
    // Trigger.AvailableNow runs share one checkpoint: the first drains
    // v1+v2 (startingVersion=1 replays the initial publish as inserts
    // via the synthetic empty v0), a row-delete lands BETWEEN runs,
    // and the second run serves ONLY the new commit — offsets resume
    // from the checkpoint, no re-reads, no gaps. Each batch is
    // appended to a second warehouse table (the sink is the engine's
    // own append), and the union of batches must equal the batch-API
    // feed — which the oracle regenerates from the source table. This
    // is the scale path for wide histories: per-trigger cost is the
    // commits in the window, never the table, and the batch API's
    // union-plan growth (changesMaxWindow) never materializes.
    Q("s32_changes_stream",
      (s, dir) => {
        import s.implicits._
        val c = t(s, dir, "customer")
          .select($"c_custkey".cast("long").as("c_custkey"), $"c_acctbal")
        val wh = graft.sources.Scratch.warehouse(s, "cds")
        val chk = graft.sources.Scratch.dir(s, "cdsc")
        wh.atomicPublish("cust_cds", c)                                 // v1
        wh.setSnapshotRetention("cust_cds", 8)
        wh.append("cust_cds", c.filter($"c_custkey" <= 50)
          .select(($"c_custkey" + 1000000L).as("c_custkey"),
            $"c_acctbal"))                                              // v2
        def drain(): Unit =
          graft.streaming.StreamTune.scoped(s,
            graft.streaming.StreamTune.statePartitions(
              s, wh.dataBytes("cust_cds"))) {
          val q = wh.readChangesStream("cust_cds", startingVersion = Some(1L))
            .writeStream
            .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
              b.persist()
              try {
                if (wh.exists("cds_feed")) wh.append("cds_feed", b)
                else wh.atomicPublish("cds_feed", b)
              } finally { b.unpersist(); () }
            }
            .option("checkpointLocation", chk)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
        }
        drain()                                                         // v1+v2
        wh.deleteRows("cust_cds", col("c_custkey") % 7 === 0)           // v3
        drain()                                                         // only v3
        wh.read("cds_feed")
          .groupBy($"_commit_version", $"_change_type")
          .agg(count(lit(1)).as("n"), dsum($"c_acctbal").as("bal"))
          .orderBy($"_commit_version", $"_change_type")
      },
      Some("""WITH orig AS (
          SELECT c_custkey AS k, CAST(c_acctbal AS DECIMAL(18,2)) AS bal
          FROM customer),
        app AS (SELECT k + 1000000 AS k, bal FROM orig WHERE k <= 50),
        v2 AS (SELECT * FROM orig UNION ALL SELECT * FROM app)
        SELECT * FROM (
          SELECT CAST(1 AS BIGINT) AS _commit_version,
            'insert' AS _change_type, count(*) AS n,
            CAST(SUM(bal) AS DOUBLE) AS bal FROM orig
          UNION ALL
          SELECT CAST(2 AS BIGINT), 'insert', count(*),
            CAST(SUM(bal) AS DOUBLE) FROM app
          UNION ALL
          SELECT CAST(3 AS BIGINT), 'delete', count(*),
            CAST(SUM(bal) AS DOUBLE) FROM v2 WHERE k % 7 = 0)
        ORDER BY _commit_version, _change_type""")),

    // ---- incremental view maintenance OFF THE CHANGE FEED -------------
    // The pattern the CDF exists for: a downstream AGGREGATE view
    // (count + exact-decimal sum per group) maintained purely by
    // applying SIGNED feed deltas — insert adds, delete subtracts —
    // never recomputed from the base. s20's IVM diffs two snapshots
    // (O(table) anti-joins); this is the O(changes) production form: a
    // base-table commit costs the view one merge sized by the TOUCHED
    // groups. The merge itself is PARTITION-SCOPED (round-15, was a
    // whole-view rewrite): the view is partitioned by group range
    // (`pb`), the current values of the touched groups come back via
    // `readEquals` (manifest partition-path pruning — only the touched
    // range directories are scanned), and the scoped `upsert` swaps
    // just those directories — SCALE.md measured that primitive flat
    // at 1M files, so at 100 TB a refresh costs O(touched groups),
    // never O(view). A group whose count cancels to zero stays as a
    // zero-count row (a tombstone the next `optimize` compacts away;
    // within a refresh it keeps the merge append-free of deletes) and
    // the egress filters n > 0. Exactness across engines: the running
    // sum stays DECIMAL end to end (the delta aggregates
    // DECIMAL(18,2), the view accumulates DECIMAL(28,2) — signed
    // cancellation is exact, double only at egress), so after
    // publish+append+upsert+delete the maintained view hash-matches a
    // from-scratch DuckDB recompute of the final state.
    Q("s33_cdf_mv",
      (s, dir) => {
        import s.implicits._
        val c = t(s, dir, "customer")
          .select($"c_custkey".cast("long").as("c_custkey"), $"c_acctbal")
        val wh = graft.sources.Scratch.warehouse(s, "cdm")
        val chk = graft.sources.Scratch.dir(s, "cdmc")
        wh.atomicPublish("cust_cdm", c)                                 // v1
        wh.setSnapshotRetention("cust_cdm", 8)
        def drain(): Unit =
          graft.streaming.StreamTune.scoped(s,
            graft.streaming.StreamTune.statePartitions(
              s, wh.dataBytes("cust_cdm"))) {
          val q = wh.readChangesStream("cust_cdm", startingVersion = Some(1L))
            .writeStream
            .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
              b.persist()
              try {
                val signed = when($"_change_type" === "insert",
                    Q.dec2($"c_acctbal"))
                  .otherwise(Q.dec2($"c_acctbal" * -1))
                // pb = the view's group-range partition (8 ranges of
                // 100 groups here; at scale, enough ranges that one is
                // a few files) — derived from grp, so keys are
                // partition-stable by construction
                val delta = b
                  .groupBy(($"c_custkey" % 100).as("grp"))
                  .agg(sum(when($"_change_type" === "insert", 1L)
                      .otherwise(-1L)).as("dn"),
                    sum(signed).as("dbal"))
                  .withColumn("pb", $"grp" % 8)
                  .persist()
                try {
                  // repartition BY the range column before a
                  // partitioned write: otherwise every shuffle
                  // partition spills a sliver into every pb dir —
                  // files ∝ shufflePartitions × ranges instead of
                  // ∝ ranges (at scale: one writer task per range)
                  if (!wh.exists("mv"))
                    wh.atomicPublish("mv", delta.select($"grp", $"pb",
                      $"dn".as("n"),
                      $"dbal".cast("decimal(28,2)").as("bal"))
                      .repartition($"pb"), Seq("pb"))
                  else {
                    // bounded collect: the distinct partition ranges a
                    // batch touches (≤ the range count), driving the
                    // manifest-pruned read of ONLY those directories
                    val touched = delta.select($"pb").distinct()
                      .collect().map(_.getLong(0)).toSeq
                    val cur = wh.readEquals("mv", "pb", touched)
                      .select($"grp", $"n", $"bal")
                    // delta-driven outer join: `cur` rows never leave
                    // their groups, so a left join from the delta side
                    // covers exactly the touched groups — untouched
                    // groups (even in touched partitions) ride the
                    // scoped upsert's own merge untouched
                    val merged = delta.join(cur, Seq("grp"), "left_outer")
                      .select($"grp", $"pb",
                        (coalesce($"n", lit(0L)) + $"dn").as("n"),
                        (coalesce($"bal", lit(0).cast("decimal(28,2)")) +
                          $"dbal").cast("decimal(28,2)").as("bal"))
                    wh.upsert("mv", merged, Seq("grp"), Seq("pb"))
                  }
                } finally { delta.unpersist(); () }
              } finally { b.unpersist(); () }
            }
            .option("checkpointLocation", chk)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
        }
        drain()                                                         // v1
        wh.append("cust_cdm", c.filter($"c_custkey" <= 50)
          .select(($"c_custkey" + 1000000L).as("c_custkey"),
            $"c_acctbal"))                                              // v2
        wh.upsert("cust_cdm",
          c.filter($"c_custkey" % 10 === 0)
            .select($"c_custkey", ($"c_acctbal" + 100.0).as("c_acctbal")),
          Seq("c_custkey"))                                             // v3
        drain()                                                         // v2+v3
        wh.deleteRows("cust_cdm", col("c_custkey") % 7 === 0)           // v4
        drain()                                                         // v4
        wh.read("mv")
          .filter($"n" > 0) // zero-count tombstones are not view rows
          .select($"grp", $"n", $"bal".cast("double").as("bal"))
          .orderBy($"grp")
      },
      Some("""WITH orig AS (
          SELECT c_custkey AS k, CAST(c_acctbal AS DECIMAL(18,2)) AS bal
          FROM customer),
        app AS (SELECT k + 1000000 AS k, bal FROM orig WHERE k <= 50),
        v3 AS (
          SELECT k, CASE WHEN k % 10 = 0 THEN bal + 100 ELSE bal END AS bal
          FROM orig
          UNION ALL SELECT k, bal FROM app),
        v4 AS (SELECT k, bal FROM v3 WHERE k % 7 <> 0)
        SELECT CAST(k % 100 AS BIGINT) AS grp, count(*) AS n,
          CAST(SUM(bal) AS DOUBLE) AS bal
        FROM v4 GROUP BY 1 ORDER BY 1""")),

    // ---- change feed at the SQL surface: the graft_changes TVF -------
    // `SELECT ... FROM graft_changes(root, table, fromV, toV)` — the
    // Delta-CDF `table_changes` UX with zero Scala at the call site
    // (sources/ChangesTvf.scala; injected session-wide by
    // GraftExtensions, registered lazily here). The TVF builder runs
    // at ANALYSIS time and splices `Warehouse.changes`' analyzed plan
    // into the enclosing query, so the SQL's aggregation is optimized
    // TOGETHER with the feed's joins — one plan, not a materialize-
    // then-query seam. fromV=0 bootstraps from the synthetic empty
    // table, so the initial publish replays as inserts; the oracle
    // regenerates all three commit deltas from the source table.
    Q("s34_changes_sql",
      (s, dir) => {
        import s.implicits._
        val c = t(s, dir, "customer")
          .select($"c_custkey".cast("long").as("c_custkey"), $"c_acctbal")
        val root = graft.sources.Scratch.dir(s, "ctv")
        val wh = new graft.sources.Warehouse(s, root)
        wh.atomicPublish("cust_tvf", c)                                 // v1
        wh.setSnapshotRetention("cust_tvf", 8)
        wh.append("cust_tvf", c.filter($"c_custkey" <= 50)
          .select(($"c_custkey" + 1000000L).as("c_custkey"),
            $"c_acctbal"))                                              // v2
        wh.deleteRows("cust_tvf", col("c_custkey") % 7 === 0)           // v3
        graft.sources.ChangesTvf.register(s)
        s.sql(s"""SELECT _commit_version, _change_type, count(*) AS n,
            CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal
          FROM graft_changes('$root', 'cust_tvf', 0, 3)
          GROUP BY 1, 2 ORDER BY 1, 2""")
      },
      Some("""WITH orig AS (
          SELECT c_custkey AS k, CAST(c_acctbal AS DECIMAL(18,2)) AS bal
          FROM customer),
        app AS (SELECT k + 1000000 AS k, bal FROM orig WHERE k <= 50),
        v2 AS (SELECT * FROM orig UNION ALL SELECT * FROM app)
        SELECT * FROM (
          SELECT CAST(1 AS BIGINT) AS _commit_version,
            'insert' AS _change_type, count(*) AS n,
            CAST(SUM(bal) AS DOUBLE) AS bal FROM orig
          UNION ALL
          SELECT CAST(2 AS BIGINT), 'insert', count(*),
            CAST(SUM(bal) AS DOUBLE) FROM app
          UNION ALL
          SELECT CAST(3 AS BIGINT), 'delete', count(*),
            CAST(SUM(bal) AS DOUBLE) FROM v2 WHERE k % 7 = 0)
        ORDER BY _commit_version, _change_type""")),

    // ---- Automatic data skipping (graft.plans.AutoSkip) --------------
    // The predicate arrives the way real queries write it — a WHERE on
    // a plain read — and the optimizer rule prunes the scan's file
    // list by footer stats against the read's own manifest resolution.
    // The result must equal the unpruned scan (deletes included: the
    // range filter composes with a deletion vector), and the plan
    // itself is the witness: `files_pruned` is read off the optimized
    // plan's PrunedFileIndex, TRUE only when kept < total. At 100 TB
    // this is the load-bearing read path — a dashboard range probe
    // plans a handful of files with no readSkipping call anywhere.
    Q("s35_auto_skip",
      (s, dir) => {
        import s.implicits._
        val o = t(s, dir, "orders")
          .select($"o_orderkey".cast("long").as("o_orderkey"),
            $"o_totalprice")
        val wh = graft.sources.Scratch.warehouse(s, "askip")
        wh.atomicPublish("ord_askip",
          o.repartitionByRange(8, $"o_orderkey")
            .sortWithinPartitions($"o_orderkey"))
        wh.deleteRows("ord_askip", col("o_orderkey") % 13 === 0)
        // literal bound derived once, sf-independent: the lowest
        // eighth of the keyspace spans ~1 of the 8 range files
        val hi = o.agg(max($"o_orderkey")).head.getLong(0) / 8L
        val q = wh.read("ord_askip")
          .where($"o_orderkey" >= 1L && $"o_orderkey" <= hi)
          .agg(count(lit(1)).as("n"), dsum($"o_totalprice").as("revenue"))
        val pruned = q.queryExecution.optimizedPlan.collect {
          case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            lr.relation match {
              case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                h.location match {
                  case p: graft.plans.PrunedFileIndex =>
                    Some((p.inputFiles.length, p.orig.inputFiles.length))
                  case _ => None
                }
              case _ => None
            }
          case _ => None
        }.flatten
        val didPrune = pruned.nonEmpty &&
          pruned.map(_._1).sum < pruned.map(_._2).sum
        q.select($"n", $"revenue", lit(didPrune).as("files_pruned"))
      },
      Some("""SELECT count(*) AS n,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
            AS revenue,
          TRUE AS files_pruned
        FROM orders
        WHERE o_orderkey >= 1
          AND o_orderkey <= (SELECT max(o_orderkey) // 8 FROM orders)
          AND o_orderkey % 13 <> 0""")),

    // ---- graft_table TVF: the warehouse read path from pure SQL ------
    // WHERE over the TVF must ride the same machinery the Scala
    // surface gets: merge-on-read deletes applied, files pruned by
    // footer stats (AutoSkip fires on the spliced plan's scan). The
    // witness column pins the pruning, the hash pins the semantics.
    Q("s36_table_tvf",
      (s, dir) => {
        import s.implicits._
        val c = t(s, dir, "customer")
          .select($"c_custkey".cast("long").as("c_custkey"), $"c_acctbal")
        val root = graft.sources.Scratch.dir(s, "ttvf")
        val wh = new graft.sources.Warehouse(s, root)
        wh.atomicPublish("cust_t",
          c.repartitionByRange(8, $"c_custkey")
            .sortWithinPartitions($"c_custkey"))
        wh.deleteRows("cust_t", col("c_custkey") % 11 === 0)
        val hi = c.agg(max($"c_custkey")).head.getLong(0) / 8L
        graft.sources.TableTvf.register(s)
        val q = s.sql(s"""SELECT count(*) AS n,
            CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal
          FROM graft_table('$root', 'cust_t')
          WHERE c_custkey >= 1 AND c_custkey <= $hi""")
        val pruned = q.queryExecution.optimizedPlan.collect {
          case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            lr.relation match {
              case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                h.location match {
                  case p: graft.plans.PrunedFileIndex =>
                    Some((p.inputFiles.length, p.orig.inputFiles.length))
                  case _ => None
                }
              case _ => None
            }
          case _ => None
        }.flatten
        val didPrune = pruned.nonEmpty &&
          pruned.map(_._1).sum < pruned.map(_._2).sum
        q.select($"n", $"bal", lit(didPrune).as("files_pruned"))
      },
      Some("""SELECT count(*) AS n,
          CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal,
          TRUE AS files_pruned
        FROM customer
        WHERE c_custkey >= 1
          AND c_custkey <= (SELECT max(c_custkey) // 8 FROM customer)
          AND c_custkey % 11 <> 0""")),

    // ---- Metadata-only count(*): zero data files opened ---------------
    // The optimizer collapses a bare count over a clean snapshot to
    // the `_rows` sidecar total (MetaCountRule); the plan witness is
    // the absence of any file scan in the optimized plan. The same
    // query against the post-delete snapshot must NOT collapse (the
    // DV anti-join is the truth) — both counts are hash-checked.
    Q("s37_meta_count_sql",
      (s, dir) => {
        import s.implicits._
        val l = t(s, dir, "lineitem")
          .select($"l_orderkey", $"l_linenumber", $"l_quantity")
        val wh = graft.sources.Scratch.warehouse(s, "mcnt")
        wh.atomicPublish("li_mc", l.repartition(8))
        val clean = wh.read("li_mc")
          .agg(count(lit(1)).as("n"),
            min($"l_orderkey").as("lo"), max($"l_orderkey").as("hi"))
        val metaOnly = clean.queryExecution.optimizedPlan.collect {
          case lr: org.apache.spark.sql.execution.datasources.LogicalRelation => lr
        }.isEmpty
        wh.deleteRows("li_mc", col("l_orderkey") % 5 === 0)
        val after = wh.read("li_mc").agg(count(lit(1)).as("m"))
        val scanned = after.queryExecution.optimizedPlan.collect {
          case lr: org.apache.spark.sql.execution.datasources.LogicalRelation => lr
        }.nonEmpty
        clean.crossJoin(after)
          .select($"n", $"lo", $"hi", $"m",
            lit(metaOnly).as("meta_only"), lit(scanned).as("dv_scanned"))
      },
      Some("""SELECT
          (SELECT count(*) FROM lineitem) AS n,
          (SELECT min(l_orderkey) FROM lineitem) AS lo,
          (SELECT max(l_orderkey) FROM lineitem) AS hi,
          (SELECT count(*) FROM lineitem WHERE l_orderkey % 5 <> 0) AS m,
          TRUE AS meta_only, TRUE AS dv_scanned""")),

    // ---- graft_stats TVF: column statistics from metadata alone ------
    // DESCRIBE-DETAIL UX: per-column min/max/null/row statistics
    // answered from manifest headers and sidecars — zero data files
    // opened — and hash-checked against DuckDB actually aggregating
    // the data. Exactness contract on the surface: long stats are
    // exact footer values, string min/max exact for these short
    // values, null totals exact; the HLL ndv column is NOT on the
    // hash surface (approximate by design).
    Q("s38_stats_tvf",
      (s, dir) => {
        import s.implicits._
        val o = t(s, dir, "orders")
          .select($"o_orderkey".cast("long").as("o_orderkey"),
            $"o_custkey".cast("long").as("o_custkey"),
            $"o_orderstatus")
        val root = graft.sources.Scratch.dir(s, "stvf")
        val wh = new graft.sources.Warehouse(s, root)
        wh.atomicPublish("ord_stats", o.repartition(8))
        graft.sources.StatsTvf.register(s)
        s.sql(s"""SELECT col_name, min_s, max_s, nulls, rows
          FROM graft_stats('$root', 'ord_stats')
          ORDER BY col_name""")
      },
      Some("""WITH per AS (
          SELECT 'o_orderkey' AS col_name,
            CAST(min(o_orderkey) AS VARCHAR) AS min_s,
            CAST(max(o_orderkey) AS VARCHAR) AS max_s,
            count(*) - count(o_orderkey) AS nulls, count(*) AS rows
          FROM orders
          UNION ALL
          SELECT 'o_custkey', CAST(min(o_custkey) AS VARCHAR),
            CAST(max(o_custkey) AS VARCHAR),
            count(*) - count(o_custkey), count(*) FROM orders
          UNION ALL
          SELECT 'o_orderstatus', min(o_orderstatus), max(o_orderstatus),
            count(*) - count(o_orderstatus), count(*) FROM orders)
        SELECT col_name, min_s, max_s, nulls, rows FROM per
        ORDER BY col_name""")),

    // ---- graft_history TVF: DESCRIBE HISTORY from pure SQL -----------
    // One metadata row per retained snapshot — version, commit op
    // label, file count, RAW row total (never DV-subtracted: the
    // delete commit's ledger row keeps the pre-delete sum, which is
    // exactly what the sidecars record). File counts are pinned by
    // coalesce(1) writes; row totals come from the source table so
    // the oracle reproduces them without seeing the warehouse.
    Q("s39_history_tvf",
      (s, dir) => {
        import s.implicits._
        val c = t(s, dir, "customer")
          .select($"c_custkey".cast("long").as("c_custkey"), $"c_acctbal")
        val root = graft.sources.Scratch.dir(s, "htvf")
        val wh = new graft.sources.Warehouse(s, root)
        wh.atomicPublish("cust_h",
          c.filter($"c_custkey" % 2 === 0).coalesce(1))            // v1
        wh.setSnapshotRetention("cust_h", 8)
        wh.append("cust_h",
          c.filter($"c_custkey" % 2 === 1).coalesce(1))            // v2
        wh.deleteRows("cust_h", col("c_custkey") % 7 === 0)        // v3
        graft.sources.HistoryTvf.register(s)
        s.sql(s"""SELECT version, operation, n_files, n_rows
          FROM graft_history('$root', 'cust_h') ORDER BY version""")
      },
      Some("""WITH n AS (
          SELECT count(*) FILTER (WHERE c_custkey % 2 = 0) AS even,
                 count(*) AS total
          FROM customer)
        SELECT * FROM (
          SELECT CAST(1 AS BIGINT) AS version, 'overwrite' AS operation,
            CAST(1 AS BIGINT) AS n_files, even AS n_rows FROM n
          UNION ALL
          SELECT 2, 'append', 2, total FROM n
          UNION ALL
          SELECT 3, 'delete', 2, total FROM n)
        ORDER BY version""")),

    // ---- Date-range automatic skipping ------------------------------
    // The reference's dominant dashboard shape: a time-range WHERE over
    // a date-ordered fact table (financial_data_repository.py:35-48,
    // ddl.sql:186-187 order by fiscal_year_end). Dates are int32 epoch
    // days in parquet, so the footer stats are EXACT — a 60-day probe
    // over a date-clustered 100 TB table plans only the overlapping
    // files, automatically, deletes included. The witness pins that
    // pruning fired; the hash pins that it changed nothing.
    Q("s40_date_skip",
      (s, dir) => {
        import s.implicits._
        val o = t(s, dir, "orders")
          .select($"o_orderkey".cast("long").as("o_orderkey"),
            to_date($"o_orderdate").as("o_date"), $"o_totalprice")
        val wh = graft.sources.Scratch.warehouse(s, "dskip")
        wh.atomicPublish("ord_bydate",
          o.repartitionByRange(8, $"o_date").sortWithinPartitions($"o_date"))
        wh.deleteRows("ord_bydate", col("o_orderkey") % 13 === 0)
        val lo = o.agg(min($"o_date")).head.getDate(0)
        val q = wh.read("ord_bydate")
          .where($"o_date".between(date_add(lit(lo), 30), date_add(lit(lo), 90)))
          .agg(count(lit(1)).as("n"), dsum($"o_totalprice").as("revenue"))
        val pruned = q.queryExecution.optimizedPlan.collect {
          case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            lr.relation match {
              case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                h.location match {
                  case p: graft.plans.PrunedFileIndex =>
                    Some((p.inputFiles.length, p.orig.inputFiles.length))
                  case _ => None
                }
              case _ => None
            }
          case _ => None
        }.flatten
        val didPrune = pruned.nonEmpty &&
          pruned.map(_._1).sum < pruned.map(_._2).sum
        q.select($"n", $"revenue", lit(didPrune).as("files_pruned"))
      },
      Some("""SELECT count(*) AS n,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
            AS revenue,
          TRUE AS files_pruned
        FROM orders
        WHERE CAST(o_orderdate AS DATE)
            BETWEEN (SELECT min(CAST(o_orderdate AS DATE)) + 30 FROM orders)
            AND (SELECT min(CAST(o_orderdate AS DATE)) + 90 FROM orders)
          AND o_orderkey % 13 <> 0""")),

    // ---- Metadata-only GROUP BY partition column + count(col) --------
    // Two more aggregate shapes that never open a data file on a clean
    // snapshot: a GROUP BY on the partition column (per-directory
    // `_rows` sidecar sums) and count(col) (= rows − exact null
    // totals). Both witnesses pin the no-scan plan; the hashes pin the
    // values against DuckDB actually aggregating the data.
    Q("s41_meta_group",
      (s, dir) => {
        import s.implicits._
        val l = t(s, dir, "lineitem")
          .select($"l_orderkey", $"l_returnflag", $"l_quantity")
          .withColumn("lq10",
            when($"l_quantity" >= 10, $"l_quantity")) // real nulls
        val wh = graft.sources.Scratch.warehouse(s, "mgrp")
        wh.atomicPublish("li_grp", l, partitionCols = Seq("l_returnflag"))
        val grouped = wh.read("li_grp")
          .groupBy($"l_returnflag").agg(count(lit(1)).as("n"))
        val metaGrouped = grouped.queryExecution.optimizedPlan.collect {
          case lr: org.apache.spark.sql.execution.datasources.LogicalRelation => lr
        }.isEmpty
        val cc = wh.read("li_grp").agg(count($"lq10").as("nn"))
        val metaCount = cc.queryExecution.optimizedPlan.collect {
          case lr: org.apache.spark.sql.execution.datasources.LogicalRelation => lr
        }.isEmpty
        grouped.crossJoin(cc)
          .select($"l_returnflag", $"n", $"nn",
            lit(metaGrouped).as("meta_grouped"), lit(metaCount).as("meta_count"))
          .orderBy($"l_returnflag")
      },
      Some("""SELECT l_returnflag, count(*) AS n,
          (SELECT count(*) FROM lineitem WHERE l_quantity >= 10) AS nn,
          TRUE AS meta_grouped, TRUE AS meta_count
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // ---- Join-driven automatic file skipping (DPP analogue) ----------
    // The reference's hottest star shape — fact JOIN dim with the
    // filter on the DIM (financial_data JOIN financial_items WHERE
    // element_id IN (...), financial_data_repository.py:21-33) — has
    // no fact-side literal for AutoSkip to extract. JoinSkipRule
    // executes the broadcast-small dim's key projection at plan time
    // and feeds the keys to the same equality prune, so the fact scan
    // plans only the files those keys can live in: at 100 TB the
    // difference between sweeping the fact table and reading a
    // handful of files. Deletes compose (the DV anti-join sits under
    // the pruned scan); the witness pins that pruning fired with no
    // readEquals/bloom wiring anywhere.
    Q("s42_join_skip",
      (s, dir) => {
        import s.implicits._
        val l = t(s, dir, "lineitem")
          .select($"l_orderkey", $"l_partkey", $"l_quantity")
        val p = t(s, dir, "part")
          .select($"p_partkey".cast("long").as("p_partkey"), $"p_brand")
        val wh = graft.sources.Scratch.warehouse(s, "jskip")
        wh.atomicPublish("li_fact",
          l.repartitionByRange(8, $"l_partkey")
            .sortWithinPartitions($"l_partkey"))
        wh.deleteRows("li_fact", col("l_orderkey") % 7 === 0)
        // dim: a real stored table, 40 keys at every scale factor
        wh.atomicPublish("part_dim", p.filter($"p_partkey" <= 40).coalesce(1))
        val q = wh.read("li_fact")
          .join(wh.read("part_dim"), $"l_partkey" === $"p_partkey")
          .agg(count(lit(1)).as("n"), dsum($"l_quantity").as("qty"))
        val pruned = q.queryExecution.optimizedPlan.collect {
          case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            lr.relation match {
              case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                h.location match {
                  case px: graft.plans.PrunedFileIndex =>
                    Some((px.inputFiles.length, px.orig.inputFiles.length))
                  case _ => None
                }
              case _ => None
            }
          case _ => None
        }.flatten
        val didPrune = pruned.nonEmpty &&
          pruned.map(_._1).sum < pruned.map(_._2).sum
        q.select($"n", $"qty", lit(didPrune).as("files_pruned"))
      },
      Some("""SELECT count(*) AS n,
          CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty,
          TRUE AS files_pruned
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE p_partkey <= 40 AND l_orderkey % 7 <> 0""")),

    // ---- Catalog: graft.<ns>.<table> name resolution from pure SQL ---
    // The last UX seam: reads resolve through a Spark TableCatalog
    // (GraftCatalog) and splice to the SAME warehouse read plan
    // (deletes + auto-skip apply — the witness pins pruning through
    // the catalog name), and INSERT INTO rides the V1Write fallback
    // onto the O(delta) append commit. No root-path literal anywhere
    // in the final SQL.
    Q("s43_catalog",
      (s, dir) => {
        import s.implicits._
        val c = t(s, dir, "customer")
          .select($"c_custkey".cast("long").as("c_custkey"), $"c_acctbal")
        val root = graft.sources.Scratch.dir(s, "cat")
        graft.sources.Scratch.withGraftCatalog(s, root) {
        val wh = new graft.sources.Warehouse(s, s"$root/wh")
        wh.atomicPublish("cust_cat",
          c.repartitionByRange(8, $"c_custkey")
            .sortWithinPartitions($"c_custkey"))
        c.filter($"c_custkey" <= 50).createOrReplaceTempView("cat_extra")
        s.sql("""INSERT INTO graft.wh.cust_cat
          SELECT c_custkey + 1000000, c_acctbal FROM cat_extra""")
        val hi = c.agg(max($"c_custkey")).head.getLong(0) / 8L
        // `m` pins the INSERT on the hash surface (orig + 51 rows) and
        // rides the metadata-count collapse through the catalog name;
        // `v1` pins VERSION AS OF time travel (the pre-insert snapshot)
        val q = s.sql(s"""SELECT count(*) AS n,
            CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal,
            (SELECT count(*) FROM graft.wh.cust_cat) AS m,
            (SELECT count(*) FROM graft.wh.cust_cat VERSION AS OF 1) AS v1
          FROM graft.wh.cust_cat
          WHERE c_custkey >= 1 AND c_custkey <= $hi""")
        val pruned = q.queryExecution.optimizedPlan.collect {
          case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            lr.relation match {
              case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                h.location match {
                  case px: graft.plans.PrunedFileIndex =>
                    Some((px.inputFiles.length, px.orig.inputFiles.length))
                  case _ => None
                }
              case _ => None
            }
          case _ => None
        }.flatten
        val didPrune = pruned.nonEmpty &&
          pruned.map(_._1).sum < pruned.map(_._2).sum
        q.select($"n", $"bal", $"m", $"v1", lit(didPrune).as("files_pruned"))
        }
      },
      Some("""SELECT count(*) AS n,
          CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal,
          (SELECT count(*) +
             (SELECT count(*) FROM customer WHERE c_custkey <= 50)
           FROM customer) AS m,
          (SELECT count(*) FROM customer) AS v1,
          TRUE AS files_pruned
        FROM customer
        WHERE c_custkey >= 1
          AND c_custkey <= (SELECT max(c_custkey) // 8 FROM customer)""")),

    // ---- Streaming read through the catalog name ----------------------
    // `spark.readStream.table("graft.ns.t")` — the Delta-CDF UX
    // completed: the SAME name batch SQL selects from is a streaming
    // source (CatalogStreamRule splices the graft-changes change-feed
    // source, offset = committed snapshot version, per-trigger cost
    // bounded by the commits in the window — the reference's "daily
    // incremental fetch", import_financial_data.py:36-38, as a
    // restartable stream). The query drains the retained history, then
    // a NEW commit lands and a SECOND stream run resumes from the SAME
    // checkpoint: the exactly-once witness (no row served twice, none
    // skipped) is pinned on the hash surface — count == distinct keys
    // AND the totals equal the batch answer over all three commits.
    Q("s44_stream_catalog",
      (s, dir) => {
        import s.implicits._
        val c = t(s, dir, "customer")
          .select($"c_custkey".cast("long").as("c_custkey"), $"c_acctbal")
        val root = graft.sources.Scratch.dir(s, "scat")
        graft.sources.Scratch.withGraftCatalog(s, root) {
        val wh = new graft.sources.Warehouse(s, s"$root/wh")
        wh.atomicPublish("cust_s",
          c.filter($"c_custkey" % 3 === 0).repartition(2))           // v1
        wh.setSnapshotRetention("cust_s", 16)
        wh.append("cust_s", c.filter($"c_custkey" % 3 === 1).repartition(2)) // v2
        val out = graft.sources.Scratch.dir(s, "scatout")
        val chk = graft.sources.Scratch.dir(s, "scatchk")
        def drain(): Unit =
          graft.streaming.StreamTune.scoped(s,
            graft.streaming.StreamTune.statePartitions(
              s, wh.dataBytes("cust_s"))) {
          val q = s.readStream.option("startingVersion", "1")
            .table("graft.wh.cust_s")
            .writeStream.format("parquet")
            .option("path", out).option("checkpointLocation", chk)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
        }
        drain() // serves v1 + v2
        wh.append("cust_s", c.filter($"c_custkey" % 3 === 2).repartition(2)) // v3
        drain() // checkpoint resume: serves ONLY v3
        Tables.readOne(s, out)
          .agg(count(lit(1)).as("n"), dsum($"c_acctbal").as("bal"),
            countDistinct($"c_custkey").as("uniq"))
          .select($"n", $"bal", ($"n" === $"uniq").as("exactly_once"))
        }
      },
      Some("""SELECT count(*) AS n,
          CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal,
          TRUE AS exactly_once
        FROM customer""")),

    // ---- SQL DML: DELETE / UPDATE / MERGE on catalog tables -----------
    // The reference's S8/S9 repository surface (base_repository.py:
    // 55-61) in its native SQL spelling (CatalogDmlRule): DELETE is a
    // deletion-vector commit (witness: file count unchanged, commit
    // kind `delete`), UPDATE is ONE atomic rewrite+DV commit sized by
    // the updated rows (witness: commit kind `update`), MERGE resolves
    // onto Warehouse.upsert keyed on the ON clause. The final hash
    // pins all three mutations' row-level effect against DuckDB
    // replaying them relationally.
    Q("s45_sql_dml",
      (s, dir) => {
        import s.implicits._
        val o = t(s, dir, "orders")
          .select($"o_orderkey".cast("long").as("o_orderkey"),
            $"o_totalprice".cast("double").as("o_totalprice"),
            $"o_orderstatus")
        val root = graft.sources.Scratch.dir(s, "dmlq")
        graft.sources.Scratch.withGraftCatalog(s, root) {
        val wh = new graft.sources.Warehouse(s, s"$root/wh")
        wh.atomicPublish("ord_dml", o.repartition(4))
        val filesBefore = wh.history("ord_dml").last._2
        s.sql("DELETE FROM graft.wh.ord_dml WHERE o_orderkey % 5 = 0")
        val hDel = wh.history("ord_dml").last
        val deleteDv = hDel._2 == filesBefore &&
          wh.commitKind("ord_dml", hDel._1).contains("delete")
        s.sql("""UPDATE graft.wh.ord_dml SET o_totalprice = o_totalprice * 2.0
          WHERE o_orderstatus = 'P'""")
        val hUpd = wh.history("ord_dml").last
        val updateCommit = wh.commitKind("ord_dml", hUpd._1).contains("update")
        o.filter($"o_orderkey" <= 100)
          .select($"o_orderkey", lit(1.0).as("o_totalprice"),
            lit("M").as("o_orderstatus"))
          .createOrReplaceTempView("s45_src")
        s.sql("""MERGE INTO graft.wh.ord_dml t USING s45_src s
          ON t.o_orderkey = s.o_orderkey
          WHEN MATCHED THEN UPDATE SET *
          WHEN NOT MATCHED THEN INSERT *""")
        s.sql("""SELECT count(*) AS n,
            CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
              AS revenue
          FROM graft.wh.ord_dml""")
          .select($"n", $"revenue", lit(deleteDv).as("delete_dv"),
            lit(updateCommit).as("update_commit"))
        }
      },
      Some("""WITH typed AS (
          SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
                 CAST(o_totalprice AS DOUBLE) AS o_totalprice,
                 o_orderstatus
          FROM orders
        ), base AS (
          SELECT o_orderkey,
                 CASE WHEN o_orderstatus = 'P' THEN o_totalprice * 2.0
                      ELSE o_totalprice END AS o_totalprice
          FROM typed WHERE o_orderkey % 5 <> 0
        ), src AS (
          SELECT o_orderkey, 1.0 AS o_totalprice
          FROM typed WHERE o_orderkey <= 100
        ), merged AS (
          SELECT o_orderkey, o_totalprice FROM base
          WHERE o_orderkey NOT IN (SELECT o_orderkey FROM src)
          UNION ALL SELECT o_orderkey, o_totalprice FROM src
        )
        SELECT count(*) AS n,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
            AS revenue,
          TRUE AS delete_dv, TRUE AS update_commit
        FROM merged""")),

    // ---- SQL ops surface: CALL graft.system.* -------------------------
    // The warehouse maintenance verbs from pure SQL (Spark 4.1
    // ProcedureCatalog; the Iceberg CALL catalog.system.* convention):
    // retention policy, compaction, bloom sidecars and the fsck audit
    // all run where a deployment's ops cron actually lives. Witnesses:
    // compact(1) leaves one file (a genuine rewrite commit), fsck
    // reports healthy; the hash pins that none of it changed a row.
    Q("s46_sql_ops",
      (s, dir) => {
        import s.implicits._
        val p = t(s, dir, "part")
          .select($"p_partkey".cast("long").as("p_partkey"),
            $"p_brand", $"p_retailprice")
        val root = graft.sources.Scratch.dir(s, "opsq")
        graft.sources.Scratch.withGraftCatalog(s, root) {
        val wh = new graft.sources.Warehouse(s, s"$root/wh")
        wh.atomicPublish("part_ops",
          p.filter($"p_partkey" % 2 === 0).repartition(4))
        s.sql("CALL graft.system.set_retention(ns => 'wh', tbl => 'part_ops', snapshots => 8)")
        wh.append("part_ops", p.filter($"p_partkey" % 2 === 1).repartition(4))
        s.sql("CALL graft.system.compact(ns => 'wh', tbl => 'part_ops', files => 1)")
        val compacted = wh.history("part_ops").last._2 == 1L
        s.sql("CALL graft.system.build_bloom(ns => 'wh', tbl => 'part_ops', col => 'p_brand')")
        val healthy = s.sql(
          "CALL graft.system.fsck(ns => 'wh', tbl => 'part_ops')")
          .collect().map(_.getString(0)).sameElements(Array("healthy"))
        s.sql("""SELECT count(*) AS n,
            CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE)
              AS retail,
            count(CASE WHEN p_brand = 'Brand#13' THEN 1 END) AS nb
          FROM graft.wh.part_ops""")
          .select($"n", $"retail", $"nb",
            lit(compacted).as("compacted"), lit(healthy).as("healthy"))
        }
      },
      Some("""SELECT count(*) AS n,
          CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE)
            AS retail,
          count(CASE WHEN p_brand = 'Brand#13' THEN 1 END) AS nb,
          TRUE AS compacted, TRUE AS healthy
        FROM part""")),

    // ---- Correlated-subquery DML (round 18) ---------------------------
    // `DELETE/UPDATE ... WHERE EXISTS (SELECT ... WHERE c.k = t.k AND
    // <pred>)` equality-decorrelated onto the keyed commit paths: the
    // correlated conjuncts become semi-join keys (deleteRowsKeyed — a
    // DV commit, files untouched; updateRowsKeyed — one atomic
    // rewrite+DV commit), the residual predicates stay inside the
    // subquery frame. DuckDB replays both statements with its own
    // native EXISTS, so the decorrelation is pinned against the
    // un-decorrelated semantics.
    Q("s48_sql_dml_corr",
      (s, dir) => {
        import s.implicits._
        val o = t(s, dir, "orders")
          .select($"o_orderkey".cast("long").as("o_orderkey"),
            $"o_custkey".cast("long").as("o_custkey"),
            $"o_totalprice".cast("double").as("o_totalprice"))
        val c = t(s, dir, "customer")
          .select($"c_custkey".cast("long").as("c_custkey"), $"c_acctbal")
        val root = graft.sources.Scratch.dir(s, "corrq")
        graft.sources.Scratch.withGraftCatalog(s, root) {
        val wh = new graft.sources.Warehouse(s, s"$root/wh")
        wh.atomicPublish("ord_c", o.repartition(4))
        c.createOrReplaceTempView("s48_cust")
        val filesBefore = wh.history("ord_c").last._2
        s.sql("""DELETE FROM graft.wh.ord_c t WHERE EXISTS (
          SELECT 1 FROM s48_cust c
          WHERE c.c_custkey = t.o_custkey AND c.c_acctbal < 0)""")
        val hDel = wh.history("ord_c").last
        val deleteDv = hDel._2 == filesBefore &&
          wh.commitKind("ord_c", hDel._1).contains("delete")
        s.sql("""UPDATE graft.wh.ord_c t
          SET o_totalprice = t.o_totalprice + 1.0
          WHERE EXISTS (
            SELECT 1 FROM s48_cust c
            WHERE c.c_custkey = t.o_custkey AND c.c_acctbal > 9000.0)""")
        val updateCommit = wh.commitKind("ord_c",
          wh.history("ord_c").last._1).contains("update")
        s.sql("""SELECT count(*) AS n,
            CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
              AS revenue
          FROM graft.wh.ord_c""")
          .select($"n", $"revenue", lit(deleteDv).as("delete_dv"),
            lit(updateCommit).as("update_commit"))
        }
      },
      Some("""WITH typed AS (
          SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
                 CAST(o_custkey AS BIGINT) AS o_custkey,
                 CAST(o_totalprice AS DOUBLE) AS o_totalprice
          FROM orders
        ), cust AS (
          SELECT CAST(c_custkey AS BIGINT) AS c_custkey, c_acctbal
          FROM customer
        ), kept AS (
          SELECT t.o_orderkey, t.o_custkey,
                 CASE WHEN EXISTS (
                     SELECT 1 FROM cust c
                     WHERE c.c_custkey = t.o_custkey
                       AND c.c_acctbal > 9000.0)
                   THEN t.o_totalprice + 1.0 ELSE t.o_totalprice END
                   AS o_totalprice
          FROM typed t
          WHERE NOT EXISTS (
            SELECT 1 FROM cust c
            WHERE c.c_custkey = t.o_custkey AND c.c_acctbal < 0)
        )
        SELECT count(*) AS n,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
            AS revenue,
          TRUE AS delete_dv, TRUE AS update_commit
        FROM kept""")),

    // ---- Streaming CDF through the catalog name (round 18) ------------
    // `spark.readStream.option("readChangeFeed","true").table(...)` —
    // the Delta CDF contract on the spliced change-feed source: ALL
    // row kinds stream (a DV delete's rows, an update as delete(old)+
    // insert(new) under one version) with `_change_type` /
    // `_commit_version` appended, same snapshot-version offsets. The
    // run drains a publish + DV-delete + keyed update, then a SECOND
    // drain from the same checkpoint picks up exactly one more
    // commit — the exactly-once witness rides the hash (n == distinct)
    // and DuckDB reconstructs the full change log relationally.
    Q("s49_stream_cdf",
      (s, dir) => {
        import s.implicits._
        val c = t(s, dir, "customer")
          .select($"c_custkey".cast("long").as("c_custkey"), $"c_acctbal")
        val root = graft.sources.Scratch.dir(s, "cdfq")
        graft.sources.Scratch.withGraftCatalog(s, root) {
        val wh = new graft.sources.Warehouse(s, s"$root/wh")
        wh.atomicPublish("cust_cdf", c.repartition(2))               // v1
        wh.setSnapshotRetention("cust_cdf", 16)
        wh.deleteRows("cust_cdf", $"c_custkey" % 10 === 0)           // v2
        wh.updateRows("cust_cdf", $"c_custkey" % 7 === 0,
          Map("c_acctbal" -> ($"c_acctbal" + 1.0)))                  // v3
        val out = graft.sources.Scratch.dir(s, "cdfqout")
        val chk = graft.sources.Scratch.dir(s, "cdfqchk")
        def drain(): Unit =
          graft.streaming.StreamTune.scoped(s,
            graft.streaming.StreamTune.statePartitions(
              s, wh.dataBytes("cust_cdf"))) {
          val q = s.readStream
            .option("startingVersion", "1").option("readChangeFeed", "true")
            .table("graft.wh.cust_cdf")
            .writeStream.format("parquet")
            .option("path", out).option("checkpointLocation", chk)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
        }
        drain() // v1 inserts + v2 deletes + v3 delete/insert pairs
        wh.append("cust_cdf", c.filter($"c_custkey" <= 100)
          .select(($"c_custkey" + 2000000L).as("c_custkey"), $"c_acctbal")
          .repartition(1))                                           // v4
        drain() // checkpoint resume: exactly v4's inserts
        val served = Tables.readOne(s, out)
        served.agg(count(lit(1)).as("n"),
            count(when($"_change_type" === "insert", 1)).as("n_ins"),
            dsum($"c_acctbal").as("bal"),
            countDistinct($"c_custkey", $"_change_type",
              $"_commit_version").as("uniq"))
          .select($"n", $"n_ins", $"bal", ($"n" === $"uniq").as("exactly_once"))
        }
      },
      Some("""WITH c AS (
          SELECT CAST(c_custkey AS BIGINT) AS k,
                 CAST(c_acctbal AS DOUBLE) AS b
          FROM customer
        ), feed AS (
          SELECT k, b, 'insert' AS ct FROM c
          UNION ALL SELECT k, b, 'delete' FROM c WHERE k % 10 = 0
          UNION ALL SELECT k, b, 'delete' FROM c
            WHERE k % 7 = 0 AND k % 10 <> 0
          UNION ALL SELECT k, b + 1.0, 'insert' FROM c
            WHERE k % 7 = 0 AND k % 10 <> 0
          UNION ALL SELECT k + 2000000, b, 'insert' FROM c WHERE k <= 100
        )
        SELECT count(*) AS n,
          count(CASE WHEN ct = 'insert' THEN 1 END) AS n_ins,
          CAST(SUM(CAST(b AS DECIMAL(18,2))) AS DOUBLE) AS bal,
          TRUE AS exactly_once
        FROM feed""")),

    // ---- Streaming SINK into the warehouse (round 18) -----------------
    // The write-side twin of s44: `writeStream.format("graft-table")`
    // lands each micro-batch as one atomic manifest commit tagged with
    // (txnAppId, epoch) in the manifest HEADER — the Delta txn
    // protocol — so a crash-replayed epoch is SKIPPED, not duplicated.
    // The query drives a file-source stream through two AvailableNow
    // drains (create, then checkpoint-resumed delta append), then
    // REPLAYS an already-committed epoch through a direct sink handle
    // with poison rows; the final hash (count + balance sum + the
    // n==distinct witness) proves the replay landed nothing. DuckDB
    // replays the two legitimate batches relationally.
    Q("s50_stream_sink",
      (s, dir) => {
        import s.implicits._
        val c = t(s, dir, "customer")
          .select($"c_custkey".cast("long").as("c_custkey"), $"c_acctbal")
        val root = graft.sources.Scratch.dir(s, "snkq")
        val wh = new graft.sources.Warehouse(s, s"$root/wh")
        val src = graft.sources.Scratch.dir(s, "snkqsrc")
        val chk = graft.sources.Scratch.dir(s, "snkqchk")
        def drain(): Unit = {
          val q = s.readStream
            .schema("c_custkey BIGINT, c_acctbal DOUBLE").parquet(src)
            .writeStream.format("graft-table")
            .option("root", s"$root/wh").option("table", "cust_sink")
            .option("checkpointLocation", chk)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
        }
        c.filter($"c_custkey" % 3 === 0)
          .coalesce(1).write.mode("append").parquet(src)
        drain()                                 // epoch 0: creates the table
        c.filter($"c_custkey" % 3 === 1)
          .coalesce(1).write.mode("append").parquet(src)
        drain()                                 // epoch 1: delta append only
        // crash replay of epoch 1 (same appId = the checkpoint path):
        // poison rows that would shift every aggregate if they landed
        val sink = new graft.streaming.GraftTableSink(s.sqlContext,
          Map("root" -> s"$root/wh", "table" -> "cust_sink",
            "txnAppId" -> chk), Nil,
          org.apache.spark.sql.streaming.OutputMode.Append())
        sink.addBatch(1, c.limit(500)
          .select(($"c_custkey" - 9000000L).as("c_custkey"), $"c_acctbal"))
        wh.read("cust_sink")
          .agg(count(lit(1)).as("n"), dsum($"c_acctbal").as("bal"),
            countDistinct($"c_custkey").as("uniq"))
          .select($"n", $"bal", ($"n" === $"uniq").as("exactly_once"))
      },
      Some("""SELECT count(*) AS n,
          CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal,
          TRUE AS exactly_once
        FROM customer
        WHERE CAST(c_custkey AS BIGINT) % 3 IN (0, 1)""")),

    // ---- CDC replication: change feed → cdc sink (round 18) -----------
    // s49's reader and s50's writer composed into the full pipeline:
    // a mutating upstream table (publish, DV delete, update pair,
    // append) streams its change feed (readChangeFeed shape, all row
    // kinds) into a REPLICA via the sink's `cdc` mode — each
    // micro-batch collapses to last-change-per-key and lands as ONE
    // atomic mergeRows commit (matched delete → DELETE, matched insert
    // → UPDATE, unmatched insert → INSERT). Exactly-once end to end:
    // source offsets are snapshot versions in the checkpoint, the
    // apply is epoch-tagged in the replica's manifest header. The hash
    // pins replica == upstream final state, which DuckDB replays
    // relationally.
    Q("s51_cdc_replicate",
      (s, dir) => {
        import s.implicits._
        val c = t(s, dir, "customer")
          .select($"c_custkey".cast("long").as("c_custkey"), $"c_acctbal")
        val root = graft.sources.Scratch.dir(s, "repq")
        val wh = new graft.sources.Warehouse(s, s"$root/wh")
        wh.atomicPublish("cust_src", c.repartition(2))               // v1
        wh.setSnapshotRetention("cust_src", 16)
        wh.deleteRows("cust_src", $"c_custkey" % 10 === 0)           // v2
        wh.updateRows("cust_src", $"c_custkey" % 7 === 0,
          Map("c_acctbal" -> ($"c_acctbal" + 1.0)))                  // v3
        val chk = graft.sources.Scratch.dir(s, "repqchk")
        def drain(): Unit =
          graft.streaming.StreamTune.scoped(s,
            graft.streaming.StreamTune.statePartitions(
              s, wh.dataBytes("cust_src"))) {
          val q = s.readStream.format("graft-changes")
            .option("root", s"$root/wh").option("table", "cust_src")
            .option("startingVersion", "1").load()
            .writeStream.format("graft-table")
            .option("root", s"$root/wh").option("table", "cust_rep")
            .option("mode", "cdc").option("keys", "c_custkey")
            .option("checkpointLocation", chk)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
        }
        drain() // batch 0 spans v1..v3: bootstrap from net inserts
        wh.append("cust_src", c.filter($"c_custkey" <= 100)
          .select(($"c_custkey" + 2000000L).as("c_custkey"), $"c_acctbal")
          .repartition(1))                                           // v4
        wh.deleteRows("cust_src", $"c_custkey" % 13 === 0)           // v5
        drain() // batch 1: one merge commit applying v4+v5
        val rep = wh.read("cust_rep")
        val src = wh.read("cust_src")
          .select($"c_custkey".as("s_k"), $"c_acctbal".as("s_b"))
        // hash surface: replica aggregate + a zero drift witness vs the
        // upstream (full outer anti count — 0 iff replica == source)
        val drift = rep.join(src,
            $"c_custkey" === $"s_k" && $"c_acctbal" <=> $"s_b", "full_outer")
          .where($"c_custkey".isNull || $"s_k".isNull).count()
        rep.agg(count(lit(1)).as("n"), dsum($"c_acctbal").as("bal"))
          .select($"n", $"bal", lit(drift == 0L).as("in_sync"))
      },
      Some("""WITH c AS (
          SELECT CAST(c_custkey AS BIGINT) AS k,
                 CAST(c_acctbal AS DOUBLE) AS b
          FROM customer
        ), after_upd AS (
          SELECT k, CASE WHEN k % 7 = 0 THEN b + 1.0 ELSE b END AS b
          FROM c WHERE k % 10 <> 0
        ), with_app AS (
          SELECT k, b FROM after_upd
          UNION ALL SELECT k + 2000000, b FROM c WHERE k <= 100
        ), final AS (
          SELECT k, b FROM with_app WHERE k % 13 <> 0
        )
        SELECT count(*) AS n,
          CAST(SUM(CAST(b AS DECIMAL(18,2))) AS DOUBLE) AS bal,
          TRUE AS in_sync
        FROM final""")),

    // ---- SQL views on the catalog (round 18) ---------------------------
    // Spark 4.1 ships the ViewCatalog API with no OSS analyzer/DDL
    // wiring; graft brings its own (parser rewrite for the DDL, a
    // marker-table + post-hoc expansion for reads — see
    // plans/CatalogViews.scala). The query stores a filtered view,
    // stacks an aliased view ON the view (nested expansion), and
    // aggregates through the stack; DuckDB replays the composed
    // predicate relationally. The expansion is ordinary analysis, so
    // pushdown/skipping apply to the expanded plan — the explain gate
    // sees one composed scan, not a materialization.
    Q("s53_catalog_views",
      (s, dir) => {
        import s.implicits._
        val c = t(s, dir, "customer")
          .select($"c_custkey".cast("long").as("c_custkey"), $"c_acctbal")
        val root = graft.sources.Scratch.dir(s, "vwq")
        graft.sources.Scratch.withGraftCatalog(s, root) {
        val wh = new graft.sources.Warehouse(s, s"$root/wh")
        wh.atomicPublish("cust_v", c.repartition(2))
        s.sql("CREATE VIEW graft.wh.rich AS SELECT c_custkey, c_acctbal " +
          "FROM graft.wh.cust_v WHERE c_acctbal > 1000.0")
        s.sql("CREATE VIEW graft.wh.rich_even (k, bal) AS " +
          "SELECT c_custkey, c_acctbal FROM graft.wh.rich " +
          "WHERE c_custkey % 2 = 0")
        s.sql("SELECT count(*) AS n, " +
          "CAST(SUM(CAST(bal AS DECIMAL(18,2))) AS DOUBLE) AS bal, " +
          "count(DISTINCT k) AS uniq FROM graft.wh.rich_even")
        }
      },
      Some("""SELECT count(*) AS n,
          CAST(SUM(CAST(CAST(c_acctbal AS DOUBLE) AS DECIMAL(18,2)))
            AS DOUBLE) AS bal,
          count(DISTINCT CAST(c_custkey AS BIGINT)) AS uniq
        FROM customer
        WHERE CAST(c_acctbal AS DOUBLE) > 1000.0
          AND CAST(c_custkey AS BIGINT) % 2 = 0""")),

    // ---- CHECK constraints (round 18) ----------------------------------
    // The Delta CHECK-constraint surface: ALTER TABLE ADD CONSTRAINT
    // validates every EXISTING row (one scan, loud refusal with
    // examples), then every write path — INSERT, UPDATE, MERGE, the
    // Scala API, the streaming sink — enforces per-row INSIDE its own
    // write pass (a CheckInvariant filter planned into the job: no
    // second scan), failing before the version commits. The query
    // declares a constraint, lands a valid batch, then proves three
    // refusals (violating INSERT, violating UPDATE, contradicted ADD)
    // left the table byte-identical: the final hash pins content ==
    // the valid batch alone, plus the three refusal witnesses.
    Q("s52_check_constraints",
      (s, dir) => {
        import s.implicits._
        val o = t(s, dir, "orders")
          .select($"o_orderkey".cast("long").as("o_orderkey"),
            $"o_totalprice".cast("double").as("o_totalprice"))
        val root = graft.sources.Scratch.dir(s, "ckq")
        graft.sources.Scratch.withGraftCatalog(s, root) {
        s.sql("CREATE TABLE graft.wh.ck (o_orderkey BIGINT, o_totalprice DOUBLE)")
        s.sql("ALTER TABLE graft.wh.ck ADD CONSTRAINT price_pos " +
          "CHECK (o_totalprice > 0)")
        o.createOrReplaceTempView("s52_src")
        s.sql("INSERT INTO graft.wh.ck SELECT * FROM s52_src " +
          "WHERE o_orderkey % 2 = 0")
        def refused(sql: String): Boolean =
          try { s.sql(sql); false } catch { case _: Exception => true }
        val rIns = refused("INSERT INTO graft.wh.ck " +
          "SELECT o_orderkey, -o_totalprice FROM s52_src WHERE o_orderkey % 2 = 1")
        val rUpd = refused(
          "UPDATE graft.wh.ck SET o_totalprice = -1.0 WHERE o_orderkey % 1000 = 0")
        val rAdd = refused("ALTER TABLE graft.wh.ck ADD CONSTRAINT price_big " +
          "CHECK (o_totalprice > 1000000)")
        s.table("graft.wh.ck")
          .agg(count(lit(1)).as("n"), dsum($"o_totalprice").as("total"))
          .select($"n", $"total", lit(rIns && rUpd && rAdd).as("refusals_loud"))
        }
      },
      Some("""SELECT count(*) AS n,
          CAST(SUM(CAST(CAST(o_totalprice AS DOUBLE) AS DECIMAL(18,2)))
            AS DOUBLE) AS total,
          TRUE AS refusals_loud
        FROM orders
        WHERE CAST(o_orderkey AS BIGINT) % 2 = 0""")),

    // ---- SQL MERGE, general form (round 18) ---------------------------
    // The full Delta-grade MERGE surface in one statement: conditional
    // matched actions (first-match-wins), partial-assignment UPDATE,
    // conditional INSERT with an explicit column list, and WHEN NOT
    // MATCHED BY SOURCE — executed by Warehouse.mergeRows as ONE atomic
    // merge-on-read commit (rewritten/inserted rows in a new version
    // dir + old positions' DV entries), cost ∝ touched rows, never a
    // table rewrite. Witnesses: exactly one commit of kind `merge`;
    // matched rows where NO clause applies stay untouched (pinned by
    // the hash). DuckDB replays the clause algebra relationally.
    Q("s47_sql_merge_full",
      (s, dir) => {
        import s.implicits._
        val o = t(s, dir, "orders")
          .select($"o_orderkey".cast("long").as("o_orderkey"),
            $"o_totalprice".cast("double").as("o_totalprice"),
            $"o_orderstatus")
        val root = graft.sources.Scratch.dir(s, "mrgq")
        graft.sources.Scratch.withGraftCatalog(s, root) {
        val wh = new graft.sources.Warehouse(s, s"$root/wh")
        wh.atomicPublish("ord_mrg", o.repartition(4))
        o.filter($"o_orderkey" <= 2000)
          .select($"o_orderkey",
            (($"o_orderkey" % 7).cast("double") + 1.0).as("adj"))
          .unionByName(o.filter($"o_orderkey" <= 500)
            .select(($"o_orderkey" + 100000000L).as("o_orderkey"),
              (($"o_orderkey" % 7).cast("double") + 1.0).as("adj")))
          .createOrReplaceTempView("s47_src")
        val before = wh.history("ord_mrg").size
        s.sql("""MERGE INTO graft.wh.ord_mrg t USING s47_src s
          ON t.o_orderkey = s.o_orderkey
          WHEN MATCHED AND t.o_orderstatus = 'F'
            THEN UPDATE SET o_totalprice = t.o_totalprice + s.adj
          WHEN MATCHED AND s.adj > 4.0 THEN DELETE
          WHEN NOT MATCHED AND s.o_orderkey % 2 = 0
            THEN INSERT (o_orderkey, o_totalprice, o_orderstatus)
            VALUES (s.o_orderkey, s.adj, 'N')
          WHEN NOT MATCHED BY SOURCE AND t.o_orderstatus = 'P'
            THEN UPDATE SET o_totalprice = t.o_totalprice * 2.0""")
        val h = wh.history("ord_mrg").last
        val oneMerge = wh.history("ord_mrg").size == before + 1 &&
          wh.commitKind("ord_mrg", h._1).contains("merge")
        s.sql("""SELECT count(*) AS n,
            CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
              AS revenue,
            count(CASE WHEN o_orderstatus = 'N' THEN 1 END) AS inserted
          FROM graft.wh.ord_mrg""")
          .select($"n", $"revenue", $"inserted",
            lit(oneMerge).as("one_merge_commit"))
        }
      },
      Some("""WITH typed AS (
          SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
                 CAST(o_totalprice AS DOUBLE) AS o_totalprice,
                 o_orderstatus
          FROM orders
        ), src AS (
          SELECT o_orderkey, CAST(o_orderkey % 7 AS DOUBLE) + 1.0 AS adj
          FROM typed WHERE o_orderkey <= 2000
          UNION ALL
          SELECT o_orderkey + 100000000,
                 CAST(o_orderkey % 7 AS DOUBLE) + 1.0
          FROM typed WHERE o_orderkey <= 500
        ), merged AS (
          SELECT t.o_orderkey,
                 CASE WHEN t.o_orderstatus = 'F'
                      THEN t.o_totalprice + s.adj
                      ELSE t.o_totalprice END AS o_totalprice,
                 t.o_orderstatus,
                 CASE WHEN t.o_orderstatus <> 'F' AND s.adj > 4.0
                      THEN 1 ELSE 0 END AS deleted
          FROM typed t JOIN src s ON t.o_orderkey = s.o_orderkey
          UNION ALL
          SELECT t.o_orderkey,
                 CASE WHEN t.o_orderstatus = 'P'
                      THEN t.o_totalprice * 2.0
                      ELSE t.o_totalprice END,
                 t.o_orderstatus, 0
          FROM typed t
          WHERE t.o_orderkey NOT IN (SELECT o_orderkey FROM src)
          UNION ALL
          SELECT s.o_orderkey, s.adj, 'N', 0
          FROM src s
          WHERE s.o_orderkey NOT IN (SELECT o_orderkey FROM typed)
            AND s.o_orderkey % 2 = 0
        )
        SELECT count(*) AS n,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
            AS revenue,
          count(CASE WHEN o_orderstatus = 'N' THEN 1 END) AS inserted,
          TRUE AS one_merge_commit
        FROM merged WHERE deleted = 0""")),

    Q("s25_deletion_vectors",
      (s, dir) => {
        import s.implicits._
        val o = t(s, dir, "orders")
          .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
        val wh = graft.sources.Scratch.warehouse(s, "dvw")
        wh.atomicPublish("ord_dv", o.repartition(8, $"o_orderkey"))
        def fileList = wh.history("ord_dv").lastOption.map(_._2).getOrElse(-1L)
        val filesBefore = fileList
        wh.deleteRows("ord_dv", $"o_orderkey" % 10 === 0)
        wh.deleteRows("ord_dv", $"o_orderstatus" === "P")
        val untouched = fileList == filesBefore
        wh.read("ord_dv")
          .agg(count(lit(1)).as("n"), dsum($"o_totalprice").as("revenue"))
          .select($"n", $"revenue", lit(untouched).as("untouched"))
      },
      Some("""SELECT count(*) AS n,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
            AS revenue,
          TRUE AS untouched
        FROM orders
        WHERE o_orderkey % 10 <> 0 AND o_orderstatus <> 'P'""")),

    // ---- Map-typed columns: build, transform, filter, explode --------
    // The MapType surface (SURVEY §1.2 reserves it for extensions):
    // per-user event profiles as REAL map columns —
    // map_from_entries over a collected (type, count) struct list,
    // transform_values scaling in place, map_filter dropping sparse
    // entries — then exploded back to rows for the hash surface (the
    // oracle has no map type; a broken map op surfaces as wrong
    // rows). The collect_list buffer is bounded by the event-type
    // alphabet per user, and every map op is row-local — the only
    // shuffle is the initial (user, type) aggregate.
    Q("p18_map_column_ops",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "events")
          .groupBy($"user_id", $"event_type")
          .agg(count(lit(1)).as("n"))
          .groupBy($"user_id")
          .agg(map_from_entries(sort_array(
            collect_list(struct($"event_type", $"n")))).as("profile"))
          .select($"user_id",
            explode(map_filter(
              transform_values($"profile", (_, v) => v * 10),
              (_, v) => v >= 100)).as(Seq("event_type", "n10")))
          .orderBy($"user_id", $"event_type")
      },
      Some("""SELECT user_id, event_type, count(*) * 10 AS n10
        FROM events
        GROUP BY user_id, event_type
        HAVING count(*) * 10 >= 100
        ORDER BY user_id, event_type""")),

    // ---- Dynamic pivot: keys discovered at runtime --------------------
    // A4's bounded pivot requires the column list up front; the
    // dynamic form every BI tool needs discovers the pivot keys with
    // ONE extra metadata-sized job (distinct event types, sorted for
    // a deterministic column order) and passes them to the same
    // Catalyst pivot — never the implicit-pivot path that buffers
    // unbounded key sets per group. Cost: one tiny extra jobs' worth
    // of latency, zero extra passes over the fact at scale. The
    // oracle spells the discovered columns as static CASE sums.
    Q("a8_dynamic_pivot",
      (s, dir) => {
        import s.implicits._
        val ev = Tables.load(s, dir, "events")
          .select($"user_id", $"event_type", $"value")
        val keys = ev.select($"event_type").distinct()
          .orderBy($"event_type").as[String].collect().toSeq
        ev.filter($"user_id" % 10 === 0)
          .groupBy($"user_id")
          .pivot("event_type", keys)
          .agg(dsum($"value"))
          .orderBy($"user_id")
      },
      Some("""SELECT user_id,
          CAST(SUM(CASE WHEN event_type = 'click'
            THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS click,
          CAST(SUM(CASE WHEN event_type = 'error'
            THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS "error",
          CAST(SUM(CASE WHEN event_type = 'purchase'
            THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS purchase,
          CAST(SUM(CASE WHEN event_type = 'signup'
            THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS signup,
          CAST(SUM(CASE WHEN event_type = 'view'
            THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS "view"
        FROM events WHERE user_id % 10 = 0
        GROUP BY user_id ORDER BY user_id""")),

    // ---- Ratio-to-report: share-of-total windows ----------------------
    // The percent-of-parent calculation (status share within its
    // year, year share of the grand total): aggregate once, then two
    // unpartitioned-window sums over the TINY aggregate — the fact is
    // never re-scanned and the window input is |years × statuses|.
    // Shares are single divisions of exact decimal sums cast to
    // double, identical on both engines.
    Q("m55_ratio_to_report",
      (s, dir) => {
        import s.implicits._
        val agg = Tables.load(s, dir, "orders")
          .groupBy(year($"o_orderdate").cast("long").as("yr"),
            $"o_orderstatus".as("status"))
          .agg(sum(dec2($"o_totalprice")).as("rev"))
        val wYr = Window.partitionBy($"yr")
        val wAll = Window.partitionBy()
        agg.select($"yr", $"status", $"rev".cast("double").as("revenue"),
            ($"rev".cast("double") / sum($"rev").over(wYr).cast("double"))
              .as("share_of_year"),
            (sum($"rev").over(wYr).cast("double") /
              sum($"rev").over(wAll).cast("double")).as("year_share"))
          .orderBy($"yr", $"status")
      },
      Some("""WITH a AS (
          SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
            o_orderstatus AS status,
            SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
          FROM orders GROUP BY 1, 2)
        SELECT yr, status, CAST(rev AS DOUBLE) AS revenue,
          CAST(rev AS DOUBLE) /
            CAST(SUM(rev) OVER (PARTITION BY yr) AS DOUBLE)
            AS share_of_year,
          CAST(SUM(rev) OVER (PARTITION BY yr) AS DOUBLE) /
            CAST(SUM(rev) OVER () AS DOUBLE) AS year_share
        FROM a ORDER BY yr, status""")),

    // ---- GROUPING SETS with grouping-id disambiguation ----------------
    // The multi-granularity aggregate between m1's rollup and m8's
    // cube: an explicit set list — (status, priority), (priority),
    // () — computed in ONE pass (Catalyst expands the sets into a
    // single Expand + hash aggregate, not three scans). The grouping
    // bitmask is spelled as grouping(a)*2 + grouping(b) — portable
    // across engines — and grouped-out keys COALESCE to 'ALL' so the
    // result never exposes engine-specific NULL ordering to the sort.
    Q("a7_grouping_sets",
      (s, dir) => {
        t(s, dir, "orders").createOrReplaceTempView("gs_orders")
        s.sql("""SELECT
            grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS g,
            coalesce(o_orderstatus, 'ALL') AS status,
            coalesce(o_orderpriority, 'ALL') AS priority,
            count(*) AS n,
            CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
              AS revenue
          FROM gs_orders
          GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
            (o_orderpriority), ())
          ORDER BY g, status, priority""")
      },
      Some("""SELECT
          grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS g,
          coalesce(o_orderstatus, 'ALL') AS status,
          coalesce(o_orderpriority, 'ALL') AS priority,
          count(*) AS n,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
            AS revenue
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
          (o_orderpriority), ())
        ORDER BY g, status, priority""")),

    // ---- Window distribution functions: percent_rank / cume_dist /
    // ntile over a deterministic total order (acctbal, custkey) — the
    // remaining SURVEY §2.5 frame-function family in one row. All
    // three are single-pass rank arithmetic inside the per-segment
    // sort (one shuffle on the partition key); percent_rank's
    // (k−1)/(n−1) is one IEEE division on integers, identical on both
    // engines, so it sits on the hash surface unrounded.
    Q("w5_dist_ntile",
      (s, dir) => {
        import s.implicits._
        val w = Window.partitionBy($"c_mktsegment")
          .orderBy($"c_acctbal", $"c_custkey")
        t(s, dir, "customer")
          .filter($"c_custkey" % 10 === 0)
          .select($"c_custkey", $"c_mktsegment",
            percent_rank().over(w).as("pr"),
            cume_dist().over(w).as("cd"),
            ntile(4).over(w).as("quartile"))
          .orderBy($"c_custkey")
      },
      Some("""SELECT c_custkey, c_mktsegment,
          percent_rank() OVER w AS pr,
          cume_dist() OVER w AS cd,
          ntile(4) OVER w AS quartile
        FROM customer WHERE c_custkey % 10 = 0
        WINDOW w AS (PARTITION BY c_mktsegment
          ORDER BY c_acctbal, c_custkey)
        ORDER BY c_custkey""")),

    // ---- Incremental view maintenance from the CDC changelog ---------
    // The matview-refresh pattern that makes a 100 TB fact affordable:
    // a revenue-by-status materialized view is built once from v1,
    // then — after the base table republishes as v2 — refreshed from
    // `diffVersions`' added/removed rows ONLY, never by rescanning the
    // base. Increments are associative because the view stores EXACT
    // DECIMAL sums (a double-sum matview cannot be incrementally
    // maintained bit-stably); removed rows enter with negated weight,
    // the delta partial-aggregates to a handful of (status, dn, drev)
    // rows, and a full-outer merge + n>0 filter handles groups that
    // appear or vanish. The oracle computes the v2 aggregate directly
    // from the base data, so the hash gate proves refreshed-view ==
    // full-recompute. Maintenance cost ∝ |changelog|, not table size.
    Q("s20_ivm_delta",
      (s, dir) => {
        import s.implicits._
        val o = t(s, dir, "orders")
          .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
        val wh = graft.sources.Scratch.warehouse(s, "ivm")
        wh.atomicPublish("ord_ivm", o.filter($"o_orderkey" % 5 =!= 0))
        wh.atomicPublish("mv_rev",
          wh.read("ord_ivm").groupBy($"o_orderstatus")
            .agg(count(lit(1)).as("n"), sum(dec2($"o_totalprice")).as("rev")))
        wh.atomicPublish("ord_ivm", o.filter($"o_orderkey" % 11 =!= 0))
        val (added, removed) = wh.diffVersions("ord_ivm", 1, 2)
        val delta = added.select($"o_orderstatus", lit(1L).as("w"),
            dec2($"o_totalprice").as("rv"))
          .unionByName(removed.select($"o_orderstatus", lit(-1L).as("w"),
            (-dec2($"o_totalprice")).as("rv")))
          .groupBy($"o_orderstatus")
          .agg(sum($"w").as("dn"), sum($"rv").as("drev"))
        wh.read("mv_rev").join(delta, Seq("o_orderstatus"), "full_outer")
          .select($"o_orderstatus",
            (coalesce($"n", lit(0L)) + coalesce($"dn", lit(0L))).as("n"),
            (coalesce($"rev", lit(0).cast("decimal(28,2)")) +
              coalesce($"drev", lit(0).cast("decimal(28,2)"))).as("rev"))
          .filter($"n" > 0)
          .select($"o_orderstatus", $"n",
            $"rev".cast("double").as("revenue"))
          .orderBy($"o_orderstatus")
      },
      Some("""SELECT o_orderstatus, count(*) AS n,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
            AS revenue
        FROM orders WHERE o_orderkey % 11 <> 0
        GROUP BY o_orderstatus ORDER BY o_orderstatus""")),

    // ---- TPC-H Q21 shape: EXISTS + NOT EXISTS, decorrelated to ONE
    // per-order aggregate. The classic "sole failing supplier" query
    // (adapted to this schema's columns: returnflag R stands in for
    // receipt>commit): an R line qualifies iff its order involves a
    // second supplier (the EXISTS) and NO OTHER supplier also has an
    // R line (the NOT EXISTS). Instead of decorrelating each probe
    // into its own semi/anti self-join (two extra full lineitem
    // shuffles), both collapse into a single groupBy(l_orderkey)
    // computing (distinct suppliers, distinct R-suppliers): qualify
    // ⟺ n_supp ≥ 2 ∧ n_rsupp = 1. At 100 TB that is one shuffle of
    // (orderkey, 2 ints) instead of three passes over the fact —
    // the supplier⋈nation dim rides broadcast, orders prunes on
    // status before its join. The oracle keeps the textbook
    // correlated-EXISTS spelling, so the rewrite itself is under the
    // hash gate.
    Q("q21_semi_anti",
      (s, dir) => {
        import s.implicits._
        val li = t(s, dir, "lineitem")
          .select($"l_orderkey", $"l_suppkey", $"l_returnflag")
        val ordStats = li.groupBy($"l_orderkey").agg(
          countDistinct($"l_suppkey").as("n_supp"),
          countDistinct(when($"l_returnflag" === "R", $"l_suppkey"))
            .as("n_rsupp"))
        val sup = t(s, dir, "supplier")
          .join(broadcast(t(s, dir, "nation")
            .filter($"n_name" === "NATION_3")),
            $"s_nationkey" === $"n_nationkey")
          .select($"s_suppkey", $"s_name")
        li.filter($"l_returnflag" === "R")
          .join(ordStats.filter($"n_supp" >= 2 && $"n_rsupp" === 1),
            "l_orderkey")
          .join(t(s, dir, "orders").filter($"o_orderstatus" === "F")
            .select($"o_orderkey"), $"l_orderkey" === $"o_orderkey")
          .join(broadcast(sup), $"l_suppkey" === $"s_suppkey")
          .groupBy($"s_name").agg(count(lit(1)).as("numwait"))
          .orderBy($"numwait".desc, $"s_name")
      },
      Some("""SELECT s_name, count(*) AS numwait
        FROM supplier s
        JOIN nation n ON s.s_nationkey = n.n_nationkey
          AND n.n_name = 'NATION_3'
        JOIN lineitem l1 ON l1.l_suppkey = s.s_suppkey
          AND l1.l_returnflag = 'R'
        JOIN orders o ON o.o_orderkey = l1.l_orderkey
          AND o.o_orderstatus = 'F'
        WHERE EXISTS (SELECT 1 FROM lineitem l2
            WHERE l2.l_orderkey = l1.l_orderkey
              AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM lineitem l3
            WHERE l3.l_orderkey = l1.l_orderkey
              AND l3.l_suppkey <> l1.l_suppkey
              AND l3.l_returnflag = 'R')
        GROUP BY s_name ORDER BY numwait DESC, s_name""")),

    // ---- Interval-overlap join via bucket blocking -------------------
    // The interval join Spark lacks as a physical operator, expressed
    // so it NEVER plans a theta join: per-user daily activity spans
    // [lo,hi] must be matched to the global "heavy hours" (hour
    // buckets with > 20 events). A direct `a.lo <= b.hi AND b.lo <=
    // a.hi` join is a nested-loop at any scale; instead each span
    // EXPLODES into the hour buckets it covers (sequence(lo DIV H,
    // hi DIV H) — bounded by 24/day) and equi-joins on the bucket,
    // with the tiny heavy-hour dim broadcast. Expansion factor =
    // span/bucket ratio, a constant the operator controls — the 100
    // TB plan is a map-side explode into a broadcast join, no
    // shuffle at all. The oracle states the textbook overlap
    // predicate directly, so the blocking rewrite is hash-checked
    // against the declarative semantics.
    Q("j11_interval_overlap",
      (s, dir) => {
        import s.implicits._
        val H = 3600000000L
        val D = 86400000000L
        val ev = Tables.load(s, dir, "events")
          .select($"user_id", expr("unix_micros(ts)").as("us"))
        val spans = ev
          .groupBy($"user_id", expr(s"us DIV $D").as("day"))
          .agg(min($"us").as("lo"), max($"us").as("hi"))
        val heavy = ev.groupBy(expr(s"us DIV $H").as("hr"))
          .agg(count(lit(1)).as("n_events"))
          .filter($"n_events" > 20)
        spans
          .select($"user_id", $"day",
            explode(sequence(expr(s"lo DIV $H"), expr(s"hi DIV $H")))
              .as("hr"))
          .join(broadcast(heavy), "hr")
          .select($"user_id", $"day", $"hr", $"n_events")
          .orderBy($"user_id", $"day", $"hr")
      },
      Some("""WITH spans AS (
          SELECT user_id, epoch_us(ts) // 86400000000 AS day,
            min(epoch_us(ts)) AS lo, max(epoch_us(ts)) AS hi
          FROM events GROUP BY 1, 2),
        heavy AS (
          SELECT epoch_us(ts) // 3600000000 AS hr, count(*) AS n_events
          FROM events GROUP BY 1 HAVING count(*) > 20)
        SELECT user_id, day, hr, n_events
        FROM spans JOIN heavy
          ON heavy.hr * 3600000000 <= spans.hi
          AND (heavy.hr + 1) * 3600000000 > spans.lo
        ORDER BY user_id, day, hr""")),

    // ---- RANGE-frame window: rolling 24 h per-user sum ---------------
    // The time-based frame spec (SURVEY §2.5 lists frames as a
    // built-in extension point): every event sees the sum/count of
    // its user's events in the trailing 24 h, as a RANGE frame over
    // epoch-micros — peers at the same timestamp enter the frame
    // together on both engines, so ties are safe by construction.
    // One shuffle on user_id; the frame scan is the streaming
    // sliding-sum inside each sorted partition (no per-row rescan).
    // Sums ride the dec2 discipline so the rolling dollars are
    // order-exact.
    Q("w4_rolling_range",
      (s, dir) => {
        import s.implicits._
        val w = Window.partitionBy($"user_id").orderBy($"us")
          .rangeBetween(-86399999999L, Window.currentRow)
        Tables.load(s, dir, "events")
          .select($"event_id", $"user_id",
            expr("unix_micros(ts)").as("us"), $"value")
          .select($"event_id", $"user_id",
            sum(dec2($"value")).over(w).cast("double").as("roll_sum"),
            count(lit(1)).over(w).as("n_24h"))
          .orderBy($"event_id")
      },
      Some("""SELECT event_id, user_id,
          CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE)
            AS roll_sum,
          COUNT(*) OVER w AS n_24h
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
          RANGE BETWEEN 86399999999 PRECEDING AND CURRENT ROW)
        ORDER BY event_id"""))
  )
}
