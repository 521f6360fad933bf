package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.Fns
import graft.serving.SafeSql
import graft.tables.Tables

/** SURVEY §2 operator inventory, exercised over the driver testdata
  * (TESTDATA.md star schema) with a DuckDB oracle per query.
  *
  * Every query follows three hash-parity rules (SURVEY §6 t2 gate):
  *  1. every computed column is aliased identically in Spark and SQL;
  *  2. double aggregation goes through DECIMAL(38,6) (`Fns.exactSum`) so
  *     the result is independent of partition/merge order — exact on both
  *     engines, hence hash-identical;
  *  3. a deterministic total ORDER BY on both sides.
  *
  * Scale notes (the 100 TB design intent, even though tests run tiny):
  *  - dims (region/nation/supplier/part at TPC-H ratios) are broadcast;
  *  - aggregations are plain groupBy → partial+final HashAggregate with
  *    map-side combine, shuffle only on the grouping keys;
  *  - window functions partition on high-cardinality keys (l_orderkey),
  *    never on a constant;
  *  - filters/projections sit directly on the scan so parquet pushdown
  *    and column pruning apply.
  */
object Parity {

  type QFn = (SparkSession, String) => DataFrame

  /** name → (spark fn, duckdb oracle SQL, include in bench headline set) */
  final case class Q(name: String, fn: QFn, oracle: Option[String],
                     headline: Boolean = false)

  // ---------------------------------------------------------------- scans

  /** S6 + pushdown: projection + predicate must reach the parquet scan. */
  private val q01 = Q("q01_s6_scan_pushdown",
    (s, d) => Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1998-06-01").cast(TimestampType))
      .select("l_orderkey", "l_linenumber", "l_quantity")
      .orderBy("l_orderkey", "l_linenumber"),
    Some("""SELECT l_orderkey, l_linenumber, l_quantity
            FROM lineitem WHERE l_shipdate >= TIMESTAMP '1998-06-01'
            ORDER BY l_orderkey, l_linenumber"""))

  /** P2 — try_cast promotion: null on failure, never error. */
  private val q02 = Q("q02_p2_try_cast",
    (s, d) => Tables.customer(s, d)
      .select(
        col("c_custkey"),
        Fns.tryCastInt(col("c_custkey").cast(StringType)).as("ck_int"),
        Fns.tryCastInt(col("c_mktsegment")).as("seg_int"))
      .orderBy("c_custkey"),
    Some("""SELECT c_custkey,
              TRY_CAST(CAST(c_custkey AS VARCHAR) AS INTEGER) AS ck_int,
              TRY_CAST(c_mktsegment AS INTEGER) AS seg_int
            FROM customer ORDER BY c_custkey"""))

  /** P4 — keys-first star-exclude projection shape. */
  private val q03 = Q("q03_p4_keys_first",
    (s, d) => Fns.keysFirst(Tables.part(s, d), Seq("p_partkey", "p_brand"))
      .orderBy("p_partkey"),
    Some("""SELECT p_partkey, p_brand, p_name, p_type, p_size, p_retailprice
            FROM part ORDER BY p_partkey"""))

  /** P8 — COALESCE(NULLIF(x, sentinel), fallback) normalization. */
  private val q04 = Q("q04_p8_null_normalize",
    (s, d) => Tables.customer(s, d)
      .select(
        col("c_custkey"),
        Fns.emptyToFallback(col("c_mktsegment"), col("c_nationkey").cast(StringType)).as("seg"),
        coalesce(nullif(col("c_mktsegment"), lit("BUILDING")),
          col("c_nationkey").cast(StringType)).as("seg2"))
      .orderBy("c_custkey"),
    Some("""SELECT c_custkey,
              COALESCE(NULLIF(c_mktsegment, ''), CAST(c_nationkey AS VARCHAR)) AS seg,
              COALESCE(NULLIF(c_mktsegment, 'BUILDING'), CAST(c_nationkey AS VARCHAR)) AS seg2
            FROM customer ORDER BY c_custkey"""))

  /** P9/F8 — CASE WHEN scalar classification. */
  private val q05 = Q("q05_p9_case_when",
    (s, d) => Tables.orders(s, d)
      .select(
        col("o_orderkey"),
        Fns.boolToInt(col("o_orderstatus") === "F").as("is_f"),
        when(col("o_totalprice") > 100000, "high")
          .when(col("o_totalprice") > 50000, "mid")
          .otherwise("low").as("bucket"))
      .orderBy("o_orderkey"),
    Some("""SELECT o_orderkey,
              CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS is_f,
              CASE WHEN o_totalprice > 100000 THEN 'high'
                   WHEN o_totalprice > 50000 THEN 'mid'
                   ELSE 'low' END AS bucket
            FROM orders ORDER BY o_orderkey"""))

  /** P6/P7 — IN-list + parameterized equality predicates. */
  private val q06 = Q("q06_p6_filter_in",
    (s, d) => Tables.lineitem(s, d)
      .filter(col("l_returnflag").isin("A", "R") && col("l_linenumber") === 1)
      .select("l_orderkey", "l_linenumber", "l_returnflag")
      .orderBy("l_orderkey", "l_linenumber"),
    Some("""SELECT l_orderkey, l_linenumber, l_returnflag
            FROM lineitem
            WHERE l_returnflag IN ('A', 'R') AND l_linenumber = 1
            ORDER BY l_orderkey, l_linenumber"""))

  /** P5 — IS NOT NULL gate feeding an aggregate. */
  private val q07 = Q("q07_p5_notnull_count",
    (s, d) => Tables.lineitem(s, d)
      .filter(col("l_shipdate").isNotNull)
      .agg(count(lit(1)).as("n")),
    Some("SELECT COUNT(*) AS n FROM lineitem WHERE l_shipdate IS NOT NULL"))

  // ----------------------------------------------------------- aggregates

  /** A1/A2/A4/A5 — the TPC-H Q1 shape: multi-key hash aggregate with
    * count/exact-sum/conditional-sum/min/max. Partial aggregation
    * (map-side combine) + AQE handle this at any scale.
    */
  private val q08 = Q("q08_a1_groupby_agg",
    (s, d) => Tables.lineitem(s, d)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        count(lit(1)).as("cnt"),
        Fns.exactSumScaled(col("l_quantity"), 0).as("sum_qty"),
        Fns.exactSumScaled(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("sum_disc_price"),
        min("l_extendedprice").as("min_price"),
        max("l_extendedprice").as("max_price"),
        sum(when(col("l_quantity") > 25, 1).otherwise(0)).as("big_qty_cnt"))
      .orderBy("l_returnflag", "l_linestatus"),
    Some("""SELECT l_returnflag, l_linestatus,
              COUNT(*) AS cnt,
              CAST(SUM(CAST(FLOOR(l_quantity + 0.5) AS BIGINT)) AS DOUBLE) AS sum_qty,
              CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 10000 + 0.5) AS BIGINT)) AS DOUBLE) / 10000 AS sum_disc_price,
              MIN(l_extendedprice) AS min_price,
              MAX(l_extendedprice) AS max_price,
              CAST(SUM(CASE WHEN l_quantity > 25 THEN 1 ELSE 0 END) AS BIGINT) AS big_qty_cnt
            FROM lineitem GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus"""),
    headline = true)

  /** A3 — exact COUNT(DISTINCT), never approx (oracle equality). */
  private val q09 = Q("q09_a3_count_distinct",
    (s, d) => Tables.orders(s, d)
      .groupBy("o_orderpriority")
      .agg(
        count_distinct(col("o_custkey")).as("n_cust"),
        count(lit(1)).as("n"))
      .orderBy("o_orderpriority"),
    Some("""SELECT o_orderpriority,
              COUNT(DISTINCT o_custkey) AS n_cust, COUNT(*) AS n
            FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""))

  /** A7 — AVG, made order-independent via the exact scaled-long sum
    * (acctbal is a fixed scale-2 money column) / count.
    */
  private val q10 = Q("q10_a7_avg",
    (s, d) => Tables.customer(s, d)
      .groupBy("c_nationkey")
      .agg(
        Fns.exactAvgScaled(col("c_acctbal"), 2).as("avg_bal"),
        min("c_acctbal").as("min_bal"),
        max("c_acctbal").as("max_bal"),
        count(lit(1)).as("n"))
      .orderBy("c_nationkey"),
    Some("""SELECT c_nationkey,
              (CAST(SUM(CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100) / COUNT(c_acctbal) AS avg_bal,
              MIN(c_acctbal) AS min_bal, MAX(c_acctbal) AS max_bal, COUNT(*) AS n
            FROM customer GROUP BY c_nationkey ORDER BY c_nationkey"""))

  /** A9 + A13 — exact median (Spark ≥3.4 `median` = interpolated
    * percentile 0.5, matching DuckDB `median` on numeric input;
    * l_quantity is integral so midpoints are exact in both engines)
    * inside the per-group describe shape (count/min/median/max).
    */
  private val q11 = Q("q11_a9_median",
    (s, d) => Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        min("l_quantity").as("min_qty"),
        median(col("l_quantity")).as("med_qty"),
        max("l_quantity").as("max_qty"))
      .orderBy("l_returnflag"),
    Some("""SELECT l_returnflag, COUNT(*) AS n, MIN(l_quantity) AS min_qty,
              MEDIAN(l_quantity) AS med_qty, MAX(l_quantity) AS max_qty
            FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),
    headline = true)

  /** A10 — HAVING post-aggregation filter. */
  private val q12 = Q("q12_a10_having",
    (s, d) => Tables.customer(s, d)
      .groupBy("c_nationkey")
      .agg(
        count_distinct(col("c_mktsegment")).as("n_seg"),
        count(lit(1)).as("n_cust"))
      .filter(col("n_seg") > 3 || col("n_cust") > 70)
      .orderBy("c_nationkey"),
    Some("""SELECT c_nationkey,
              COUNT(DISTINCT c_mktsegment) AS n_seg, COUNT(*) AS n_cust
            FROM customer GROUP BY c_nationkey
            HAVING COUNT(DISTINCT c_mktsegment) > 3 OR COUNT(*) > 70
            ORDER BY c_nationkey"""))

  /** A11 — string_agg with deterministic element order (sorted). */
  private val q13 = Q("q13_a11_string_agg",
    (s, d) => Tables.nation(s, d)
      .groupBy("n_regionkey")
      .agg(array_join(array_sort(collect_list(col("n_name"))), ", ").as("nations"))
      .orderBy("n_regionkey"),
    Some("""SELECT n_regionkey,
              STRING_AGG(n_name, ', ' ORDER BY n_name) AS nations
            FROM nation GROUP BY n_regionkey ORDER BY n_regionkey"""))

  /** A12/F5 — ungrouped scalar aggregate + date formatting. */
  private val q14 = Q("q14_a12_scalar_agg",
    (s, d) => Tables.orders(s, d)
      .agg(
        date_format(min(col("o_orderdate")), "yyyy-MM-dd").as("first_day"),
        date_format(max(col("o_orderdate")), "yyyy-MM-dd").as("last_day"),
        count(lit(1)).as("n")),
    Some("""SELECT STRFTIME(MIN(o_orderdate), '%Y-%m-%d') AS first_day,
              STRFTIME(MAX(o_orderdate), '%Y-%m-%d') AS last_day,
              COUNT(*) AS n
            FROM orders"""))

  // -------------------------------------------------------------- windows

  /** W1 — ROW_NUMBER with explicit NULLS LAST (+ deterministic tiebreak).
    * Partitioned on a high-cardinality key, so the window shuffle
    * distributes evenly at any scale.
    */
  private val q15 = Q("q15_w1_row_number",
    (s, d) => Tables.lineitem(s, d)
      .select(
        col("l_orderkey"), col("l_linenumber"),
        row_number().over(
          Window.partitionBy("l_orderkey")
            .orderBy(col("l_extendedprice").asc_nulls_last, col("l_linenumber")))
          .cast(LongType).as("rn"))
      .orderBy("l_orderkey", "l_linenumber"),
    Some("""SELECT l_orderkey, l_linenumber,
              CAST(ROW_NUMBER() OVER (PARTITION BY l_orderkey
                ORDER BY l_extendedprice ASC NULLS LAST, l_linenumber) AS BIGINT) AS rn
            FROM lineitem ORDER BY l_orderkey, l_linenumber"""),
    headline = true)

  // ---------------------------------------------------------------- joins

  /** J1 — multi-key equi LEFT join of two aggregates over the same base,
    * with COALESCE patching unmatched rows ([DSS]:49-57 shape).
    * Plain `=` key semantics (NULL keys never match) — never `<=>`.
    */
  private val q16 = Q("q16_j1_left_join_agg",
    (s, d) => {
      val o = Tables.orders(s, d)
      val agg = o.groupBy("o_custkey", "o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          Fns.exactSumD(col("o_totalprice")).as("total_price"))
      val urgent = o.filter(col("o_orderpriority") === "1-URGENT")
        .groupBy("o_custkey", "o_orderstatus")
        .agg(count(lit(1)).as("urgent_cnt"))
      agg.join(urgent, Seq("o_custkey", "o_orderstatus"), "left")
        .select(col("o_custkey"), col("o_orderstatus"), col("n_orders"),
          col("total_price"), coalesce(col("urgent_cnt"), lit(0L)).as("urgent_cnt"))
        .orderBy("o_custkey", "o_orderstatus")
    },
    Some("""WITH agg AS (
              SELECT o_custkey, o_orderstatus, COUNT(*) AS n_orders,
                     CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total_price
              FROM orders GROUP BY o_custkey, o_orderstatus),
            urgent AS (
              SELECT o_custkey, o_orderstatus, COUNT(*) AS urgent_cnt
              FROM orders WHERE o_orderpriority = '1-URGENT'
              GROUP BY o_custkey, o_orderstatus)
            SELECT a.o_custkey, a.o_orderstatus, a.n_orders, a.total_price,
                   COALESCE(u.urgent_cnt, 0) AS urgent_cnt
            FROM agg a LEFT JOIN urgent u
              ON a.o_custkey = u.o_custkey AND a.o_orderstatus = u.o_orderstatus
            ORDER BY a.o_custkey, a.o_orderstatus"""),
    headline = true)

  /** J2 — dimension-chain LEFT joins; dims are explicitly broadcast
    * (they stay tiny at every TPC-H scale factor).
    */
  private val q17 = Q("q17_j2_dim_join",
    (s, d) => Tables.customer(s, d)
      .join(broadcast(Tables.nation(s, d)),
        col("c_nationkey") === col("n_nationkey"), "left")
      .join(broadcast(Tables.region(s, d)),
        col("n_regionkey") === col("r_regionkey"), "left")
      .select("c_custkey", "n_name", "r_name")
      .orderBy("c_custkey"),
    Some("""SELECT c_custkey, n_name, r_name
            FROM customer
            LEFT JOIN nation ON c_nationkey = n_nationkey
            LEFT JOIN region ON n_regionkey = r_regionkey
            ORDER BY c_custkey"""),
    headline = true)

  // -------------------------------------------------- sort / limit / misc

  /** T2 — top-k via sort+limit → TakeOrderedAndProject (no full sort). */
  private val q18 = Q("q18_t2_topk",
    (s, d) => Tables.orders(s, d)
      .select("o_orderkey", "o_totalprice")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(5),
    Some("""SELECT o_orderkey, o_totalprice FROM orders
            ORDER BY o_totalprice DESC, o_orderkey LIMIT 5"""))

  /** T4 — DISTINCT + ORDER BY (filter-domain query). */
  private val q19 = Q("q19_t4_distinct",
    (s, d) => Tables.orders(s, d)
      .select("o_orderpriority").distinct().orderBy("o_orderpriority"),
    Some("SELECT DISTINCT o_orderpriority FROM orders ORDER BY o_orderpriority"))

  /** T1 — multi-key ORDER BY (full sort, range-partitioned at scale). */
  private val q20 = Q("q20_t1_sort_multi",
    (s, d) => Tables.customer(s, d)
      .select("c_mktsegment", "c_custkey", "c_acctbal")
      .orderBy("c_mktsegment", "c_custkey"),
    Some("""SELECT c_mktsegment, c_custkey, c_acctbal FROM customer
            ORDER BY c_mktsegment, c_custkey"""))

  /** T3/F9/F10 — the untrusted-SQL gateway: Catalyst-parse validation +
    * LIMIT 200 wrap, executed through graft.serving.SafeSql.
    */
  private val q21 = Q("q21_t3_safe_sql_gateway",
    (s, d) => {
      Tables.registerAll(s, d)
      SafeSql.run(s,
        "SELECT o_orderkey, o_custkey, o_totalprice FROM orders ORDER BY o_orderkey")
    },
    Some("""SELECT * FROM (
              SELECT o_orderkey, o_custkey, o_totalprice FROM orders
              ORDER BY o_orderkey) AS safe_view
            LIMIT 200"""))

  // ------------------------------------------------------ scalar functions

  /** F2/F3 — ns→seconds and ns→"mm:ss.mmm" over synthesized ns longs. */
  private val q22 = Q("q22_f3_ns_pretty",
    (s, d) => Tables.lineitem(s, d)
      .withColumn("dur_ns", floor(col("l_extendedprice") * lit(1000000L)).cast(LongType))
      .select(
        col("l_orderkey"), col("l_linenumber"), col("dur_ns"),
        Fns.nsToPretty(col("dur_ns")).as("dur_pretty"),
        Fns.nsToSeconds(col("dur_ns")).as("dur_sec"))
      .orderBy("l_orderkey", "l_linenumber"),
    Some("""WITH t AS (
              SELECT l_orderkey, l_linenumber,
                     CAST(FLOOR(l_extendedprice * 1000000) AS BIGINT) AS dur_ns
              FROM lineitem)
            SELECT l_orderkey, l_linenumber, dur_ns,
              PRINTF('%02d:%02d.%03d',
                CAST(FLOOR(dur_ns / 60000000000) AS BIGINT),
                CAST(FLOOR(dur_ns / 1000000000) AS BIGINT) % 60,
                CAST(FLOOR(dur_ns / 1000000) AS BIGINT) % 1000) AS dur_pretty,
              dur_ns / 1e9 AS dur_sec
            FROM t ORDER BY l_orderkey, l_linenumber"""))

  /** F1 — slugify as a pure expression chain. */
  private val q23 = Q("q23_f1_slugify",
    (s, d) => Tables.part(s, d)
      .select(col("p_partkey"), Fns.slugify(col("p_name")).as("slug"))
      .orderBy("p_partkey"),
    Some("""SELECT p_partkey,
              REGEXP_REPLACE(
                REGEXP_REPLACE(LOWER(TRIM(p_name)), '[^a-z0-9]+', '-', 'g'),
                '^-+|-+$', '', 'g') AS slug
            FROM part ORDER BY p_partkey"""))

  /** F5 + batch analogue of a tumbling time window (daily event rollup).
    * `ts` arrives as int64 nanoseconds (nanosAsLong, SURVEY §1.2) —
    * integer `div` keeps the ns→µs conversion exact over the full int64
    * range (double division would lose precision past 2^53).
    */
  private val q24 = Q("q24_f5_time_bucket",
    (s, d) => Tables.events(s, d)
      .withColumn("ts_utc", timestamp_micros(expr("ts div 1000")))
      .groupBy(
        date_format(date_trunc("day", col("ts_utc")), "yyyy-MM-dd").as("day"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), Fns.exactSumD(col("value")).as("sum_value"))
      .orderBy("day", "event_type"),
    Some("""SELECT STRFTIME(DATE_TRUNC('day', ts), '%Y-%m-%d') AS day,
              event_type, COUNT(*) AS n,
              CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
            FROM events GROUP BY 1, 2 ORDER BY day, event_type"""))

  /** F4 — defensive parse: try_cast → coalesce fallback. */
  private val q25 = Q("q25_f4_defensive_parse",
    (s, d) => Tables.orders(s, d)
      .select(
        col("o_orderkey"),
        date_format(
          coalesce(
            col("o_orderdate").cast(StringType).try_cast(TimestampType),
            lit("1970-01-01 00:00:00").cast(TimestampType)),
          "yyyy-MM-dd").as("d"))
      .orderBy("o_orderkey"),
    Some("""SELECT o_orderkey,
              STRFTIME(COALESCE(TRY_CAST(CAST(o_orderdate AS VARCHAR) AS TIMESTAMP),
                                TIMESTAMP '1970-01-01 00:00:00'),
                       '%Y-%m-%d') AS d
            FROM orders ORDER BY o_orderkey"""))

  // ------------------------------------------------------ set ops / misc

  /** S6-union — explicit UNION ALL branch (the reference's implicit
    * multi-file union, surfaced as an operator).
    */
  private val q26 = Q("q26_union_all",
    (s, d) => {
      val li = Tables.lineitem(s, d)
      val hi = li.filter(col("l_quantity") >= 49)
        .select(col("l_orderkey"), col("l_linenumber"), lit("hi").as("src"))
      val lo = li.filter(col("l_quantity") <= 2)
        .select(col("l_orderkey"), col("l_linenumber"), lit("lo").as("src"))
      hi.unionByName(lo).orderBy("l_orderkey", "l_linenumber", "src")
    },
    Some("""SELECT l_orderkey, l_linenumber, 'hi' AS src FROM lineitem WHERE l_quantity >= 49
            UNION ALL
            SELECT l_orderkey, l_linenumber, 'lo' AS src FROM lineitem WHERE l_quantity <= 2
            ORDER BY l_orderkey, l_linenumber, src"""))

  /** P10 — per-column null-fraction profile (single row). */
  private val q27 = Q("q27_p10_null_profile",
    (s, d) => Tables.events(s, d)
      .agg(
        avg(col("props").isNull.cast(IntegerType)).as("props_null_frac"),
        avg(col("value").isNull.cast(IntegerType)).as("value_null_frac"),
        avg(col("user_id").isNull.cast(IntegerType)).as("user_id_null_frac"),
        count(lit(1)).as("n")),
    Some("""SELECT AVG(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS props_null_frac,
              AVG(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS value_null_frac,
              AVG(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS user_id_null_frac,
              COUNT(*) AS n
            FROM events"""))

  /** A6/J3 — mart-over-mart re-aggregation ([TES] over [DSS] shape). */
  private val q28 = Q("q28_a6_reagg",
    (s, d) => {
      val perCust = Tables.orders(s, d)
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"),
          Fns.exactSum(col("o_totalprice")).as("total_price"))
      perCust
        .join(broadcast(Tables.customer(s, d)),
          col("o_custkey") === col("c_custkey"), "inner")
        .groupBy("c_nationkey")
        .agg(
          sum(col("n_orders")).as("nation_orders"),
          sum(col("total_price")).cast(DoubleType).as("nation_total"),
          count(lit(1)).as("n_cust"))
        .orderBy("c_nationkey")
    },
    Some("""WITH per_cust AS (
              SELECT o_custkey, COUNT(*) AS n_orders,
                     SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS total_price
              FROM orders GROUP BY o_custkey)
            SELECT c_nationkey,
              CAST(SUM(n_orders) AS BIGINT) AS nation_orders,
              CAST(SUM(total_price) AS DOUBLE) AS nation_total,
              COUNT(*) AS n_cust
            FROM per_cust JOIN customer ON o_custkey = c_custkey
            GROUP BY c_nationkey ORDER BY c_nationkey"""),
    headline = true)

  /** A8 — boolean MAX flag per group. */
  private val q29 = Q("q29_a8_bool_flag",
    (s, d) => Tables.events(s, d)
      .groupBy("user_id")
      .agg(max(when(col("value") > 99, 1).otherwise(0)).as("has_big"),
        count(lit(1)).as("n_events"))
      .orderBy("user_id"),
    Some("""SELECT user_id,
              MAX(CASE WHEN value > 99 THEN 1 ELSE 0 END) AS has_big,
              COUNT(*) AS n_events
            FROM events GROUP BY user_id ORDER BY user_id"""))

  /** Flagship — the full [DSS] gold-mart shape mapped onto lineitem:
    * filter → window rank → grouped agg (P5+W1+A1-A5+P8 in one plan).
    * This is also `SparkEntry.entry`.
    *
    * The reference's dbt SQL aggregates the base twice and LEFT-joins the
    * two aggregates back together ([DSS]:49-57; the oracle below keeps
    * that formulation). That costs two full shuffles of the base on the
    * SAME key. Here both aggregate branches are derived from the
    * post-window `ranked` frame instead: the window's Exchange+Sort
    * already hash-partitions on (l_orderkey, l_suppkey), so the groupBy
    * on those keys reuses that partitioning and the whole mart runs with
    * ONE shuffle of the base. The two-branch join then degenerates to a
    * single aggregate (every group matches itself — the oracle's
    * COALESCE never fires), so the values are identical row-for-row.
    * At 100 TB this halves the dominant cost of the mart build.
    */
  private val q30 = Q("q30_flagship_dss_shape",
    (s, d) => {
      val li = Tables.lineitem(s, d).filter(col("l_extendedprice").isNotNull)
      val keys = Seq("l_orderkey", "l_suppkey")
      val w = Window.partitionBy(keys.map(col): _*)
        .orderBy(col("l_extendedprice").asc_nulls_last, col("l_linenumber"))
      val onTrack = when(col("l_returnflag") === "N" && col("l_linestatus") === "O", 1).otherwise(0)
      li.withColumn("rn", row_number().over(w))
        .groupBy(keys.map(col): _*)
        .agg(
          count(lit(1)).as("laps_total"),
          sum(onTrack).as("laps_on_track"),
          sum(lit(1) - onTrack).as("pitstops"),
          min("l_extendedprice").as("best_price"),
          sum(when(col("rn") === 1, 1).otherwise(0)).as("personal_best"))
        .select(col("l_orderkey"), col("l_suppkey"), col("laps_total"),
          col("laps_on_track"), col("pitstops"), col("best_price"),
          col("personal_best"))
        .orderBy("l_orderkey", "l_suppkey")
    },
    Some("""WITH base AS (
              SELECT * FROM lineitem WHERE l_extendedprice IS NOT NULL),
            ranked AS (
              SELECT l_orderkey, l_suppkey,
                ROW_NUMBER() OVER (PARTITION BY l_orderkey, l_suppkey
                  ORDER BY l_extendedprice ASC NULLS LAST, l_linenumber) AS rn
              FROM base),
            agg AS (
              SELECT l_orderkey, l_suppkey, COUNT(*) AS laps_total,
                CAST(SUM(CASE WHEN l_returnflag = 'N' AND l_linestatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS laps_on_track,
                CAST(SUM(CASE WHEN l_returnflag = 'N' AND l_linestatus = 'O' THEN 0 ELSE 1 END) AS BIGINT) AS pitstops,
                MIN(l_extendedprice) AS best_price
              FROM base GROUP BY l_orderkey, l_suppkey),
            pb AS (
              SELECT l_orderkey, l_suppkey,
                CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS personal_best
              FROM ranked GROUP BY l_orderkey, l_suppkey)
            SELECT a.l_orderkey, a.l_suppkey, a.laps_total, a.laps_on_track,
                   a.pitstops, a.best_price,
                   COALESCE(p.personal_best, 0) AS personal_best
            FROM agg a LEFT JOIN pb p
              ON a.l_orderkey = p.l_orderkey AND a.l_suppkey = p.l_suppkey
            ORDER BY a.l_orderkey, a.l_suppkey"""),
    headline = true)

  /** T5 — the reference's string-sort quirk: top-50 ordered on the
    * FORMATTED "mm:ss.mmm" string (lexicographic ≡ numeric for
    * fixed-width sub-hour values; dashboard/app.py:183-186).
    */
  private val q31 = Q("q31_t5_pretty_sort",
    (s, d) => Tables.lineitem(s, d)
      .withColumn("dur_ns", floor(col("l_extendedprice") * lit(1000000L)).cast(LongType))
      .select(col("l_orderkey"), col("l_linenumber"),
        Fns.nsToPretty(col("dur_ns")).as("dur_pretty"))
      .orderBy(col("dur_pretty"), col("l_orderkey"), col("l_linenumber"))
      .limit(50),
    Some("""WITH t AS (
              SELECT l_orderkey, l_linenumber,
                     CAST(FLOOR(l_extendedprice * 1000000) AS BIGINT) AS dur_ns
              FROM lineitem)
            SELECT l_orderkey, l_linenumber,
              PRINTF('%02d:%02d.%03d',
                CAST(FLOOR(dur_ns / 60000000000) AS BIGINT),
                CAST(FLOOR(dur_ns / 1000000000) AS BIGINT) % 60,
                CAST(FLOOR(dur_ns / 1000000) AS BIGINT) % 1000) AS dur_pretty
            FROM t ORDER BY dur_pretty, l_orderkey, l_linenumber LIMIT 50"""))

  // ------------------------------------------- classic analytic shapes

  /** TPC-H Q3 shape — shipping priority: 3-way join, filtered both
    * sides, revenue aggregate, top-10. Customer is the broadcast side;
    * orders⋈lineitem shuffles on the order key.
    */
  private val q32 = Q("q32_tpch_q3_shape",
    (s, d) => {
      val cutoff = lit("1996-03-15").cast(TimestampType)
      val c = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      val o = Tables.orders(s, d).filter(col("o_orderdate") < cutoff)
      val l = Tables.lineitem(s, d).filter(col("l_shipdate") > cutoff)
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(Fns.exactSumScaled(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
          .as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    },
    Some("""SELECT l_orderkey, o_orderdate, o_orderpriority,
              CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 10000 + 0.5) AS BIGINT)) AS DOUBLE) / 10000 AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
              AND o_orderdate < TIMESTAMP '1996-03-15'
              AND l_shipdate > TIMESTAMP '1996-03-15'
            GROUP BY l_orderkey, o_orderdate, o_orderpriority
            ORDER BY revenue DESC, l_orderkey LIMIT 10"""),
    headline = true)

  /** TPC-H Q5 shape — star join with the snowflake tail moved OFF the
    * critical path. The fact chain probes only LEAF broadcasts (orders
    * auto-bcast, customer, bare supplier dim) and aggregates on
    * `s_nationkey` (the nation PK, so grouping is ≡ grouping by
    * n_name); the constant-size nation⋈region tail (25 + 5 rows at ANY
    * scale factor, region-filtered) joins AFTER the aggregation, over
    * ≤25 groups, dropping non-ASIA groups at that inner join.
    *
    * Why post-agg (vs the round-3 composite dim): a broadcast dim built
    * from supplier⋈nation⋈region makes the dim's BroadcastExchange WAIT
    * on two inner broadcast-build jobs — three serialized broadcast
    * waves gating the fact scan. Under a contended box each wave's
    * scheduling tail stacks (driver r03 bench: q33 4.08 s vs 0.85 s
    * uncontended). Post-agg, every broadcast the fact stage needs is a
    * leaf build (one parallel wave), and the tiny nested nation⋈region
    * build overlaps the fact stage instead of gating it — Spark kicks
    * off all BroadcastExchange futures at query start. The extra agg
    * input (non-ASIA groups, pruned post-agg instead of at the dim
    * probe) is bounded by the c_nationkey = s_nationkey match — ≤25
    * groups either way, map-side combined. Values are
    * join-order-independent (all inner joins), so the oracle keeps the
    * canonical 6-way formulation.
    */
  private val q33 = Q("q33_tpch_q5_shape",
    (s, d) => {
      val asiaNations = Tables.nation(s, d)
        .join(broadcast(Tables.region(s, d).filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select("n_nationkey", "n_name")
      Tables.lineitem(s, d)
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.customer(s, d)), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.supplier(s, d).select("s_suppkey", "s_nationkey")),
          col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .groupBy("s_nationkey")
        .agg(Fns.exactSumScaled(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
          .as("revenue"))
        .join(broadcast(asiaNations), col("s_nationkey") === col("n_nationkey"))
        .select("n_name", "revenue")
        .orderBy(col("revenue").desc, col("n_name"))
    },
    Some("""SELECT n_name,
              CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 10000 + 0.5) AS BIGINT)) AS DOUBLE) / 10000 AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'ASIA'
            GROUP BY n_name ORDER BY revenue DESC, n_name"""),
    headline = true)

  /** TPC-H Q10 shape — returned-item reporting: fact filter, join up the
    * dimension chain, top-20 accounts by lost revenue.
    */
  private val q34 = Q("q34_tpch_q10_shape",
    (s, d) => Tables.lineitem(s, d)
      .filter(col("l_returnflag") === "R")
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(s, d)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .groupBy("c_custkey", "c_name", "n_name")
      .agg(
        Fns.exactSumScaled(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
          .as("lost_revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("lost_revenue").desc, col("c_custkey"))
      .limit(20),
    Some("""SELECT c_custkey, c_name, n_name,
              CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 10000 + 0.5) AS BIGINT)) AS DOUBLE) / 10000 AS lost_revenue,
              COUNT(*) AS n_items
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            WHERE l_returnflag = 'R'
            GROUP BY c_custkey, c_name, n_name
            ORDER BY lost_revenue DESC, c_custkey LIMIT 20"""))

  /** CUBE — all grouping-set combinations (completes q54's ROLLUP).
    * r17: re-aggregated from the fine grouping level
    * ([[graft.operators.Rollup.fromPartials]]) — the native CUBE plan
    * Expands every row ×4 before the partial decimal aggregate; the
    * four sets derive exactly from the fine counts/sums. Oracle
    * unchanged.
    */
  private val q35 = Q("q35_cube",
    (s, d) => {
      val keys = Seq("o_orderstatus", "o_orderpriority")
      graft.operators.Rollup.fromPartials(Tables.orders(s, d), keys,
          col("o_totalprice"), graft.operators.Rollup.cubeSets(keys))
        .select(col("o_orderstatus"), col("o_orderpriority"),
          col("cnt"), col("__s").cast(DoubleType).as("total"))
        .orderBy(col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first)
    },
    Some("""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt,
              CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total
            FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
            ORDER BY o_orderstatus ASC NULLS FIRST,
                     o_orderpriority ASC NULLS FIRST"""))

  // -------------------------------------------- subquery decorrelation

  /** TPC-H Q17 shape — correlated scalar subquery (per-part average
    * threshold), expressed as its decorrelated join form: the per-part
    * aggregate is computed once and joined back, which is exactly the
    * plan Catalyst's decorrelation produces from the subquery text the
    * oracle runs.
    */
  private val q36 = Q("q36_scalar_subquery_shape",
    (s, d) => {
      val li = Tables.lineitem(s, d)
      val perPart = li.groupBy(col("l_partkey").as("pk"))
        .agg(Fns.exactAvg(col("l_quantity")).as("avg_qty"))
      li.join(perPart, col("l_partkey") === col("pk"))
        .filter(col("l_quantity") < lit(0.2) * col("avg_qty"))
        .agg(
          Fns.exactSumD(col("l_extendedprice")).as("total_price"),
          count(lit(1)).as("n"))
    },
    Some("""SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS total_price,
              COUNT(*) AS n
            FROM lineitem l1
            WHERE l_quantity < 0.2 * (
              SELECT CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE)
                       / COUNT(l_quantity)
              FROM lineitem l2 WHERE l2.l_partkey = l1.l_partkey)"""))

  /** TPC-H Q4 shape — correlated EXISTS: orders with at least one line
    * shipped after the order date, counted per priority (left-semi join
    * = the decorrelated EXISTS).
    */
  private val q37 = Q("q37_exists_subquery_shape",
    (s, d) => {
      val o = Tables.orders(s, d)
      val l = Tables.lineitem(s, d)
      o.join(l,
          col("o_orderkey") === col("l_orderkey") &&
            col("l_shipdate") > col("o_orderdate"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("order_count"))
        .orderBy("o_orderpriority")
    },
    Some("""SELECT o_orderpriority, COUNT(*) AS order_count
            FROM orders
            WHERE EXISTS (
              SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
            GROUP BY o_orderpriority ORDER BY o_orderpriority"""))

  /** TPC-H Q18 shape — IN over an aggregated subquery: large-quantity
    * orders (sum qty > threshold) joined back for reporting.
    */
  private val q38 = Q("q38_in_subquery_shape",
    (s, d) => {
      val l = Tables.lineitem(s, d)
      val big = l.groupBy("l_orderkey")
        .agg(Fns.exactSum(col("l_quantity")).as("sum_qty"))
        .filter(col("sum_qty") > 150)
        .select(col("l_orderkey").as("big_ok"))
      Tables.orders(s, d)
        .join(big, col("o_orderkey") === col("big_ok"), "left_semi")
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
        .orderBy("o_orderkey")
    },
    Some("""SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
            FROM orders
            WHERE o_orderkey IN (
              SELECT l_orderkey FROM lineitem
              GROUP BY l_orderkey
              HAVING SUM(CAST(l_quantity AS DECIMAL(38,6))) > 150)
            ORDER BY o_orderkey"""))

  /** Set operations beyond the implicit UNION ALL: INTERSECT and
    * EXCEPT (both DISTINCT semantics — Spark `intersect`/`except` ≡ the
    * SQL operators).
    */
  private val q39 = Q("q39_intersect_except",
    (s, d) => {
      // INTERSECT/EXCEPT over the same fact, decorrelated to one
      // boolean-flag aggregate (round 14): the literal set-op plan
      // scans lineitem four times and shuffles each side per set op
      // (4 exchanges); one groupBy(l_orderkey) with has_O/has_F flags
      // is a single scan + single map-combined shuffle, and the two
      // outputs are disjoint slices of the flag frame — 'both' =
      // O ∩ F, 'open_only' = O ∖ F, keys only in F drop. Set
      // semantics (DISTINCT keys) fall out of the groupBy. The
      // oracle replays the literal INTERSECT/EXCEPT form. sf1:
      // 2.02 → 1.18 s min. Multiset set-op coverage (intersectAll/
      // exceptAll) stays with q89.
      Tables.lineitem(s, d)
        .filter(col("l_linestatus").isin("O", "F"))
        .groupBy("l_orderkey")
        .agg(max(col("l_linestatus") === "O").as("has_o"),
          max(col("l_linestatus") === "F").as("has_f"))
        .filter(col("has_o"))
        .select(col("l_orderkey"),
          when(col("has_f"), lit("both")).otherwise(lit("open_only"))
            .as("src"))
        .orderBy("l_orderkey", "src")
    },
    Some("""WITH o AS (SELECT l_orderkey FROM lineitem WHERE l_linestatus = 'O'),
              f AS (SELECT l_orderkey FROM lineitem WHERE l_linestatus = 'F')
            SELECT l_orderkey, 'both' AS src FROM (SELECT * FROM o INTERSECT SELECT * FROM f)
            UNION ALL
            SELECT l_orderkey, 'open_only' AS src FROM (SELECT * FROM o EXCEPT SELECT * FROM f)
            ORDER BY l_orderkey, src"""))

  val all: Vector[Q] = Vector(
    q01, q02, q03, q04, q05, q06, q07, q08, q09, q10,
    q11, q12, q13, q14, q15, q16, q17, q18, q19, q20,
    q21, q22, q23, q24, q25, q26, q27, q28, q29, q30,
    q31, q32, q33, q34, q35, q36, q37, q38, q39)
}
