package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.util.Tables

/** Relational operator pack: every operator class from SURVEY.md §2
  * (cast-projection P8, identity staging P9, union-all U1, unionByName U2,
  * limit F1, key-derivation P7, timestamp tagging P5, JSON field access
  * P1/P6 analogue, sinks are exercised in tests) plus the table-stakes
  * extensions the reference lacks (filter, joins, aggregation, windows,
  * set ops, rollup, sessionization) — all expressed declaratively so
  * Catalyst does pushdown/pruning/join-selection.
  *
  * Scale notes are on each query: what shuffles, what broadcasts, and why
  * the plan survives 100 TB.
  */
object Relational {

  private def t(s: SparkSession, d: String, n: String) = Tables(s, d, n)

  /** q01 — the mart analogue (SURVEY §2.2 P8 + §2.5 U1 + §2.2 P9).
    * The reference mart is Union(7 x Project(Cast..., Scan)); we model each
    * c_mktsegment as a "channel" CTE: filter -> cast-project -> UNION ALL.
    * Scale: shuffle-free until the determinism sort. Tradeoff kept for
    * reference fidelity: each union branch scans `customer` independently
    * (Catalyst does NOT merge same-file scans across union branches), so
    * this reads the table 5x — exactly like the reference's 7 per-channel
    * CTEs each scanning their own table. The single-scan equivalent
    * (filter isin(segments)) exists but would not exercise the union
    * shape; q35 exercises the real multi-table union.
    * Ref: /root/reference/dags/dbt/.../YT_Facts_stg.sql:3-115.
    */
  private val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")

  private def martCastUnion(s: SparkSession, d: String): DataFrame = {
    val c = t(s, d, "customer")
    val slices = segments.map { seg =>
      c.filter(col("c_mktsegment") === seg).select(
        col("c_name").cast("string").as("title"),
        lower(col("c_name")).cast("string").as("custom_url"),
        expr("timestampadd(DAY, cast(c_custkey as int), TIMESTAMP '1995-01-01 00:00:00')").as("published_at"),
        col("c_nationkey").cast("long").as("country_id"),
        expr("CAST(floor(c_acctbal) AS BIGINT)").as("view_count"),
        (col("c_acctbal") > 0).as("made_for_kids"),
        col("c_mktsegment").cast("string").as("channel"))
    }
    slices.reduce(_ union _).orderBy(col("title"))
  }

  private val martOracle = {
    val cte = segments.map { seg =>
      s"""SELECT CAST(c_name AS VARCHAR) AS title,
         |  CAST(lower(c_name) AS VARCHAR) AS custom_url,
         |  TIMESTAMP '1995-01-01 00:00:00' + INTERVAL (CAST(c_custkey AS INT)) DAY AS published_at,
         |  CAST(c_nationkey AS BIGINT) AS country_id,
         |  CAST(floor(c_acctbal) AS BIGINT) AS view_count,
         |  c_acctbal > 0 AS made_for_kids,
         |  CAST(c_mktsegment AS VARCHAR) AS channel
         |FROM customer WHERE c_mktsegment = '$seg'""".stripMargin
    }.mkString("\nUNION ALL\n")
    cte + "\nORDER BY title"
  }

  val qs: Seq[Q] = Seq(
    Q("q01_mart_cast_union", martCastUnion, Some(martOracle),
      "Reference mart: per-channel cast-projection + 7-way UNION ALL (P8,U1)"),

    // q02 — identity staging view (P9/S4): `select * from {{source}}`.
    Q("q02_identity_staging",
      (s, d) => t(s, d, "region").orderBy("r_regionkey"),
      Some("SELECT * FROM region ORDER BY r_regionkey"),
      "dbt staging passthrough view"),

    // q03 — cast semantics matrix (P8, SURVEY §7.4 cast-drift):
    // malformed input must become NULL, never an error. status_as_int
    // is malformed on EVERY row, so it uses SafeCast.tryInt (regex
    // guard, no exception path) instead of try_cast — try_cast throws
    // and catches per malformed row, ~7x slower when malformed is the
    // common case (measured by a since-removed isolation main (git
    // history); the mostly-valid mart columns in YtFacts
    // rightly keep try_cast). The oracle replays the identical guard,
    // which also removes the genuine engine disagreement on decimal
    // strings (Spark try_cast('3.7')=NULL, DuckDB TRY_CAST('3.7')=4).
    Q("q03_cast_matrix",
      (s, d) => t(s, d, "orders").select(
        col("o_orderkey"),
        col("o_orderkey").cast("string").as("key_str"),
        col("o_orderkey").cast("string").cast("long").as("key_roundtrip"),
        graft.functions.SafeCast.tryInt(col("o_orderstatus")).as("status_as_int"), // always NULL
        col("o_custkey").cast("int").as("cust_int"),
        (col("o_totalprice") > 1000).cast("int").as("big_flag"),
        col("o_orderdate").cast("string").as("date_str")
      ).orderBy("o_orderkey"),
      Some(s"""SELECT o_orderkey,
        |  CAST(o_orderkey AS VARCHAR) AS key_str,
        |  CAST(CAST(o_orderkey AS VARCHAR) AS BIGINT) AS key_roundtrip,
        |  ${graft.functions.SafeCast.tryIntSql("o_orderstatus")} AS status_as_int,
        |  CAST(o_custkey AS INTEGER) AS cust_int,
        |  CAST(o_totalprice > 1000 AS INTEGER) AS big_flag,
        |  CAST(o_orderdate AS VARCHAR) AS date_str
        |FROM orders ORDER BY o_orderkey""".stripMargin),
      "cast matrix incl. malformed->NULL (exception-free guarded cast both sides)"),

    // q04 — filter + projection pushdown. Scale: predicate and 3-column
    // ReadSchema reach the parquet scan; no shuffle until the sort.
    Q("q04_filter_pushdown",
      (s, d) => t(s, d, "lineitem")
        .filter(col("l_shipdate") >= lit("1995-06-01").cast("timestamp") &&
          col("l_shipdate") < lit("1995-09-01").cast("timestamp") &&
          col("l_discount") > 0.05)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        .orderBy("l_orderkey", "l_linenumber"),
      Some("""SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1995-06-01' AND l_shipdate < TIMESTAMP '1995-09-01'
        |  AND l_discount > 0.05
        |ORDER BY l_orderkey, l_linenumber""".stripMargin),
      "WHERE + column pruning (pushed to parquet)"),

    // q05 — limit/top-k (F1: the head(5) load,
    // /root/reference/dags/optimized_extract.py:106). Deterministic via sort.
    Q("q05_limit",
      (s, d) => t(s, d, "orders").orderBy("o_orderkey")
        .select("o_orderkey", "o_custkey", "o_totalprice").limit(5),
      Some("SELECT o_orderkey, o_custkey, o_totalprice FROM orders ORDER BY o_orderkey LIMIT 5"),
      "limit-5 warehouse load variant (F1/W3)"),

    // q06 — string key derivation (P7: title -> S3 key / RAW table name,
    // /root/reference/dags/extract.py:115-116,162-164). Pure codegen'd
    // string expressions, no shuffle.
    Q("q06_key_derivation",
      (s, d) => t(s, d, "part").select(
        col("p_partkey"),
        concat_ws("_", split(regexp_replace(col("p_name"), "-", " "), " ")).as("s3_key_stem"),
        concat(concat_ws("_", split(split(col("p_name"), "/").getItem(0), " ")), lit("_RAW")).as("raw_table"),
        concat_ws("/", split(col("p_name"), " ").getItem(0),
          concat(split(col("p_name"), " ").getItem(0), lit("_data.csv"))).as("object_key")
      ).orderBy("p_partkey"),
      Some("""SELECT p_partkey,
        |  array_to_string(string_split(replace(p_name, '-', ' '), ' '), '_') AS s3_key_stem,
        |  array_to_string(string_split(string_split(p_name, '/')[1], ' '), '_') || '_RAW' AS raw_table,
        |  string_split(p_name, ' ')[1] || '/' || string_split(p_name, ' ')[1] || '_data.csv' AS object_key
        |FROM part ORDER BY p_partkey""".stripMargin),
      "channel-title -> S3 key / table-name derivation (P7)"),

    // q07 — unionByName with missing columns null-filled (U2: pd.concat
    // name alignment, /root/reference/dags/extract.py:121).
    Q("q07_union_by_name",
      (s, d) => {
        val c = t(s, d, "customer")
        val a = c.filter(col("c_custkey") % 2 === 0)
          .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
        val b = c.filter(col("c_custkey") % 2 === 1)
          .select(col("c_custkey"), col("c_mktsegment"))
        a.unionByName(b, allowMissingColumns = true).orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, c_name, c_acctbal, CAST(NULL AS VARCHAR) AS c_mktsegment
        |FROM customer WHERE c_custkey % 2 = 0
        |UNION ALL
        |SELECT c_custkey, CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE), c_mktsegment
        |FROM customer WHERE c_custkey % 2 = 1
        |ORDER BY c_custkey""".stripMargin),
      "pd.concat-style name-aligned union with NULL fill (U2)"),

    // q08 — batch timestamp tagging (P5) + time derivations (§2.9).
    Q("q08_timestamp_tag",
      (s, d) => t(s, d, "events").select(
        col("event_id"), col("ts"),
        date_trunc("hour", col("ts")).as("batch_hour"),
        date_trunc("day", col("ts")).as("batch_day"),
        hour(col("ts")).as("hour_of_day"),
        unix_micros(col("ts")).as("epoch_us")
      ).orderBy("event_id"),
      Some("""SELECT event_id, ts,
        |  date_trunc('hour', ts) AS batch_hour,
        |  date_trunc('day', ts)::TIMESTAMP AS batch_day,
        |  CAST(hour(ts) AS INTEGER) AS hour_of_day,
        |  epoch_us(ts) AS epoch_us
        |FROM events ORDER BY event_id""".stripMargin),
      "per-batch wall-clock tag + time bucketing (P5, §2.9)"),

    // q09 — TPC-H Q1-style aggregation. Scale: map-side partial agg on 6
    // groups -> tiny shuffle; whole-stage codegen end to end.
    Q("q09_agg_pricing_summary",
      (s, d) => t(s, d, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
          round(avg("l_quantity"), 4).as("avg_qty"),
          round(avg("l_extendedprice"), 4).as("avg_price"),
          round(avg("l_discount"), 6).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus"),
      Some("""SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base_price,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |  round(avg(l_quantity), 4) AS avg_qty,
        |  round(avg(l_extendedprice), 4) AS avg_price,
        |  round(avg(l_discount), 6) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),
      "group-by aggregation with partial (map-side) combine"),

    // q10 — star join over broadcast dims. Scale: nation/region are tiny
    // -> broadcast hash join, zero shuffle on the fact side until the agg.
    Q("q10_join_broadcast_dims",
      (s, d) => {
        val c = t(s, d, "customer")
        val n = t(s, d, "nation")
        val r = t(s, d, "region")
        c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
          .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
          .groupBy(r("r_name").as("region"), n("n_name").as("nation"))
          .agg(count(lit(1)).as("n_customers"),
            round(avg("c_acctbal"), 4).as("avg_bal"))
          .orderBy("region", "nation")
      },
      Some("""SELECT r_name AS region, n_name AS nation,
        |  count(*) AS n_customers, round(avg(c_acctbal), 4) AS avg_bal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY region, nation""".stripMargin),
      "broadcast star join (dims broadcast, fact never shuffled pre-agg)"),

    // q11 — large fact-fact join + top-k (Q3-style). Scale: lineitem join
    // orders shuffles on orderkey (both sides huge -> sort-merge w/ AQE);
    // top-10 via TakeOrdered, no global sort materialization.
    Q("q11_join_shuffle_topk",
      (s, d) => {
        val l = t(s, d, "lineitem")
        val o = t(s, d, "orders")
        l.join(o, l("l_orderkey") === o("o_orderkey"))
          .groupBy(col("o_orderkey"), col("o_orderdate"))
          .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
          .orderBy(col("revenue").desc, col("o_orderkey"))
          .limit(10)
      },
      Some("""SELECT o_orderkey, o_orderdate,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderkey, o_orderdate
        |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin),
      "shuffle join on fact keys + TakeOrdered top-k"),

    // q12 — window functions: rank / lag / running sum per customer.
    // Scale: single shuffle on the partition key, then sorted windows.
    Q("q12_window_running",
      (s, d) => {
        val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
        t(s, d, "orders").select(
          col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
          row_number().over(w).as("rn"),
          round(sum("o_totalprice").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2).as("running_spend"),
          lag("o_totalprice", 1).over(w).as("prev_price")
        ).orderBy("o_custkey", "rn")
      },
      Some("""SELECT o_custkey, o_orderkey, o_orderdate,
        |  CAST(row_number() OVER w AS INTEGER) AS rn,
        |  round(sum(o_totalprice) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_spend,
        |  lag(o_totalprice, 1) OVER w AS prev_price
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, rn""".stripMargin),
      "row_number/lag/running-sum windows"),

    // q13 — row-level DISTINCT (the reference only dedups column names, P3).
    Q("q13_distinct",
      (s, d) => t(s, d, "customer").select("c_mktsegment", "c_nationkey")
        .distinct().orderBy("c_mktsegment", "c_nationkey"),
      Some("""SELECT DISTINCT c_mktsegment, c_nationkey FROM customer
        |ORDER BY c_mktsegment, c_nationkey""".stripMargin),
      "distinct (hash aggregate)"),

    // q14/q15 — set ops beyond the reference's UNION ALL.
    Q("q14_intersect",
      (s, d) => {
        val o = t(s, d, "orders")
        val open = o.filter(col("o_orderstatus") === "O").select(col("o_custkey").as("custkey"))
        val high = o.filter(col("o_totalprice") > 100000).select(col("o_custkey").as("custkey"))
        open.intersect(high).orderBy("custkey")
      },
      Some("""SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE o_totalprice > 100000
        |ORDER BY custkey""".stripMargin),
      "INTERSECT (distinct semantics in both engines)"),

    Q("q15_except",
      (s, d) => {
        val o = t(s, d, "orders")
        val f = o.filter(col("o_orderstatus") === "F").select(col("o_custkey").as("custkey"))
        val op = o.filter(col("o_orderstatus") === "O").select(col("o_custkey").as("custkey"))
        f.except(op).orderBy("custkey")
      },
      Some("""SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        |ORDER BY custkey""".stripMargin),
      "EXCEPT: customers with only-finished orders"),

    // q16 — semi/anti joins (EXISTS / NOT EXISTS).
    Q("q16_semi_anti",
      (s, d) => {
        val c = t(s, d, "customer")
        val o = t(s, d, "orders").select("o_custkey")
        val withO = c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
          .groupBy("c_nationkey").agg(count(lit(1)).as("n_with_orders"))
        val noO = c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
          .groupBy("c_nationkey").agg(count(lit(1)).as("n_without_orders"))
        withO.join(noO, Seq("c_nationkey"), "full_outer")
          .select(col("c_nationkey"),
            coalesce(col("n_with_orders"), lit(0L)).as("n_with_orders"),
            coalesce(col("n_without_orders"), lit(0L)).as("n_without_orders"))
          .orderBy("c_nationkey")
      },
      Some("""WITH w AS (
        |  SELECT c_nationkey, count(*) AS n_with_orders FROM customer
        |  WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |  GROUP BY c_nationkey),
        |x AS (
        |  SELECT c_nationkey, count(*) AS n_without_orders FROM customer
        |  WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |  GROUP BY c_nationkey)
        |SELECT coalesce(w.c_nationkey, x.c_nationkey) AS c_nationkey,
        |  coalesce(n_with_orders, 0) AS n_with_orders,
        |  coalesce(n_without_orders, 0) AS n_without_orders
        |FROM w FULL OUTER JOIN x ON w.c_nationkey = x.c_nationkey
        |ORDER BY c_nationkey""".stripMargin),
      "left_semi/left_anti joins + full outer recombine"),

    // q17 — ROLLUP grouping sets.
    Q("q17_rollup",
      (s, d) => t(s, d, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(round(sum("l_quantity"), 2).as("sum_qty"), count(lit(1)).as("n"))
        .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus")),
      Some("""SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin),
      "rollup grouping sets (explicit NULLS FIRST on both engines)"),

    // q18 — scalar function battery (§2.8 string/date/math surface).
    Q("q18_scalar_funcs",
      (s, d) => t(s, d, "part").select(
        col("p_partkey"),
        upper(col("p_type")).as("type_upper"),
        substring(col("p_name"), 1, 5).as("name_pfx"),
        length(col("p_name")).as("name_len"),
        lpad(col("p_brand"), 12, "*").as("brand_pad"),
        (col("p_size") % 7).as("size_mod"),
        round(col("p_retailprice") * 1.1, 2).as("price_up"),
        floor(col("p_retailprice")).as("price_floor"),
        ceil(col("p_retailprice")).as("price_ceil"),
        abs(col("p_size") - 25).as("size_dist")
      ).orderBy("p_partkey"),
      Some("""SELECT p_partkey,
        |  upper(p_type) AS type_upper,
        |  substring(p_name, 1, 5) AS name_pfx,
        |  CAST(length(p_name) AS INTEGER) AS name_len,
        |  lpad(p_brand, 12, '*') AS brand_pad,
        |  CAST(p_size % 7 AS INTEGER) AS size_mod,
        |  round(p_retailprice * 1.1, 2) AS price_up,
        |  CAST(floor(p_retailprice) AS BIGINT) AS price_floor,
        |  CAST(ceil(p_retailprice) AS BIGINT) AS price_ceil,
        |  CAST(abs(p_size - 25) AS INTEGER) AS size_dist
        |FROM part ORDER BY p_partkey""".stripMargin),
      "string/math scalar functions (all codegen'd, no UDFs)"),

    // q19 — JSON field extraction (P1/P6 analogue on events.props).
    Q("q19_json_extract",
      (s, d) => t(s, d, "events").select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"),
        (get_json_object(col("props"), "$.k").cast("long") % 10).as("k_bucket")
      ).orderBy("event_id"),
      Some("""SELECT event_id,
        |  TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
        |  TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_bucket
        |FROM events ORDER BY event_id""".stripMargin),
      "semi-structured JSON column access"),

    // q64 — the same extraction through Spark 4's VARIANT type: parse
    // the JSON ONCE per row into the binary variant encoding, then
    // typed path access. At 100 TB this is the semi-structured scale
    // path — q19's get_json_object re-parses the string per path, and
    // N extracted paths mean N parses; variant parses once and its
    // binary form is shreddable into columnar storage. Same answer as
    // q19 by construction (the oracle is shared).
    Q("q64_variant_extract",
      (s, d) => {
        val v = parse_json(col("props"))
        t(s, d, "events").select(
          col("event_id"),
          try_variant_get(v, "$.k", "long").as("k"),
          (try_variant_get(v, "$.k", "long") % 10).as("k_bucket")
        ).orderBy("event_id")
      },
      Some("""SELECT event_id,
        |  TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
        |  TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_bucket
        |FROM events ORDER BY event_id""".stripMargin),
      "VARIANT parse-once typed extraction (binary semi-structured path)"),

    // q65 — unpivot (melt), the inverse of q45's pivot: wide per-region
    // aggregates back to long (metric, value) rows. Per-row expression
    // work after one aggregation; output rows = rows x metrics.
    Q("q65_unpivot",
      (s, d) => t(s, d, "customer")
        .groupBy("c_mktsegment")
        .agg(round(sum("c_acctbal"), 2).as("total_bal"),
          round(avg("c_acctbal"), 2).as("avg_bal"),
          count(lit(1)).cast("double").as("n"))
        .unpivot(Array(col("c_mktsegment")),
          Array(col("total_bal"), col("avg_bal"), col("n")),
          "metric", "value")
        .orderBy("c_mktsegment", "metric"),
      Some("""WITH wide AS (
        |  SELECT c_mktsegment,
        |    round(sum(c_acctbal), 2) AS total_bal,
        |    round(avg(c_acctbal), 2) AS avg_bal,
        |    CAST(count(*) AS DOUBLE) AS n
        |  FROM customer GROUP BY c_mktsegment)
        |SELECT c_mktsegment, metric, value FROM wide
        |UNPIVOT (value FOR metric IN (total_bal, avg_bal, n))
        |ORDER BY c_mktsegment, metric""".stripMargin),
      "unpivot/melt wide metrics to long (inverse of q45 pivot)"),

    // q20 — sessionization: 30-min-gap sessions per user via windows.
    // Scale: one shuffle on user_id; state never held on the driver.
    Q("q20_sessionize",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val ev = t(s, d, "events")
          .withColumn("prev_ts", lag("ts", 1).over(w))
          .withColumn("new_sess",
            when(col("prev_ts").isNull ||
              (unix_micros(col("ts")) - unix_micros(col("prev_ts"))) > 1800L * 1000000L, 1).otherwise(0))
          .withColumn("session_id",
            sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        ev.groupBy("user_id", "session_id")
          .agg(count(lit(1)).as("n_events"),
            min("ts").as("session_start"), max("ts").as("session_end"),
            round(sum("value"), 4).as("session_value"))
          .orderBy("user_id", "session_id")
      },
      Some("""WITH g AS (
        |  SELECT user_id, event_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |      OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000 THEN 1 ELSE 0 END AS new_sess
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT user_id, ts, value,
        |    CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM g)
        |SELECT user_id, session_id, count(*) AS n_events,
        |  min(ts) AS session_start, max(ts) AS session_end,
        |  round(sum(value), 4) AS session_value
        |FROM s GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin),
      "gap-based sessionization (lag + cumulative window)"),

    // q21 — tumbling time-window aggregation (batch equivalent of the
    // Structured Streaming pipeline in graft.streaming; §2.9).
    Q("q21_time_window_agg",
      (s, d) => t(s, d, "events")
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("total_value"))
        .select(col("w.start").as("hour_start"), col("event_type"), col("n"), col("total_value"))
        .orderBy("hour_start", "event_type"),
      Some("""SELECT date_trunc('hour', ts) AS hour_start, event_type,
        |  count(*) AS n, round(sum(value), 4) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY hour_start, event_type""".stripMargin),
      "tumbling 1h window agg (streaming-equivalent batch query)"),

    // q39 — the SQL entry point: ANSI SQL text over registered views
    // (the engine's analogue of dbt's source()/ref() resolution, S4/S5).
    // Same Catalyst plan as the DataFrame form — views are inlined by
    // the analyzer, the join broadcasts the dim side, agg combines
    // map-side.
    Q("q39_sql_surface",
      (s, d) => {
        Tables(s, d, "customer").createOrReplaceTempView("v_customer")
        Tables(s, d, "orders").createOrReplaceTempView("v_orders")
        s.sql("""SELECT c.c_mktsegment AS segment,
                 |  count(*) AS n_orders,
                 |  round(sum(o.o_totalprice), 2) AS total_price,
                 |  round(avg(o.o_totalprice), 4) AS avg_price
                 |FROM v_orders o JOIN v_customer c ON o.o_custkey = c.c_custkey
                 |GROUP BY c.c_mktsegment
                 |ORDER BY segment""".stripMargin)
      },
      Some("""SELECT c.c_mktsegment AS segment,
        |  count(*) AS n_orders,
        |  round(sum(o.o_totalprice), 2) AS total_price,
        |  round(avg(o.o_totalprice), 4) AS avg_price
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY c.c_mktsegment
        |ORDER BY segment""".stripMargin),
      "SQL-text entry point over registered views (S4/S5 analogue)"),

    // q109 — SLIDING time windows (1h window, 15m slide): every event
    // lands in exactly window/slide = 4 overlapping windows — the
    // trending-metrics shape q21's tumbling windows cannot express, and
    // the batch twin of the streaming sliding-window aggregation. The
    // oracle derives the same 4 window starts per event from 15-minute
    // epoch slots (Spark aligns window starts to the epoch).
    Q("q109_sliding_window_agg",
      (s, d) => t(s, d, "events")
        .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("total_value"))
        .select(col("w.start").as("win_start"), col("event_type"),
          col("n"), col("total_value"))
        .orderBy("win_start", "event_type"),
      Some("""WITH slots AS (SELECT event_type, value,
        |    epoch_us(ts) // 900000000 AS slot FROM events),
        |w AS (SELECT event_type, value,
        |    make_timestamp((slot - k.k) * 900000000) AS win_start
        |  FROM slots, generate_series(0, 3) AS k(k))
        |SELECT win_start, event_type, count(*) AS n,
        |  round(sum(value), 4) AS total_value
        |FROM w GROUP BY 1, 2 ORDER BY win_start, event_type""".stripMargin),
      "sliding 1h/15m window agg (each event in 4 overlapping windows)"),

    // q110 — NATIVE session windows: Spark's built-in session_window
    // aggregation (dynamic-gap windows merged by the engine) — the
    // declarative sibling of q20's lag/running-sum sessionization and
    // q86's flatMapGroupsWithState; all three express the same gap
    // semantics, which the shared oracle proves. session end = last
    // event + gap by definition of the operator.
    Q("q110_session_window",
      (s, d) => t(s, d, "events")
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
        .agg(count(lit(1)).as("n_events"),
          round(sum("value"), 4).as("session_value"))
        .select(col("user_id"), col("sw.start").as("session_start"),
          col("sw.end").as("session_end"), col("n_events"), col("session_value"))
        .orderBy("user_id", "session_start"),
      Some("""WITH g AS (
        |  SELECT user_id, event_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |      OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000 THEN 1 ELSE 0 END AS new_sess
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (SELECT user_id, ts, value,
        |    CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
        |  FROM g)
        |SELECT user_id, min(ts) AS session_start,
        |  max(ts) + INTERVAL 30 MINUTE AS session_end,
        |  count(*) AS n_events, round(sum(value), 4) AS session_value
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin),
      "built-in session_window agg == the lag/running-sum sessionization"),

    // q111 — GROUPING SETS with grouping_id: the explicit multi-level
    // aggregate (priority x status, priority alone, grand total) that
    // rollup/cube (q17/q47) special-case; grouping(col) disambiguates
    // real NULLs from subtotal rows on both engines.
    Q("q111_grouping_sets",
      (s, d) => {
        Tables(s, d, "orders").createOrReplaceTempView("v_orders_gs")
        s.sql("""SELECT o_orderpriority, o_orderstatus,
                |  CAST(grouping(o_orderpriority) AS INT) AS g_pri,
                |  CAST(grouping(o_orderstatus) AS INT) AS g_st,
                |  count(*) AS n, round(sum(o_totalprice), 2) AS total
                |FROM v_orders_gs
                |GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
                |  (o_orderpriority), ())
                |ORDER BY g_pri, g_st, o_orderpriority, o_orderstatus""".stripMargin)
      },
      Some("""SELECT o_orderpriority, o_orderstatus,
        |  CAST(grouping(o_orderpriority) AS INTEGER) AS g_pri,
        |  CAST(grouping(o_orderstatus) AS INTEGER) AS g_st,
        |  count(*) AS n, round(sum(o_totalprice), 2) AS total
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
        |  (o_orderpriority), ())
        |ORDER BY g_pri, g_st, o_orderpriority, o_orderstatus""".stripMargin),
      "explicit GROUPING SETS with grouping() disambiguation"),

    // q112 — equi-width HISTOGRAM: the profiling companion to q96 —
    // global min/max in one broadcast row, bucket = floor((x-min)/
    // (max-min)*k) clamped to k-1 (the max lands in the last bucket).
    // Both engines evaluate the identical double expression on
    // identical inputs, so bucket boundaries cannot drift; emitted
    // bounds round at 4dp.
    Q("q112_histogram",
      (s, d) => {
        val o = t(s, d, "orders")
        val mm = o.agg(min("o_totalprice").as("lo"), max("o_totalprice").as("hi"))
        val k = 20
        val b = least(lit(k - 1), floor((col("o_totalprice") - col("lo")) /
          (col("hi") - col("lo")) * k)).cast("int")
        o.crossJoin(broadcast(mm))
          .select(b.as("bucket"), col("lo"), col("hi"))
          .groupBy("bucket", "lo", "hi")
          .agg(count(lit(1)).as("n"))
          .select(col("bucket"),
            round(col("lo") + (col("hi") - col("lo")) / k * col("bucket"), 4)
              .as("bucket_lo"),
            round(col("lo") + (col("hi") - col("lo")) / k * (col("bucket") + 1), 4)
              .as("bucket_hi"),
            col("n"))
          .orderBy("bucket")
      },
      Some("""WITH mm AS (SELECT min(o_totalprice) AS lo, max(o_totalprice) AS hi
        |  FROM orders),
        |b AS (SELECT CAST(least(19, floor((o_totalprice - lo) / (hi - lo) * 20)) AS INTEGER) AS bucket,
        |    lo, hi
        |  FROM orders, mm)
        |SELECT bucket,
        |  round(lo + (hi - lo) / 20 * bucket, 4) AS bucket_lo,
        |  round(lo + (hi - lo) / 20 * (bucket + 1), 4) AS bucket_hi,
        |  count(*) AS n
        |FROM b GROUP BY bucket, lo, hi ORDER BY bucket""".stripMargin),
      "equi-width histogram: broadcast min/max, identical double bucket arithmetic"),

    // q114 — rolling 7-day RANGE-frame window: per user, events count +
    // value total over [t - 7d, t] ordered by epoch SECONDS — the
    // time-interval frame (RANGE BETWEEN) that row-count frames (q12)
    // cannot express: peers in the same second share one frame. The
    // value rides as exact integer CENTS (round(value*100) — identical
    // double op on identical parquet input, then integer sums), because
    // sliding-frame double summation is association-ordered differently
    // across engines (DuckDB segment trees vs Spark frame re-scan) —
    // integer cents make the frame sum order-free and bit-exact.
    // Scale shape: ONE user-keyed shuffle; frames are calendar-bounded.
    Q("q114_rolling_range_window",
      (s, d) => {
        val e = t(s, d, "events").select(col("event_id"), col("user_id"),
          unix_timestamp(col("ts")).as("sec"),
          round(col("value") * 100, 0).cast("long").as("cents"))
        val w = Window.partitionBy("user_id").orderBy("sec")
          .rangeBetween(-7L * 86400L, 0L)
        e.select(col("event_id"), col("user_id"), col("sec"),
            count(lit(1)).over(w).as("n_7d"),
            round(sum("cents").over(w) / 100.0, 2).as("v_7d"))
          .orderBy("user_id", "sec", "event_id")
      },
      Some("""WITH e AS (SELECT event_id, user_id,
        |    epoch_us(ts) // 1000000 AS sec,
        |    CAST(round(value * 100, 0) AS BIGINT) AS cents
        |  FROM events)
        |SELECT event_id, user_id, sec,
        |  count(*) OVER w AS n_7d,
        |  round(sum(cents) OVER w / 100.0, 2) AS v_7d
        |FROM e WINDOW w AS (PARTITION BY user_id ORDER BY sec
        |  RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, sec, event_id""".stripMargin),
      "rolling 7-day RANGE frame (integer-cents sums: order-free, bit-exact)"),

    // q115 — equi-DEPTH histogram via distributed exact global rank:
    // the quantile-binned companion to q112's equi-width buckets. The
    // rank comes from Rank.globalRank — equi-width prebuckets +
    // broadcast prefix-sum offsets + per-bucket row_number, so NO
    // single-partition global window ever materializes (the plan the
    // naive row_number() OVER (ORDER BY price) would give). The oracle
    // replays the plain global row_number — the prebucketing affects
    // only distribution, never the rank. bin = (rank-1)*k div n + 1:
    // exact integer arithmetic on both engines (deliberately NOT SQL
    // ntile's remainder placement — the formula is the contract).
    Q("q115_equidepth_histogram",
      (s, d) => graft.operators.Rank.equiDepthHistogram(
        t(s, d, "orders").select("o_orderkey", "o_totalprice"),
        "o_totalprice", "o_orderkey", k = 16),
      Some("""WITH r AS (SELECT o_totalprice,
        |    row_number() OVER (ORDER BY o_totalprice, o_orderkey) AS rnk,
        |    count(*) OVER () AS n_total
        |  FROM orders)
        |SELECT CAST((rnk - 1) * 16 // n_total + 1 AS INTEGER) AS bin,
        |  count(*) AS n_rows,
        |  round(min(o_totalprice), 2) AS lo, round(max(o_totalprice), 2) AS hi
        |FROM r GROUP BY bin ORDER BY bin""".stripMargin),
      "equi-depth histogram from distributed exact rank (no global-sort reducer)"),

    // q121 — EXACT grouped percentiles via distributed selection: lower
    // median + ceil-p90 of order price (integer cents) per priority,
    // computed by GroupedQuantile — bucket-histogram rank location +
    // a window over ONLY the selected bucket's thin slice, so no group
    // is ever sorted whole in one task (the scale flaw of the naive
    // per-group row_number scan the oracle replays). The exact
    // complement of q63's audited approx_percentile sketch.
    Q("q121_grouped_median_exact",
      (s, d) => {
        import graft.operators.GroupedQuantile
        val o = t(s, d, "orders").select(col("o_orderpriority").as("g"),
          round(col("o_totalprice") * 100, 0).cast("long").as("v"),
          col("o_orderkey").as("t"))
        val n = o.groupBy("g").agg(count(lit(1)).as("n_rows"))
        val med = GroupedQuantile.kthSmallestLong(o, col("g"), col("v"),
            col("t"), GroupedQuantile.lowerMedianRank)
          .withColumnRenamed("kth_value", "med_cents")
        val p90 = GroupedQuantile.kthSmallestLong(o, col("g"), col("v"),
            col("t"), GroupedQuantile.pctRank(90))
          .withColumnRenamed("kth_value", "p90_cents")
        n.join(med, "g").join(p90, "g")
          .select(col("g").as("o_orderpriority"), col("n_rows"),
            (col("med_cents") / 100.0).as("median_price"),
            (col("p90_cents") / 100.0).as("p90_price"))
          .orderBy("o_orderpriority")
      },
      Some("""WITH o AS (SELECT o_orderpriority AS g,
        |    CAST(round(o_totalprice * 100, 0) AS BIGINT) AS v,
        |    o_orderkey AS t FROM orders),
        |r AS (SELECT g, v,
        |    row_number() OVER (PARTITION BY g ORDER BY v, t) AS rn,
        |    count(*) OVER (PARTITION BY g) AS n FROM o)
        |SELECT g AS o_orderpriority, CAST(max(n) AS BIGINT) AS n_rows,
        |  max(CASE WHEN rn = (n + 1) // 2 THEN v END) / 100.0 AS median_price,
        |  max(CASE WHEN rn = (90 * n + 99) // 100 THEN v END) / 100.0 AS p90_price
        |FROM r GROUP BY g ORDER BY o_orderpriority""".stripMargin),
      "exact grouped median/p90 by distributed selection (no whole-group sort)"),

    // q127 — JOIN-KEY SKEW REPORT: the diagnostic a planner (or a
    // human) reads before choosing q41's salting vs a broadcast — the
    // 5 hottest join keys with their row counts and the skew ratio
    // (key count / mean count, exact basis points). One
    // map-side-combined key agg; global stats collapse to a broadcast
    // row; the top-5 is a TakeOrdered of the KEY table.
    Q("q127_join_skew_report",
      (s, d) => {
        import graft.functions.IntMath
        val cnt = t(s, d, "lineitem").groupBy("l_orderkey")
          .agg(count(lit(1)).as("cnt"))
        val stats = cnt.agg(count(lit(1)).as("n_keys"),
          sum("cnt").as("total_rows"))
        cnt.orderBy(col("cnt").desc, col("l_orderkey")).limit(5)
          .crossJoin(broadcast(stats))
          .select(col("l_orderkey"), col("cnt"), col("n_keys"),
            col("total_rows"),
            IntMath.bp(col("cnt") * col("n_keys"), col("total_rows"))
              .as("skew_ratio_bp"))
          .orderBy(col("cnt").desc, col("l_orderkey"))
      },
      Some("""WITH cnt AS (SELECT l_orderkey, CAST(count(*) AS BIGINT) AS cnt
        |  FROM lineitem GROUP BY 1),
        |stats AS (SELECT CAST(count(*) AS BIGINT) AS n_keys,
        |    CAST(sum(cnt) AS BIGINT) AS total_rows FROM cnt)
        |SELECT l_orderkey, cnt, n_keys, total_rows,
        |  (2 * cnt * n_keys * 10000 + total_rows) // (2 * total_rows)
        |    AS skew_ratio_bp
        |FROM cnt, stats ORDER BY cnt DESC, l_orderkey LIMIT 5""".stripMargin),
      "join-key skew diagnostic: hottest keys + exact skew ratio (salting-decision input)"),

    // q133 — BENFORD first-digit audit: the classic "is this column
    // organic or fabricated?" data-quality check — observed first
    // significant digit distribution of order prices vs Benford's law,
    // everything in exact integers: the digit comes from string ops on
    // the price's integer part (no log10), observed shares in half-up
    // per-mille, and the Benford expectation as the standard per-mille
    // constants (301..46). The |obs − exp| deviation column is the
    // alert signal. One map-side-combined digit agg; 9-row output.
    Q("q133_benford_audit",
      (s, d) => {
        import graft.functions.IntMath
        val benford = Seq(301L, 176L, 125L, 97L, 79L, 67L, 58L, 51L, 46L)
        val o = t(s, d, "orders")
          .select(substring(floor(col("o_totalprice")).cast("long")
            .cast("string"), 1, 1).cast("int").as("digit"))
          .filter(col("digit") >= 1)
        val cnt = o.groupBy("digit").agg(count(lit(1)).as("n"))
        val tot = cnt.agg(sum("n").as("t"))
        val exp = expr(s"element_at(array(${benford.mkString(",")}), digit)")
        cnt.crossJoin(broadcast(tot))
          .select(col("digit"), col("n"),
            IntMath.halfUp(col("n"), col("t"), 1000L).as("obs_pm"),
            exp.as("benford_pm"))
          .withColumn("abs_dev_pm", abs(col("obs_pm") - col("benford_pm")))
          .orderBy("digit")
      },
      Some("""WITH o AS (SELECT CAST(substring(CAST(CAST(floor(o_totalprice)
        |      AS BIGINT) AS VARCHAR), 1, 1) AS INTEGER) AS digit
        |  FROM orders),
        |cnt AS (SELECT digit, CAST(count(*) AS BIGINT) AS n FROM o
        |  WHERE digit >= 1 GROUP BY digit),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM cnt)
        |SELECT digit, n,
        |  (2 * n * 1000 + t) // (2 * t) AS obs_pm,
        |  [301, 176, 125, 97, 79, 67, 58, 51, 46][digit] AS benford_pm,
        |  abs((2 * n * 1000 + t) // (2 * t)
        |    - [301, 176, 125, 97, 79, 67, 58, 51, 46][digit]) AS abs_dev_pm
        |FROM cnt, tot ORDER BY digit""".stripMargin),
      "Benford first-digit audit in exact per-mille integers (no log anywhere)"),

    // q134 — FUNCTIONAL-DEPENDENCY profiler: does LHS determine RHS?
    // The schema-discovery check (q96's profile tells you about single
    // columns; this is the cross-column structure): for each candidate
    // FD, the number of LHS values mapping to >1 distinct RHS (0 =
    // the FD holds). nation->region holds by construction;
    // partkey->suppkey is expected to fail — both results are the
    // point. Each check is a two-level agg (distinct-pair collapse,
    // then LHS rollup), map-side combined, nothing driver-side.
    Q("q134_fd_profile",
      (s, d) => {
        def fd(df: DataFrame, name: String, lhs: String, rhs: String) =
          df.select(col(lhs).as("l"), col(rhs).as("r")).distinct()
            .groupBy("l").agg(count(lit(1)).as("nd"))
            .agg(lit(name).as("fd"), count(lit(1)).as("n_lhs"),
              sum(when(col("nd") > 1, 1L).otherwise(0L)).as("n_violating"),
              max("nd").as("max_rhs_per_lhs"))
        fd(t(s, d, "nation"), "nation->region", "n_nationkey", "n_regionkey")
          .unionAll(fd(t(s, d, "lineitem"), "partkey->suppkey",
            "l_partkey", "l_suppkey"))
          .orderBy("fd")
      },
      Some("""WITH n1 AS (SELECT n_nationkey AS l, count(DISTINCT n_regionkey) AS nd
        |  FROM nation GROUP BY 1),
        |p1 AS (SELECT l_partkey AS l, count(DISTINCT l_suppkey) AS nd
        |  FROM lineitem GROUP BY 1)
        |SELECT 'nation->region' AS fd, CAST(count(*) AS BIGINT) AS n_lhs,
        |  CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating,
        |  CAST(max(nd) AS BIGINT) AS max_rhs_per_lhs FROM n1
        |UNION ALL
        |SELECT 'partkey->suppkey', CAST(count(*) AS BIGINT),
        |  CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT),
        |  CAST(max(nd) AS BIGINT) FROM p1
        |ORDER BY fd""".stripMargin),
      "functional-dependency violation profiler (two-level distinct aggs, 2-row output)"),

    // q151 — STAR-JOIN revenue rollup (the TPC-H Q5 shape): lineitem ⋈
    // orders ⋈ customer ⋈ nation ⋈ region with a region filter and a
    // date range, revenue per nation — the 5-table plan that exercises
    // join ORDERING: region/nation/customer broadcast in a chain (the
    // region filter prunes customers BEFORE the fact join), the only
    // shuffle join is orders ⋈ lineitem on the fact key. Revenue in
    // exact integer cents x basis-point discount.
    Q("q151_star_join_revenue",
      (s, d) => {
        val li = t(s, d, "lineitem").select(col("l_orderkey"),
          (round(col("l_extendedprice") * 100, 0).cast("long") *
            (lit(10000L) - round(col("l_discount") * 10000, 0).cast("long")))
            .as("rev_u"))
        val o = t(s, d, "orders")
          .filter(col("o_orderdate") >= "1995-01-01" &&
            col("o_orderdate") < "1996-01-01")
          .select(col("o_orderkey"), col("o_custkey"))
        val c = t(s, d, "customer").select(col("c_custkey"), col("c_nationkey"))
        val n = t(s, d, "nation").select(col("n_nationkey"), col("n_name"),
          col("n_regionkey"))
        val r = t(s, d, "region").filter(col("r_name") === "ASIA")
          .select(col("r_regionkey"))
        val dims = c.join(broadcast(n.join(broadcast(r),
            col("n_regionkey") === col("r_regionkey"))),
          col("c_nationkey") === col("n_nationkey"))
        o.join(broadcast(dims), col("o_custkey") === col("c_custkey"))
          .join(li, col("o_orderkey") === col("l_orderkey"))
          .groupBy("n_name")
          .agg((sum("rev_u") / 1000000.0).as("revenue"))
          .select(col("n_name").as("nation"), round(col("revenue"), 2)
            .as("revenue"))
          .orderBy(col("revenue").desc, col("nation"))
      },
      Some("""SELECT n_name AS nation,
        |  round(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
        |    * (10000 - CAST(round(l_discount * 10000, 0) AS BIGINT)))
        |    / 1000000.0, 2) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= '1995-01-01' AND o_orderdate < '1996-01-01'
        |GROUP BY n_name ORDER BY revenue DESC, nation""".stripMargin),
      "TPC-H Q5-shape star join: broadcast dim chain prunes before the one fact-fact shuffle"),

    // q152 — SCALAR-SUBQUERY surface: orders above their segment's
    // average price — the correlated-aggregate filter pattern, written
    // as SQL scalar subqueries on both engines. Spark decorrelates the
    // per-segment average into a broadcast aggregate join; the count
    // per segment + the threshold land in one 5-row result. Averages
    // compared in exact integer cents x count (n·cents vs sum) — no
    // float division in the predicate.
    Q("q152_scalar_subquery",
      (s, d) => {
        Tables(s, d, "orders").createOrReplaceTempView("v_o152")
        Tables(s, d, "customer").createOrReplaceTempView("v_c152")
        s.sql("""
          |WITH oc AS (SELECT o.o_orderkey, c.c_mktsegment AS segment,
          |    CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
          |  FROM v_o152 o JOIN v_c152 c ON o.o_custkey = c.c_custkey),
          |st AS (SELECT segment, CAST(count(*) AS BIGINT) AS n,
          |    CAST(sum(cents) AS BIGINT) AS total FROM oc GROUP BY segment)
          |SELECT oc.segment, CAST(count(*) AS BIGINT) AS n_above,
          |  CAST(max(oc.cents) AS BIGINT) AS max_cents
          |FROM oc JOIN st ON oc.segment = st.segment
          |WHERE oc.cents * st.n > st.total
          |GROUP BY oc.segment ORDER BY oc.segment""".stripMargin)
      },
      Some("""WITH oc AS (SELECT o.o_orderkey, c.c_mktsegment AS segment,
        |    CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
        |st AS (SELECT segment, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(cents) AS BIGINT) AS total FROM oc GROUP BY segment)
        |SELECT oc.segment, CAST(count(*) AS BIGINT) AS n_above,
        |  CAST(max(oc.cents) AS BIGINT) AS max_cents
        |FROM oc JOIN st ON oc.segment = st.segment
        |WHERE oc.cents * st.n > st.total
        |GROUP BY oc.segment ORDER BY oc.segment""".stripMargin),
      "above-segment-average filter via integer cross-multiplied aggregate join"),

    // q157 — JOIN-CARDINALITY estimator audit: the per-key histogram
    // product Σ_k (n_orders(k) · n_lineitem(k)) — the estimate a
    // cost-based optimizer with per-key stats would compute — checked
    // against the ACTUAL join row count in the same result. For an
    // equi-join these are provably equal (the audit is the proof, the
    // way q54/q63 audit sketches); with a coarser histogram the gap is
    // the estimation error, and this query is the harness that would
    // measure it. Two key aggs + one key-partitioned product sum; the
    // actual count reuses the q11 join shape.
    Q("q157_join_card_audit",
      (s, d) => {
        val oc = t(s, d, "orders").groupBy(col("o_orderkey").as("k"))
          .agg(count(lit(1)).as("n_o"))
        val lc = t(s, d, "lineitem").groupBy(col("l_orderkey").as("k"))
          .agg(count(lit(1)).as("n_l"))
        val est = oc.join(lc, "k")
          .agg(sum(col("n_o") * col("n_l")).as("estimated_rows"))
        val actual = t(s, d, "orders")
          .join(t(s, d, "lineitem"),
            col("o_orderkey") === col("l_orderkey"))
          .agg(count(lit(1)).as("actual_rows"))
        est.crossJoin(broadcast(actual))
          .select(col("estimated_rows"), col("actual_rows"),
            (col("estimated_rows") === col("actual_rows")).as("estimator_exact"))
      },
      Some("""WITH oc AS (SELECT o_orderkey AS k, CAST(count(*) AS BIGINT) AS n_o
        |  FROM orders GROUP BY 1),
        |lc AS (SELECT l_orderkey AS k, CAST(count(*) AS BIGINT) AS n_l
        |  FROM lineitem GROUP BY 1),
        |est AS (SELECT CAST(sum(n_o * n_l) AS BIGINT) AS estimated_rows
        |  FROM oc JOIN lc USING (k)),
        |act AS (SELECT CAST(count(*) AS BIGINT) AS actual_rows
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey)
        |SELECT estimated_rows, actual_rows,
        |  estimated_rows = actual_rows AS estimator_exact
        |FROM est, act""".stripMargin),
      "per-key histogram join-cardinality estimate audited against the actual join count"),

    // q158 — grouped MODE: the most frequent price POINT (exact cents)
    // per order priority, ties to the smallest value — the
    // most-common-value statistic q96's profile doesn't carry, via two
    // stacked aggs (value counts, then a max-struct fold per group: no
    // window, no sort). The count rides along as evidence.
    Q("q158_grouped_mode",
      (s, d) => {
        val vc = t(s, d, "orders")
          .select(col("o_orderpriority").as("g"),
            round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
          .groupBy("g", "cents").agg(count(lit(1)).as("n"))
        vc.groupBy("g")
          .agg(max(struct(col("n"), (-col("cents")).as("nc"))).as("best"))
          .select(col("g").as("o_orderpriority"),
            (-col("best.nc") / 100.0).as("mode_price"),
            col("best.n").as("n_occurrences"))
          .orderBy("o_orderpriority")
      },
      Some("""WITH vc AS (SELECT o_orderpriority AS g,
        |    CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM orders GROUP BY 1, 2)
        |SELECT g AS o_orderpriority, cents / 100.0 AS mode_price,
        |  n AS n_occurrences
        |FROM vc
        |QUALIFY row_number() OVER (PARTITION BY g ORDER BY n DESC, cents) = 1
        |ORDER BY o_orderpriority""".stripMargin),
      "grouped mode via stacked aggs + max-struct fold (no window over the value table)"),

    // q159 — SEASONALITY index: each calendar month's average order
    // price vs the global average, as an exact cross-multiplied ratio
    // in basis points (avg_m / avg_g = sum_m·n_g / (n_m·sum_g) —
    // 10000 = on-trend). Long bounds: sums are cents (~1e9 at sf0.1),
    // counts ~1e5 — products < 1e15, far inside int64; DECIMAL(38) is
    // the stated escalation past ~1e18. One month agg + broadcast
    // global row.
    Q("q159_seasonality_index",
      (s, d) => {
        import graft.functions.IntMath
        val o = t(s, d, "orders").select(
          month(col("o_orderdate")).as("mon"),
          round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
        val m = o.groupBy("mon")
          .agg(count(lit(1)).as("n_m"), sum("cents").as("sum_m"))
        val g = o.agg(count(lit(1)).as("n_g"), sum("cents").as("sum_g"))
        // the bp numerator sum_m·n_g·2·10^4 tops 1e20 at sf0.1 — past
        // int64, so the ratio runs in DECIMAL(38) (the documented
        // escalation; DuckDB's HUGEINT promotes automatically) and the
        // exact integer result casts back to long.
        m.crossJoin(broadcast(g))
          .select(col("mon"), col("n_m"),
            IntMath.halfUp(col("sum_m"), col("n_m"), 1L).as("avg_cents"),
            IntMath.halfUp(
              col("sum_m").cast("decimal(38,0)") * col("n_g"),
              col("n_m").cast("decimal(38,0)") * col("sum_g"), 10000L)
              .cast("long").as("season_bp"))
          .orderBy("mon")
      },
      Some("""WITH o AS (SELECT CAST(month(o_orderdate) AS INTEGER) AS mon,
        |    CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
        |  FROM orders),
        |m AS (SELECT mon, CAST(count(*) AS BIGINT) AS n_m,
        |    CAST(sum(cents) AS BIGINT) AS sum_m FROM o GROUP BY mon),
        |g AS (SELECT CAST(count(*) AS BIGINT) AS n_g,
        |    CAST(sum(cents) AS BIGINT) AS sum_g FROM o)
        |SELECT mon, n_m,
        |  (2 * sum_m * 1 + n_m) // (2 * n_m) AS avg_cents,
        |  CAST((2 * sum_m::HUGEINT * n_g * 10000 + n_m::HUGEINT * sum_g)
        |    // (2 * n_m::HUGEINT * sum_g) AS BIGINT) AS season_bp
        |FROM m, g ORDER BY mon""".stripMargin),
      "monthly seasonality index: cross-multiplied exact ratio vs global average"),

    // q164 — REFERENTIAL-INTEGRITY audit: orphan-foreign-key counts per
    // relationship (lineitem→orders, orders→customer, customer→nation)
    // — the constraint check a warehouse load gate runs, as LEFT ANTI
    // probes. Each anti-join is keyed on the FK (dims broadcast where
    // small); 3-row output.
    Q("q164_referential_integrity",
      (s, d) => {
        def orphans(name: String, fact: DataFrame, fk: String,
                    dim: DataFrame, pk: String) = {
          val o = fact.join(dim.select(col(pk)), fact(fk) === col(pk),
            "left_anti")
          fact.agg(lit(name).as("relationship"),
              count(lit(1)).as("n_fact_rows"))
            .crossJoin(broadcast(o.agg(count(lit(1)).as("n_orphans"))))
            .select(col("relationship"), col("n_fact_rows"), col("n_orphans"),
              (col("n_orphans") === 0).as("fk_valid"))
        }
        orphans("customer->nation", t(s, d, "customer"), "c_nationkey",
            t(s, d, "nation"), "n_nationkey")
          .unionAll(orphans("lineitem->orders", t(s, d, "lineitem"),
            "l_orderkey", t(s, d, "orders"), "o_orderkey"))
          .unionAll(orphans("orders->customer", t(s, d, "orders"),
            "o_custkey", t(s, d, "customer"), "c_custkey"))
          .orderBy("relationship")
      },
      Some("""SELECT 'customer->nation' AS relationship,
        |  CAST((SELECT count(*) FROM customer) AS BIGINT) AS n_fact_rows,
        |  CAST((SELECT count(*) FROM customer WHERE c_nationkey NOT IN
        |    (SELECT n_nationkey FROM nation)) AS BIGINT) AS n_orphans,
        |  (SELECT count(*) FROM customer WHERE c_nationkey NOT IN
        |    (SELECT n_nationkey FROM nation)) = 0 AS fk_valid
        |UNION ALL
        |SELECT 'lineitem->orders',
        |  CAST((SELECT count(*) FROM lineitem) AS BIGINT),
        |  CAST((SELECT count(*) FROM lineitem WHERE l_orderkey NOT IN
        |    (SELECT o_orderkey FROM orders)) AS BIGINT),
        |  (SELECT count(*) FROM lineitem WHERE l_orderkey NOT IN
        |    (SELECT o_orderkey FROM orders)) = 0
        |UNION ALL
        |SELECT 'orders->customer',
        |  CAST((SELECT count(*) FROM orders) AS BIGINT),
        |  CAST((SELECT count(*) FROM orders WHERE o_custkey NOT IN
        |    (SELECT c_custkey FROM customer)) AS BIGINT),
        |  (SELECT count(*) FROM orders WHERE o_custkey NOT IN
        |    (SELECT c_custkey FROM customer)) = 0
        |ORDER BY relationship""".stripMargin),
      "orphan-FK audit per relationship via left-anti probes (load-gate constraint check)"),

    // q166 — extended WINDOW surface: percent_rank, cume_dist, and
    // nth_value over the per-priority price order — the analytic
    // functions q12/q49 don't cover. percent_rank = (rank−1)/(n−1) and
    // cume_dist = peers≤/n are ratios of identical integers on both
    // engines (same doubles bit-for-bit); the 2nd-highest price per
    // group rides along via nth_value over the full frame. Output cut
    // to each priority's top-20 rows by the same unique order.
    Q("q166_window_surface",
      (s, d) => {
        val w = Window.partitionBy("o_orderpriority")
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        val wf = w.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)
        t(s, d, "orders")
          .select(col("o_orderpriority"), col("o_orderkey"),
            col("o_totalprice"))
          .withColumn("rn", row_number().over(w))
          .withColumn("pr", round(percent_rank().over(w), 6))
          .withColumn("cd", round(cume_dist().over(w), 6))
          .withColumn("second_highest", nth_value(col("o_totalprice"), 2)
            .over(wf))
          .filter(col("rn") <= 20)
          .orderBy("o_orderpriority", "rn")
      },
      Some("""SELECT o_orderpriority, o_orderkey, o_totalprice,
        |  CAST(rn AS INTEGER) AS rn, pr, cd, second_highest
        |FROM (SELECT o_orderpriority, o_orderkey, o_totalprice,
        |    row_number() OVER w AS rn,
        |    round(percent_rank() OVER w, 6) AS pr,
        |    round(cume_dist() OVER w, 6) AS cd,
        |    nth_value(o_totalprice, 2) OVER (w ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND UNBOUNDED FOLLOWING) AS second_highest
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_orderpriority
        |    ORDER BY o_totalprice DESC, o_orderkey))
        |WHERE rn <= 20 ORDER BY o_orderpriority, rn""".stripMargin),
      "percent_rank / cume_dist / nth_value analytic surface (identical integer ratios)")
  )
}
