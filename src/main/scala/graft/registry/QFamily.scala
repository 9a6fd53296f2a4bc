package graft
package registry

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._
import graft.operators.ChOps
import graft.sources.TableFunctions
import Support.{decimal, events, tbl, tblPar}
import TFamily.sqlCharFold

/** The q family: relational and ClickHouse-specific operators built
  * with the DataFrame API over the TPC-H tables (aggregation, joins,
  * windows, grouping sets, LIMIT BY, sampling, dictionaries, function
  * families, the CH type mapping).
  */
object QFamily {

  val entries: Seq[Entry] = Seq(
    // ===== relational operators over the TPC-H-ish testdata =====
    // scan → filter → hash agg (sum/avg/count) → sort  [TPC-H Q1 shape]
    Entry("q1_pricing_summary", (s, dir) =>
      tbl(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02").cast(TimestampType))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum("l_quantity").as("sum_qty"),
          sum(decimal(col("l_extendedprice"))).cast(DoubleType).as("sum_base_price"),
          sum(decimal(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 18, 4))
            .cast(DoubleType).as("sum_disc_price"),
          round(avg("l_quantity"), 6).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus"),
      """SELECT l_returnflag, l_linestatus,
        |  sum(l_quantity) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
        |  round(avg(l_quantity), 6) AS avg_qty,
        |  count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),

    // two joins (one broadcast dim) → agg → sort
    Entry("q2_revenue_by_nation", (s, dir) => {
      val orders = tbl(s, dir, "orders")
      val cust = tbl(s, dir, "customer")
      val nation = tbl(s, dir, "nation")
      orders.join(cust, col("o_custkey") === col("c_custkey"))
        .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(sum(decimal(col("o_totalprice"))).cast(DoubleType).as("revenue"),
          count(lit(1)).as("n_orders"))
        .orderBy("n_name")
    },
      """SELECT n_name, CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  count(*) AS n_orders
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin),

    // 3-way join → filtered agg → top-N with deterministic tie-break  [Q3 shape]
    Entry("q3_top_orders", (s, dir) => {
      val cust = tbl(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val orders = tbl(s, dir, "orders")
      // scan fan-out opt-in (r15): lineitem streams through the two
      // broadcast probes as ONE task on the single-row-group file; the
      // revenue aggregate is an exact Decimal(18,4) sum, so the spread
      // is value-identical (guide §2.5)
      val li = tblPar(s, dir, "lineitem", "l_orderkey")
      cust.join(orders, col("c_custkey") === col("o_custkey"))
        .join(li, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderkey"), col("o_orderdate").cast(DateType).as("o_date"))
        .agg(sum(decimal(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 18, 4))
          .cast(DoubleType).as("revenue"))
        .orderBy(desc("revenue"), col("o_orderkey"))
        .limit(10)
    },
      """SELECT o_orderkey, CAST(o_orderdate AS DATE) AS o_date,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY o_orderkey, CAST(o_orderdate AS DATE)
        |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin),

    // left-semi join (EXISTS)  [Q4 shape]
    Entry("q4_semi_join", (s, dir) => {
      val orders = tbl(s, dir, "orders")
      val big = tbl(s, dir, "lineitem").filter(col("l_quantity") > 45)
      orders.join(big, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
        .orderBy("o_orderpriority")
    },
      """SELECT o_orderpriority, count(*) AS n
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_quantity > 45)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),

    // left-anti join (NOT EXISTS)
    Entry("q5_anti_join", (s, dir) => {
      val cust = tbl(s, dir, "customer")
      val orders = tbl(s, dir, "orders")
      cust.join(orders, col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name").orderBy("c_custkey")
    },
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin),

    // highly selective scan-filter-agg; pushdown-friendly  [TPC-H Q6 shape]
    Entry("q6_forecast_revenue", (s, dir) =>
      tbl(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast(TimestampType) &&
          col("l_shipdate") < lit("1997-01-01").cast(TimestampType) &&
          col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg(sum(decimal(col("l_extendedprice") * col("l_discount"), 18, 4))
          .cast(DoubleType).as("revenue")),
      """SELECT CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin),

    // SELECT DISTINCT
    Entry("q7_distinct", (s, dir) =>
      tbl(s, dir, "lineitem").select("l_returnflag", "l_linestatus")
        .distinct().orderBy("l_returnflag", "l_linestatus"),
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),

    // UNION (distinct) of two sources
    Entry("q8_union", (s, dir) =>
      tbl(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
        .union(tbl(s, dir, "supplier").select(col("s_nationkey").as("nationkey")))
        .distinct().orderBy("nationkey"),
      """SELECT c_nationkey AS nationkey FROM customer
        |UNION
        |SELECT s_nationkey FROM supplier
        |ORDER BY nationkey""".stripMargin),

    // window: top-3 orders per customer (CH `LIMIT n BY` shape)
    Entry("q9_window_topn", (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(desc("o_totalprice"), col("o_orderkey"))
      tbl(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rn"))
        .orderBy("o_custkey", "rn")
    },
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) WHERE rn <= 3
        |ORDER BY o_custkey, rn""".stripMargin),

    // window: running sum with explicit ROWS frame
    Entry("q10_window_running", (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      tbl(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          sum(decimal(col("o_totalprice"))).over(w).cast(DoubleType).as("running_spend"))
        .orderBy("o_custkey", "o_orderkey")
    },
      """SELECT o_custkey, o_orderkey,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
        |    OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin),

    // GROUP BY ROLLUP (ClickHouseParser.py:9841-9867)
    Entry("q11_rollup", (s, dir) =>
      tbl(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(sum("l_quantity").as("sum_qty"), count(lit(1)).as("n"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first),
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, count(*) AS n
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin),

    // GROUP BY CUBE
    Entry("q12_cube", (s, dir) =>
      tbl(s, dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"),
          sum(decimal(col("o_totalprice"))).cast(DoubleType).as("total"))
        .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first),
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin),

    // GROUP BY GROUPING SETS (ClickHouseParser.py:9812-9838)
    Entry("q13_grouping_sets", (s, dir) =>
      tbl(s, dir, "lineitem")
        .groupingSets(
          Seq(Seq(col("l_returnflag"), col("l_linestatus")), Seq(col("l_returnflag")), Seq()),
          col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first),
      """SELECT l_returnflag, l_linestatus, count(*) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin),

    // WITH TOTALS (ClickHouseParser.py:9129-9137): groups + grand-total row
    Entry("q14_with_totals", (s, dir) =>
      ChOps.withTotals(tbl(s, dir, "orders"), Seq("o_orderstatus"),
          Seq(count(lit(1)).as("n"),
            sum(decimal(col("o_totalprice"))).cast(DoubleType).as("total")))
        .orderBy(col("o_orderstatus").asc_nulls_last),
      """SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY GROUPING SETS ((o_orderstatus), ())
        |ORDER BY o_orderstatus NULLS LAST""".stripMargin),

    // HAVING
    Entry("q15_having", (s, dir) =>
      tbl(s, dir, "orders").groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"))
        .filter(col("n_orders") >= 20)
        .orderBy("o_custkey"),
      """SELECT o_custkey, count(*) AS n_orders FROM orders
        |GROUP BY o_custkey HAVING count(*) >= 20 ORDER BY o_custkey""".stripMargin),

    // CH aggregate combinators (`countIf`/`sumIf`) as conditional aggs
    Entry("q16_conditional_agg", (s, dir) =>
      tbl(s, dir, "orders").groupBy("o_orderpriority")
        .agg(
          sum(when(col("o_orderstatus") === "F", 1).otherwise(0)).as("n_f"),
          sum(when(col("o_orderstatus") === "O", 1).otherwise(0)).as("n_o"),
          sum(when(col("o_orderstatus") === "F", decimal(col("o_totalprice")))
            .otherwise(lit(0).cast(DecimalType(18, 2)))).cast(DoubleType).as("total_f"))
        .orderBy("o_orderpriority"),
      """SELECT o_orderpriority,
        |  CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
        |  CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
        |  CAST(sum(CASE WHEN o_orderstatus = 'F'
        |           THEN CAST(o_totalprice AS DECIMAL(18,2))
        |           ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS total_f
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),

    // scalar subquery (ColumnExprSubquery, ClickHouseParser.py:14920-14939)
    Entry("q17_scalar_subquery", (s, dir) => {
      val p = tbl(s, dir, "part")
      val avgRow = p.agg(
        (sum(decimal(col("p_retailprice"))).cast(DoubleType) / count(lit(1))).as("a"))
      p.crossJoin(broadcast(avgRow))
        .filter(col("p_retailprice") > col("a"))
        .select("p_partkey", "p_name", "p_retailprice")
        .orderBy("p_partkey")
    },
      """SELECT p_partkey, p_name, p_retailprice FROM part
        |WHERE p_retailprice > (
        |  SELECT CAST(sum(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) / count(*)
        |  FROM part)
        |ORDER BY p_partkey""".stripMargin),

    // IN-subquery → left-semi join
    Entry("q18_in_subquery", (s, dir) => {
      val rich = tbl(s, dir, "customer").filter(col("c_acctbal") > 9000)
        .select("c_custkey")
      tbl(s, dir, "orders")
        .join(rich, col("o_custkey") === col("c_custkey"), "left_semi")
        .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
        .orderBy("o_orderstatus")
    },
      """SELECT o_orderstatus, count(*) AS n FROM orders
        |WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 9000)
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),

    // CROSS JOIN (JoinOpCross, ClickHouseParser.py:10855-10934)
    Entry("q19_cross_join", (s, dir) =>
      tbl(s, dir, "region").crossJoin(tbl(s, dir, "nation"))
        .select("r_name", "n_name").orderBy("r_name", "n_name"),
      """SELECT r_name, n_name FROM region CROSS JOIN nation
        |ORDER BY r_name, n_name""".stripMargin),

    // LIMIT n BY cols (limitByClause, ClickHouseParser.py:10153-10206)
    Entry("q20_limit_by", (s, dir) =>
      ChOps.limitBy(tbl(s, dir, "part"), Seq(col("p_brand")),
          Seq(desc("p_retailprice"), col("p_partkey")), 2)
        .select("p_brand", "p_partkey", "p_retailprice")
        .orderBy(col("p_brand"), desc("p_retailprice"), col("p_partkey")),
      """SELECT p_brand, p_partkey, p_retailprice FROM (
        |  SELECT p_brand, p_partkey, p_retailprice,
        |    row_number() OVER (PARTITION BY p_brand
        |                       ORDER BY p_retailprice DESC, p_partkey) AS rn
        |  FROM part) WHERE rn <= 2
        |ORDER BY p_brand, p_retailprice DESC, p_partkey""".stripMargin),

    // LIMIT n WITH TIES (ClickHouseParser.py:10223-10259) — distributed
    // form: per-partition top-n merge (TakeOrderedAndProject) + a pushed
    // cutoff filter; rank()<=n ⟺ value ≥ n-th largest, so the result is
    // identical to the global-window form without its single-partition
    // shuffle (ScaleDesignSpec pins the plan shape).
    Entry("q21_limit_ties", (s, dir) =>
      ChOps.distributedTopKWithTies(
          tbl(s, dir, "part").select("p_partkey", "p_retailprice"),
          col("p_retailprice"), 5)
        .orderBy(desc("p_retailprice"), col("p_partkey")),
      """SELECT p_partkey, p_retailprice FROM (
        |  SELECT p_partkey, p_retailprice,
        |    rank() OVER (ORDER BY p_retailprice DESC) AS rk
        |  FROM part) WHERE rk <= 5
        |ORDER BY p_retailprice DESC, p_partkey""".stripMargin),

    // SAMPLE k/m (sampleClause, ClickHouseParser.py:11016-11083)
    Entry("q22_sample", (s, dir) =>
      ChOps.sampleBuckets(tbl(s, dir, "lineitem"), col("l_orderkey"), 2, 10)
        .agg(count(lit(1)).as("n"), sum("l_quantity").as("sum_qty")),
      """SELECT count(*) AS n, sum(l_quantity) AS sum_qty FROM lineitem
        |WHERE l_orderkey % 10 >= 0 AND l_orderkey % 10 < 2""".stripMargin),

    // ORDER BY ... WITH FILL (ClickHouseParser.py:11317-11352)
    Entry("q23_with_fill", (s, dir) => {
      val daily = tbl(s, dir, "orders")
        .groupBy(col("o_orderdate").cast(DateType).as("d"))
        .agg(count(lit(1)).as("n"))
      ChOps.withFillDays(daily, "d", Map("n" -> lit(0L))).orderBy("d")
    },
      """WITH d AS (SELECT CAST(o_orderdate AS DATE) AS d, count(*) AS n
        |           FROM orders GROUP BY 1),
        |axis AS (SELECT CAST(unnest(generate_series(
        |  (SELECT min(d) FROM d), (SELECT max(d) FROM d), INTERVAL 1 DAY)) AS DATE) AS d)
        |SELECT axis.d AS d, coalesce(n, 0) AS n
        |FROM axis LEFT JOIN d USING (d) ORDER BY d""".stripMargin),

    // ASOF LEFT JOIN (JoinOpLeftRight ASOF, ClickHouseParser.py:10618-10645)
    Entry("q24_asof_join", (s, dir) => {
      val ev = events(s, dir).select("event_id", "user_id", "ts")
      val ord = tbl(s, dir, "orders")
        .groupBy(col("o_custkey").as("user_id"), col("o_orderdate"))
        .agg(max("o_orderkey").as("o_orderkey"))
      ChOps.asofJoinLeft(ev, ord, "user_id", "ts", "o_orderdate", Seq("o_orderkey"))
        .select("event_id", "o_orderkey").orderBy("event_id")
    },
      """WITH r AS (SELECT o_custkey AS user_id, o_orderdate,
        |                  max(o_orderkey) AS o_orderkey
        |           FROM orders GROUP BY 1, 2)
        |SELECT event_id, o_orderkey
        |FROM events ASOF LEFT JOIN r
        |  ON events.user_id = r.user_id AND r.o_orderdate <= events.ts
        |ORDER BY event_id""".stripMargin),

    // ANY LEFT JOIN (ANY modifier, ClickHouseParser.py:10574-10645)
    Entry("q25_any_join", (s, dir) => {
      val cust = tbl(s, dir, "customer").select("c_custkey", "c_name")
      val ord = tbl(s, dir, "orders").select(
        col("o_custkey").as("c_custkey"), col("o_orderkey"), col("o_orderdate"))
      ChOps.anyJoinLeft(cust, ord, Seq("c_custkey"),
          Seq(col("o_orderdate"), col("o_orderkey")))
        .select("c_custkey", "c_name", "o_orderkey")
        .orderBy("c_custkey")
    },
      """WITH one AS (
        |  SELECT o_custkey, o_orderkey,
        |    row_number() OVER (PARTITION BY o_custkey
        |                       ORDER BY o_orderdate, o_orderkey) AS rn
        |  FROM orders)
        |SELECT c_custkey, c_name, o_orderkey
        |FROM customer LEFT JOIN (SELECT o_custkey, o_orderkey FROM one WHERE rn = 1)
        |  ON c_custkey = o_custkey
        |ORDER BY c_custkey""".stripMargin),

    // date bucketing (toStartOfMonth-family → date_trunc)
    Entry("q26_monthly_revenue", (s, dir) =>
      tbl(s, dir, "orders")
        .groupBy(date_trunc("month", col("o_orderdate")).cast(DateType).as("month"))
        .agg(sum(decimal(col("o_totalprice"))).cast(DoubleType).as("revenue"),
          count(lit(1)).as("n"))
        .orderBy("month"),
      """SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  count(*) AS n
        |FROM orders GROUP BY 1 ORDER BY month""".stripMargin),

    // string functions (upper/substring/length — ColumnExprFunction surface)
    Entry("q27_string_funcs", (s, dir) =>
      tbl(s, dir, "part")
        .groupBy(upper(substring(col("p_type"), 1, 5)).as("prefix"))
        .agg(count(lit(1)).as("n"),
          min(length(col("p_name"))).as("min_name_len"),
          max(upper(col("p_brand"))).as("max_brand"))
        .orderBy("prefix"),
      """SELECT upper(substr(p_type, 1, 5)) AS prefix, count(*) AS n,
        |  min(length(p_name)) AS min_name_len, max(upper(p_brand)) AS max_brand
        |FROM part GROUP BY 1 ORDER BY prefix""".stripMargin),

    // ARRAY JOIN / unnest (arrayJoinClause, ClickHouseParser.py:9528-9596)
    Entry("q28_explode_tokens", (s, dir) =>
      tbl(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("tok"))
        .filter(length(col("tok")) > 0)
        .groupBy("tok").agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), col("tok")).limit(20),
      """SELECT tok, count(*) AS n FROM (
        |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        |WHERE length(tok) > 0
        |GROUP BY tok ORDER BY n DESC, tok LIMIT 20""".stripMargin),

    // higher-order functions: lambdas → transform/filter/aggregate
    // (columnLambdaExpr, ClickHouseParser.py:16465-16560)
    Entry("q29_higher_order", (s, dir) =>
      tbl(s, dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(sort_array(collect_list(col("l_quantity"))).as("qs"))
        .select(col("l_orderkey"),
          aggregate(col("qs"), lit(0.0), (acc, x) => acc + x * x).as("sumsq"),
          size(filter(col("qs"), _ > 30)).as("n_big"))
        .orderBy("l_orderkey"),
      """SELECT l_orderkey,
        |  list_sum(list_transform(qs, x -> x * x)) AS sumsq,
        |  CAST(len(list_filter(qs, x -> x > 30)) AS INTEGER) AS n_big
        |FROM (SELECT l_orderkey, list_sort(list(l_quantity)) AS qs
        |      FROM lineitem GROUP BY l_orderkey)
        |ORDER BY l_orderkey""".stripMargin),

    // uniq family: exact tier (CH uniqExact → count_distinct)
    Entry("q30_uniq_exact", (s, dir) =>
      tbl(s, dir, "lineitem").agg(
        countDistinct(col("l_orderkey")).as("u_orders"),
        countDistinct(col("l_partkey")).as("u_parts"),
        count(lit(1)).as("n")),
      """SELECT count(DISTINCT l_orderkey) AS u_orders,
        |  count(DISTINCT l_partkey) AS u_parts, count(*) AS n
        |FROM lineitem""".stripMargin),

    // uniq family: sketch tier. CH's uniq() contract is "a deterministic
    // approximate distinct count"; we satisfy it with the portable KMV
    // estimator (k minimum hash values over charFold) so the DuckDB oracle
    // can replay the exact estimate — hash-matchable, unlike HLL whose
    // register layout is engine-private. approx_count_distinct (the HLL
    // tier) stays covered by SketchSpec's relative-error bound.
    Entry("q30b_uniq_approx", (s, dir) =>
      tbl(s, dir, "lineitem").agg(
        round(graft.functions.KmvSketch.kmvDistinct(
          graft.functions.PortableHash.charFold(col("l_orderkey").cast(StringType)),
          256), 6).as("u_orders_approx"),
        round(graft.functions.KmvSketch.kmvDistinct(
          graft.functions.PortableHash.charFold(col("l_partkey").cast(StringType)),
          256), 6).as("u_parts_approx")),
      // KMV replay ×2 (see q42): distinct portable hashes, keep the k=256
      // smallest, estimate (k-1)·M/h_k — deterministic, so hash-matchable.
      s"""WITH h1 AS (SELECT DISTINCT ${sqlCharFold("CAST(l_orderkey AS VARCHAR)")} AS hv
         |  FROM lineitem),
         |k1 AS (SELECT hv FROM h1 ORDER BY hv LIMIT 256),
         |a1 AS (SELECT count(*) AS n, max(hv) AS hk FROM k1),
         |h2 AS (SELECT DISTINCT ${sqlCharFold("CAST(l_partkey AS VARCHAR)")} AS hv
         |  FROM lineitem),
         |k2 AS (SELECT hv FROM h2 ORDER BY hv LIMIT 256),
         |a2 AS (SELECT count(*) AS n, max(hv) AS hk FROM k2)
         |SELECT
         |  CASE WHEN a1.n < 256 THEN CAST(a1.n AS DOUBLE)
         |    ELSE round(255 * 2147483647.0 / a1.hk, 6) END AS u_orders_approx,
         |  CASE WHEN a2.n < 256 THEN CAST(a2.n AS DOUBLE)
         |    ELSE round(255 * 2147483647.0 / a2.hk, 6) END AS u_parts_approx
         |FROM a1, a2""".stripMargin),

    // quantiles (CH quantile/quantiles → percentile, linear interpolation)
    Entry("q31_quantiles", (s, dir) =>
      tbl(s, dir, "orders").groupBy("o_orderpriority")
        .agg(
          round(percentile(col("o_totalprice"), lit(0.25)), 6).as("p25"),
          round(percentile(col("o_totalprice"), lit(0.5)), 6).as("p50"),
          round(percentile(col("o_totalprice"), lit(0.75)), 6).as("p75"))
        .orderBy("o_orderpriority"),
      """SELECT o_orderpriority,
        |  round(quantile_cont(o_totalprice, 0.25), 6) AS p25,
        |  round(quantile_cont(o_totalprice, 0.5), 6) AS p50,
        |  round(quantile_cont(o_totalprice, 0.75), 6) AS p75
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),

    // argMax (CH argMax(x, y) → lexicographic max of struct — deterministic
    // even under value ties, unlike bare max_by)
    Entry("q32_argmax", (s, dir) =>
      tbl(s, dir, "customer").groupBy("c_nationkey")
        .agg(max(struct(col("c_acctbal"), col("c_custkey"))).as("m"))
        .select(col("c_nationkey"), col("m.c_acctbal").as("best_bal"),
          col("m.c_custkey").as("best_cust"))
        .orderBy("c_nationkey"),
      """WITH m AS (SELECT c_nationkey, max((c_acctbal, c_custkey)) AS mx
        |           FROM customer GROUP BY c_nationkey)
        |SELECT c_nationkey, mx[1] AS best_bal, mx[2] AS best_cust
        |FROM m ORDER BY c_nationkey""".stripMargin),

    // PREWHERE + WHERE: two chained filters AND-combined into one scan
    // predicate by Catalyst (reference semantics: prewhereClause
    // ClickHouseParser.py:9664-9708; both reach PushedFilters)
    Entry("q34_prewhere", (s, dir) =>
      tbl(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-01-01").cast(TimestampType))
        .filter(col("l_extendedprice") * (lit(1.0) - col("l_discount")) > 50000)
        .agg(count(lit(1)).as("n"), sum("l_quantity").as("sum_qty")),
      """SELECT count(*) AS n, sum(l_quantity) AS sum_qty FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_extendedprice * (1.0 - l_discount) > 50000""".stripMargin),

    // COLUMNS('regex') projection (ColumnsExprRegexp,
    // ClickHouseParser.py:16708-16729) → colRegex
    Entry("q35_colregex", (s, dir) => {
      val li = tbl(s, dir, "lineitem")
      li.select(li.colRegex("`l_.*key`"))
        .agg(sum("l_orderkey").as("s_ok"), sum("l_partkey").as("s_pk"),
          sum("l_suppkey").as("s_sk"))
    },
      """SELECT CAST(sum(l_orderkey) AS BIGINT) AS s_ok,
        |  CAST(sum(l_partkey) AS BIGINT) AS s_pk,
        |  CAST(sum(l_suppkey) AS BIGINT) AS s_sk
        |FROM lineitem""".stripMargin),

    // WITH FILL ... INTERPOLATE (ClickHouseParser.py:11317-11352,
    // 10048-10102): dense date axis + carry-forward interpolation.
    // Partition-and-stitch: per-month windows carry within the bucket, a
    // broadcast bucket summary (1 row/month) stitches across — no global
    // window over the axis (ScaleDesignSpec pins the plan shape).
    Entry("q36_fill_interpolate", (s, dir) => {
      val daily = tbl(s, dir, "orders")
        .filter(col("o_custkey") < 100) // sparse → real gaps to fill
        .groupBy(col("o_orderdate").cast(DateType).as("d"))
        .agg(sum(decimal(col("o_totalprice"))).cast(DoubleType).as("rev"))
      val axis = ChOps.withFillDays(daily, "d", Map.empty)
      ChOps.carryForwardFill(axis, "d", "rev", trunc(_, "month"), lit(0.0))
        .orderBy("d")
    },
      """WITH d AS (SELECT CAST(o_orderdate AS DATE) AS d,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
        |  FROM orders WHERE o_custkey < 100 GROUP BY 1),
        |axis AS (SELECT CAST(unnest(generate_series(
        |  (SELECT min(d) FROM d), (SELECT max(d) FROM d), INTERVAL 1 DAY)) AS DATE) AS d),
        |joined AS (SELECT axis.d AS d, rev FROM axis LEFT JOIN d USING (d))
        |SELECT d, coalesce(last_value(rev IGNORE NULLS)
        |    OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |  0.0) AS rev
        |FROM joined ORDER BY d""".stripMargin),

    // GROUP BY ALL (GroupByClauseAll, ClickHouseParser.py:9771-9788)
    Entry("q37_group_by_all", (s, dir) => {
      tbl(s, dir, "lineitem").createOrReplaceTempView("graft_li")
      s.sql(
        """SELECT l_returnflag, l_linestatus, count(*) AS n
          |FROM graft_li GROUP BY ALL
          |ORDER BY l_returnflag, l_linestatus""".stripMargin)
    },
      """SELECT l_returnflag, l_linestatus, count(*) AS n
        |FROM lineitem GROUP BY ALL
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),

    // INTERSECT / EXCEPT (beyond the CH grammar — Spark-native extension)
    Entry("q38_intersect", (s, dir) => {
      val o = tbl(s, dir, "orders")
      val y96 = o.filter(year(col("o_orderdate")) === 1996).select("o_custkey")
      val y99 = o.filter(year(col("o_orderdate")) === 1999).select("o_custkey")
      y96.intersect(y99).orderBy("o_custkey")
    },
      """SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1999
        |ORDER BY o_custkey""".stripMargin),

    Entry("q39_except", (s, dir) => {
      val o = tbl(s, dir, "orders")
      val y96 = o.filter(year(col("o_orderdate")) === 1996).select("o_custkey")
      val y99 = o.filter(year(col("o_orderdate")) === 1999).select("o_custkey")
      y96.except(y99).orderBy("o_custkey")
    },
      """SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1999
        |ORDER BY o_custkey""".stripMargin),

    // CH dictGet: broadcast dictionary lookup (no fact-side shuffle)
    Entry("q33_dict_lookup", (s, dir) =>
      ChOps.dictGet(
          tbl(s, dir, "customer").filter(col("c_custkey") < 100),
          tbl(s, dir, "nation"),
          "c_nationkey", "n_nationkey", Map("n_name" -> "nation"))
        .select("c_custkey", "c_name", "nation")
        .orderBy("c_custkey"),
      """SELECT c_custkey, c_name, n_name AS nation
        |FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey
        |WHERE c_custkey < 100 ORDER BY c_custkey""".stripMargin),

    // ILIKE / LIKE / NOT LIKE predicate family (ColumnExprPrecedence3)
    Entry("q40_like_family", (s, dir) =>
      tbl(s, dir, "part").agg(
        sum(when(col("p_type").like("%BRASS%"), 1).otherwise(0)).as("n_like"),
        sum(when(col("p_type").ilike("%brass%"), 1).otherwise(0)).as("n_ilike"),
        sum(when(!col("p_type").like("%BRASS%"), 1).otherwise(0)).as("n_notlike")),
      """SELECT
        |  CAST(sum(CASE WHEN p_type LIKE '%BRASS%' THEN 1 ELSE 0 END) AS BIGINT) AS n_like,
        |  CAST(sum(CASE WHEN p_type ILIKE '%brass%' THEN 1 ELSE 0 END) AS BIGINT) AS n_ilike,
        |  CAST(sum(CASE WHEN p_type NOT LIKE '%BRASS%' THEN 1 ELSE 0 END) AS BIGINT) AS n_notlike
        |FROM part""".stripMargin),

    // KMV distinct sketch: custom typed Aggregator (uniq-family middle tier)
    Entry("q42_kmv_distinct", (s, dir) =>
      tbl(s, dir, "lineitem").agg(
        round(graft.functions.KmvSketch.kmvDistinct(
          graft.functions.PortableHash.charFold(col("l_partkey").cast(StringType)),
          256), 6).as("est")),
      s"""WITH h AS (SELECT DISTINCT ${sqlCharFold("CAST(l_partkey AS VARCHAR)")} AS hv
         |  FROM lineitem),
         |k AS (SELECT hv FROM h ORDER BY hv LIMIT 256),
         |a AS (SELECT count(*) AS n, max(hv) AS hk FROM k)
         |SELECT CASE WHEN n < 256 THEN CAST(n AS DOUBLE)
         |  ELSE round(255 * 2147483647.0 / hk, 6) END AS est FROM a""".stripMargin),

    // correlated scalar subquery -> Catalyst decorrelation  [TPC-H Q17 shape]
    Entry("q43_correlated", (s, dir) => {
      tbl(s, dir, "lineitem").createOrReplaceTempView("graft_li43")
      s.sql(
        """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
          |  AS total
          |FROM graft_li43 l1
          |WHERE l_quantity < (SELECT 0.5 * avg(l_quantity) FROM graft_li43 l2
          |                    WHERE l2.l_partkey = l1.l_partkey)""".stripMargin)
    },
      """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |  AS total
        |FROM lineitem l1
        |WHERE l_quantity < (SELECT 0.5 * avg(l_quantity) FROM lineitem l2
        |                    WHERE l2.l_partkey = l1.l_partkey)""".stripMargin),

    // null-handling scalar functions
    Entry("q45_null_funcs", (s, dir) =>
      tbl(s, dir, "orders")
        .selectExpr("nullif(o_orderstatus, 'O') AS s",
          "coalesce(nullif(o_orderstatus, 'F'), 'fallback') AS c")
        .agg(count(col("s")).as("n_not_o"),
          sum(when(col("c") === "fallback", 1).otherwise(0)).cast(LongType)
            .as("n_fell_back"),
          count(lit(1)).as("n")),
      """SELECT count(nullif(o_orderstatus, 'O')) AS n_not_o,
        |  CAST(sum(CASE WHEN coalesce(nullif(o_orderstatus, 'F'), 'fallback')
        |                     = 'fallback' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_fell_back,
        |  count(*) AS n
        |FROM orders""".stripMargin),

    // approximate percentile: deterministic hash-sample tier. A ~10%
    // sample selected by portable hash (charFold % 10 == 0 — the same
    // rows in every engine) + exact interpolated quantile over the
    // sample. Unlike t-digest/GK sketches the estimate is reproducible
    // bit-for-bit in DuckDB, so this rides the hash gate;
    // percentile_approx (the GK tier) stays covered by SketchSpec.
    Entry("q31b_quantiles_approx", (s, dir) =>
      tbl(s, dir, "orders")
        .filter(pmod(graft.functions.PortableHash.charFold(
          col("o_orderkey").cast(StringType)), lit(10L)) === 0)
        .agg(round(percentile(col("o_totalprice"), lit(0.5)), 6).as("p50_approx")),
      // deterministic hash-sample median: same rows selected in both engines
      s"""SELECT round(quantile_cont(o_totalprice, 0.5), 6) AS p50_approx
         |FROM orders
         |WHERE ${sqlCharFold("CAST(o_orderkey AS VARCHAR)")} % 10 = 0""".stripMargin),

    // RANGE frame on a numeric (epoch) ordering: 30-day trailing spend
    Entry("q46_range_frame", (s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate").cast(TimestampType).cast(DoubleType))
        .rangeBetween(-2592000, 0)
      tbl(s, dir, "orders").filter(col("o_custkey") < 50)
        .select(col("o_custkey"), col("o_orderkey"),
          sum(decimal(col("o_totalprice"))).over(w).cast(DoubleType)
            .as("trailing_30d"))
        .orderBy("o_custkey", "o_orderkey")
    },
      """SELECT o_custkey, o_orderkey,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |    PARTITION BY o_custkey ORDER BY epoch(o_orderdate)
        |    RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    AS trailing_30d
        |FROM orders WHERE o_custkey < 50
        |ORDER BY o_custkey, o_orderkey""".stripMargin),

    // lag/lead navigation: days between consecutive orders
    Entry("q47_lag_lead", (s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      tbl(s, dir, "orders").filter(col("o_custkey") < 50)
        .select(col("o_custkey"), col("o_orderkey"),
          datediff(col("o_orderdate").cast(DateType),
            lag(col("o_orderdate"), 1).over(w).cast(DateType)).as("gap_days"),
          datediff(lead(col("o_orderdate"), 1).over(w).cast(DateType),
            col("o_orderdate").cast(DateType)).as("next_gap_days"))
        .orderBy("o_custkey", "o_orderkey")
    },
      """SELECT o_custkey, o_orderkey,
        |  CAST(datediff('day', CAST(lag(o_orderdate) OVER w AS DATE),
        |    CAST(o_orderdate AS DATE)) AS INTEGER) AS gap_days,
        |  CAST(datediff('day', CAST(o_orderdate AS DATE),
        |    CAST(lead(o_orderdate) OVER w AS DATE)) AS INTEGER) AS next_gap_days
        |FROM orders WHERE o_custkey < 50
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin),

    // first/last/nth value over an explicit frame
    Entry("q48_value_nav", (s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      tbl(s, dir, "orders").filter(col("o_custkey") < 50)
        .select(col("o_custkey"), col("o_orderkey"),
          first(col("o_orderkey")).over(w).as("first_ok"),
          last(col("o_orderkey")).over(w).as("last_ok"),
          nth_value(col("o_orderkey"), 2).over(w).as("second_ok"))
        .orderBy("o_custkey", "o_orderkey")
    },
      """SELECT o_custkey, o_orderkey,
        |  first_value(o_orderkey) OVER w AS first_ok,
        |  last_value(o_orderkey) OVER w AS last_ok,
        |  nth_value(o_orderkey, 2) OVER w AS second_ok
        |FROM orders WHERE o_custkey < 50
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY o_custkey, o_orderkey""".stripMargin),

    // ntile bucketing
    Entry("q49_ntile", (s, dir) => {
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      tbl(s, dir, "orders")
        .select(col("o_orderpriority"), col("o_orderkey"),
          ntile(4).over(w).as("quartile"))
        .orderBy("o_orderpriority", "o_orderkey")
    },
      """SELECT o_orderpriority, o_orderkey,
        |  ntile(4) OVER (PARTITION BY o_orderpriority
        |                 ORDER BY o_totalprice, o_orderkey) AS quartile
        |FROM orders ORDER BY o_orderpriority, o_orderkey""".stripMargin),

    // PIVOT: status x priority matrix (CH would use sumIf columns)
    Entry("q53_pivot", (s, dir) =>
      tbl(s, dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .select(col("o_orderpriority"),
          coalesce(col("F"), lit(0L)).as("f"),
          coalesce(col("O"), lit(0L)).as("o"),
          coalesce(col("P"), lit(0L)).as("p"))
        .orderBy("o_orderpriority"),
      """SELECT o_orderpriority,
        |  CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS f,
        |  CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS o,
        |  CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS p
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),

    // UNPIVOT / melt: wide measures -> long (metric, value) pairs
    Entry("q54_unpivot", (s, dir) =>
      tbl(s, dir, "lineitem").filter(col("l_orderkey") < 100)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_discount", "l_tax")
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_discount"), col("l_tax")),
          "metric", "value")
        .orderBy("l_orderkey", "l_linenumber", "metric"),
      """SELECT l_orderkey, l_linenumber, metric, value FROM (
        |  SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric,
        |         l_quantity AS value FROM lineitem
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem)
        |WHERE l_orderkey < 100
        |ORDER BY l_orderkey, l_linenumber, metric""".stripMargin),

    // array function family: sort/reverse/contains/slice over built arrays
    Entry("q51_array_funcs", (s, dir) =>
      tbl(s, dir, "lineitem").filter(col("l_orderkey") < 1000)
        .groupBy("l_orderkey")
        .agg(sort_array(collect_list(col("l_linenumber"))).as("lns"))
        .select(col("l_orderkey"),
          reverse(col("lns")).as("rev"),
          array_contains(col("lns"), 3).as("has3"),
          slice(col("lns"), 1, 2).as("first2"),
          size(col("lns")).as("n"))
        .select(col("l_orderkey"),
          concat_ws(",", col("rev")).as("rev_s"),
          col("has3"),
          concat_ws(",", col("first2")).as("first2_s"),
          col("n"))
        .orderBy("l_orderkey"),
      """SELECT l_orderkey,
        |  array_to_string(list_reverse(list_sort(list(l_linenumber))), ',') AS rev_s,
        |  list_contains(list_sort(list(l_linenumber)), 3) AS has3,
        |  array_to_string(list_sort(list(l_linenumber))[1:2], ',') AS first2_s,
        |  CAST(len(list(l_linenumber)) AS INTEGER) AS n
        |FROM lineitem WHERE l_orderkey < 1000
        |GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin),

    // tuple construction + element access (ColumnExprTuple/TupleAccess,
    // ClickHouseParser.py:15285-15304, 15418-15443)
    Entry("q55_tuple_access", (s, dir) =>
      tbl(s, dir, "orders").filter(col("o_orderkey") < 100)
        .select(struct(col("o_orderkey").as("k"),
          col("o_totalprice").as("v")).as("t"))
        .select(col("t.k").as("k"), col("t.v").as("v"))
        .orderBy("k"),
      """SELECT o_orderkey AS k, o_totalprice AS v FROM orders
        |WHERE o_orderkey < 100 ORDER BY k""".stripMargin),

    // valued CASE (CASE x WHEN v THEN ...) + searched CASE
    Entry("q56_case_forms", (s, dir) =>
      tbl(s, dir, "orders")
        .select(
          when(col("o_orderstatus") === "F", "done")
            .when(col("o_orderstatus") === "O", "open")
            .otherwise("other").as("valued"),
          when(col("o_totalprice") > 300000, "big").otherwise("small")
            .as("searched"))
        .groupBy("valued", "searched").agg(count(lit(1)).as("n"))
        .orderBy("valued", "searched"),
      """SELECT CASE o_orderstatus WHEN 'F' THEN 'done' WHEN 'O' THEN 'open'
        |            ELSE 'other' END AS valued,
        |  CASE WHEN o_totalprice > 300000 THEN 'big' ELSE 'small' END AS searched,
        |  count(*) AS n
        |FROM orders GROUP BY 1, 2 ORDER BY valued, searched""".stripMargin),

    // INTERVAL arithmetic (ColumnExprInterval, ClickHouseParser.py:15177-15197)
    Entry("q57_interval_arith", (s, dir) =>
      tbl(s, dir, "orders").filter(col("o_orderkey") < 100)
        .select(col("o_orderkey"),
          add_months(col("o_orderdate").cast(DateType), 2).as("plus_2m"),
          date_add(col("o_orderdate").cast(DateType), 90).as("plus_90d"),
          (col("o_orderdate") + expr("INTERVAL 1 HOUR")).cast(TimestampType)
            .as("plus_1h"))
        .orderBy("o_orderkey"),
      """SELECT o_orderkey,
        |  CAST(CAST(o_orderdate AS DATE) + INTERVAL 2 MONTH AS DATE) AS plus_2m,
        |  CAST(CAST(o_orderdate AS DATE) + INTERVAL 90 DAY AS DATE) AS plus_90d,
        |  o_orderdate + INTERVAL 1 HOUR AS plus_1h
        |FROM orders WHERE o_orderkey < 100 ORDER BY o_orderkey""".stripMargin),

    // regex predicate (CH match() / LIKE-regex family)
    Entry("q50_regex_match", (s, dir) =>
      tbl(s, dir, "part").agg(
        sum(when(col("p_type").rlike("^ECONOMY"), 1).otherwise(0)).as("n_economy"),
        sum(when(col("p_type").rlike("(BRASS|STEEL)$"), 1).otherwise(0))
          .as("n_metal_suffix")),
      """SELECT
        |  CAST(sum(CASE WHEN regexp_matches(p_type, '^ECONOMY') THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_economy,
        |  CAST(sum(CASE WHEN regexp_matches(p_type, '(BRASS|STEEL)$') THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_metal_suffix
        |FROM part""".stripMargin),

    // numbers(n) table-function source (tableFunctionExpr,
    // ClickHouseParser.py:17027-17087) → spark.range: generation itself is
    // distributed, nothing materializes on the driver.
    Entry("q58_numbers_source", (s, _) =>
      TableFunctions.numbers(s, 100L)
        .select(col("number"), (col("number") * 2).as("dbl"),
          pmod(col("number"), lit(7L)).as("m"))
        .orderBy("number"),
      """SELECT number, number * 2 AS dbl, number % 7 AS m
        |FROM (SELECT range AS number FROM range(100))
        |ORDER BY number""".stripMargin),

    // ORDER BY ... WITH FILL STEP 3 on a NUMERIC axis
    // (fillStep grammar, ClickHouseParser.py:11317-11352) — the dense axis
    // is sequence()+explode, distributed, never a driver-side range.
    Entry("q59_fill_step", (s, dir) => {
      val d = tbl(s, dir, "lineitem")
        .filter(col("l_partkey") < 3 && col("l_linenumber") >= 6)
        .groupBy((lit(3) * floor(col("l_quantity") / 3)).cast(LongType).as("qb"))
        .agg(count(lit(1)).as("n"))
      ChOps.withFillStep(d, "qb", lit(3L), Map("n" -> lit(0L))).orderBy("qb")
    },
      """WITH d AS (SELECT CAST(3 * floor(l_quantity / 3) AS BIGINT) AS qb,
        |    count(*) AS n
        |  FROM lineitem WHERE l_partkey < 3 AND l_linenumber >= 6 GROUP BY 1),
        |axis AS (SELECT gs AS qb FROM generate_series(0, 200, 3) t(gs)
        |  WHERE gs BETWEEN (SELECT min(qb) FROM d) AND (SELECT max(qb) FROM d))
        |SELECT axis.qb AS qb, coalesce(n, CAST(0 AS BIGINT)) AS n
        |FROM axis LEFT JOIN d USING (qb) ORDER BY qb""".stripMargin),

    // ORDER BY expr COLLATE 'ci' (ClickHouseParser.py:11307-11314): Spark 4
    // native string collation changes the comparator, not the value; raw
    // binary tie-break keeps the order total.
    Entry("q60_collate", (s, dir) =>
      tbl(s, dir, "nation")
        .select(when(pmod(col("n_nationkey"), lit(2)) === 0, lower(col("n_name")))
          .otherwise(col("n_name")).as("name_mixed"))
        .orderBy(ChOps.collateKey(col("name_mixed"), "ci"), col("name_mixed")),
      """SELECT name_mixed FROM (
        |  SELECT CASE WHEN n_nationkey % 2 = 0 THEN lower(n_name) ELSE n_name END
        |    AS name_mixed FROM nation)
        |ORDER BY lower(name_mixed), name_mixed""".stripMargin),

    // SELECT ... FROM t FINAL (ReplacingMergeTree read-time collapse,
    // FINAL modifier ClickHouseParser.py:12756): latest version per key —
    // here "version" = l_linenumber, key = l_orderkey, so FINAL yields each
    // order's newest line. One partial-aggregable shuffle, no window.
    Entry("q62_final", (s, dir) =>
      ChOps.selectFinal(
          tbl(s, dir, "lineitem")
            .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"),
          keys = Seq("l_orderkey"), versionCol = "l_linenumber")
        .orderBy("l_orderkey"),
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM (SELECT *, row_number() OVER (PARTITION BY l_orderkey
        |        ORDER BY l_linenumber DESC, l_quantity DESC, l_extendedprice DESC)
        |        AS rn FROM lineitem)
        |WHERE rn = 1 ORDER BY l_orderkey""".stripMargin),

    // topK(k)(col) — exact tier of CH's frequent-items aggregate: partial
    // count + TakeOrderedAndProject; the count shrinks to |distinct| rows
    // map-side, then k·partitions rows merge on the driver.
    Entry("q63_topk_freq", (s, dir) =>
      tbl(s, dir, "part")
        .groupBy("p_type").agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), col("p_type")).limit(5),
      """SELECT p_type, count(*) AS n FROM part
        |GROUP BY p_type ORDER BY n DESC, p_type LIMIT 5""".stripMargin),

    // avgWeighted(x, w): decimal-internal sums (order-independent), double
    // out — a single partial-aggregable pass.
    Entry("q64_avg_weighted", (s, dir) =>
      tbl(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg((sum(decimal(col("l_extendedprice") * col("l_quantity"), 28, 4))
                .cast(DoubleType) /
              sum(decimal(col("l_quantity"), 28, 4)).cast(DoubleType))
          .as("w_avg"))
        .orderBy("l_returnflag"),
      """SELECT l_returnflag,
        |  CAST(sum(CAST(l_extendedprice * l_quantity AS DECIMAL(28,4))) AS DOUBLE) /
        |  CAST(sum(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE) AS w_avg
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    // ARRAY JOIN with position (arrayEnumerate / posexplode)
    Entry("q65_array_join_pos", (s, dir) =>
      tbl(s, dir, "lineitem")
        .filter(col("l_orderkey") < 200)
        .groupBy("l_orderkey")
        .agg(sort_array(collect_list(col("l_linenumber"))).as("lines"))
        .select(col("l_orderkey"), posexplode(col("lines")))
        .select(col("l_orderkey"), col("pos").cast(LongType).as("pos"),
          col("col").as("ln"))
        .orderBy("l_orderkey", "pos"),
      """WITH lines AS (SELECT l_orderkey,
        |    list_sort(list(l_linenumber)) AS ls
        |  FROM lineitem WHERE l_orderkey < 200 GROUP BY l_orderkey)
        |SELECT l_orderkey, CAST(i AS BIGINT) AS pos, ls[i + 1] AS ln
        |FROM lines, range(32) r(i) WHERE i < len(ls)
        |ORDER BY l_orderkey, pos""".stripMargin),

    // JSON extraction family: string + typed paths over the props column
    Entry("q66_json_funcs", (s, dir) =>
      events(s, dir)
        .filter(col("event_id") < 200)
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").as("k_str"),
          get_json_object(col("props"), "$.k").cast(LongType).as("k_int"),
          get_json_object(col("props"), "$.missing").as("absent"))
        .orderBy("event_id"),
      """SELECT event_id,
        |  json_extract_string(props, '$.k') AS k_str,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_int,
        |  json_extract_string(props, '$.missing') AS absent
        |FROM events WHERE event_id < 200 ORDER BY event_id""".stripMargin),

    // URL function family (domain / path / extractURLParameter): URLs
    // synthesized deterministically from part attributes, parsed with the
    // codegen'd parse_url — no UDF.
    Entry("q67_url_funcs", (s, dir) =>
      tbl(s, dir, "part")
        .filter(col("p_partkey") < 300)
        .select(col("p_partkey"),
          concat(lit("https://"),
            regexp_replace(lower(col("p_brand")), "#", "-"), lit(".example.com/"),
            regexp_replace(lower(col("p_type")), " ", "/"),
            lit("?q="), col("p_partkey")).as("url"))
        .select(col("p_partkey"),
          parse_url(col("url"), lit("HOST")).as("host"),
          parse_url(col("url"), lit("PATH")).as("path"),
          parse_url(col("url"), lit("QUERY"), lit("q")).as("q"))
        .orderBy("p_partkey"),
      """WITH u AS (SELECT p_partkey,
        |    'https://' || replace(lower(p_brand), '#', '-') || '.example.com/' ||
        |    replace(lower(p_type), ' ', '/') || '?q=' || p_partkey AS url
        |  FROM part WHERE p_partkey < 300)
        |SELECT p_partkey,
        |  split_part(split_part(url, '//', 2), '/', 1) AS host,
        |  regexp_extract(url, '//[^/]+(/[^?]*)', 1) AS path,
        |  regexp_extract(url, 'q=([0-9]+)', 1) AS q
        |FROM u ORDER BY p_partkey""".stripMargin),

    // FULL [OUTER] JOIN (JoinOpFull, ClickHouseParser.py:10574-10593):
    // customers missing from one side and per-customer order rollups from
    // the other, so BOTH null sides are exercised; the full join shuffles
    // each side once on the key, then a tiny 3-row aggregate.
    Entry("q68_full_join", (s, dir) => {
      val c = tbl(s, dir, "customer").filter(col("c_custkey") % 3 =!= 0)
        .select("c_custkey")
      val o = tbl(s, dir, "orders").filter(col("o_custkey") % 4 =!= 1)
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"),
          sum(decimal(col("o_totalprice"), 28, 2)).as("spend"))
      c.join(o, c("c_custkey") === o("o_custkey"), "full_outer")
        .select(
          when(col("c_custkey").isNull, lit("order_only"))
            .when(col("o_custkey").isNull, lit("customer_only"))
            .otherwise(lit("both")).as("side"),
          col("n_orders"), col("spend"))
        .groupBy("side")
        .agg(count(lit(1)).as("n"),
          coalesce(sum(col("n_orders")), lit(0L)).as("orders"),
          coalesce(sum(col("spend")).cast(DoubleType), lit(0.0)).as("spend"))
        .orderBy("side")
    },
      """WITH c AS (SELECT c_custkey FROM customer WHERE c_custkey % 3 <> 0),
        |o AS (SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
        |    sum(CAST(o_totalprice AS DECIMAL(28,2))) AS spend
        |  FROM orders WHERE o_custkey % 4 <> 1 GROUP BY o_custkey)
        |SELECT CASE WHEN c_custkey IS NULL THEN 'order_only'
        |            WHEN o_custkey IS NULL THEN 'customer_only'
        |            ELSE 'both' END AS side,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(coalesce(sum(n_orders), 0) AS BIGINT) AS orders,
        |  coalesce(CAST(sum(spend) AS DOUBLE), 0.0) AS spend
        |FROM c FULL JOIN o ON c_custkey = o_custkey
        |GROUP BY 1 ORDER BY side""".stripMargin),

    // RIGHT SEMI / RIGHT ANTI / RIGHT OUTER (JoinOpLeftRight,
    // ClickHouseParser.py:10618-10645) via the side-swap rewrite; the
    // right-outer null-probe branch re-derives the anti set independently.
    Entry("q69_right_semi_anti", (s, dir) => {
      val o = tbl(s, dir, "orders").filter(col("o_totalprice") > 150000.0)
      val c = tbl(s, dir, "customer")
      val cond = o("o_custkey") === c("c_custkey")
      val semi = ChOps.rightSemiJoin(o, c, cond).withColumn("kind", lit("semi"))
      val anti = ChOps.rightAntiJoin(o, c, cond).withColumn("kind", lit("anti"))
      val outer = o.join(c, cond, "right_outer")
        .filter(col("o_orderkey").isNull)
        .withColumn("kind", lit("outer_unmatched"))
      Seq(semi, anti, outer)
        .map(_.select(col("c_custkey"), col("kind")))
        .reduce(_ unionByName _)
        .groupBy("kind")
        .agg(count(lit(1)).as("n"),
          min("c_custkey").as("lo"), max("c_custkey").as("hi"))
        .orderBy("kind")
    },
      """WITH big AS (SELECT o_custkey, o_orderkey FROM orders
        |  WHERE o_totalprice > 150000.0),
        |matched AS (SELECT c_custkey, 'semi' AS kind FROM customer c
        |  WHERE EXISTS (SELECT 1 FROM big b WHERE b.o_custkey = c.c_custkey)),
        |unmatched AS (SELECT c_custkey, 'anti' AS kind FROM customer c
        |  WHERE NOT EXISTS (SELECT 1 FROM big b WHERE b.o_custkey = c.c_custkey)),
        |outerun AS (SELECT c_custkey, 'outer_unmatched' AS kind
        |  FROM big b RIGHT JOIN customer c ON b.o_custkey = c.c_custkey
        |  WHERE b.o_orderkey IS NULL)
        |SELECT kind, CAST(count(*) AS BIGINT) AS n,
        |  min(c_custkey) AS lo, max(c_custkey) AS hi
        |FROM (SELECT * FROM matched UNION ALL SELECT * FROM unmatched
        |      UNION ALL SELECT * FROM outerun)
        |GROUP BY kind ORDER BY kind""".stripMargin),

    // LIMIT n OFFSET m (limitExpr, ClickHouseParser.py:11077-11139, OFFSET
    // at 11094; comma form LIMIT m, n is the same helper) on a
    // deterministic total order.
    Entry("q70_limit_offset", (s, dir) =>
      ChOps.limitOffset(
        tbl(s, dir, "orders").select("o_orderkey", "o_totalprice")
          .orderBy("o_orderkey"),
        offset = 100, n = 10),
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_orderkey LIMIT 10 OFFSET 100""".stripMargin),

    // LIMIT n WITH TIES on a COMPOUND ordering (limitExpr WITH TIES,
    // ClickHouseParser.py:10223-10259): the distributed cutoff-tuple form —
    // no global window, the table never shuffles (plan pinned in
    // ScaleDesignSpec).
    Entry("q71_ties_compound", (s, dir) =>
      ChOps.distributedTopKWithTiesCompound(
          tbl(s, dir, "part").select("p_partkey", "p_brand", "p_retailprice"),
          Seq(col("p_retailprice") -> true, col("p_brand") -> false), 5)
        .orderBy(desc("p_retailprice"), col("p_brand"), col("p_partkey")),
      """SELECT p_partkey, p_brand, p_retailprice FROM (
        |  SELECT p_partkey, p_brand, p_retailprice,
        |    rank() OVER (ORDER BY p_retailprice DESC, p_brand) AS rk
        |  FROM part) WHERE rk <= 5
        |ORDER BY p_retailprice DESC, p_brand, p_partkey""".stripMargin),

    // FULL ANY JOIN (JoinOpFull + ANY strictness): one row per key per
    // side (deterministic pick), then full outer — CH's ANY-strictness
    // contract on both null sides.
    Entry("q73_full_any", (s, dir) => {
      val o = tbl(s, dir, "orders").filter(col("o_custkey") % 4 === 1)
        .select(col("o_custkey").as("custkey"), col("o_orderkey"))
      val c = tbl(s, dir, "customer").filter(col("c_custkey") % 3 === 1)
        .select(col("c_custkey").as("custkey"), col("c_acctbal"))
      ChOps.fullAnyJoin(o, c, Seq("custkey"),
          pickLeft = Seq(col("o_orderkey")), pickRight = Seq(col("c_acctbal")))
        .orderBy("custkey")
    },
      """WITH o1 AS (SELECT custkey, o_orderkey FROM (
        |    SELECT o_custkey AS custkey, o_orderkey,
        |      row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS rn
        |    FROM orders WHERE o_custkey % 4 = 1) WHERE rn = 1),
        |c1 AS (SELECT custkey, c_acctbal FROM (
        |    SELECT c_custkey AS custkey, c_acctbal,
        |      row_number() OVER (PARTITION BY c_custkey ORDER BY c_acctbal) AS rn
        |    FROM customer WHERE c_custkey % 3 = 1) WHERE rn = 1)
        |SELECT coalesce(o1.custkey, c1.custkey) AS custkey, o_orderkey, c_acctbal
        |FROM o1 FULL JOIN c1 ON o1.custkey = c1.custkey
        |ORDER BY custkey""".stripMargin),

    // CH array math family: arrayDifference / arrayCumSum / arrayCompact
    // over per-order line-number arrays — composed codegen'd HOFs. Output
    // arrays are serialized to comma-joined strings so the driver's
    // pandas comparator (which sorts column values) can hash them; the
    // array logic itself is unchanged underneath.
    Entry("q74_array_math", (s, dir) =>
      tbl(s, dir, "lineitem").filter(col("l_orderkey") < 100)
        .groupBy("l_orderkey")
        .agg(sort_array(collect_list(col("l_linenumber").cast(LongType)))
          .as("lns"))
        .select(col("l_orderkey"),
          array_join(ChOps.arrayDifference(col("lns")).cast("array<string>"), ",").as("diffs"),
          array_join(ChOps.arrayCumSum(col("lns")).cast("array<string>"), ",").as("cums"),
          array_join(ChOps.arrayCompact(col("lns")).cast("array<string>"), ",").as("compacted"))
        .orderBy("l_orderkey"),
      """WITH g AS (SELECT l_orderkey,
        |    list_sort(list(CAST(l_linenumber AS BIGINT))) AS lns
        |  FROM lineitem WHERE l_orderkey < 100 GROUP BY l_orderkey)
        |SELECT l_orderkey,
        |  array_to_string(list_transform(range(len(lns)), i ->
        |    CAST(CASE WHEN i = 0 THEN 0 ELSE lns[i + 1] - lns[i] END AS VARCHAR)), ',') AS diffs,
        |  array_to_string(list_transform(range(1, len(lns) + 1), i ->
        |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), lns[1:i]),
        |      (acc, x) -> acc + x) AS VARCHAR)), ',') AS cums,
        |  array_to_string(list_transform(
        |    list_filter(lns, (x, i) -> i = 1 OR x <> lns[i - 1]),
        |    x -> CAST(x AS VARCHAR)), ',') AS compacted
        |FROM g ORDER BY l_orderkey""".stripMargin),

    // bit aggregate family (groupBitAnd/Or/Xor)
    Entry("q75_bit_aggs", (s, dir) =>
      tbl(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(bit_and(col("l_linenumber").cast(LongType)).as("b_and"),
          bit_or(col("l_linenumber").cast(LongType)).as("b_or"),
          bit_xor(col("l_linenumber").cast(LongType)).as("b_xor"))
        .orderBy("l_returnflag"),
      """SELECT l_returnflag,
        |  bit_and(CAST(l_linenumber AS BIGINT)) AS b_and,
        |  bit_or(CAST(l_linenumber AS BIGINT)) AS b_or,
        |  bit_xor(CAST(l_linenumber AS BIGINT)) AS b_xor
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    // groupArray / groupUniqArray (CH's collect aggregates), sorted for
    // cross-engine determinism; comma-joined for the driver's comparator
    Entry("q76_group_array", (s, dir) =>
      tbl(s, dir, "orders").filter(col("o_custkey") < 50)
        .groupBy("o_custkey")
        .agg(array_join(sort_array(collect_list(col("o_orderstatus"))), ",").as("statuses"),
          array_join(sort_array(collect_set(col("o_orderstatus"))), ",").as("uniq_statuses"))
        .orderBy("o_custkey"),
      """SELECT o_custkey,
        |  array_to_string(list_sort(list(o_orderstatus)), ',') AS statuses,
        |  array_to_string(list_sort(list(DISTINCT o_orderstatus)), ',') AS uniq_statuses
        |FROM orders WHERE o_custkey < 50
        |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin),

    // CH encoding/hash function family (hex / base64Encode / MD5 / SHA256)
    Entry("q77_encoding_funcs", (s, dir) =>
      tbl(s, dir, "part").filter(col("p_partkey") < 100)
        .select(col("p_partkey"),
          lower(hex(col("p_brand").cast(BinaryType))).as("hexed"),
          base64(col("p_brand").cast(BinaryType)).as("b64"),
          md5(col("p_brand").cast(BinaryType)).as("md5h"),
          sha2(col("p_brand").cast(BinaryType), 256).as("sha256h"))
        .orderBy("p_partkey"),
      """SELECT p_partkey,
        |  lower(hex(CAST(p_brand AS BLOB))) AS hexed,
        |  to_base64(CAST(p_brand AS BLOB)) AS b64,
        |  md5(p_brand) AS md5h,
        |  sha256(p_brand) AS sha256h
        |FROM part WHERE p_partkey < 100 ORDER BY p_partkey""".stripMargin),

    // CH math/bit scalar families restricted to IEEE-exact operations
    // (sqrt/abs/floor/ceil/sign/modulo/shifts are bit-identical across
    // engines; libm-backed exp/log are deliberately excluded from the
    // hash gate)
    Entry("q78_math_funcs", (s, dir) =>
      tbl(s, dir, "lineitem").filter(col("l_orderkey") < 100)
        .select(col("l_orderkey"), col("l_linenumber"),
          sqrt(col("l_quantity")).as("sq"),
          abs(col("l_quantity") - 25.0).as("ab"),
          floor(col("l_quantity") / 7.0).cast(LongType).as("fl"),
          ceil(col("l_quantity") / 7.0).cast(LongType).as("ce"),
          signum(col("l_quantity") - 25.0).cast(IntegerType).as("sg"),
          pmod(col("l_linenumber"), lit(3)).as("pm"),
          shiftleft(col("l_linenumber"), 2).as("shl"),
          (col("l_linenumber").bitwiseXOR(5)).as("bxor"))
        .orderBy("l_orderkey", "l_linenumber", "sq"),
      """SELECT l_orderkey, l_linenumber,
        |  sqrt(l_quantity) AS sq,
        |  abs(l_quantity - 25.0) AS ab,
        |  CAST(floor(l_quantity / 7.0) AS BIGINT) AS fl,
        |  CAST(ceil(l_quantity / 7.0) AS BIGINT) AS ce,
        |  CAST(sign(l_quantity - 25.0) AS INTEGER) AS sg,
        |  l_linenumber % 3 AS pm,
        |  l_linenumber << 2 AS shl,
        |  xor(l_linenumber, 5) AS bxor
        |FROM lineitem WHERE l_orderkey < 100
        |ORDER BY l_orderkey, l_linenumber, sq""".stripMargin),

    // CH date/time function family (toStartOfMonth/Quarter/Week, date
    // parts, dateDiff-style arithmetic) — all integer/date-exact
    Entry("q79_date_funcs", (s, dir) =>
      tbl(s, dir, "orders").filter(col("o_orderkey") < 200)
        .select(col("o_orderkey"),
          date_trunc("month", col("o_orderdate")).cast(DateType).as("som"),
          date_trunc("quarter", col("o_orderdate")).cast(DateType).as("soq"),
          date_trunc("week", col("o_orderdate")).cast(DateType).as("sow"),
          year(col("o_orderdate")).as("y"),
          month(col("o_orderdate")).as("m"),
          dayofmonth(col("o_orderdate")).as("d"),
          quarter(col("o_orderdate")).as("q"),
          datediff(lit("1998-12-31").cast(DateType),
            col("o_orderdate").cast(DateType)).as("days_to_end"))
        .orderBy("o_orderkey"),
      """SELECT o_orderkey,
        |  CAST(date_trunc('month', o_orderdate) AS DATE) AS som,
        |  CAST(date_trunc('quarter', o_orderdate) AS DATE) AS soq,
        |  CAST(date_trunc('week', o_orderdate) AS DATE) AS sow,
        |  CAST(year(o_orderdate) AS INTEGER) AS y,
        |  CAST(month(o_orderdate) AS INTEGER) AS m,
        |  CAST(day(o_orderdate) AS INTEGER) AS d,
        |  CAST(quarter(o_orderdate) AS INTEGER) AS q,
        |  CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-12-31')
        |    AS INTEGER) AS days_to_end
        |FROM orders WHERE o_orderkey < 200 ORDER BY o_orderkey""".stripMargin),

    // CH IPv4 function family (IPv4NumToString / IPv4StringToNum /
    // isIPv4String) — pure integer arithmetic + string ops, exact
    Entry("q80_ip_funcs", (s, dir) => {
      val n = col("ipnum")
      tbl(s, dir, "part").filter(col("p_partkey") < 200)
        .select(col("p_partkey"),
          (col("p_partkey") * 16909321L % 4294967296L).as("ipnum"))
        .select(col("p_partkey"), n,
          concat_ws(".",
            (n / 16777216L).cast(LongType), (n / 65536L % 256L).cast(LongType),
            (n / 256L % 256L).cast(LongType), (n % 256L).cast(LongType))
            .as("ip_str"))
        .withColumn("roundtrip",
          element_at(split(col("ip_str"), "\\."), 1).cast(LongType) * 16777216L +
          element_at(split(col("ip_str"), "\\."), 2).cast(LongType) * 65536L +
          element_at(split(col("ip_str"), "\\."), 3).cast(LongType) * 256L +
          element_at(split(col("ip_str"), "\\."), 4).cast(LongType))
        .withColumn("is_ipv4",
          col("ip_str").rlike("^([0-9]{1,3}\\.){3}[0-9]{1,3}$"))
        .orderBy("p_partkey")
    },
      """WITH b AS (SELECT p_partkey,
        |    p_partkey * 16909321 % 4294967296 AS ipnum
        |  FROM part WHERE p_partkey < 200),
        |s AS (SELECT p_partkey, ipnum,
        |    CAST(ipnum // 16777216 AS BIGINT) || '.' ||
        |    CAST(ipnum // 65536 % 256 AS BIGINT) || '.' ||
        |    CAST(ipnum // 256 % 256 AS BIGINT) || '.' ||
        |    CAST(ipnum % 256 AS BIGINT) AS ip_str
        |  FROM b)
        |SELECT p_partkey, ipnum, ip_str,
        |  CAST(string_split(ip_str, '.')[1] AS BIGINT) * 16777216 +
        |  CAST(string_split(ip_str, '.')[2] AS BIGINT) * 65536 +
        |  CAST(string_split(ip_str, '.')[3] AS BIGINT) * 256 +
        |  CAST(string_split(ip_str, '.')[4] AS BIGINT) AS roundtrip,
        |  regexp_full_match(ip_str, '([0-9]{1,3}\.){3}[0-9]{1,3}') AS is_ipv4
        |FROM s ORDER BY p_partkey""".stripMargin),

    // CH array predicate family: has / hasAll / hasAny / indexOf /
    // countEqual over per-order line-number arrays
    Entry("q81_array_predicates", (s, dir) =>
      tbl(s, dir, "lineitem").filter(col("l_orderkey") < 100)
        .groupBy("l_orderkey")
        .agg(sort_array(collect_list(col("l_linenumber").cast(LongType)))
          .as("lns"))
        .select(col("l_orderkey"),
          array_contains(col("lns"), 3L).as("has3"),
          forall(array(lit(1L), lit(2L)), x => array_contains(col("lns"), x))
            .as("has_all_12"),
          arrays_overlap(col("lns"), array(lit(6L), lit(7L))).as("has_any_67"),
          array_position(col("lns"), 2L).as("idx2"),
          size(filter(col("lns"), _ === 1L)).cast(LongType).as("count_eq_1"))
        .orderBy("l_orderkey"),
      """WITH g AS (SELECT l_orderkey,
        |    list_sort(list(CAST(l_linenumber AS BIGINT))) AS lns
        |  FROM lineitem WHERE l_orderkey < 100 GROUP BY l_orderkey)
        |SELECT l_orderkey,
        |  list_contains(lns, 3) AS has3,
        |  list_has_all(lns, [1, 2]) AS has_all_12,
        |  list_has_any(lns, [6, 7]) AS has_any_67,
        |  CAST(coalesce(list_position(lns, 2), 0) AS BIGINT) AS idx2,
        |  CAST(len(list_filter(lns, x -> x = 1)) AS BIGINT) AS count_eq_1
        |FROM g ORDER BY l_orderkey""".stripMargin),

    // uniqUpTo(N): exact distinct while <= N, else N+1
    Entry("q82_uniq_upto", (s, dir) =>
      ChOps.uniqUpTo(tbl(s, dir, "lineitem"), Seq("l_returnflag"),
          "l_suppkey", 50)
        .orderBy("l_returnflag"),
      """SELECT l_returnflag,
        |  CAST(least(count(DISTINCT l_suppkey), 51) AS BIGINT) AS uniq_upto
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    // quantileExactWeighted(0.5)(x, w): smallest x whose cumulative weight
    // reaches q·W. Scale shape: per-(group, value) weights aggregate FIRST
    // (one balanced map-side-combinable shuffle over the full table), and
    // only then the ordered cumsum window runs — over |distinct values|
    // rows per group, not |rows| (ScaleDesignSpec pins Aggregate-below-
    // Window). Value is the sole order key, so no tie-break columns are
    // needed for cross-engine determinism.
    Entry("q83_weighted_quantile", (s, dir) => {
      val w = Window.partitionBy("l_returnflag").orderBy("l_quantity")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      tbl(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_quantity")
        .agg(sum(decimal(col("l_extendedprice"), 28, 2)).as("w"))
        .withColumn("cumw", sum(col("w")).over(w))
        .withColumn("totw",
          sum(col("w")).over(Window.partitionBy("l_returnflag")))
        .filter(col("cumw") * 2 >= col("totw"))
        .groupBy("l_returnflag")
        .agg(min(col("l_quantity")).as("median_weighted"))
        .orderBy("l_returnflag")
    },
      """WITH g AS (SELECT l_returnflag, l_quantity,
        |    sum(CAST(l_extendedprice AS DECIMAL(28,2))) AS w
        |  FROM lineitem GROUP BY l_returnflag, l_quantity),
        |c AS (SELECT l_returnflag, l_quantity,
        |    sum(w) OVER (PARTITION BY l_returnflag ORDER BY l_quantity
        |      ROWS UNBOUNDED PRECEDING) AS cumw,
        |    sum(w) OVER (PARTITION BY l_returnflag) AS totw
        |  FROM g)
        |SELECT l_returnflag, min(l_quantity) AS median_weighted
        |FROM c WHERE cumw * 2 >= totw
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    // topKWeighted + argMin (weight-summed frequent items; struct-min)
    Entry("q84_topk_weighted_argmin", (s, dir) =>
      tbl(s, dir, "part")
        .groupBy("p_type")
        .agg(sum(decimal(col("p_retailprice"), 28, 2)).cast(DoubleType).as("wsum"),
          min_by(col("p_partkey"), struct(col("p_retailprice"), col("p_partkey")))
            .as("cheapest_key"))
        .orderBy(desc("wsum"), col("p_type")).limit(5),
      """WITH r AS (SELECT p_type,
        |    CAST(sum(CAST(p_retailprice AS DECIMAL(28,2))) AS DOUBLE) AS wsum
        |  FROM part GROUP BY p_type),
        |ck AS (SELECT p_type, p_partkey AS cheapest_key FROM (
        |    SELECT p_type, p_partkey,
        |      row_number() OVER (PARTITION BY p_type
        |        ORDER BY p_retailprice, p_partkey) AS rn
        |    FROM part) WHERE rn = 1)
        |SELECT p_type, wsum, cheapest_key FROM r JOIN ck USING (p_type)
        |ORDER BY wsum DESC, p_type LIMIT 5""".stripMargin),

    // moment statistics family (stddevPop/varPop/covarPop/corr) — rounded
    // to 6: the partial-merge accumulation order differs across engines
    // only at ~1e-12 relative
    Entry("q85_stats_aggs", (s, dir) =>
      tbl(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(round(stddev_pop(col("l_quantity")), 6).as("sd"),
          round(var_pop(col("l_quantity")), 6).as("vp"),
          round(covar_pop(col("l_quantity"), col("l_discount")), 6).as("cv"),
          round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("cr"))
        .orderBy("l_returnflag"),
      """SELECT l_returnflag,
        |  round(stddev_pop(l_quantity), 6) AS sd,
        |  round(var_pop(l_quantity), 6) AS vp,
        |  round(covar_pop(l_quantity, l_discount), 6) AS cv,
        |  round(corr(l_quantity, l_extendedprice), 6) AS cr
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    // formatDateTime + toYYYYMM/toYYYYMMDD numeric date keys (CH's
    // partition-key idiom) — string formatting and integer arithmetic,
    // both exact
    Entry("q86_datetime_format", (s, dir) =>
      tbl(s, dir, "orders").filter(col("o_orderkey") < 200)
        .select(col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("fmt_date"),
          date_format(col("o_orderdate"), "yyyy-MM").as("fmt_month"),
          date_format(col("o_orderdate"), "HH:mm:ss").as("fmt_time"),
          (year(col("o_orderdate")) * 100 + month(col("o_orderdate")))
            .as("yyyymm"),
          (year(col("o_orderdate")) * 10000 + month(col("o_orderdate")) * 100
            + dayofmonth(col("o_orderdate"))).as("yyyymmdd"))
        .orderBy("o_orderkey"),
      """SELECT o_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS fmt_date,
        |  strftime(o_orderdate, '%Y-%m') AS fmt_month,
        |  strftime(o_orderdate, '%H:%M:%S') AS fmt_time,
        |  CAST(year(o_orderdate) * 100 + month(o_orderdate) AS INTEGER) AS yyyymm,
        |  CAST(year(o_orderdate) * 10000 + month(o_orderdate) * 100
        |    + day(o_orderdate) AS INTEGER) AS yyyymmdd
        |FROM orders WHERE o_orderkey < 200 ORDER BY o_orderkey""".stripMargin),

    // string pad/repeat/position family (leftPad/rightPad/repeat/
    // position/substringIndex)
    Entry("q87_string_pad", (s, dir) =>
      tbl(s, dir, "part").filter(col("p_partkey") < 100)
        .select(col("p_partkey"),
          lpad(col("p_brand"), 12, "*").as("lp"),
          rpad(col("p_brand"), 12, "-").as("rp"),
          repeat(col("p_brand"), 2).as("rep"),
          instr(col("p_type"), "BRASS").cast(LongType).as("pos_brass"),
          substring_index(col("p_type"), " ", 2).as("first_two"),
          reverse(col("p_brand")).as("rev"))
        .orderBy("p_partkey"),
      """SELECT p_partkey,
        |  lpad(p_brand, 12, '*') AS lp,
        |  rpad(p_brand, 12, '-') AS rp,
        |  repeat(p_brand, 2) AS rep,
        |  CAST(strpos(p_type, 'BRASS') AS BIGINT) AS pos_brass,
        |  array_to_string(string_split(p_type, ' ')[1:2], ' ') AS first_two,
        |  reverse(p_brand) AS rev
        |FROM part WHERE p_partkey < 100 ORDER BY p_partkey""".stripMargin),

    // histogram over fixed-width bins (the deterministic tier of CH's
    // adaptive histogram()) — IEEE division by a representable constant
    // is correctly rounded on every engine, so bins are exact
    Entry("q88_histogram", (s, dir) =>
      tbl(s, dir, "lineitem")
        .select(floor(col("l_quantity") / 10.0).cast(IntegerType).as("bin"))
        .groupBy("bin").agg(count(lit(1)).as("n"))
        .orderBy("bin"),
      """SELECT CAST(floor(l_quantity / 10.0) AS INTEGER) AS bin,
        |  count(*) AS n
        |FROM lineitem GROUP BY bin ORDER BY bin""".stripMargin),

    // sumMap: per-key sums emitted as sorted parallel (keys, sums) arrays
    // — CH's map-aggregate contract; two partial-combinable aggregations.
    // Arrays serialize to comma-joined strings (decimal rendering is
    // scale-pinned, so the string form is engine-portable).
    Entry("q89_sum_map", (s, dir) =>
      tbl(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(sum(decimal(col("l_quantity"), 28, 2)).as("q"))
        .groupBy("l_returnflag")
        .agg(sort_array(collect_list(struct(col("l_linestatus"), col("q"))))
          .as("kv"))
        .select(col("l_returnflag"),
          array_join(col("kv.l_linestatus"), ",").as("keys"),
          array_join(transform(col("kv.q"),
            _.cast(DecimalType(28, 2)).cast(StringType)), ",").as("sums"))
        .orderBy("l_returnflag"),
      """WITH g AS (SELECT l_returnflag, l_linestatus,
        |    sum(CAST(l_quantity AS DECIMAL(28,2))) AS q
        |  FROM lineitem GROUP BY l_returnflag, l_linestatus)
        |SELECT l_returnflag,
        |  array_to_string(list(l_linestatus ORDER BY l_linestatus), ',') AS keys,
        |  array_to_string(list(CAST(CAST(q AS DECIMAL(28,2)) AS VARCHAR)
        |    ORDER BY l_linestatus), ',') AS sums
        |FROM g GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    // CH column-type runtime mapping (columnTypeExpr,
    // ClickHouseParser.py:14339-14477): a Nested(...)+Enum8 type string is
    // translated by ChTypes.toSpark and APPLIED — the collected line items
    // are cast to the translated Array(Struct) type (UInt32→long widening
    // comes from the translator, not hand-written), then unnested back.
    Entry("q72_ch_types", (s, dir) => {
      val nestedT = graft.model.ChTypes.relaxed(graft.model.ChTypes.toSpark(
        "Nested(ln UInt32, qty Float64, flag Enum8('A' = 1, 'N' = 2, 'R' = 3))"))
      tbl(s, dir, "lineitem").filter(col("l_orderkey") < 100)
        .groupBy("l_orderkey")
        .agg(sort_array(collect_list(struct(
          col("l_linenumber").as("ln"), col("l_quantity").as("qty"),
          col("l_returnflag").as("flag")))).as("items"))
        .select(col("l_orderkey"), col("items").cast(nestedT).as("items"))
        .select(col("l_orderkey"), explode(col("items")).as("it"))
        .select(col("l_orderkey"), col("it.ln").as("ln"),
          col("it.qty").as("qty"), col("it.flag").as("flag"))
        .orderBy("l_orderkey", "ln", "qty", "flag")
    },
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS ln,
        |  CAST(l_quantity AS DOUBLE) AS qty, l_returnflag AS flag
        |FROM lineitem WHERE l_orderkey < 100
        |ORDER BY l_orderkey, ln, qty, flag""".stripMargin),

    // adaptive histogram tier: quantile-seeded equi-depth bins — the
    // deterministic twin of CH's merge-order-dependent streaming bins
    Entry("q90_adaptive_histogram", (s, dir) =>
      graft.operators.ChOps.adaptiveHistogram(
        tbl(s, dir, "lineitem"), "l_quantity", 6).orderBy("bin"),
      // same micro-histogram edge derivation as ChOps.adaptiveHistogram:
      // min/max/count → 4096-bin grid counts → cumulative → equi-depth
      // edges on grid boundaries → row-local binning
      """WITH s AS (SELECT CAST(min(l_quantity) AS DOUBLE) AS lo0,
        |    CAST(max(l_quantity) AS DOUBLE) AS hi0, count(*) AS n FROM lineitem),
        |m AS (SELECT LEAST(4095, CAST(floor(
        |      (CAST(l_quantity AS DOUBLE) - s.lo0) / (s.hi0 - s.lo0) * 4096)
        |      AS INTEGER)) AS mb, count(*) AS cnt
        |  FROM lineitem, s GROUP BY mb),
        |c AS (SELECT mb, CAST(sum(cnt) OVER (ORDER BY mb) AS DOUBLE) AS cum FROM m),
        |ed AS (SELECT k.k, min(c.mb) AS b
        |  FROM c, (SELECT unnest([1, 2, 3, 4, 5]) AS k) k, s
        |  WHERE c.cum >= k.k * s.n / 6.0 GROUP BY k.k),
        |e AS (SELECT list(s.lo0 + (ed.b + 1) * (s.hi0 - s.lo0) / 4096
        |      ORDER BY ed.k) AS edges,
        |    any_value(s.lo0) AS lo0, any_value(s.hi0) AS hi0 FROM ed, s),
        |b2 AS (SELECT CAST(len(list_filter(e.edges,
        |      x -> CAST(l_quantity AS DOUBLE) > x)) AS INTEGER) AS bin,
        |    e.edges AS edges, e.lo0 AS lo0, e.hi0 AS hi0
        |  FROM lineitem, e)
        |SELECT bin,
        |  round(CASE WHEN bin = 0 THEN lo0 ELSE edges[bin] END, 6) AS lo,
        |  round(CASE WHEN bin = 5 THEN hi0 ELSE edges[bin + 1] END, 6) AS hi,
        |  count(*) AS n
        |FROM b2 GROUP BY bin, lo, hi ORDER BY bin""".stripMargin),
  )
}
