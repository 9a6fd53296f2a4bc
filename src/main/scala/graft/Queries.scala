package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._
import graft.operators.{DependencyGraph, LineagePipeline, Mutations, Similarity}
import graft.operators.Similarity.{AnnIndex, Cells, Coarse, Every, Exhaustive,
  Pq, ResidualPq, Sq8, Sqrt}
import graft.sources.{CatalogSource, TableFunctions}

/** The operator inventory (SURVEY.md §2) as named queries with DuckDB
  * oracles. Every entry keeps column names identical between the Spark
  * DataFrame and the oracle SQL, is deterministically ordered, and uses
  * decimal-cast sums so aggregate values are bit-identical regardless of
  * accumulation order (100 TB plans reorder partial aggregates freely —
  * correctness must not depend on float summation order).
  *
  * Metadata queries (m*) run the reference's own dataflow on the built-in
  * household fixture; their oracles re-derive the same result in pure SQL
  * from inline VALUES — an independent re-computation, not a tautology.
  */
object Queries {

  /** Schema cache for the READ-ONLY test inputs (r15, guide §6). Without
    * a user-supplied schema every `read.parquet` call pays footer-based
    * schema inference — measured 90-125 ms per call on this runtime vs
    * 13 ms with the schema supplied — and the bench pays it again on
    * every pass of every query. A production deployment reads these
    * tables through a catalog whose schema is already known; caching the
    * inferred StructType per path reproduces that contract. Metadata
    * only: every invocation still lists, opens and scans the parquet
    * data itself — no rows, results or intermediates are memoized. Keyed
    * by full path so scale-factor dirs never collide; only used for the
    * immutable `$dir/$name.parquet` inputs, never for query-written
    * artifacts (indexes, mutation outputs), which re-infer every time. */
  private val tblSchemas =
    new java.util.concurrent.ConcurrentHashMap[String, StructType]()

  private def tbl(s: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val sch = tblSchemas.computeIfAbsent(path, p => s.read.parquet(p).schema)
    s.read.schema(sch).parquet(path)
  }

  /** [[tbl]] + [[graft.plans.ScaleShape.fanOut]] by `by` — the scan-side
    * parallelism guard for queries whose hot cost is row-local compute
    * over a corpus the driver ships as one single-row-group file (r15,
    * guide §2.5). Only used where the query's cross-row aggregates are
    * exact or rounded-per-row (see fanOut's doc). */
  private def tblPar(s: SparkSession, dir: String, name: String,
      by: String): DataFrame =
    graft.plans.ScaleShape.fanOut(tbl(s, dir, name), col(by))

  /** Row count of the embeddings table from its parquet footers — a
    * metadata read, so an ANN spec's [[Cells]] sizing skips its count job. */
  private def embeddingsN(s: SparkSession, dir: String): Long =
    Similarity.parquetRowCount(s, s"$dir/embeddings.parquet")

  private def annTrain(emb: DataFrame, spec: AnnIndex): Similarity.Trained =
    Similarity.train(emb, "vec_id", "embedding", spec)

  /** ANN top-k of the first ten embeddings (the v* query set). */
  private def annTopK(emb: DataFrame, ix: Similarity.Trained, nprobe: Int = 1,
      k: Int = 3): DataFrame =
    Similarity.search(emb, "vec_id", "embedding", ix, col("id") < 10, k, nprobe)

  /** v15/v17: IVFADC at C = 10 cells and m = 4, both codebooks trained one
    * Lloyd round; `n` is the corpus size. */
  private def ivfPqTrainedSpec(n: Long): AnnIndex =
    AnnIndex(Coarse(Cells(10, Some(n)), iters = 1),
      Pq(4, math.max(1L, n / 10).toInt, iters = 1))

  /** v19/v19b: every neighbor with cosine ≥ 0.25 in the 2 probed cells of
    * a C = 10 index trained `iters` k-means rounds. */
  private def annRange(s: SparkSession, dir: String, iters: Int): DataFrame = {
    val emb = tbl(s, dir, "embeddings")
    Similarity.rangeSearch(emb, "vec_id", "embedding", annTrain(emb,
        AnnIndex(Coarse(Cells(10, Some(embeddingsN(s, dir))), iters))),
        col("id") < 10, simMin = 0.25, nprobe = 2)
      .orderBy(col("query_id"), desc("sim"), col("neighbor_id"))
  }

  /** `ix` after a save → load round trip through a fresh temp directory.
    * Loading is eager, so the directory is deleted before this returns. */
  private def viaParquet(s: SparkSession, ix: Similarity.Trained,
      prefix: String): Similarity.Trained = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    try {
      Similarity.save(s, dir.toString, ix)
      Similarity.load(s, dir.toString, ix.spec)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  /** The events table carries TIMESTAMP(NANOS) parquet values. Depending
    * on the runtime, the scan surfaces them either as LONG nanos (the
    * legacy `nanosAsLong` mode) or natively as TIMESTAMP_NTZ truncated
    * to µs (Spark 4.1.2+ reads nanos directly and ignores the legacy
    * conf). Dispatch on the ACTUAL scan type so both environments
    * produce the identical µs-aligned TimestampType column — `div`
    * avoids double-precision loss on ~1.7e18 nanos in the long path. */
  private def events(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = tbl(s, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ =>
        // NTZ µs values: reinterpret on the UTC session clock — the same
        // instant the long path derives
        raw.withColumn("ts", col("ts").cast("timestamp"))
    }
  }

  private def decimal(c: Column, p: Int = 18, sc: Int = 2): Column =
    c.cast(DecimalType(p, sc))

  // ---- fixture-derived inline oracle data -------------------------------

  /** The 17 expected dependency edges of the household fixture
    * (FIXTURES.md §2), as a SQL VALUES body. */
  private val edgeValues: String = Seq(
    ("test.car", "test.v_car_inventory"),
    ("test.household", "test.v_car_inventory"),
    ("test.human", "test.v_car_inventory"),
    ("test.v_household_flags", "test.v_city_household_flag_stats"),
    ("test.car", "test.v_household_flags"),
    ("test.household", "test.v_household_flags"),
    ("test.household_member", "test.v_household_flags"),
    ("test.pet", "test.v_household_flags"),
    ("test.v_household_flags", "test.v_household_health_score"),
    ("test.car", "test.v_household_roster"),
    ("test.household", "test.v_household_roster"),
    ("test.household_member", "test.v_household_roster"),
    ("test.pet", "test.v_household_roster"),
    ("test.human", "test.v_human_profile"),
    ("test.v_car_inventory", "test.v_human_profile"),
    ("test.human", "test.v_pet_ownership"),
    ("test.pet", "test.v_pet_ownership"))
    .map { case (s, d) => s"('$s','$d')" }.mkString(", ")

  private val viewNames = Seq("v_broken", "v_car_inventory",
    "v_city_household_flag_stats", "v_household_flags",
    "v_household_health_score", "v_household_roster",
    "v_human_profile", "v_pet_ownership")
  private val tableNames =
    Seq("car", "household", "household_member", "human", "orphan", "pet")

  // the fixture's deduplicated edge list, over the local lineage rows
  private def fixtureEdges(s: SparkSession): DataFrame = {
    val (deps, _) = LineagePipeline.dependencies(
      CatalogSource.fixtureCatalog(s).toDF())
    DependencyGraph.dedupEdges(DependencyGraph.edges(deps)).select("src", "dst")
  }

  // ---- query registry ---------------------------------------------------

  def all: Map[String, (SparkSession, String) => DataFrame] =
    batch1 ++ batch2 ++ batch3 ++ batch4 ++ batch5 ++ batch6 ++ batch7 ++
      batch8 ++ batch9 ++ batch10 ++ batch11 ++ batch12 ++ batch13 ++
      batch14 ++ batch15 ++ batch16 ++ batch17 ++ batch18
  def oracles: Map[String, String] =
    oracles1 ++ oracles2 ++ oracles3 ++ oracles4 ++ oracles5 ++ oracles6 ++
      oracles7 ++ oracles8 ++ oracles9 ++ oracles10 ++ oracles11 ++
      oracles12 ++ oracles13 ++ oracles14 ++ oracles15 ++ oracles16 ++
      oracles17 ++ oracles18

  private val batch1: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ===== metadata analysis (reference's own dataflow, SURVEY.md §2.1) =====

    // S1: catalog scan, view-kind filter, system-db exclusion, ordered
    "m1_views_catalog" -> ((s, _) =>
      CatalogSource.views(CatalogSource.fixtureCatalog(s).toDF())
        .select("database", "name", "engine")),

    // S2: complementary non-view filter
    "m2_tables_catalog" -> ((s, _) =>
      CatalogSource.tables(CatalogSource.fixtureCatalog(s).toDF())
        .select("database", "name", "engine")),

    // E3+G2+G3: lineage UDF → explode to edges → first-seen dedup
    "m3_lineage_edges" -> ((s, _) => fixtureEdges(s).orderBy("src", "dst")),

    // AST-exact lineage tier: the real CH parser (heuristic fallback)
    // must reproduce the corpus's known-true edge set — same oracle as
    // m3, independently derived through a different extractor
    "m9_lineage_exact" -> ((s, _) => {
      val deps = LineagePipeline.lineageExact(
          CatalogSource.views(CatalogSource.fixtureCatalog(s).toDF()))
        .filter(col("error").isNull).select("view", "deps")
      DependencyGraph.dedupEdges(DependencyGraph.edges(deps))
        .select("src", "dst").orderBy("src", "dst")
    }),

    // aggregation over edges: fan-out per source object
    "m4_fanout" -> ((s, _) =>
      fixtureEdges(s).groupBy("src").agg(count(lit(1)).as("fan_out"))
        .orderBy(desc("fan_out"), col("src"))),

    // G4+G5: classification + isolated objects (left-anti join)
    "m5_isolated" -> ((s, _) => {
      val catalog = CatalogSource.fixtureCatalog(s).toDF()
        .filter(!col("database").isin(CatalogSource.systemDbs: _*))
      val objs = catalog.select(concat_ws(".", col("database"), col("name")).as("id"))
      DependencyGraph.isolated(objs, fixtureEdges(s))
    }),

    // transitive closure: multi-hop lineage with shortest depth
    "m6_closure" -> ((s, _) =>
      DependencyGraph.transitiveClosure(fixtureEdges(s))
        .orderBy("src", "dst")),

    // ===== relational operators over the TPC-H-ish testdata =====

    // scan → filter → hash agg (sum/avg/count) → sort  [TPC-H Q1 shape]
    "q1_pricing_summary" -> ((s, dir) =>
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
        .orderBy("l_returnflag", "l_linestatus")),

    // two joins (one broadcast dim) → agg → sort
    "q2_revenue_by_nation" -> ((s, dir) => {
      val orders = tbl(s, dir, "orders")
      val cust = tbl(s, dir, "customer")
      val nation = tbl(s, dir, "nation")
      orders.join(cust, col("o_custkey") === col("c_custkey"))
        .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(sum(decimal(col("o_totalprice"))).cast(DoubleType).as("revenue"),
          count(lit(1)).as("n_orders"))
        .orderBy("n_name")
    }),

    // 3-way join → filtered agg → top-N with deterministic tie-break  [Q3 shape]
    "q3_top_orders" -> ((s, dir) => {
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
    }),

    // left-semi join (EXISTS)  [Q4 shape]
    "q4_semi_join" -> ((s, dir) => {
      val orders = tbl(s, dir, "orders")
      val big = tbl(s, dir, "lineitem").filter(col("l_quantity") > 45)
      orders.join(big, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
        .orderBy("o_orderpriority")
    }),

    // left-anti join (NOT EXISTS)
    "q5_anti_join" -> ((s, dir) => {
      val cust = tbl(s, dir, "customer")
      val orders = tbl(s, dir, "orders")
      cust.join(orders, col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name").orderBy("c_custkey")
    }),

    // highly selective scan-filter-agg; pushdown-friendly  [TPC-H Q6 shape]
    "q6_forecast_revenue" -> ((s, dir) =>
      tbl(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast(TimestampType) &&
          col("l_shipdate") < lit("1997-01-01").cast(TimestampType) &&
          col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg(sum(decimal(col("l_extendedprice") * col("l_discount"), 18, 4))
          .cast(DoubleType).as("revenue"))),

    // SELECT DISTINCT
    "q7_distinct" -> ((s, dir) =>
      tbl(s, dir, "lineitem").select("l_returnflag", "l_linestatus")
        .distinct().orderBy("l_returnflag", "l_linestatus")),

    // UNION (distinct) of two sources
    "q8_union" -> ((s, dir) =>
      tbl(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
        .union(tbl(s, dir, "supplier").select(col("s_nationkey").as("nationkey")))
        .distinct().orderBy("nationkey")),

    // window: top-3 orders per customer (CH `LIMIT n BY` shape)
    "q9_window_topn" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(desc("o_totalprice"), col("o_orderkey"))
      tbl(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rn"))
        .orderBy("o_custkey", "rn")
    }),

    // window: running sum with explicit ROWS frame
    "q10_window_running" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      tbl(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          sum(decimal(col("o_totalprice"))).over(w).cast(DoubleType).as("running_spend"))
        .orderBy("o_custkey", "o_orderkey")
    }))

  // ---- DuckDB oracles ---------------------------------------------------

  private val oracles1: Map[String, String] = Map(

    "m1_views_catalog" ->
      viewNames.map(v => s"('test','$v','View')")
        .mkString("SELECT * FROM (VALUES ", ", ",
          ") AS t(database, name, engine) ORDER BY database, name"),

    "m2_tables_catalog" ->
      tableNames.map(t => s"('test','$t','MergeTree')")
        .mkString("SELECT * FROM (VALUES ", ", ",
          ") AS t(database, name, engine) ORDER BY database, name"),

    "m3_lineage_edges" ->
      s"SELECT * FROM (VALUES $edgeValues) AS t(src, dst) ORDER BY src, dst",

    "m9_lineage_exact" ->
      s"SELECT * FROM (VALUES $edgeValues) AS t(src, dst) ORDER BY src, dst",

    "m4_fanout" ->
      s"""SELECT src, count(*) AS fan_out FROM (VALUES $edgeValues) AS t(src, dst)
         |GROUP BY src ORDER BY fan_out DESC, src""".stripMargin,

    "m5_isolated" ->
      (tableNames.map(t => s"('test.$t')") ++ viewNames.map(v => s"('test.$v')"))
        .mkString("WITH objs(id) AS (VALUES ", ", ",
          s"""), e(src, dst) AS (VALUES $edgeValues)
             |SELECT id FROM objs
             |WHERE id NOT IN (SELECT src FROM e UNION SELECT dst FROM e)
             |ORDER BY id""".stripMargin),

    "m6_closure" ->
      s"""WITH RECURSIVE e(src, dst) AS (VALUES $edgeValues),
         |paths(src, dst, depth) AS (
         |  SELECT src, dst, 1 FROM e
         |  UNION ALL
         |  SELECT p.src, e.dst, p.depth + 1 FROM paths p JOIN e ON p.dst = e.src
         |  WHERE p.depth < 10)
         |SELECT src, dst, CAST(min(depth) AS INTEGER) AS depth
         |FROM paths GROUP BY src, dst ORDER BY src, dst""".stripMargin,

    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  sum(l_quantity) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
        |  round(avg(l_quantity), 6) AS avg_qty,
        |  count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q2_revenue_by_nation" ->
      """SELECT n_name, CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  count(*) AS n_orders
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    "q3_top_orders" ->
      """SELECT o_orderkey, CAST(o_orderdate AS DATE) AS o_date,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY o_orderkey, CAST(o_orderdate AS DATE)
        |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin,

    "q4_semi_join" ->
      """SELECT o_orderpriority, count(*) AS n
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_quantity > 45)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q5_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,

    "q6_forecast_revenue" ->
      """SELECT CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin,

    "q7_distinct" ->
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q8_union" ->
      """SELECT c_nationkey AS nationkey FROM customer
        |UNION
        |SELECT s_nationkey FROM supplier
        |ORDER BY nationkey""".stripMargin,

    "q9_window_topn" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) WHERE rn <= 3
        |ORDER BY o_custkey, rn""".stripMargin,

    "q10_window_running" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
        |    OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin)

  // ===== batch 2: grouping analytics, CH-specific operators, events =====

  import graft.operators.ChOps

  private val batch2: Map[String, (SparkSession, String) => DataFrame] = Map(

    // GROUP BY ROLLUP (ClickHouseParser.py:9841-9867)
    "q11_rollup" -> ((s, dir) =>
      tbl(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(sum("l_quantity").as("sum_qty"), count(lit(1)).as("n"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)),

    // GROUP BY CUBE
    "q12_cube" -> ((s, dir) =>
      tbl(s, dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"),
          sum(decimal(col("o_totalprice"))).cast(DoubleType).as("total"))
        .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)),

    // GROUP BY GROUPING SETS (ClickHouseParser.py:9812-9838)
    "q13_grouping_sets" -> ((s, dir) =>
      tbl(s, dir, "lineitem")
        .groupingSets(
          Seq(Seq(col("l_returnflag"), col("l_linestatus")), Seq(col("l_returnflag")), Seq()),
          col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)),

    // WITH TOTALS (ClickHouseParser.py:9129-9137): groups + grand-total row
    "q14_with_totals" -> ((s, dir) =>
      ChOps.withTotals(tbl(s, dir, "orders"), Seq("o_orderstatus"),
          Seq(count(lit(1)).as("n"),
            sum(decimal(col("o_totalprice"))).cast(DoubleType).as("total")))
        .orderBy(col("o_orderstatus").asc_nulls_last)),

    // HAVING
    "q15_having" -> ((s, dir) =>
      tbl(s, dir, "orders").groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"))
        .filter(col("n_orders") >= 20)
        .orderBy("o_custkey")),

    // CH aggregate combinators (`countIf`/`sumIf`) as conditional aggs
    "q16_conditional_agg" -> ((s, dir) =>
      tbl(s, dir, "orders").groupBy("o_orderpriority")
        .agg(
          sum(when(col("o_orderstatus") === "F", 1).otherwise(0)).as("n_f"),
          sum(when(col("o_orderstatus") === "O", 1).otherwise(0)).as("n_o"),
          sum(when(col("o_orderstatus") === "F", decimal(col("o_totalprice")))
            .otherwise(lit(0).cast(DecimalType(18, 2)))).cast(DoubleType).as("total_f"))
        .orderBy("o_orderpriority")),

    // scalar subquery (ColumnExprSubquery, ClickHouseParser.py:14920-14939)
    "q17_scalar_subquery" -> ((s, dir) => {
      val p = tbl(s, dir, "part")
      val avgRow = p.agg(
        (sum(decimal(col("p_retailprice"))).cast(DoubleType) / count(lit(1))).as("a"))
      p.crossJoin(broadcast(avgRow))
        .filter(col("p_retailprice") > col("a"))
        .select("p_partkey", "p_name", "p_retailprice")
        .orderBy("p_partkey")
    }),

    // IN-subquery → left-semi join
    "q18_in_subquery" -> ((s, dir) => {
      val rich = tbl(s, dir, "customer").filter(col("c_acctbal") > 9000)
        .select("c_custkey")
      tbl(s, dir, "orders")
        .join(rich, col("o_custkey") === col("c_custkey"), "left_semi")
        .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
        .orderBy("o_orderstatus")
    }),

    // CROSS JOIN (JoinOpCross, ClickHouseParser.py:10855-10934)
    "q19_cross_join" -> ((s, dir) =>
      tbl(s, dir, "region").crossJoin(tbl(s, dir, "nation"))
        .select("r_name", "n_name").orderBy("r_name", "n_name")),

    // LIMIT n BY cols (limitByClause, ClickHouseParser.py:10153-10206)
    "q20_limit_by" -> ((s, dir) =>
      ChOps.limitBy(tbl(s, dir, "part"), Seq(col("p_brand")),
          Seq(desc("p_retailprice"), col("p_partkey")), 2)
        .select("p_brand", "p_partkey", "p_retailprice")
        .orderBy(col("p_brand"), desc("p_retailprice"), col("p_partkey"))),

    // LIMIT n WITH TIES (ClickHouseParser.py:10223-10259) — distributed
    // form: per-partition top-n merge (TakeOrderedAndProject) + a pushed
    // cutoff filter; rank()<=n ⟺ value ≥ n-th largest, so the result is
    // identical to the global-window form without its single-partition
    // shuffle (ScaleDesignSpec pins the plan shape).
    "q21_limit_ties" -> ((s, dir) =>
      ChOps.distributedTopKWithTies(
          tbl(s, dir, "part").select("p_partkey", "p_retailprice"),
          col("p_retailprice"), 5)
        .orderBy(desc("p_retailprice"), col("p_partkey"))),

    // SAMPLE k/m (sampleClause, ClickHouseParser.py:11016-11083)
    "q22_sample" -> ((s, dir) =>
      ChOps.sampleBuckets(tbl(s, dir, "lineitem"), col("l_orderkey"), 2, 10)
        .agg(count(lit(1)).as("n"), sum("l_quantity").as("sum_qty"))),

    // ORDER BY ... WITH FILL (ClickHouseParser.py:11317-11352)
    "q23_with_fill" -> ((s, dir) => {
      val daily = tbl(s, dir, "orders")
        .groupBy(col("o_orderdate").cast(DateType).as("d"))
        .agg(count(lit(1)).as("n"))
      ChOps.withFillDays(daily, "d", Map("n" -> lit(0L))).orderBy("d")
    }),

    // ASOF LEFT JOIN (JoinOpLeftRight ASOF, ClickHouseParser.py:10618-10645)
    "q24_asof_join" -> ((s, dir) => {
      val ev = events(s, dir).select("event_id", "user_id", "ts")
      val ord = tbl(s, dir, "orders")
        .groupBy(col("o_custkey").as("user_id"), col("o_orderdate"))
        .agg(max("o_orderkey").as("o_orderkey"))
      ChOps.asofJoinLeft(ev, ord, "user_id", "ts", "o_orderdate", Seq("o_orderkey"))
        .select("event_id", "o_orderkey").orderBy("event_id")
    }),

    // ANY LEFT JOIN (ANY modifier, ClickHouseParser.py:10574-10645)
    "q25_any_join" -> ((s, dir) => {
      val cust = tbl(s, dir, "customer").select("c_custkey", "c_name")
      val ord = tbl(s, dir, "orders").select(
        col("o_custkey").as("c_custkey"), col("o_orderkey"), col("o_orderdate"))
      ChOps.anyJoinLeft(cust, ord, Seq("c_custkey"),
          Seq(col("o_orderdate"), col("o_orderkey")))
        .select("c_custkey", "c_name", "o_orderkey")
        .orderBy("c_custkey")
    }),

    // date bucketing (toStartOfMonth-family → date_trunc)
    "q26_monthly_revenue" -> ((s, dir) =>
      tbl(s, dir, "orders")
        .groupBy(date_trunc("month", col("o_orderdate")).cast(DateType).as("month"))
        .agg(sum(decimal(col("o_totalprice"))).cast(DoubleType).as("revenue"),
          count(lit(1)).as("n"))
        .orderBy("month")),

    // string functions (upper/substring/length — ColumnExprFunction surface)
    "q27_string_funcs" -> ((s, dir) =>
      tbl(s, dir, "part")
        .groupBy(upper(substring(col("p_type"), 1, 5)).as("prefix"))
        .agg(count(lit(1)).as("n"),
          min(length(col("p_name"))).as("min_name_len"),
          max(upper(col("p_brand"))).as("max_brand"))
        .orderBy("prefix")),

    // ARRAY JOIN / unnest (arrayJoinClause, ClickHouseParser.py:9528-9596)
    "q28_explode_tokens" -> ((s, dir) =>
      tbl(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("tok"))
        .filter(length(col("tok")) > 0)
        .groupBy("tok").agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), col("tok")).limit(20)),

    // higher-order functions: lambdas → transform/filter/aggregate
    // (columnLambdaExpr, ClickHouseParser.py:16465-16560)
    "q29_higher_order" -> ((s, dir) =>
      tbl(s, dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(sort_array(collect_list(col("l_quantity"))).as("qs"))
        .select(col("l_orderkey"),
          aggregate(col("qs"), lit(0.0), (acc, x) => acc + x * x).as("sumsq"),
          size(filter(col("qs"), _ > 30)).as("n_big"))
        .orderBy("l_orderkey")),

    // ===== events-table analytics =====

    // tumbling window aggregation (batch form of streaming windows)
    "e1_tumbling_window" -> ((s, dir) =>
      events(s, dir)
        .groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(decimal(col("value"), 18, 6)).cast(DoubleType).as("v"))
        .orderBy("h", "event_type")),

    // sessionization: lag + gap flag + running sum (30-min timeout)
    "e2_sessionize" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      events(s, dir)
        .withColumn("prev", lag(col("ts"), 1).over(w))
        .withColumn("new_s",
          when(col("prev").isNull ||
            (col("ts").cast(DoubleType) - col("prev").cast(DoubleType)) > 1800.0, 1)
            .otherwise(0))
        .withColumn("sid", sum("new_s").over(wRun))
        .groupBy("user_id", "sid")
        .agg(count(lit(1)).as("n_events"), min("ts").as("start_ts"), max("ts").as("end_ts"))
        .orderBy("user_id", "sid")
    }),

    // semi-structured extraction from JSON props
    "e3_json_props" -> ((s, dir) =>
      events(s, dir)
        .groupBy("event_type")
        .agg(sum(regexp_extract(col("props"), "\"k\": (\\d+)", 1).cast(LongType))
          .as("sum_k"), count(lit(1)).as("n"))
        .orderBy("event_type")),

    // funnel: users whose first signup is followed by a purchase
    "e4_funnel" -> ((s, dir) => {
      val ev = events(s, dir)
      val s0 = ev.filter(col("event_type") === "signup")
        .groupBy("user_id").agg(min("ts").as("s_ts"))
      val p = ev.filter(col("event_type") === "purchase").select(
        col("user_id").as("p_user"), col("ts").as("p_ts"))
      s0.join(p, col("p_user") === col("user_id") && col("p_ts") >= col("s_ts"),
          "left_semi")
        .agg(count(lit(1)).as("n_converted"))
    }))

  private val oracles2: Map[String, String] = Map(

    "q11_rollup" ->
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, count(*) AS n
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,

    "q12_cube" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,

    "q13_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,

    "q14_with_totals" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY GROUPING SETS ((o_orderstatus), ())
        |ORDER BY o_orderstatus NULLS LAST""".stripMargin,

    "q15_having" ->
      """SELECT o_custkey, count(*) AS n_orders FROM orders
        |GROUP BY o_custkey HAVING count(*) >= 20 ORDER BY o_custkey""".stripMargin,

    "q16_conditional_agg" ->
      """SELECT o_orderpriority,
        |  CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
        |  CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
        |  CAST(sum(CASE WHEN o_orderstatus = 'F'
        |           THEN CAST(o_totalprice AS DECIMAL(18,2))
        |           ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS total_f
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q17_scalar_subquery" ->
      """SELECT p_partkey, p_name, p_retailprice FROM part
        |WHERE p_retailprice > (
        |  SELECT CAST(sum(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) / count(*)
        |  FROM part)
        |ORDER BY p_partkey""".stripMargin,

    "q18_in_subquery" ->
      """SELECT o_orderstatus, count(*) AS n FROM orders
        |WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 9000)
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q19_cross_join" ->
      """SELECT r_name, n_name FROM region CROSS JOIN nation
        |ORDER BY r_name, n_name""".stripMargin,

    "q20_limit_by" ->
      """SELECT p_brand, p_partkey, p_retailprice FROM (
        |  SELECT p_brand, p_partkey, p_retailprice,
        |    row_number() OVER (PARTITION BY p_brand
        |                       ORDER BY p_retailprice DESC, p_partkey) AS rn
        |  FROM part) WHERE rn <= 2
        |ORDER BY p_brand, p_retailprice DESC, p_partkey""".stripMargin,

    "q21_limit_ties" ->
      """SELECT p_partkey, p_retailprice FROM (
        |  SELECT p_partkey, p_retailprice,
        |    rank() OVER (ORDER BY p_retailprice DESC) AS rk
        |  FROM part) WHERE rk <= 5
        |ORDER BY p_retailprice DESC, p_partkey""".stripMargin,

    "q22_sample" ->
      """SELECT count(*) AS n, sum(l_quantity) AS sum_qty FROM lineitem
        |WHERE l_orderkey % 10 >= 0 AND l_orderkey % 10 < 2""".stripMargin,

    "q23_with_fill" ->
      """WITH d AS (SELECT CAST(o_orderdate AS DATE) AS d, count(*) AS n
        |           FROM orders GROUP BY 1),
        |axis AS (SELECT CAST(unnest(generate_series(
        |  (SELECT min(d) FROM d), (SELECT max(d) FROM d), INTERVAL 1 DAY)) AS DATE) AS d)
        |SELECT axis.d AS d, coalesce(n, 0) AS n
        |FROM axis LEFT JOIN d USING (d) ORDER BY d""".stripMargin,

    "q24_asof_join" ->
      """WITH r AS (SELECT o_custkey AS user_id, o_orderdate,
        |                  max(o_orderkey) AS o_orderkey
        |           FROM orders GROUP BY 1, 2)
        |SELECT event_id, o_orderkey
        |FROM events ASOF LEFT JOIN r
        |  ON events.user_id = r.user_id AND r.o_orderdate <= events.ts
        |ORDER BY event_id""".stripMargin,

    "q25_any_join" ->
      """WITH one AS (
        |  SELECT o_custkey, o_orderkey,
        |    row_number() OVER (PARTITION BY o_custkey
        |                       ORDER BY o_orderdate, o_orderkey) AS rn
        |  FROM orders)
        |SELECT c_custkey, c_name, o_orderkey
        |FROM customer LEFT JOIN (SELECT o_custkey, o_orderkey FROM one WHERE rn = 1)
        |  ON c_custkey = o_custkey
        |ORDER BY c_custkey""".stripMargin,

    "q26_monthly_revenue" ->
      """SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  count(*) AS n
        |FROM orders GROUP BY 1 ORDER BY month""".stripMargin,

    "q27_string_funcs" ->
      """SELECT upper(substr(p_type, 1, 5)) AS prefix, count(*) AS n,
        |  min(length(p_name)) AS min_name_len, max(upper(p_brand)) AS max_brand
        |FROM part GROUP BY 1 ORDER BY prefix""".stripMargin,

    "q28_explode_tokens" ->
      """SELECT tok, count(*) AS n FROM (
        |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        |WHERE length(tok) > 0
        |GROUP BY tok ORDER BY n DESC, tok LIMIT 20""".stripMargin,

    "q29_higher_order" ->
      """SELECT l_orderkey,
        |  list_sum(list_transform(qs, x -> x * x)) AS sumsq,
        |  CAST(len(list_filter(qs, x -> x > 30)) AS INTEGER) AS n_big
        |FROM (SELECT l_orderkey, list_sort(list(l_quantity)) AS qs
        |      FROM lineitem GROUP BY l_orderkey)
        |ORDER BY l_orderkey""".stripMargin,

    "e1_tumbling_window" ->
      """SELECT date_trunc('hour', ts) AS h, event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS v
        |FROM events GROUP BY 1, 2 ORDER BY h, event_type""".stripMargin,

    "e2_sessionize" ->
      """WITH flagged AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        |  SELECT user_id, ts,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                     ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM flagged)
        |SELECT user_id, CAST(sid AS BIGINT) AS sid, count(*) AS n_events,
        |  min(ts) AS start_ts, max(ts) AS end_ts
        |FROM sess GROUP BY user_id, sid ORDER BY user_id, sid""".stripMargin,

    "e3_json_props" ->
      """SELECT event_type,
        |  CAST(sum(CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT)) AS BIGINT)
        |    AS sum_k,
        |  count(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "e4_funnel" ->
      """SELECT count(*) AS n_converted FROM (
        |  SELECT user_id, min(ts) AS s_ts FROM events
        |  WHERE event_type = 'signup' GROUP BY user_id) s
        |WHERE EXISTS (SELECT 1 FROM events e
        |              WHERE e.event_type = 'purchase'
        |                AND e.user_id = s.user_id AND e.ts >= s.s_ts)""".stripMargin)

  // ===== batch 3: training-data pipeline operators =====
  // (dedup, text analysis, similarity search, multimodal plumbing)

  import graft.operators.{Dedup, Multimodal, Similarity, TextAnalysis}

  /** charFold re-derivation in DuckDB (see PortableHash.charFold). */
  /** Shared DuckDB replay of the t27 substring-span chain over the
    * planted-boilerplate corpus: ends with `sp` (duplicated-window rows
    * with span ids), `spans` (merged [start,end) per doc) and `tok`
    * (zipped-unnest tokens with 1-based ordinality) for the cleaning
    * stages — ONE definition for the t27/t27b/p4b oracles. */
  private def substringSpanCtes: String =
    s"""docs AS (SELECT doc_id,
       |    (CASE WHEN doc_id % 5 = 0
       |      THEN 'please subscribe to our newsletter for daily updates and exclusive offers today'
       |      ELSE 'intro ' || doc_id END) || ' ' || text AS text
       |  FROM documents),
       |tk AS (SELECT doc_id, list_filter(
       |    string_split_regex(trim(text), '\\s+'),
       |    t -> len(t) > 0) AS t FROM docs),
       |th AS (SELECT doc_id, list_transform(t,
       |    tok -> ${sqlCharFold("tok")}) AS th FROM tk),
       |wins AS (SELECT doc_id, i - 1 AS pos,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT), th[i:i+7]),
       |      (acc, x) -> (acc * 1000003 + x) % 2147483647) AS fp
       |  FROM (SELECT doc_id, th,
       |      unnest(generate_series(1, len(th) - 7)) AS i
       |    FROM th WHERE len(th) >= 8)),
       |dup AS (SELECT fp FROM wins GROUP BY fp
       |  HAVING count(DISTINCT doc_id) >= 3),
       |mk AS (SELECT w.doc_id, w.pos FROM wins w JOIN dup USING (fp)),
       |gp AS (SELECT doc_id, pos,
       |    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id
       |        ORDER BY pos) <= 8 THEN 0 ELSE 1 END AS nw
       |  FROM mk),
       |sp AS (SELECT doc_id, pos, sum(nw) OVER (PARTITION BY doc_id
       |    ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |    AS span
       |  FROM gp),
       |spans AS (SELECT doc_id, min(pos) AS start_tok,
       |    max(pos) + 8 AS end_tok
       |  FROM sp GROUP BY doc_id, span),
       |tok AS (SELECT doc_id, unnest(t) AS tok,
       |    unnest(generate_series(1, len(t))) AS i FROM tk)""".stripMargin

  /** The t27-family fixture: every 5th doc gets a SHARED boilerplate
    * prefix (must surface as a cross-doc duplicated span), the rest a
    * unique one — ONE definition for t27/t27b/p4b so the planted text
    * can never drift between a query and its twins. */
  private def plantedBoilerplate(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    df.select(col("doc_id"), concat_ws(" ",
      when(col("doc_id") % 5 === 0,
        lit("please subscribe to our newsletter for daily updates " +
          "and exclusive offers today"))
        .otherwise(concat(lit("intro "), col("doc_id"))),
      col("text")).as("text"))

  private def sqlCharFold(expr: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(string_split($expr, ''), ch -> CAST(ascii(ch) AS BIGINT))),
       |      (acc, x) -> (acc * 1315423911 + x) % 2147483647)""".stripMargin

  /** Sequential-fold dot product in DuckDB (bit-identical to
    * Similarity.dot's aggregate fold). */
  private def sqlDot(a: String, b: String): String =
    s"list_reduce(list_prepend(0.0, list_transform(list_zip($a, $b), p -> p[1] * p[2])), (acc, x) -> acc + x)"

  private def sqlNormSq(a: String): String =
    s"list_reduce(list_prepend(0.0, list_transform($a, x -> x * x)), (acc, x) -> acc + x)"

  /** t7 oracle, generated from the SAME stopword/script tables the
    * operator uses (they are the operator's spec): DuckDB replays the
    * script-count pass, the 25% decision threshold, and the alphabetical
    * first-wins CASE order of the Spark fold. */
  /** langId replay as a reusable CTE chain over `src` (must expose
    * doc_id, lang, text); ends in `lp(doc_id, lang, pred)`. Shared by the
    * t7 oracle and the p1 pipeline oracle's language-filter stage. */
  private def langPredCtes(src: String): String = {
    val langs = TextAnalysis.stopwords.keys.toSeq.sorted
    val swCounts = langs.map { l =>
      val inList = TextAnalysis.stopwords(l).map(w => s"'$w'").mkString(", ")
      s"len(list_filter(toks, t -> t IN ($inList))) AS c_$l"
    }.mkString(",\n  ")
    val scripts = TextAnalysis.scriptRanges.map { case (l, _, re2) =>
      s"length(text) - length(regexp_replace(text, '$re2', '', 'g')) AS s_$l"
    }.mkString(",\n  ")
    val scriptLangs = TextAnalysis.scriptRanges.map(_._1) // alphabetical
    val sMax = scriptLangs.map(l => s"s_$l").mkString("greatest(", ", ", ")")
    val scriptCase = scriptLangs.map(l => s"WHEN s_$l = smax THEN '$l'").mkString(" ")
    val cMax = langs.map(l => s"c_$l").mkString("greatest(", ", ", ")")
    val swCase = langs.map(l => s"WHEN c_$l = cmax THEN '$l'").mkString(" ")
    s"""lbase AS (SELECT doc_id, lang, text,
       |  regexp_split_to_array(trim(lower(text)), '\\s+') AS toks FROM $src),
       |lcnt AS (SELECT doc_id, lang, length(text) AS nch,
       |  $scripts,
       |  $swCounts
       |  FROM lbase),
       |lm AS (SELECT *, $sMax AS smax, $cMax AS cmax FROM lcnt),
       |lp AS (SELECT doc_id, lang,
       |  CASE WHEN smax > 0 AND smax * 4 >= nch THEN CASE $scriptCase END
       |       WHEN cmax = 0 THEN 'unknown'
       |       $swCase END AS pred
       |  FROM lm)""".stripMargin
  }

  private val t7Oracle: String =
    s"""WITH ${langPredCtes("documents")}
       |SELECT lang, pred, count(*) AS n FROM lp
       |GROUP BY lang, pred ORDER BY lang, pred""".stripMargin

  private val batch3: Map[String, (SparkSession, String) => DataFrame] = Map(

    // exact dedup: hash-groupBy on content digest (corpus doubled to plant
    // exact duplicates; keeps the query self-contained on read-only data)
    "t1_exact_dedup" -> ((s, dir) => {
      val d = tbl(s, dir, "documents")
      Dedup.exactGroups(d.unionByName(d), "text", "doc_id").orderBy("keeper")
    }),

    // document fingerprint: portable polynomial rolling hash
    "t2_fingerprint" -> ((s, dir) =>
      tbl(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")),

    // MinHash signatures (8 permutations over 3-gram shingles), exploded
    "t3_minhash_sig" -> ((s, dir) =>
      tbl(s, dir, "documents")
        .select(col("doc_id"), posexplode(
          Dedup.minhashSignature(Dedup.shingleHashes(col("text"), 3), 8))
          .as(Seq("perm", "h")))
        .orderBy("doc_id", "perm")),

    // exact n-gram Jaccard between each doc and a perturbed copy
    "t4_jaccard_pairs" -> ((s, dir) =>
      tbl(s, dir, "documents").filter(col("doc_id") < 100)
        .select(col("doc_id"), round(Dedup.jaccard(
          Dedup.shingles(col("text"), 3),
          Dedup.shingles(concat(col("text"), lit(" graft extra token")), 3)), 6)
          .as("j"))
        .orderBy("doc_id")),

    // PII scrubbing: plant deterministic emails/phones, redact them with
    // chained native regexp_replace — row-local, codegen'd, zero UDFs
    "t10_pii_scrub" -> ((s, dir) =>
      tbl(s, dir, "documents").filter(col("doc_id") < 500)
        .select(col("doc_id"), TextAnalysis.scrubPii(concat(col("text"),
            lit(" contact user"), col("doc_id"), lit("@example.com or +1-555-"),
            col("doc_id"))).as("scrubbed"))
        .orderBy("doc_id")),

    // benchmark decontamination: docs sharing any word 4-gram with the
    // (broadcast) benchmark set doc_id < 20 — eval-leakage guard; the
    // corpus side never shuffles
    "t11_decontaminate" -> ((s, dir) => {
      val d = tbl(s, dir, "documents")
      TextAnalysis.decontaminate(
          d.filter(col("doc_id") >= 20), d.filter(col("doc_id") < 20),
          "doc_id", "text", 4)
        .orderBy("doc_id")
    }),

    // Gopher-style repetition signal: duplicate word-3-gram fraction per
    // doc — single-row array arithmetic, codegen'd
    "t12_repetition" -> ((s, dir) =>
      tbl(s, dir, "documents").filter(col("doc_id") < 500)
        .select(col("doc_id"),
          round(TextAnalysis.dupNgramRatio(col("text"), 3), 6).as("dup3"))
        .orderBy("doc_id")),

    // token-window chunking (context-length prep): 20-token windows,
    // stride 15 — project + explode only, scan-speed at 100 TB; chunks
    // verified by portable fingerprint so the oracle needn't carry text
    "t13_chunking" -> ((s, dir) =>
      TextAnalysis.chunkTokens(
        tbl(s, dir, "documents").filter(col("doc_id") < 200),
        "doc_id", "text", 20, 15)
        .select(col("doc_id"), col("chunk_idx"), col("chunk_tokens"),
          graft.functions.PortableHash.charFold(col("chunk")).as("fp"))
        .orderBy("doc_id", "chunk_idx")),

    // deterministic stratified sampling: per-language keep-fractions via
    // portable-hash bucketing — reproducible scan-local filter, no RNG,
    // no shuffle, no per-stratum pass
    "t14_stratified_sample" -> ((s, dir) =>
      TextAnalysis.stratifiedSample(tbl(s, dir, "documents"),
        "lang", "doc_id",
        Map("en" -> 0.5, "zh" -> 0.25, "es" -> 0.1), default = 0.05)
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id")),

    // full MinHash+LSH near-dup pipeline: plant near-dups, sign, band,
    // bucket-join candidates, verify with exact Jaccard
    "t5_lsh_dedup" -> ((s, dir) => {
      val d = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
      val pert = d.select((col("doc_id") + 10000).as("doc_id"),
        concat(col("text"), lit(" graft extra token")).as("text"))
      val all = d.unionByName(pert)
      // shingle hashes computed ONCE (single tokenize pass) and cached —
      // the signature derives from them and the verify stage compares THEM
      // (hashed-shingle Jaccard: long arrays, not strings — half the
      // shuffle bytes and integer set-intersection; MinHash is already
      // hash-based, so the verify tier measuring the same hash space is
      // the standard pipeline shape)
      // lazy localCheckpoint, not .persist() (r16): a query-level persist
      // has no unpersist hook, so CacheManager held the entry for the
      // whole session AND let later bench passes of the identical plan
      // silently reuse pass-1's cache — a checkpointed RDD is freed by
      // ContextCleaner when the query's DataFrames go unreachable and is
      // rebuilt fresh on every invocation (same convention as the CC
      // loop / kmeans / substringDedupSpans materializations)
      val pre = all
        .select(col("doc_id"), Dedup.shingleHashes(col("text"), 3).as("hs"))
        .select(col("doc_id"), col("hs"),
          Dedup.minhashSignature(col("hs"), 16).as("sig"))
        .localCheckpoint(false)
      val cands = Dedup.lshCandidatePairs(
        Dedup.lshBands(pre, "doc_id", "sig", 2, 8), "doc_id")
      val h1 = pre.select(col("doc_id").as("id1"), col("hs").as("h1"))
      val h2 = pre.select(col("doc_id").as("id2"), col("hs").as("h2"))
      cands.join(h1, "id1").join(h2, "id2")
        .select(col("id1"), col("id2"),
          round(Dedup.jaccard(col("h1"), col("h2")), 6).as("j"))
        .filter(col("j") >= 0.5)
        .orderBy("id1", "id2")
    }),

    // SimHash (32-bit) over whitespace-token hashes
    "t6_simhash" -> ((s, dir) =>
      tbl(s, dir, "documents")
        .select(col("doc_id"), Dedup.simhash32(
          transform(split(col("text"), " "), t => graft.functions.PortableHash.charFold(t)))
          .as("sh"))
        .orderBy("doc_id")),

    // language-ID by stopword vote: confusion matrix vs labeled lang
    // two-stage language ID: 8 non-Latin script signals + 12-language
    // Latin stopword vote (confusion matrix vs the labeled lang)
    "t7_langid" -> ((s, dir) =>
      tblPar(s, dir, "documents", "doc_id")
        .select(col("lang"), TextAnalysis.langId(col("text")).as("pred"))
        .groupBy("lang", "pred").agg(count(lit(1)).as("n"))
        .orderBy("lang", "pred")),

    // per-document quality scores
    "t8_quality" -> ((s, dir) => {
      val cols = TextAnalysis.qualityColumns(col("text"))
        .map { case (n, c) => c.as(n) }
      tblPar(s, dir, "documents", "doc_id")
        .select(col("doc_id") +: cols: _*)
        .orderBy("doc_id")
    }),

    // multimodal plumbing: binary payload -> batched (stub) decode -> meta
    "x1_media_meta" -> ((s, dir) =>
      Multimodal.extractMeta(
          Multimodal.withPayload(tbl(s, dir, "documents"), "text"), "doc_id")
        .toDF().orderBy("doc_id")),

    // brute-force cosine top-5 neighbors for 10 query vectors
    "v1_cosine_topk" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      Similarity.topKNeighbors(
          emb.filter(col("vec_id") < 10), emb, "vec_id", "embedding", 5)
        .orderBy(col("query_id"), desc("sim"), col("neighbor_id"))
    }),

    // k-NN majority-label classification via top-10 neighbors
    "v2_knn_label" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val topk = Similarity.topKNeighbors(
        emb.filter(col("vec_id") < 50), emb, "vec_id", "embedding", 10)
      val votes = topk
        .join(emb.select(col("vec_id").as("neighbor_id"), col("label")), "neighbor_id")
        .groupBy("query_id", "label").agg(count(lit(1)).as("c"))
      val w = Window.partitionBy("query_id").orderBy(desc("c"), col("label"))
      votes.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("query_id"), col("label").as("pred_label"))
        .orderBy("query_id")
    }))

  private val oracles3: Map[String, String] = Map(

    "t1_exact_dedup" ->
      """SELECT md5(text) AS digest, min(doc_id) AS keeper, count(*) AS n_copies
        |FROM (SELECT * FROM documents UNION ALL SELECT * FROM documents)
        |GROUP BY md5(text) HAVING count(*) > 1 ORDER BY keeper""".stripMargin,

    "t2_fingerprint" ->
      s"""SELECT doc_id, ${sqlCharFold("text")} AS fp
         |FROM documents ORDER BY doc_id""".stripMargin,

    "t10_pii_scrub" ->
      """SELECT doc_id,
        |  regexp_replace(regexp_replace(
        |    text || ' contact user' || doc_id || '@example.com or +1-555-' || doc_id,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |    '\+?[0-9]{1,3}-[0-9]{3}-[0-9]+', '[PHONE]', 'g') AS scrubbed
        |FROM documents WHERE doc_id < 500 ORDER BY doc_id""".stripMargin,

    "t13_chunking" ->
      s"""SELECT doc_id, CAST(i AS INT) AS chunk_idx,
         |  CAST(len(sl) AS INT) AS chunk_tokens,
         |  ${sqlCharFold("array_to_string(sl, ' ')")} AS fp
         |FROM (
         |  SELECT doc_id, i, list_slice(toks, i * 15 + 1, i * 15 + 20) AS sl
         |  FROM (
         |    SELECT doc_id, toks,
         |      UNNEST(generate_series(0, CASE WHEN len(toks) = 0 THEN -1
         |        ELSE CAST(ceil(greatest(len(toks) - 20, 0) / 15.0) AS BIGINT)
         |        END)) AS i
         |    FROM (SELECT doc_id,
         |        list_filter(string_split_regex(trim(text), '\\s+'),
         |          t -> len(t) > 0) AS toks
         |      FROM documents WHERE doc_id < 200)))
         |ORDER BY doc_id, chunk_idx""".stripMargin,

    "t14_stratified_sample" ->
      s"""SELECT doc_id, lang FROM (
         |  SELECT doc_id, lang,
         |    ${sqlCharFold("CAST(doc_id AS VARCHAR)")} % 1000 AS b
         |  FROM documents)
         |WHERE b < CASE lang WHEN 'en' THEN 500 WHEN 'zh' THEN 250
         |  WHEN 'es' THEN 100 ELSE 50 END
         |ORDER BY doc_id""".stripMargin,

    "t12_repetition" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws
        |  FROM documents WHERE doc_id < 500),
        |s AS (SELECT doc_id,
        |  list_transform(range(1, greatest(len(ws) - 2, 0) + 1),
        |    i -> array_to_string(ws[i:i+2], ' ')) AS sh,
        |  greatest(len(ws) - 2, 0) AS total FROM t)
        |SELECT doc_id, round(CASE WHEN total > 0
        |  THEN (total - len(list_distinct(sh))) * 1.0 / total
        |  ELSE 0 END, 6) AS dup3
        |FROM s ORDER BY doc_id""".stripMargin,

    "t11_decontaminate" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |idx AS (SELECT doc_id, ws,
        |  unnest(range(1, greatest(len(ws) - 3, 0) + 1)) AS i FROM t),
        |sh AS (SELECT doc_id, array_to_string(ws[i:i+3], ' ') AS s FROM idx),
        |bench AS (SELECT DISTINCT s FROM sh WHERE doc_id < 20)
        |SELECT sh.doc_id, count(DISTINCT sh.s) AS n_shared
        |FROM sh JOIN bench USING (s) WHERE sh.doc_id >= 20
        |GROUP BY sh.doc_id ORDER BY sh.doc_id""".stripMargin,

    "t3_minhash_sig" ->
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |sh AS (SELECT doc_id, list_distinct(list_transform(
         |    range(0, greatest(len(t) - 3, 0) + 1),
         |    i -> array_to_string(t[i+1:i+3], ' '))) AS shingles FROM toks),
         |hs AS (SELECT doc_id, list_transform(shingles, s -> ${sqlCharFold("s")}) AS hashes FROM sh)
         |SELECT doc_id, CAST(perm AS INTEGER) AS perm,
         |  list_min(list_transform(hashes,
         |    h -> (h * (2 * perm + 1) + (12345 * perm + 1)) % 2147483647)) AS h
         |FROM hs, range(8) r(perm) ORDER BY doc_id, perm""".stripMargin,

    "t4_jaccard_pairs" ->
      s"""WITH pair_toks AS (
         |  SELECT doc_id, string_split(text, ' ') AS t1,
         |         string_split(text || ' graft extra token', ' ') AS t2
         |  FROM documents WHERE doc_id < 100),
         |sh AS (SELECT doc_id,
         |  list_distinct(list_transform(range(0, greatest(len(t1)-3,0)+1),
         |    i -> array_to_string(t1[i+1:i+3], ' '))) AS s1,
         |  list_distinct(list_transform(range(0, greatest(len(t2)-3,0)+1),
         |    i -> array_to_string(t2[i+1:i+3], ' '))) AS s2
         |  FROM pair_toks)
         |SELECT doc_id, round(CAST(len(list_intersect(s1, s2)) AS DOUBLE) /
         |  len(list_distinct(list_concat(s1, s2))), 6) AS j
         |FROM sh ORDER BY doc_id""".stripMargin,

    "t5_lsh_dedup" ->
      s"""WITH base AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 10000, text || ' graft extra token' FROM documents),
         |toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM base),
         |sh AS (SELECT doc_id, list_distinct(list_transform(
         |    range(0, greatest(len(t) - 3, 0) + 1),
         |    i -> array_to_string(t[i+1:i+3], ' '))) AS shingles FROM toks),
         |hs AS (SELECT doc_id, shingles,
         |  list_transform(shingles, s -> ${sqlCharFold("s")}) AS hashes FROM sh),
         |sig AS (SELECT doc_id, shingles, list_transform(range(16), p ->
         |  list_min(list_transform(hashes,
         |    h -> (h * (2 * p + 1) + (12345 * p + 1)) % 2147483647))) AS sig FROM hs),
         |bands AS (SELECT doc_id, b AS band_id,
         |  list_reduce(list_prepend(CAST(0 AS BIGINT), sig[b*8+1:b*8+8]),
         |    (acc, x) -> (acc * 1000003 + x) % 2147483647) AS band_hash
         |  FROM sig, range(2) r(b)),
         |cands AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
         |  FROM bands a JOIN bands b
         |    ON a.band_id = b.band_id AND a.band_hash = b.band_hash
         |   AND a.doc_id < b.doc_id)
         |SELECT id1, id2,
         |  round(CAST(len(list_distinct(list_intersect(h1.hashes, h2.hashes))) AS DOUBLE) /
         |    len(list_distinct(list_concat(h1.hashes, h2.hashes))), 6) AS j
         |FROM cands
         |JOIN hs h1 ON h1.doc_id = id1
         |JOIN hs h2 ON h2.doc_id = id2
         |WHERE CAST(len(list_distinct(list_intersect(h1.hashes, h2.hashes))) AS DOUBLE) /
         |      len(list_distinct(list_concat(h1.hashes, h2.hashes))) >= 0.4999995
         |ORDER BY id1, id2""".stripMargin,

    "t6_simhash" ->
      s"""WITH hs AS (SELECT doc_id, list_transform(string_split(text, ' '),
         |    tk -> ${sqlCharFold("tk")}) AS h FROM documents)
         |SELECT doc_id, CAST(list_sum(list_transform(range(32), b -> CASE WHEN
         |    list_sum(list_transform(h, v ->
         |      CASE WHEN CAST(floor(v / pow(2, b)) AS BIGINT) % 2 = 1
         |           THEN 1 ELSE -1 END)) > 0
         |    THEN CAST(pow(2, b) AS BIGINT) ELSE 0 END)) AS BIGINT) AS sh
         |FROM hs ORDER BY doc_id""".stripMargin,

    "t7_langid" -> t7Oracle,

    "t8_quality" ->
      """SELECT doc_id,
        |  CAST(length(text) AS BIGINT) AS n_chars,
        |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        |  round(CAST(list_sum(list_transform(regexp_split_to_array(trim(text), '\s+'),
        |      t -> length(t))) AS DOUBLE) /
        |    greatest(CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE), 1.0), 6)
        |    AS mean_token_len,
        |  round((length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g'))) /
        |    greatest(CAST(length(text) AS DOUBLE), 1.0), 6) AS punct_ratio,
        |  round(CAST(len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |      t -> t IN ('the','and','of','to','a'))) AS DOUBLE) /
        |    greatest(CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE), 1.0), 6)
        |    AS stopword_ratio,
        |  round((length(text) - length(regexp_replace(text, '[A-Z]', '', 'g'))) /
        |    greatest(CAST(length(text) AS DOUBLE), 1.0), 6) AS upper_ratio
        |FROM documents ORDER BY doc_id""".stripMargin,

    "x1_media_meta" ->
      """SELECT doc_id,
        |  CASE octet_length(CAST(text AS BLOB)) % 3
        |    WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'webp' END AS format,
        |  CAST(octet_length(CAST(text AS BLOB)) % 640 + 1 AS INTEGER) AS width,
        |  CAST((octet_length(CAST(text AS BLOB)) * 7) % 480 + 1 AS INTEGER) AS height,
        |  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes
        |FROM documents ORDER BY doc_id""".stripMargin,

    "v1_cosine_topk" ->
      s"""WITH q AS (SELECT vec_id AS query_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
         |  FROM embeddings WHERE vec_id < 10),
         |c AS (SELECT vec_id AS neighbor_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
         |  FROM embeddings),
         |scored AS (SELECT query_id, neighbor_id,
         |  round(${sqlDot("qv", "cv")} /
         |    (sqrt(${sqlNormSq("qv")}) * sqrt(${sqlNormSq("cv")})), 6) AS sim
         |  FROM q CROSS JOIN c WHERE query_id <> neighbor_id),
         |rk AS (SELECT query_id, neighbor_id, sim,
         |  row_number() OVER (PARTITION BY query_id
         |                     ORDER BY sim DESC, neighbor_id) AS rn
         |  FROM scored)
         |SELECT query_id, neighbor_id, sim FROM rk WHERE rn <= 5
         |ORDER BY query_id, sim DESC, neighbor_id""".stripMargin,

    "v2_knn_label" ->
      s"""WITH q AS (SELECT vec_id AS query_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
         |  FROM embeddings WHERE vec_id < 50),
         |c AS (SELECT vec_id AS neighbor_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv, label
         |  FROM embeddings),
         |scored AS (SELECT query_id, neighbor_id, label,
         |  round(${sqlDot("qv", "cv")} /
         |    (sqrt(${sqlNormSq("qv")}) * sqrt(${sqlNormSq("cv")})), 6) AS sim
         |  FROM q CROSS JOIN c WHERE query_id <> neighbor_id),
         |rk AS (SELECT query_id, neighbor_id, label,
         |  row_number() OVER (PARTITION BY query_id
         |                     ORDER BY sim DESC, neighbor_id) AS rn
         |  FROM scored),
         |votes AS (SELECT query_id, label, count(*) AS cnt FROM rk
         |  WHERE rn <= 10 GROUP BY query_id, label),
         |best AS (SELECT query_id, label,
         |  row_number() OVER (PARTITION BY query_id
         |                     ORDER BY cnt DESC, label) AS rn
         |  FROM votes)
         |SELECT query_id, label AS pred_label FROM best WHERE rn = 1
         |ORDER BY query_id""".stripMargin)

  // ===== batch 4: remaining SURVEY §2.2 surface + ANN scale path =====

  private val batch4: Map[String, (SparkSession, String) => DataFrame] = Map(

    // uniq family: exact tier (CH uniqExact → count_distinct)
    "q30_uniq_exact" -> ((s, dir) =>
      tbl(s, dir, "lineitem").agg(
        countDistinct(col("l_orderkey")).as("u_orders"),
        countDistinct(col("l_partkey")).as("u_parts"),
        count(lit(1)).as("n"))),

    // uniq family: sketch tier. CH's uniq() contract is "a deterministic
    // approximate distinct count"; we satisfy it with the portable KMV
    // estimator (k minimum hash values over charFold) so the DuckDB oracle
    // can replay the exact estimate — hash-matchable, unlike HLL whose
    // register layout is engine-private. approx_count_distinct (the HLL
    // tier) stays covered by SketchSpec's relative-error bound.
    "q30b_uniq_approx" -> ((s, dir) =>
      tbl(s, dir, "lineitem").agg(
        round(graft.functions.KmvSketch.kmvDistinct(
          graft.functions.PortableHash.charFold(col("l_orderkey").cast(StringType)),
          256), 6).as("u_orders_approx"),
        round(graft.functions.KmvSketch.kmvDistinct(
          graft.functions.PortableHash.charFold(col("l_partkey").cast(StringType)),
          256), 6).as("u_parts_approx"))),

    // quantiles (CH quantile/quantiles → percentile, linear interpolation)
    "q31_quantiles" -> ((s, dir) =>
      tbl(s, dir, "orders").groupBy("o_orderpriority")
        .agg(
          round(percentile(col("o_totalprice"), lit(0.25)), 6).as("p25"),
          round(percentile(col("o_totalprice"), lit(0.5)), 6).as("p50"),
          round(percentile(col("o_totalprice"), lit(0.75)), 6).as("p75"))
        .orderBy("o_orderpriority")),

    // argMax (CH argMax(x, y) → lexicographic max of struct — deterministic
    // even under value ties, unlike bare max_by)
    "q32_argmax" -> ((s, dir) =>
      tbl(s, dir, "customer").groupBy("c_nationkey")
        .agg(max(struct(col("c_acctbal"), col("c_custkey"))).as("m"))
        .select(col("c_nationkey"), col("m.c_acctbal").as("best_bal"),
          col("m.c_custkey").as("best_cust"))
        .orderBy("c_nationkey")),

    // PREWHERE + WHERE: two chained filters AND-combined into one scan
    // predicate by Catalyst (reference semantics: prewhereClause
    // ClickHouseParser.py:9664-9708; both reach PushedFilters)
    "q34_prewhere" -> ((s, dir) =>
      tbl(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-01-01").cast(TimestampType))
        .filter(col("l_extendedprice") * (lit(1.0) - col("l_discount")) > 50000)
        .agg(count(lit(1)).as("n"), sum("l_quantity").as("sum_qty"))),

    // COLUMNS('regex') projection (ColumnsExprRegexp,
    // ClickHouseParser.py:16708-16729) → colRegex
    "q35_colregex" -> ((s, dir) => {
      val li = tbl(s, dir, "lineitem")
      li.select(li.colRegex("`l_.*key`"))
        .agg(sum("l_orderkey").as("s_ok"), sum("l_partkey").as("s_pk"),
          sum("l_suppkey").as("s_sk"))
    }),

    // WITH FILL ... INTERPOLATE (ClickHouseParser.py:11317-11352,
    // 10048-10102): dense date axis + carry-forward interpolation.
    // Partition-and-stitch: per-month windows carry within the bucket, a
    // broadcast bucket summary (1 row/month) stitches across — no global
    // window over the axis (ScaleDesignSpec pins the plan shape).
    "q36_fill_interpolate" -> ((s, dir) => {
      val daily = tbl(s, dir, "orders")
        .filter(col("o_custkey") < 100) // sparse → real gaps to fill
        .groupBy(col("o_orderdate").cast(DateType).as("d"))
        .agg(sum(decimal(col("o_totalprice"))).cast(DoubleType).as("rev"))
      val axis = ChOps.withFillDays(daily, "d", Map.empty)
      ChOps.carryForwardFill(axis, "d", "rev", trunc(_, "month"), lit(0.0))
        .orderBy("d")
    }),

    // GROUP BY ALL (GroupByClauseAll, ClickHouseParser.py:9771-9788)
    "q37_group_by_all" -> ((s, dir) => {
      tbl(s, dir, "lineitem").createOrReplaceTempView("graft_li")
      s.sql(
        """SELECT l_returnflag, l_linestatus, count(*) AS n
          |FROM graft_li GROUP BY ALL
          |ORDER BY l_returnflag, l_linestatus""".stripMargin)
    }),

    // INTERSECT / EXCEPT (beyond the CH grammar — Spark-native extension)
    "q38_intersect" -> ((s, dir) => {
      val o = tbl(s, dir, "orders")
      val y96 = o.filter(year(col("o_orderdate")) === 1996).select("o_custkey")
      val y99 = o.filter(year(col("o_orderdate")) === 1999).select("o_custkey")
      y96.intersect(y99).orderBy("o_custkey")
    }),

    "q39_except" -> ((s, dir) => {
      val o = tbl(s, dir, "orders")
      val y96 = o.filter(year(col("o_orderdate")) === 1996).select("o_custkey")
      val y99 = o.filter(year(col("o_orderdate")) === 1999).select("o_custkey")
      y96.except(y99).orderBy("o_custkey")
    }),

    // event dedup: first event per (user, type) — streaming-dedup batch twin
    "e5_first_event" -> ((s, dir) => {
      val w = Window.partitionBy("user_id", "event_type")
        .orderBy("ts", "event_id")
      events(s, dir)
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select("user_id", "event_type", "event_id")
        .orderBy("user_id", "event_type")
    }),

    // IVF-style ANN at a CONSTANT codebook size (C ≈ 10 cells at every
    // SF — stride n/10 reproduces the historical stride-50 cells at
    // sf0.01's 500 vectors): assignment is O(C·n), linear across scale
    // factors. The r8 fixed-STRIDE form grew its codebook with the
    // corpus (C = n/50), which BENCH_sf1.json measured at 13.6× for 10×
    // data — quadratic by construction.
    // knownN from parquet footers (metadata-only, O(files)) — sizing
    // pays no full count() scan before assignment (r9 verdict
    // What's-wrong #2)
    "v3_ivf_topk" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      annTopK(emb, annTrain(emb,
          AnnIndex(Coarse(Cells(10, Some(embeddingsN(s, dir)))))))
        .orderBy(col("query_id"), desc("sim"), col("neighbor_id"))
    }),

    // IVF at the operating point: codebook sized C ~ sqrt(n) from a
    // cheap count (capped — a bound codebook is the extreme-scale norm
    // and keeps assignment linear in n). The fixed-centroidEvery v3/v5
    // forms scale their codebook with the corpus, which is quadratic
    // across SFs — BENCH_sf1.json measures the difference.
    "v7_ivf_auto" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      annTopK(emb, annTrain(emb, AnnIndex(Coarse(Sqrt))))
        .orderBy(col("query_id"), desc("sim"), col("neighbor_id"))
    }))

  private val oracles4: Map[String, String] = Map(

    "q30_uniq_exact" ->
      """SELECT count(DISTINCT l_orderkey) AS u_orders,
        |  count(DISTINCT l_partkey) AS u_parts, count(*) AS n
        |FROM lineitem""".stripMargin,

    "q31_quantiles" ->
      """SELECT o_orderpriority,
        |  round(quantile_cont(o_totalprice, 0.25), 6) AS p25,
        |  round(quantile_cont(o_totalprice, 0.5), 6) AS p50,
        |  round(quantile_cont(o_totalprice, 0.75), 6) AS p75
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    // KMV replay ×2 (see q42): distinct portable hashes, keep the k=256
    // smallest, estimate (k-1)·M/h_k — deterministic, so hash-matchable.
    "q30b_uniq_approx" ->
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
         |FROM a1, a2""".stripMargin,

    // deterministic hash-sample median: same rows selected in both engines
    "q31b_quantiles_approx" ->
      s"""SELECT round(quantile_cont(o_totalprice, 0.5), 6) AS p50_approx
         |FROM orders
         |WHERE ${sqlCharFold("CAST(o_orderkey AS VARCHAR)")} % 10 = 0""".stripMargin,

    "q32_argmax" ->
      """WITH m AS (SELECT c_nationkey, max((c_acctbal, c_custkey)) AS mx
        |           FROM customer GROUP BY c_nationkey)
        |SELECT c_nationkey, mx[1] AS best_bal, mx[2] AS best_cust
        |FROM m ORDER BY c_nationkey""".stripMargin,

    "q34_prewhere" ->
      """SELECT count(*) AS n, sum(l_quantity) AS sum_qty FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_extendedprice * (1.0 - l_discount) > 50000""".stripMargin,

    "q35_colregex" ->
      """SELECT CAST(sum(l_orderkey) AS BIGINT) AS s_ok,
        |  CAST(sum(l_partkey) AS BIGINT) AS s_pk,
        |  CAST(sum(l_suppkey) AS BIGINT) AS s_sk
        |FROM lineitem""".stripMargin,

    "q36_fill_interpolate" ->
      """WITH d AS (SELECT CAST(o_orderdate AS DATE) AS d,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
        |  FROM orders WHERE o_custkey < 100 GROUP BY 1),
        |axis AS (SELECT CAST(unnest(generate_series(
        |  (SELECT min(d) FROM d), (SELECT max(d) FROM d), INTERVAL 1 DAY)) AS DATE) AS d),
        |joined AS (SELECT axis.d AS d, rev FROM axis LEFT JOIN d USING (d))
        |SELECT d, coalesce(last_value(rev IGNORE NULLS)
        |    OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |  0.0) AS rev
        |FROM joined ORDER BY d""".stripMargin,

    "q37_group_by_all" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n
        |FROM lineitem GROUP BY ALL
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q38_intersect" ->
      """SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1999
        |ORDER BY o_custkey""".stripMargin,

    "q39_except" ->
      """SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1999
        |ORDER BY o_custkey""".stripMargin,

    "e5_first_event" ->
      """SELECT user_id, event_type, event_id FROM (
        |  SELECT user_id, event_type, event_id,
        |    row_number() OVER (PARTITION BY user_id, event_type
        |                       ORDER BY ts, event_id) AS rn
        |  FROM events) WHERE rn = 1
        |ORDER BY user_id, event_type""".stripMargin,

    "v3_ivf_topk" ->
      s"""WITH vecs AS (SELECT vec_id AS id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |stride AS (SELECT GREATEST(1, count(*) // 10) AS s FROM vecs),
         |cents AS (SELECT id AS cid, v AS cv FROM vecs
         |  WHERE id % (SELECT s FROM stride) = 0),
         |assign AS (SELECT id, v, cid,
         |  round(${sqlDot("v", "cv")} /
         |    (sqrt(${sqlNormSq("v")}) * sqrt(${sqlNormSq("cv")})), 6) AS csim
         |  FROM vecs CROSS JOIN cents),
         |cells AS (SELECT id, v, cid AS cell FROM (
         |  SELECT id, v, cid, row_number() OVER (PARTITION BY id
         |    ORDER BY csim DESC, cid) AS rn FROM assign) WHERE rn = 1),
         |q AS (SELECT id AS query_id, v AS qv, cell FROM cells WHERE id < 10),
         |scored AS (SELECT query_id, c.id AS neighbor_id,
         |  round(${sqlDot("qv", "c.v")} /
         |    (sqrt(${sqlNormSq("qv")}) * sqrt(${sqlNormSq("c.v")})), 6) AS sim
         |  FROM q JOIN cells c USING (cell) WHERE query_id <> c.id),
         |rk AS (SELECT query_id, neighbor_id, sim, row_number() OVER (
         |  PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rn
         |  FROM scored)
         |SELECT query_id, neighbor_id, sim FROM rk WHERE rn <= 3
         |ORDER BY query_id, sim DESC, neighbor_id""".stripMargin,

    // same algebra as v3 but the centroid stride is computed from the
    // corpus size (C ~ sqrt(n)), mirroring the Sqrt sizing's every =
    // max(1, round(sqrt(n)), n/4096)
    "v7_ivf_auto" ->
      s"""WITH vecs AS (SELECT vec_id AS id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |stride AS (SELECT GREATEST(1,
         |    CAST(round(sqrt(count(*))) AS BIGINT),
         |    count(*) // 4096) AS s FROM vecs),
         |cents AS (SELECT id AS cid, v AS cv FROM vecs
         |  WHERE id % (SELECT s FROM stride) = 0),
         |assign AS (SELECT id, v, cid,
         |  round(${sqlDot("v", "cv")} /
         |    (sqrt(${sqlNormSq("v")}) * sqrt(${sqlNormSq("cv")})), 6) AS csim
         |  FROM vecs CROSS JOIN cents),
         |cells AS (SELECT id, v, cid AS cell FROM (
         |  SELECT id, v, cid, row_number() OVER (PARTITION BY id
         |    ORDER BY csim DESC, cid) AS rn FROM assign) WHERE rn = 1),
         |q AS (SELECT id AS query_id, v AS qv, cell FROM cells WHERE id < 10),
         |scored AS (SELECT query_id, c.id AS neighbor_id,
         |  round(${sqlDot("qv", "c.v")} /
         |    (sqrt(${sqlNormSq("qv")}) * sqrt(${sqlNormSq("c.v")})), 6) AS sim
         |  FROM q JOIN cells c USING (cell) WHERE query_id <> c.id),
         |rk AS (SELECT query_id, neighbor_id, sim, row_number() OVER (
         |  PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rn
         |  FROM scored)
         |SELECT query_id, neighbor_id, sim FROM rk WHERE rn <= 3
         |ORDER BY query_id, sim DESC, neighbor_id""".stripMargin)

  // ===== batch 5: dictionaries, predicates, retention, vector aggregation =====

  private val batch5: Map[String, (SparkSession, String) => DataFrame] = Map(

    // CH dictGet: broadcast dictionary lookup (no fact-side shuffle)
    "q33_dict_lookup" -> ((s, dir) =>
      ChOps.dictGet(
          tbl(s, dir, "customer").filter(col("c_custkey") < 100),
          tbl(s, dir, "nation"),
          "c_nationkey", "n_nationkey", Map("n_name" -> "nation"))
        .select("c_custkey", "c_name", "nation")
        .orderBy("c_custkey")),

    // ILIKE / LIKE / NOT LIKE predicate family (ColumnExprPrecedence3)
    "q40_like_family" -> ((s, dir) =>
      tbl(s, dir, "part").agg(
        sum(when(col("p_type").like("%BRASS%"), 1).otherwise(0)).as("n_like"),
        sum(when(col("p_type").ilike("%brass%"), 1).otherwise(0)).as("n_ilike"),
        sum(when(!col("p_type").like("%BRASS%"), 1).otherwise(0)).as("n_notlike"))),

    // week-over-week retention from the events stream
    "e6_retention" -> ((s, dir) => {
      val wk = events(s, dir)
        .select(col("user_id"), date_trunc("week", col("ts")).cast(DateType).as("wk"))
        .distinct()
      val nxt = wk.select(col("user_id"), col("wk").as("wk2"))
      wk.join(nxt, col("wk2") === date_add(col("wk"), 7) &&
          wk("user_id") === nxt("user_id"))
        .groupBy("wk").agg(count(lit(1)).as("retained"))
        .orderBy("wk")
    }),

    // label centroids: element-wise mean of embeddings per label
    // (the k-means/IVF training step as a relational aggregation)
    "v4_label_centroids" -> ((s, dir) =>
      tbl(s, dir, "embeddings")
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
        .groupBy("label", "pos")
        .agg(round(avg(col("x").cast(DoubleType)), 6).as("c"))
        .orderBy("label", "pos")),

    // refresh order: topological levels over the dependency DAG
    "m7_refresh_levels" -> ((s, _) => {
      val catalog = CatalogSource.fixtureCatalog(s).toDF()
        .filter(!col("database").isin(CatalogSource.systemDbs: _*))
      val objs = catalog.select(concat_ws(".", col("database"), col("name")).as("id"))
      graft.operators.DependencyGraph.refreshLevels(objs, fixtureEdges(s))
        .orderBy("id")
    }),

    // per-view error channel (P1 keep-going contract) as a queryable result
    "m8_lineage_errors" -> ((s, _) => {
      val (_, errs) = LineagePipeline.dependencies(
        CatalogSource.fixtureCatalog(s).toDF())
      errs.orderBy("view")
    }),

    // KMV distinct sketch: custom typed Aggregator (uniq-family middle tier)
    "q42_kmv_distinct" -> ((s, dir) =>
      tbl(s, dir, "lineitem").agg(
        round(graft.functions.KmvSketch.kmvDistinct(
          graft.functions.PortableHash.charFold(col("l_partkey").cast(StringType)),
          256), 6).as("est"))),

    // ASOF with tolerance window: stale matches become NULL
    "e7_asof_tolerance" -> ((s, dir) => {
      val ev = events(s, dir).select("event_id", "user_id", "ts")
      val ord = tbl(s, dir, "orders")
        .groupBy(col("o_custkey").as("user_id"), col("o_orderdate"))
        .agg(max("o_orderkey").as("o_orderkey"))
      ChOps.asofJoinLeftTolerance(ev, ord, "user_id", "ts", "o_orderdate",
          Seq("o_orderkey"), 800000000L)
        .select("event_id", "o_orderkey").orderBy("event_id")
    }),

    // correlated scalar subquery -> Catalyst decorrelation  [TPC-H Q17 shape]
    "q43_correlated" -> ((s, dir) => {
      tbl(s, dir, "lineitem").createOrReplaceTempView("graft_li43")
      s.sql(
        """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
          |  AS total
          |FROM graft_li43 l1
          |WHERE l_quantity < (SELECT 0.5 * avg(l_quantity) FROM graft_li43 l2
          |                    WHERE l2.l_partkey = l1.l_partkey)""".stripMargin)
    }),

    // null-handling scalar functions
    "q45_null_funcs" -> ((s, dir) =>
      tbl(s, dir, "orders")
        .selectExpr("nullif(o_orderstatus, 'O') AS s",
          "coalesce(nullif(o_orderstatus, 'F'), 'fallback') AS c")
        .agg(count(col("s")).as("n_not_o"),
          sum(when(col("c") === "fallback", 1).otherwise(0)).cast(LongType)
            .as("n_fell_back"),
          count(lit(1)).as("n"))),

    // approximate percentile: deterministic hash-sample tier. A ~10%
    // sample selected by portable hash (charFold % 10 == 0 — the same
    // rows in every engine) + exact interpolated quantile over the
    // sample. Unlike t-digest/GK sketches the estimate is reproducible
    // bit-for-bit in DuckDB, so this rides the hash gate;
    // percentile_approx (the GK tier) stays covered by SketchSpec.
    "q31b_quantiles_approx" -> ((s, dir) =>
      tbl(s, dir, "orders")
        .filter(pmod(graft.functions.PortableHash.charFold(
          col("o_orderkey").cast(StringType)), lit(10L)) === 0)
        .agg(round(percentile(col("o_totalprice"), lit(0.5)), 6).as("p50_approx"))),

    // multimodal frame sampling: fixed-size frames -> digest per frame
    // (video frame-extraction batch shape; stub digests the bytes)
    "x2_frame_sample" -> ((s, dir) =>
      tbl(s, dir, "documents")
        .select(col("doc_id"), posexplode(transform(
          sequence(lit(0),
            floor((length(col("text")) + 63) / lit(64)).cast(IntegerType) - 1),
          i => md5(col("text").substr(i * 64 + 1, lit(64)))))
          .as(Seq("frame_id", "digest")))
        .orderBy("doc_id", "frame_id")),

    // REAL video-frame decode: synthesize animated GIFs distributed
    // (params are pure functions of the id), decode them back through
    // javax.imageio's sequence reader — frame count from the true index
    // scan, pixel sums from the decoded rasters; the oracle re-derives
    // every column (including the sums) from the generator formulas
    "x5_video_frames" -> ((s, dir) =>
      Multimodal.sampleGifFrames(
          Multimodal.syntheticGifs(
            tbl(s, dir, "documents").filter(col("doc_id") < 300), "doc_id"),
          "doc_id")
        .toDF().drop("err").orderBy("doc_id", "frame_id")),

    // IVF with multi-cell probing (nprobe=2): recall/latency trade dial,
    // on the same constant-C codebook as v3 (linear assignment)
    "v5_ivf_nprobe2" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      annTopK(emb, annTrain(emb,
          AnnIndex(Coarse(Cells(10, Some(embeddingsN(s, dir)))))), nprobe = 2)
        .orderBy(col("query_id"), desc("sim"), col("neighbor_id"))
    }))

  private val oracles5: Map[String, String] = Map(

    "q33_dict_lookup" ->
      """SELECT c_custkey, c_name, n_name AS nation
        |FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey
        |WHERE c_custkey < 100 ORDER BY c_custkey""".stripMargin,

    "q40_like_family" ->
      """SELECT
        |  CAST(sum(CASE WHEN p_type LIKE '%BRASS%' THEN 1 ELSE 0 END) AS BIGINT) AS n_like,
        |  CAST(sum(CASE WHEN p_type ILIKE '%brass%' THEN 1 ELSE 0 END) AS BIGINT) AS n_ilike,
        |  CAST(sum(CASE WHEN p_type NOT LIKE '%BRASS%' THEN 1 ELSE 0 END) AS BIGINT) AS n_notlike
        |FROM part""".stripMargin,

    "e6_retention" ->
      """WITH wk AS (SELECT DISTINCT user_id,
        |    CAST(date_trunc('week', ts) AS DATE) AS wk FROM events)
        |SELECT a.wk AS wk, count(*) AS retained
        |FROM wk a JOIN wk b ON b.wk = a.wk + 7 AND a.user_id = b.user_id
        |GROUP BY a.wk ORDER BY a.wk""".stripMargin,

    "v4_label_centroids" ->
      """SELECT label, CAST(i AS INTEGER) AS pos,
        |  round(avg(CAST(embedding[i + 1] AS DOUBLE)), 6) AS c
        |FROM embeddings, range(64) r(i)
        |GROUP BY label, i ORDER BY label, pos""".stripMargin,

    "m7_refresh_levels" ->
      (tableNames.map(t => s"('test.$t')") ++ viewNames.map(v => s"('test.$v')"))
        .mkString("WITH RECURSIVE objs(id) AS (SELECT * FROM (VALUES ", ", ",
          s"""))
             |, e(src, dst) AS (VALUES $edgeValues),
             |lv(id, level) AS (
             |  SELECT id, 0 FROM objs WHERE id NOT IN (SELECT dst FROM e)
             |  UNION ALL
             |  SELECT e.dst, lv.level + 1 FROM lv JOIN e ON e.src = lv.id)
             |SELECT id, CAST(max(level) AS INTEGER) AS level
             |FROM lv GROUP BY id ORDER BY id""".stripMargin),

    "m8_lineage_errors" ->
      """SELECT * FROM (VALUES
        |  ('test.v_broken', 'LineageParseException: Unterminated string literal'))
        |AS t(view, error) ORDER BY view""".stripMargin,

    "q42_kmv_distinct" ->
      s"""WITH h AS (SELECT DISTINCT ${sqlCharFold("CAST(l_partkey AS VARCHAR)")} AS hv
         |  FROM lineitem),
         |k AS (SELECT hv FROM h ORDER BY hv LIMIT 256),
         |a AS (SELECT count(*) AS n, max(hv) AS hk FROM k)
         |SELECT CASE WHEN n < 256 THEN CAST(n AS DOUBLE)
         |  ELSE round(255 * 2147483647.0 / hk, 6) END AS est FROM a""".stripMargin,

    "e7_asof_tolerance" ->
      """WITH r AS (SELECT o_custkey AS user_id, o_orderdate,
        |                  max(o_orderkey) AS o_orderkey
        |           FROM orders GROUP BY 1, 2),
        |m AS (SELECT event_id, ts, o_orderkey, o_orderdate
        |      FROM events ASOF LEFT JOIN r
        |        ON events.user_id = r.user_id AND r.o_orderdate <= events.ts)
        |SELECT event_id,
        |  CASE WHEN epoch(o_orderdate) >= epoch(ts) - 800000000
        |       THEN o_orderkey END AS o_orderkey
        |FROM m ORDER BY event_id""".stripMargin,

    "q43_correlated" ->
      """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |  AS total
        |FROM lineitem l1
        |WHERE l_quantity < (SELECT 0.5 * avg(l_quantity) FROM lineitem l2
        |                    WHERE l2.l_partkey = l1.l_partkey)""".stripMargin,

    "q45_null_funcs" ->
      """SELECT count(nullif(o_orderstatus, 'O')) AS n_not_o,
        |  CAST(sum(CASE WHEN coalesce(nullif(o_orderstatus, 'F'), 'fallback')
        |                     = 'fallback' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_fell_back,
        |  count(*) AS n
        |FROM orders""".stripMargin,

    // every column re-derived from the GIF generator's pure functions —
    // a header mis-parse or raster mis-decode cannot match pixel_sum
    "x5_video_frames" ->
      """WITH p AS (SELECT doc_id AS id,
        |    CAST(doc_id % 8 + 2 AS INTEGER) AS n,
        |    CAST(doc_id % 32 + 8 AS INTEGER) AS w,
        |    CAST(doc_id * 3 % 24 + 8 AS INTEGER) AS h,
        |    CAST((doc_id % 8 + 2 + 3) // 4 AS INTEGER) AS s
        |  FROM documents WHERE doc_id < 300),
        |f AS (SELECT id, n, w, h, CAST(j.j * s AS INTEGER) AS frame_id
        |  FROM p, range(0, 4) j(j) WHERE j.j * s < n),
        |px AS (SELECT f.id, f.frame_id, f.n, f.w, f.h,
        |    sum((f.id + f.frame_id * 17 + x.x * 31 + y.y * 7) % 256) AS pixel_sum
        |  FROM f, range(0, 40) x(x), range(0, 32) y(y)
        |  WHERE x.x < f.w AND y.y < f.h
        |  GROUP BY f.id, f.frame_id, f.n, f.w, f.h)
        |SELECT id AS doc_id, frame_id, n AS n_frames, w AS width, h AS height,
        |  CAST(pixel_sum AS BIGINT) AS pixel_sum
        |FROM px ORDER BY doc_id, frame_id""".stripMargin,

    "x2_frame_sample" ->
      """SELECT doc_id, CAST(i AS INTEGER) AS frame_id,
        |  md5(substr(text, CAST(i * 64 + 1 AS INTEGER), 64)) AS digest
        |FROM documents, range(0, 64) r(i)
        |WHERE i < floor((length(text) + 63) / 64.0)
        |ORDER BY doc_id, frame_id""".stripMargin,

    "v5_ivf_nprobe2" ->
      s"""WITH vecs AS (SELECT vec_id AS id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |stride AS (SELECT GREATEST(1, count(*) // 10) AS s FROM vecs),
         |cents AS (SELECT id AS cid, v AS cv FROM vecs
         |  WHERE id % (SELECT s FROM stride) = 0),
         |assign AS (SELECT id, v, cid,
         |  round(${sqlDot("v", "cv")} /
         |    (sqrt(${sqlNormSq("v")}) * sqrt(${sqlNormSq("cv")})), 6) AS csim
         |  FROM vecs CROSS JOIN cents),
         |ranked AS (SELECT id, v, cid, row_number() OVER (PARTITION BY id
         |    ORDER BY csim DESC, cid) AS rn FROM assign),
         |cells AS (SELECT id, v, cid AS cell FROM ranked WHERE rn = 1),
         |q AS (SELECT id AS query_id, v AS qv, cid AS cell FROM ranked
         |  WHERE rn <= 2 AND id < 10),
         |scored AS (SELECT query_id, c.id AS neighbor_id,
         |  round(${sqlDot("qv", "c.v")} /
         |    (sqrt(${sqlNormSq("qv")}) * sqrt(${sqlNormSq("c.v")})), 6) AS sim
         |  FROM q JOIN cells c USING (cell) WHERE query_id <> c.id),
         |rk AS (SELECT query_id, neighbor_id, sim, row_number() OVER (
         |  PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rn
         |  FROM scored)
         |SELECT query_id, neighbor_id, sim FROM rk WHERE rn <= 3
         |ORDER BY query_id, sim DESC, neighbor_id""".stripMargin)

  // ===== batch 6: window frame/navigation details, regex predicates =====

  private val batch6: Map[String, (SparkSession, String) => DataFrame] = Map(

    // RANGE frame on a numeric (epoch) ordering: 30-day trailing spend
    "q46_range_frame" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate").cast(TimestampType).cast(DoubleType))
        .rangeBetween(-2592000, 0)
      tbl(s, dir, "orders").filter(col("o_custkey") < 50)
        .select(col("o_custkey"), col("o_orderkey"),
          sum(decimal(col("o_totalprice"))).over(w).cast(DoubleType)
            .as("trailing_30d"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    // lag/lead navigation: days between consecutive orders
    "q47_lag_lead" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      tbl(s, dir, "orders").filter(col("o_custkey") < 50)
        .select(col("o_custkey"), col("o_orderkey"),
          datediff(col("o_orderdate").cast(DateType),
            lag(col("o_orderdate"), 1).over(w).cast(DateType)).as("gap_days"),
          datediff(lead(col("o_orderdate"), 1).over(w).cast(DateType),
            col("o_orderdate").cast(DateType)).as("next_gap_days"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    // first/last/nth value over an explicit frame
    "q48_value_nav" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      tbl(s, dir, "orders").filter(col("o_custkey") < 50)
        .select(col("o_custkey"), col("o_orderkey"),
          first(col("o_orderkey")).over(w).as("first_ok"),
          last(col("o_orderkey")).over(w).as("last_ok"),
          nth_value(col("o_orderkey"), 2).over(w).as("second_ok"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    // ntile bucketing
    "q49_ntile" -> ((s, dir) => {
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      tbl(s, dir, "orders")
        .select(col("o_orderpriority"), col("o_orderkey"),
          ntile(4).over(w).as("quartile"))
        .orderBy("o_orderpriority", "o_orderkey")
    }),

    // PIVOT: status x priority matrix (CH would use sumIf columns)
    "q53_pivot" -> ((s, dir) =>
      tbl(s, dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .select(col("o_orderpriority"),
          coalesce(col("F"), lit(0L)).as("f"),
          coalesce(col("O"), lit(0L)).as("o"),
          coalesce(col("P"), lit(0L)).as("p"))
        .orderBy("o_orderpriority")),

    // UNPIVOT / melt: wide measures -> long (metric, value) pairs
    "q54_unpivot" -> ((s, dir) =>
      tbl(s, dir, "lineitem").filter(col("l_orderkey") < 100)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_discount", "l_tax")
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_discount"), col("l_tax")),
          "metric", "value")
        .orderBy("l_orderkey", "l_linenumber", "metric")),

    // array function family: sort/reverse/contains/slice over built arrays
    "q51_array_funcs" -> ((s, dir) =>
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
        .orderBy("l_orderkey")),

    // exact distinct users per hour (windowed cardinality)
    "e8_hourly_uniques" -> ((s, dir) =>
      events(s, dir)
        .groupBy(date_trunc("hour", col("ts")).as("h"))
        .agg(countDistinct(col("user_id")).as("u"), count(lit(1)).as("n"))
        .orderBy("h")),

    // tuple construction + element access (ColumnExprTuple/TupleAccess,
    // ClickHouseParser.py:15285-15304, 15418-15443)
    "q55_tuple_access" -> ((s, dir) =>
      tbl(s, dir, "orders").filter(col("o_orderkey") < 100)
        .select(struct(col("o_orderkey").as("k"),
          col("o_totalprice").as("v")).as("t"))
        .select(col("t.k").as("k"), col("t.v").as("v"))
        .orderBy("k")),

    // valued CASE (CASE x WHEN v THEN ...) + searched CASE
    "q56_case_forms" -> ((s, dir) =>
      tbl(s, dir, "orders")
        .select(
          when(col("o_orderstatus") === "F", "done")
            .when(col("o_orderstatus") === "O", "open")
            .otherwise("other").as("valued"),
          when(col("o_totalprice") > 300000, "big").otherwise("small")
            .as("searched"))
        .groupBy("valued", "searched").agg(count(lit(1)).as("n"))
        .orderBy("valued", "searched")),

    // INTERVAL arithmetic (ColumnExprInterval, ClickHouseParser.py:15177-15197)
    "q57_interval_arith" -> ((s, dir) =>
      tbl(s, dir, "orders").filter(col("o_orderkey") < 100)
        .select(col("o_orderkey"),
          add_months(col("o_orderdate").cast(DateType), 2).as("plus_2m"),
          date_add(col("o_orderdate").cast(DateType), 90).as("plus_90d"),
          (col("o_orderdate") + expr("INTERVAL 1 HOUR")).cast(TimestampType)
            .as("plus_1h"))
        .orderBy("o_orderkey")),

    // regex predicate (CH match() / LIKE-regex family)
    "q50_regex_match" -> ((s, dir) =>
      tbl(s, dir, "part").agg(
        sum(when(col("p_type").rlike("^ECONOMY"), 1).otherwise(0)).as("n_economy"),
        sum(when(col("p_type").rlike("(BRASS|STEEL)$"), 1).otherwise(0))
          .as("n_metal_suffix")))
  )

  private val oracles6: Map[String, String] = Map(

    "q46_range_frame" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |    PARTITION BY o_custkey ORDER BY epoch(o_orderdate)
        |    RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    AS trailing_30d
        |FROM orders WHERE o_custkey < 50
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q47_lag_lead" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(datediff('day', CAST(lag(o_orderdate) OVER w AS DATE),
        |    CAST(o_orderdate AS DATE)) AS INTEGER) AS gap_days,
        |  CAST(datediff('day', CAST(o_orderdate AS DATE),
        |    CAST(lead(o_orderdate) OVER w AS DATE)) AS INTEGER) AS next_gap_days
        |FROM orders WHERE o_custkey < 50
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q48_value_nav" ->
      """SELECT o_custkey, o_orderkey,
        |  first_value(o_orderkey) OVER w AS first_ok,
        |  last_value(o_orderkey) OVER w AS last_ok,
        |  nth_value(o_orderkey, 2) OVER w AS second_ok
        |FROM orders WHERE o_custkey < 50
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q49_ntile" ->
      """SELECT o_orderpriority, o_orderkey,
        |  ntile(4) OVER (PARTITION BY o_orderpriority
        |                 ORDER BY o_totalprice, o_orderkey) AS quartile
        |FROM orders ORDER BY o_orderpriority, o_orderkey""".stripMargin,

    "q55_tuple_access" ->
      """SELECT o_orderkey AS k, o_totalprice AS v FROM orders
        |WHERE o_orderkey < 100 ORDER BY k""".stripMargin,

    "q56_case_forms" ->
      """SELECT CASE o_orderstatus WHEN 'F' THEN 'done' WHEN 'O' THEN 'open'
        |            ELSE 'other' END AS valued,
        |  CASE WHEN o_totalprice > 300000 THEN 'big' ELSE 'small' END AS searched,
        |  count(*) AS n
        |FROM orders GROUP BY 1, 2 ORDER BY valued, searched""".stripMargin,

    "q57_interval_arith" ->
      """SELECT o_orderkey,
        |  CAST(CAST(o_orderdate AS DATE) + INTERVAL 2 MONTH AS DATE) AS plus_2m,
        |  CAST(CAST(o_orderdate AS DATE) + INTERVAL 90 DAY AS DATE) AS plus_90d,
        |  o_orderdate + INTERVAL 1 HOUR AS plus_1h
        |FROM orders WHERE o_orderkey < 100 ORDER BY o_orderkey""".stripMargin,

    "q53_pivot" ->
      """SELECT o_orderpriority,
        |  CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS f,
        |  CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS o,
        |  CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS p
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q54_unpivot" ->
      """SELECT l_orderkey, l_linenumber, metric, value FROM (
        |  SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric,
        |         l_quantity AS value FROM lineitem
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem)
        |WHERE l_orderkey < 100
        |ORDER BY l_orderkey, l_linenumber, metric""".stripMargin,

    "q51_array_funcs" ->
      """SELECT l_orderkey,
        |  array_to_string(list_reverse(list_sort(list(l_linenumber))), ',') AS rev_s,
        |  list_contains(list_sort(list(l_linenumber)), 3) AS has3,
        |  array_to_string(list_sort(list(l_linenumber))[1:2], ',') AS first2_s,
        |  CAST(len(list(l_linenumber)) AS INTEGER) AS n
        |FROM lineitem WHERE l_orderkey < 1000
        |GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin,

    "e8_hourly_uniques" ->
      """SELECT date_trunc('hour', ts) AS h,
        |  count(DISTINCT user_id) AS u, count(*) AS n
        |FROM events GROUP BY 1 ORDER BY h""".stripMargin,

    "q50_regex_match" ->
      """SELECT
        |  CAST(sum(CASE WHEN regexp_matches(p_type, '^ECONOMY') THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_economy,
        |  CAST(sum(CASE WHEN regexp_matches(p_type, '(BRASS|STEEL)$') THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_metal_suffix
        |FROM part""".stripMargin)

  // ===== batch 7: ALTER mutations, table functions, FILL STEP, COLLATE =====

  private val batch7: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ALTER TABLE ... DELETE WHERE (ClickHouseParser.py:2324-2344) as the
    // real mutation job: copy → distributed rewrite → read the result.
    // The transform is a row-local anti-filter — no shuffle, codegen'd.
    "d1_mutation_delete" -> ((s, dir) => {
      val out = java.nio.file.Files.createTempDirectory("graft_d1").toString
      Mutations.rewriteTable(s, s"$dir/orders.parquet", out,
        df => Mutations.delete(df,
          col("o_orderstatus") === "F" && col("o_totalprice") < 50000.0))
      s.read.parquet(out)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderpriority")
        .orderBy("o_orderkey")
    }),

    // ALTER TABLE ... UPDATE col = expr WHERE (ClickHouseParser.py:2242-2263):
    // conditional column replacement, rewrite-on-write. +100.0 is IEEE-exact
    // on both engines (no rounding divergence).
    "d2_mutation_update" -> ((s, dir) => {
      val out = java.nio.file.Files.createTempDirectory("graft_d2").toString
      Mutations.rewriteTable(s, s"$dir/orders.parquet", out,
        df => Mutations.update(df,
          Seq("o_totalprice" -> (col("o_totalprice") + lit(100.0))),
          col("o_orderpriority") === "1-URGENT"))
      s.read.parquet(out)
        .select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
        .orderBy("o_orderkey")
    }),

    // numbers(n) table-function source (tableFunctionExpr,
    // ClickHouseParser.py:17027-17087) → spark.range: generation itself is
    // distributed, nothing materializes on the driver.
    "q58_numbers_source" -> ((s, _) =>
      TableFunctions.numbers(s, 100L)
        .select(col("number"), (col("number") * 2).as("dbl"),
          pmod(col("number"), lit(7L)).as("m"))
        .orderBy("number")),

    // ORDER BY ... WITH FILL STEP 3 on a NUMERIC axis
    // (fillStep grammar, ClickHouseParser.py:11317-11352) — the dense axis
    // is sequence()+explode, distributed, never a driver-side range.
    "q59_fill_step" -> ((s, dir) => {
      val d = tbl(s, dir, "lineitem")
        .filter(col("l_partkey") < 3 && col("l_linenumber") >= 6)
        .groupBy((lit(3) * floor(col("l_quantity") / 3)).cast(LongType).as("qb"))
        .agg(count(lit(1)).as("n"))
      ChOps.withFillStep(d, "qb", lit(3L), Map("n" -> lit(0L))).orderBy("qb")
    }),

    // ORDER BY expr COLLATE 'ci' (ClickHouseParser.py:11307-11314): Spark 4
    // native string collation changes the comparator, not the value; raw
    // binary tie-break keeps the order total.
    "q60_collate" -> ((s, dir) =>
      tbl(s, dir, "nation")
        .select(when(pmod(col("n_nationkey"), lit(2)) === 0, lower(col("n_name")))
          .otherwise(col("n_name")).as("name_mixed"))
        .orderBy(ChOps.collateKey(col("name_mixed"), "ci"), col("name_mixed"))))

  private val oracles7: Map[String, String] = Map(

    "d1_mutation_delete" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority
        |FROM orders
        |WHERE NOT (o_orderstatus = 'F' AND o_totalprice < 50000.0)
        |ORDER BY o_orderkey""".stripMargin,

    "d2_mutation_update" ->
      """SELECT o_orderkey, o_orderstatus,
        |  CASE WHEN o_orderpriority = '1-URGENT' THEN o_totalprice + 100.0
        |       ELSE o_totalprice END AS o_totalprice,
        |  o_orderpriority
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q58_numbers_source" ->
      """SELECT number, number * 2 AS dbl, number % 7 AS m
        |FROM (SELECT range AS number FROM range(100))
        |ORDER BY number""".stripMargin,

    "q59_fill_step" ->
      """WITH d AS (SELECT CAST(3 * floor(l_quantity / 3) AS BIGINT) AS qb,
        |    count(*) AS n
        |  FROM lineitem WHERE l_partkey < 3 AND l_linenumber >= 6 GROUP BY 1),
        |axis AS (SELECT gs AS qb FROM generate_series(0, 200, 3) t(gs)
        |  WHERE gs BETWEEN (SELECT min(qb) FROM d) AND (SELECT max(qb) FROM d))
        |SELECT axis.qb AS qb, coalesce(n, CAST(0 AS BIGINT)) AS n
        |FROM axis LEFT JOIN d USING (qb) ORDER BY qb""".stripMargin,

    "q60_collate" ->
      """SELECT name_mixed FROM (
        |  SELECT CASE WHEN n_nationkey % 2 = 0 THEN lower(n_name) ELSE n_name END
        |    AS name_mixed FROM nation)
        |ORDER BY lower(name_mixed), name_mixed""".stripMargin)

  // ===== batch 8: SELECT FINAL, dedup clusters, embedding near-dup =====

  /** DuckDB re-derivation of Similarity.hyperplaneBucket: the plane
    * component is pure LCG arithmetic, the dot is a sequential fold —
    * bit-identical doubles, so the sign pattern (bucket id) matches. */
  private def sqlHyperBucket(v: String, nPlanes: Int): String =
    (0 until nPlanes).map { p =>
      val dot = s"""list_reduce(list_prepend(0.0, list_transform(range(len($v)),
         | i -> $v[i+1] * (CAST((($p*64 + 1 + i) * 2654435761) % 2147483647
         |   AS DOUBLE) / 2147483647.0 - 0.5))), (acc, x) -> acc + x)""".stripMargin
      s"(CASE WHEN $dot >= 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  private val batch8: Map[String, (SparkSession, String) => DataFrame] = Map(

    // SELECT ... FROM t FINAL (ReplacingMergeTree read-time collapse,
    // FINAL modifier ClickHouseParser.py:12756): latest version per key —
    // here "version" = l_linenumber, key = l_orderkey, so FINAL yields each
    // order's newest line. One partial-aggregable shuffle, no window.
    "q62_final" -> ((s, dir) =>
      ChOps.selectFinal(
          tbl(s, dir, "lineitem")
            .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"),
          keys = Seq("l_orderkey"), versionCol = "l_linenumber")
        .orderBy("l_orderkey")),

    // duplicate clusters: the t5 LSH pipeline's verified pairs, closed into
    // connected components (cluster_id = min reachable doc_id = keeper).
    // Three planted generations per doc (original, near-dup, near-dup of
    // the near-dup) make transitivity do real work.
    "t9_dedup_clusters" -> ((s, dir) => {
      val d = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
      val p1 = d.select((col("doc_id") + 10000).as("doc_id"),
        concat(col("text"), lit(" graft extra token")).as("text"))
      val p2 = d.select((col("doc_id") + 20000).as("doc_id"),
        concat(col("text"), lit(" graft extra token and more")).as("text"))
      val all = d.unionByName(p1).unionByName(p2)
      // lazy localCheckpoint, not .persist() — see t5 (session-lifetime
      // CacheManager entry + silent cross-pass reuse)
      val pre = all
        .select(col("doc_id"), Dedup.shingleHashes(col("text"), 3).as("hs"))
        .select(col("doc_id"), col("hs"),
          Dedup.minhashSignature(col("hs"), 16).as("sig"))
        .localCheckpoint(false)
      val cands = Dedup.lshCandidatePairs(
        Dedup.lshBands(pre, "doc_id", "sig", 2, 8), "doc_id")
      val h1 = pre.select(col("doc_id").as("id1"), col("hs").as("h1"))
      val h2 = pre.select(col("doc_id").as("id2"), col("hs").as("h2"))
      val verified = cands.join(h1, "id1").join(h2, "id2")
        .filter(Dedup.jaccard(col("h1"), col("h2")) >= 0.5)
        .select("id1", "id2")
      Dedup.connectedComponents(verified)
        .select(col("id").as("doc_id"), col("cluster_id"))
        .orderBy("doc_id")
    }),

    // embedding-cosine near-dup via hyperplane LSH buckets: candidate pairs
    // share a sign-pattern bucket, exact cosine verifies. Planted exact
    // copies (vec_id+10000) guarantee hits; naturals come along free.
    "v6_embed_neardup" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings").select("vec_id", "embedding")
      val copies = emb.select((col("vec_id") + 10000).as("vec_id"), col("embedding"))
      graft.operators.Similarity.nearDuplicatesLsh(
          emb.unionByName(copies), "vec_id", "embedding",
          nPlanes = 8, threshold = 0.9)
        .orderBy("id1", "id2")
    }))

  private val oracles8: Map[String, String] = Map(

    "q62_final" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM (SELECT *, row_number() OVER (PARTITION BY l_orderkey
        |        ORDER BY l_linenumber DESC, l_quantity DESC, l_extendedprice DESC)
        |        AS rn FROM lineitem)
        |WHERE rn = 1 ORDER BY l_orderkey""".stripMargin,

    "t9_dedup_clusters" ->
      s"""WITH base AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 10000, text || ' graft extra token' FROM documents
         |  UNION ALL
         |  SELECT doc_id + 20000, text || ' graft extra token and more' FROM documents),
         |toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM base),
         |sh AS (SELECT doc_id, list_distinct(list_transform(
         |    range(0, greatest(len(t) - 3, 0) + 1),
         |    i -> array_to_string(t[i+1:i+3], ' '))) AS shingles FROM toks),
         |hs AS (SELECT doc_id, shingles,
         |  list_transform(shingles, s -> ${sqlCharFold("s")}) AS hashes FROM sh),
         |sig AS (SELECT doc_id, shingles, list_transform(range(16), p ->
         |  list_min(list_transform(hashes,
         |    h -> (h * (2 * p + 1) + (12345 * p + 1)) % 2147483647))) AS sig FROM hs),
         |bands AS (SELECT doc_id, b AS band_id,
         |  list_reduce(list_prepend(CAST(0 AS BIGINT), sig[b*8+1:b*8+8]),
         |    (acc, x) -> (acc * 1000003 + x) % 2147483647) AS band_hash
         |  FROM sig, range(2) r(b)),
         |cands AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
         |  FROM bands a JOIN bands b
         |    ON a.band_id = b.band_id AND a.band_hash = b.band_hash
         |   AND a.doc_id < b.doc_id),
         |verified AS (SELECT id1, id2 FROM cands
         |  JOIN hs h1 ON h1.doc_id = id1
         |  JOIN hs h2 ON h2.doc_id = id2
         |  WHERE CAST(len(list_distinct(list_intersect(h1.hashes, h2.hashes))) AS DOUBLE) /
         |        len(list_distinct(list_concat(h1.hashes, h2.hashes))) >= 0.5),
         |edges AS (SELECT id1 AS a, id2 AS b FROM verified
         |  UNION SELECT id2, id1 FROM verified),
         |reach AS (
         |  WITH RECURSIVE r(src, dst) AS (
         |    SELECT a, b FROM edges UNION SELECT a, a FROM edges
         |    UNION
         |    SELECT r.src, e.b FROM r JOIN edges e ON r.dst = e.a)
         |  SELECT src, dst FROM r)
         |SELECT src AS doc_id, min(dst) AS cluster_id
         |FROM reach GROUP BY src ORDER BY doc_id""".stripMargin,

    "v6_embed_neardup" ->
      s"""WITH base AS (
         |  SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + 10000, list_transform(embedding, x -> CAST(x AS DOUBLE))
         |  FROM embeddings),
         |b AS (SELECT id, v, ${sqlHyperBucket("v", 8)} AS bucket FROM base)
         |SELECT DISTINCT l.id AS id1, r.id AS id2,
         |  round(${sqlDot("l.v", "r.v")} /
         |    (sqrt(${sqlNormSq("l.v")}) * sqrt(${sqlNormSq("r.v")})), 6) AS sim
         |FROM b l JOIN b r ON l.bucket = r.bucket AND l.id < r.id
         |WHERE round(${sqlDot("l.v", "r.v")} /
         |    (sqrt(${sqlNormSq("l.v")}) * sqrt(${sqlNormSq("r.v")})), 6) >= 0.9
         |ORDER BY id1, id2""".stripMargin)

  // ===== batch 9: aggregate/scalar function families =====

  private val batch9: Map[String, (SparkSession, String) => DataFrame] = Map(

    // topK(k)(col) — exact tier of CH's frequent-items aggregate: partial
    // count + TakeOrderedAndProject; the count shrinks to |distinct| rows
    // map-side, then k·partitions rows merge on the driver.
    "q63_topk_freq" -> ((s, dir) =>
      tbl(s, dir, "part")
        .groupBy("p_type").agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), col("p_type")).limit(5)),

    // avgWeighted(x, w): decimal-internal sums (order-independent), double
    // out — a single partial-aggregable pass.
    "q64_avg_weighted" -> ((s, dir) =>
      tbl(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg((sum(decimal(col("l_extendedprice") * col("l_quantity"), 28, 4))
                .cast(DoubleType) /
              sum(decimal(col("l_quantity"), 28, 4)).cast(DoubleType))
          .as("w_avg"))
        .orderBy("l_returnflag")),

    // ARRAY JOIN with position (arrayEnumerate / posexplode)
    "q65_array_join_pos" -> ((s, dir) =>
      tbl(s, dir, "lineitem")
        .filter(col("l_orderkey") < 200)
        .groupBy("l_orderkey")
        .agg(sort_array(collect_list(col("l_linenumber"))).as("lines"))
        .select(col("l_orderkey"), posexplode(col("lines")))
        .select(col("l_orderkey"), col("pos").cast(LongType).as("pos"),
          col("col").as("ln"))
        .orderBy("l_orderkey", "pos")),

    // JSON extraction family: string + typed paths over the props column
    "q66_json_funcs" -> ((s, dir) =>
      events(s, dir)
        .filter(col("event_id") < 200)
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").as("k_str"),
          get_json_object(col("props"), "$.k").cast(LongType).as("k_int"),
          get_json_object(col("props"), "$.missing").as("absent"))
        .orderBy("event_id")),

    // windowFunnel (CH funnel-depth aggregate): per-user deepest
    // signup→click→purchase chain within 3 days, as a codegen'd fold over
    // each user's sorted (ts,step)-encoded events; output = depth histogram.
    "e9_window_funnel" -> ((s, dir) =>
      ChOps.windowFunnel(events(s, dir), "user_id", "ts", "event_type",
          Seq("signup", "click", "purchase"), 259200000000L)
        .groupBy("level").agg(count(lit(1)).as("n"))
        .orderBy("level")),

    // URL function family (domain / path / extractURLParameter): URLs
    // synthesized deterministically from part attributes, parsed with the
    // codegen'd parse_url — no UDF.
    "q67_url_funcs" -> ((s, dir) =>
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
        .orderBy("p_partkey")))

  private val oracles9: Map[String, String] = Map(

    "q63_topk_freq" ->
      """SELECT p_type, count(*) AS n FROM part
        |GROUP BY p_type ORDER BY n DESC, p_type LIMIT 5""".stripMargin,

    "q64_avg_weighted" ->
      """SELECT l_returnflag,
        |  CAST(sum(CAST(l_extendedprice * l_quantity AS DECIMAL(28,4))) AS DOUBLE) /
        |  CAST(sum(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE) AS w_avg
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q65_array_join_pos" ->
      """WITH lines AS (SELECT l_orderkey,
        |    list_sort(list(l_linenumber)) AS ls
        |  FROM lineitem WHERE l_orderkey < 200 GROUP BY l_orderkey)
        |SELECT l_orderkey, CAST(i AS BIGINT) AS pos, ls[i + 1] AS ln
        |FROM lines, range(32) r(i) WHERE i < len(ls)
        |ORDER BY l_orderkey, pos""".stripMargin,

    "q66_json_funcs" ->
      """SELECT event_id,
        |  json_extract_string(props, '$.k') AS k_str,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_int,
        |  json_extract_string(props, '$.missing') AS absent
        |FROM events WHERE event_id < 200 ORDER BY event_id""".stripMargin,

    // identical fold re-derived in DuckDB over the same encoded longs, as
    // a RECURSIVE CTE stepping each user's sorted stream one event per
    // iteration (a1..a3 = per-level latest-chain timestamps, -1 = unset).
    // NOT a list_reduce lambda: DuckDB 1.0's vectorized list_reduce can
    // cross accumulator lanes between rows under branching CASE (seen as
    // swapped per-user results at sf0.001) — the recursion is lane-safe.
    "e9_window_funnel" ->
      """WITH RECURSIVE ev AS (SELECT user_id,
        |    epoch_us(ts) * 10 + (CASE event_type WHEN 'signup' THEN 0
        |      WHEN 'click' THEN 1 WHEN 'purchase' THEN 2 END) AS e
        |  FROM events WHERE event_type IN ('signup', 'click', 'purchase')),
        |ord AS (SELECT user_id, e,
        |    row_number() OVER (PARTITION BY user_id ORDER BY e) AS i FROM ev),
        |n AS (SELECT user_id, count(*) AS cnt FROM ord GROUP BY user_id),
        |st(user_id, i, a1, a2, a3) AS (
        |  SELECT user_id, CAST(0 AS BIGINT), CAST(-1 AS BIGINT),
        |    CAST(-1 AS BIGINT), CAST(-1 AS BIGINT) FROM n
        |  UNION ALL
        |  SELECT st.user_id, st.i + 1,
        |    CASE WHEN o.e % 10 = 0 THEN greatest(st.a1, o.e // 10)
        |         ELSE st.a1 END,
        |    CASE WHEN o.e % 10 = 1 AND st.a1 >= 0
        |          AND o.e // 10 - st.a1 <= 259200000000
        |         THEN greatest(st.a2, st.a1) ELSE st.a2 END,
        |    CASE WHEN o.e % 10 = 2 AND st.a2 >= 0
        |          AND o.e // 10 - st.a2 <= 259200000000
        |         THEN greatest(st.a3, st.a2) ELSE st.a3 END
        |  FROM st JOIN ord o ON o.user_id = st.user_id AND o.i = st.i + 1),
        |fin AS (SELECT st.user_id, st.a1, st.a2, st.a3
        |  FROM st JOIN n ON st.user_id = n.user_id AND st.i = n.cnt)
        |SELECT CAST(CASE WHEN a3 >= 0 THEN 3 WHEN a2 >= 0 THEN 2
        |    WHEN a1 >= 0 THEN 1 ELSE 0 END AS INTEGER) AS level,
        |  count(*) AS n
        |FROM fin GROUP BY 1 ORDER BY level""".stripMargin,

    "q67_url_funcs" ->
      """WITH u AS (SELECT p_partkey,
        |    'https://' || replace(lower(p_brand), '#', '-') || '.example.com/' ||
        |    replace(lower(p_type), ' ', '/') || '?q=' || p_partkey AS url
        |  FROM part WHERE p_partkey < 300)
        |SELECT p_partkey,
        |  split_part(split_part(url, '//', 2), '/', 1) AS host,
        |  regexp_extract(url, '//[^/]+(/[^?]*)', 1) AS path,
        |  regexp_extract(url, 'q=([0-9]+)', 1) AS q
        |FROM u ORDER BY p_partkey""".stripMargin)

  // ===== batch 10: join-matrix closure, LIMIT OFFSET, CH type mapping =====

  private val batch10: Map[String, (SparkSession, String) => DataFrame] = Map(

    // FULL [OUTER] JOIN (JoinOpFull, ClickHouseParser.py:10574-10593):
    // customers missing from one side and per-customer order rollups from
    // the other, so BOTH null sides are exercised; the full join shuffles
    // each side once on the key, then a tiny 3-row aggregate.
    "q68_full_join" -> ((s, dir) => {
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
    }),

    // RIGHT SEMI / RIGHT ANTI / RIGHT OUTER (JoinOpLeftRight,
    // ClickHouseParser.py:10618-10645) via the side-swap rewrite; the
    // right-outer null-probe branch re-derives the anti set independently.
    "q69_right_semi_anti" -> ((s, dir) => {
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
    }),

    // LIMIT n OFFSET m (limitExpr, ClickHouseParser.py:11077-11139, OFFSET
    // at 11094; comma form LIMIT m, n is the same helper) on a
    // deterministic total order.
    "q70_limit_offset" -> ((s, dir) =>
      ChOps.limitOffset(
        tbl(s, dir, "orders").select("o_orderkey", "o_totalprice")
          .orderBy("o_orderkey"),
        offset = 100, n = 10)),

    // LIMIT n WITH TIES on a COMPOUND ordering (limitExpr WITH TIES,
    // ClickHouseParser.py:10223-10259): the distributed cutoff-tuple form —
    // no global window, the table never shuffles (plan pinned in
    // ScaleDesignSpec).
    "q71_ties_compound" -> ((s, dir) =>
      ChOps.distributedTopKWithTiesCompound(
          tbl(s, dir, "part").select("p_partkey", "p_brand", "p_retailprice"),
          Seq(col("p_retailprice") -> true, col("p_brand") -> false), 5)
        .orderBy(desc("p_retailprice"), col("p_brand"), col("p_partkey"))),

    // REAL image decode (javax.imageio): the fixture writes one genuine
    // PNG per document (dimensions a pure function of doc_id), the codec
    // sniffs + decodes it, and the oracle re-derives the dimensions the
    // decoder MUST find — a real decode checked by SQL. Distributed end to
    // end: PNG encode and decode both run per-partition.
    "x3_image_decode" -> ((s, dir) => {
      import graft.operators.Multimodal
      // fan out the id list (KB shuffle) so encode+decode run wide — safe
      // now that ImageIO's per-image temp-file cache is off (row-local)
      val ids = graft.plans.ScaleShape.fanOut(
        tbl(s, dir, "documents").select("doc_id"), col("doc_id"))
      Multimodal.extractMetaImage(
          Multimodal.syntheticPngs(ids, "doc_id"), "doc_id")
        .toDF()
        .filter(col("err").isNull)
        .select(col("doc_id"), col("format"), col("width"), col("height"))
        .orderBy("doc_id")
    }),

    // FULL ANY JOIN (JoinOpFull + ANY strictness): one row per key per
    // side (deterministic pick), then full outer — CH's ANY-strictness
    // contract on both null sides.
    "q73_full_any" -> ((s, dir) => {
      val o = tbl(s, dir, "orders").filter(col("o_custkey") % 4 === 1)
        .select(col("o_custkey").as("custkey"), col("o_orderkey"))
      val c = tbl(s, dir, "customer").filter(col("c_custkey") % 3 === 1)
        .select(col("c_custkey").as("custkey"), col("c_acctbal"))
      ChOps.fullAnyJoin(o, c, Seq("custkey"),
          pickLeft = Seq(col("o_orderkey")), pickRight = Seq(col("c_acctbal")))
        .orderBy("custkey")
    }),

    // CH array math family: arrayDifference / arrayCumSum / arrayCompact
    // over per-order line-number arrays — composed codegen'd HOFs. Output
    // arrays are serialized to comma-joined strings so the driver's
    // pandas comparator (which sorts column values) can hash them; the
    // array logic itself is unchanged underneath.
    "q74_array_math" -> ((s, dir) =>
      tbl(s, dir, "lineitem").filter(col("l_orderkey") < 100)
        .groupBy("l_orderkey")
        .agg(sort_array(collect_list(col("l_linenumber").cast(LongType)))
          .as("lns"))
        .select(col("l_orderkey"),
          array_join(ChOps.arrayDifference(col("lns")).cast("array<string>"), ",").as("diffs"),
          array_join(ChOps.arrayCumSum(col("lns")).cast("array<string>"), ",").as("cums"),
          array_join(ChOps.arrayCompact(col("lns")).cast("array<string>"), ",").as("compacted"))
        .orderBy("l_orderkey")),

    // bit aggregate family (groupBitAnd/Or/Xor)
    "q75_bit_aggs" -> ((s, dir) =>
      tbl(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(bit_and(col("l_linenumber").cast(LongType)).as("b_and"),
          bit_or(col("l_linenumber").cast(LongType)).as("b_or"),
          bit_xor(col("l_linenumber").cast(LongType)).as("b_xor"))
        .orderBy("l_returnflag")),

    // groupArray / groupUniqArray (CH's collect aggregates), sorted for
    // cross-engine determinism; comma-joined for the driver's comparator
    "q76_group_array" -> ((s, dir) =>
      tbl(s, dir, "orders").filter(col("o_custkey") < 50)
        .groupBy("o_custkey")
        .agg(array_join(sort_array(collect_list(col("o_orderstatus"))), ",").as("statuses"),
          array_join(sort_array(collect_set(col("o_orderstatus"))), ",").as("uniq_statuses"))
        .orderBy("o_custkey")),

    // CH encoding/hash function family (hex / base64Encode / MD5 / SHA256)
    "q77_encoding_funcs" -> ((s, dir) =>
      tbl(s, dir, "part").filter(col("p_partkey") < 100)
        .select(col("p_partkey"),
          lower(hex(col("p_brand").cast(BinaryType))).as("hexed"),
          base64(col("p_brand").cast(BinaryType)).as("b64"),
          md5(col("p_brand").cast(BinaryType)).as("md5h"),
          sha2(col("p_brand").cast(BinaryType), 256).as("sha256h"))
        .orderBy("p_partkey")),

    // CH math/bit scalar families restricted to IEEE-exact operations
    // (sqrt/abs/floor/ceil/sign/modulo/shifts are bit-identical across
    // engines; libm-backed exp/log are deliberately excluded from the
    // hash gate)
    "q78_math_funcs" -> ((s, dir) =>
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
        .orderBy("l_orderkey", "l_linenumber", "sq")),

    // CH date/time function family (toStartOfMonth/Quarter/Week, date
    // parts, dateDiff-style arithmetic) — all integer/date-exact
    "q79_date_funcs" -> ((s, dir) =>
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
        .orderBy("o_orderkey")),

    // CH IPv4 function family (IPv4NumToString / IPv4StringToNum /
    // isIPv4String) — pure integer arithmetic + string ops, exact
    "q80_ip_funcs" -> ((s, dir) => {
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
    }),

    // CH array predicate family: has / hasAll / hasAny / indexOf /
    // countEqual over per-order line-number arrays
    "q81_array_predicates" -> ((s, dir) =>
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
        .orderBy("l_orderkey")),

    // sequenceMatch('(?1).*(?2).*(?3)') — ordered-subsequence event
    // pattern per user (funnel DP, unbounded window); depth histogram
    "e10_sequence_match" -> ((s, dir) =>
      ChOps.sequenceMatch(events(s, dir), "user_id", "ts", "event_type",
          Seq("signup", "click", "purchase"))
        .groupBy("matched").agg(count(lit(1)).as("n"))
        .orderBy("matched")),

    // sequenceCount: greedy non-overlapping complete-chain count per user
    "e11_sequence_count" -> ((s, dir) =>
      ChOps.sequenceCount(events(s, dir), "user_id", "ts", "event_type",
          Seq("signup", "click", "purchase"))
        .orderBy("user_id")),

    // deltaSum: sum of positive adjacent deltas of the per-user value
    // sequence in ts order (CH's counter-increase aggregate) — lag window
    // partitioned by user, then a plain sum
    "e12_delta_sum" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      events(s, dir)
        .withColumn("d",
          col("value") - lag(col("value"), 1).over(w))
        .filter(col("d") > 0)
        .groupBy("user_id")
        .agg(sum(decimal(col("d"), 28, 6)).cast(DoubleType).as("delta_sum"))
        .orderBy("user_id")
    }),

    // maxIntersections: maximum number of concurrently-open [ts, ts+30min)
    // intervals per user — the classic +1/-1 sweep as a partitioned
    // ordered cumsum (ends sort before starts at the same instant:
    // half-open intervals)
    "e13_max_intersections" -> ((s, dir) => {
      val ev = events(s, dir).select(col("user_id"),
        unix_micros(col("ts")).as("t0"),
        (unix_micros(col("ts")) + 1800000000L).as("t1"))
      val pts = ev.select(col("user_id"), col("t0").as("t"), lit(1).as("d"))
        .unionByName(ev.select(col("user_id"), col("t1").as("t"), lit(-1).as("d")))
      val w = Window.partitionBy("user_id").orderBy(col("t"), col("d"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      pts.withColumn("open", sum(col("d")).over(w))
        .groupBy("user_id").agg(max(col("open")).as("max_open"))
        .orderBy("user_id")
    }),

    // uniqUpTo(N): exact distinct while <= N, else N+1
    "q82_uniq_upto" -> ((s, dir) =>
      ChOps.uniqUpTo(tbl(s, dir, "lineitem"), Seq("l_returnflag"),
          "l_suppkey", 50)
        .orderBy("l_returnflag")),

    // quantileExactWeighted(0.5)(x, w): smallest x whose cumulative weight
    // reaches q·W. Scale shape: per-(group, value) weights aggregate FIRST
    // (one balanced map-side-combinable shuffle over the full table), and
    // only then the ordered cumsum window runs — over |distinct values|
    // rows per group, not |rows| (ScaleDesignSpec pins Aggregate-below-
    // Window). Value is the sole order key, so no tie-break columns are
    // needed for cross-engine determinism.
    "q83_weighted_quantile" -> ((s, dir) => {
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
    }),

    // topKWeighted + argMin (weight-summed frequent items; struct-min)
    "q84_topk_weighted_argmin" -> ((s, dir) =>
      tbl(s, dir, "part")
        .groupBy("p_type")
        .agg(sum(decimal(col("p_retailprice"), 28, 2)).cast(DoubleType).as("wsum"),
          min_by(col("p_partkey"), struct(col("p_retailprice"), col("p_partkey")))
            .as("cheapest_key"))
        .orderBy(desc("wsum"), col("p_type")).limit(5)),

    // moment statistics family (stddevPop/varPop/covarPop/corr) — rounded
    // to 6: the partial-merge accumulation order differs across engines
    // only at ~1e-12 relative
    "q85_stats_aggs" -> ((s, dir) =>
      tbl(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(round(stddev_pop(col("l_quantity")), 6).as("sd"),
          round(var_pop(col("l_quantity")), 6).as("vp"),
          round(covar_pop(col("l_quantity"), col("l_discount")), 6).as("cv"),
          round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("cr"))
        .orderBy("l_returnflag")),

    // formatDateTime + toYYYYMM/toYYYYMMDD numeric date keys (CH's
    // partition-key idiom) — string formatting and integer arithmetic,
    // both exact
    "q86_datetime_format" -> ((s, dir) =>
      tbl(s, dir, "orders").filter(col("o_orderkey") < 200)
        .select(col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("fmt_date"),
          date_format(col("o_orderdate"), "yyyy-MM").as("fmt_month"),
          date_format(col("o_orderdate"), "HH:mm:ss").as("fmt_time"),
          (year(col("o_orderdate")) * 100 + month(col("o_orderdate")))
            .as("yyyymm"),
          (year(col("o_orderdate")) * 10000 + month(col("o_orderdate")) * 100
            + dayofmonth(col("o_orderdate"))).as("yyyymmdd"))
        .orderBy("o_orderkey")),

    // string pad/repeat/position family (leftPad/rightPad/repeat/
    // position/substringIndex)
    "q87_string_pad" -> ((s, dir) =>
      tbl(s, dir, "part").filter(col("p_partkey") < 100)
        .select(col("p_partkey"),
          lpad(col("p_brand"), 12, "*").as("lp"),
          rpad(col("p_brand"), 12, "-").as("rp"),
          repeat(col("p_brand"), 2).as("rep"),
          instr(col("p_type"), "BRASS").cast(LongType).as("pos_brass"),
          substring_index(col("p_type"), " ", 2).as("first_two"),
          reverse(col("p_brand")).as("rev"))
        .orderBy("p_partkey")),

    // histogram over fixed-width bins (the deterministic tier of CH's
    // adaptive histogram()) — IEEE division by a representable constant
    // is correctly rounded on every engine, so bins are exact
    "q88_histogram" -> ((s, dir) =>
      tbl(s, dir, "lineitem")
        .select(floor(col("l_quantity") / 10.0).cast(IntegerType).as("bin"))
        .groupBy("bin").agg(count(lit(1)).as("n"))
        .orderBy("bin")),

    // sumMap: per-key sums emitted as sorted parallel (keys, sums) arrays
    // — CH's map-aggregate contract; two partial-combinable aggregations.
    // Arrays serialize to comma-joined strings (decimal rendering is
    // scale-pinned, so the string form is engine-portable).
    "q89_sum_map" -> ((s, dir) =>
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
        .orderBy("l_returnflag")),

    // end-to-end training-data pipeline: exact dedup (md5 digest, min-id
    // keeper) → NEAR-dup removal (MinHash/LSH candidates, hashed-shingle
    // Jaccard verify, larger-id partner dropped) → language filter
    // (single-pass native langId must agree with the label) → quality
    // scoring → token/punctuation filters → typed output. One digest
    // shuffle + one LSH band shuffle; language/quality stages are
    // row-local — the integration shape every stage above was built for.
    "p1_training_pipeline" -> ((s, dir) => {
      import graft.operators.Dedup
      val docs = tblPar(s, dir, "documents", "doc_id")
      val keepers = docs.groupBy(md5(col("text")).as("digest"))
        .agg(min(col("doc_id")).as("doc_id"))
      // referenced by both the LSH stage and the final keep-set:
      // materialize so the parquet scan + digest shuffle run once, not
      // three times (lazy localCheckpoint, not .persist() — see t5)
      val deduped = docs.join(keepers, Seq("doc_id"), "left_semi")
        .localCheckpoint(false)
      val pre = deduped
        .select(col("doc_id"), Dedup.shingleHashes(col("text"), 3).as("hs"))
        .select(col("doc_id"), col("hs"),
          Dedup.minhashSignature(col("hs"), 16).as("sig"))
        .localCheckpoint(false) // three consumers: bands, h1, h2
      val cands = Dedup.lshCandidatePairs(
        Dedup.lshBands(pre, "doc_id", "sig", 2, 8), "doc_id")
      val nearDrops = cands
        .join(pre.select(col("doc_id").as("id1"), col("hs").as("h1")), "id1")
        .join(pre.select(col("doc_id").as("id2"), col("hs").as("h2")), "id2")
        .filter(round(Dedup.jaccard(col("h1"), col("h2")), 6) >= 0.5)
        .select(col("id2").as("doc_id")).distinct()
      val kept = deduped.join(nearDrops, Seq("doc_id"), "left_anti")
        .filter(TextAnalysis.langId(col("text")) === col("lang"))
      val scored = kept.select(
        col("doc_id"), col("lang"),
        TextAnalysis.tokenCount(col("text")).cast(LongType).as("n_tokens"),
        round((length(col("text")).cast(DoubleType) -
            length(regexp_replace(col("text"), "[.,!?;:]", ""))) /
          greatest(length(col("text")).cast(DoubleType), lit(1.0)), 6)
          .as("punct_ratio"))
      scored.filter(col("n_tokens") >= 20 && col("punct_ratio") < 0.05)
        .orderBy("doc_id")
    }),

    // CH column-type runtime mapping (columnTypeExpr,
    // ClickHouseParser.py:14339-14477): a Nested(...)+Enum8 type string is
    // translated by ChTypes.toSpark and APPLIED — the collected line items
    // are cast to the translated Array(Struct) type (UInt32→long widening
    // comes from the translator, not hand-written), then unnested back.
    "q72_ch_types" -> ((s, dir) => {
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
    }))

  private val oracles10: Map[String, String] = Map(

    "q68_full_join" ->
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
        |GROUP BY 1 ORDER BY side""".stripMargin,

    "q69_right_semi_anti" ->
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
        |GROUP BY kind ORDER BY kind""".stripMargin,

    "q70_limit_offset" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_orderkey LIMIT 10 OFFSET 100""".stripMargin,

    "q71_ties_compound" ->
      """SELECT p_partkey, p_brand, p_retailprice FROM (
        |  SELECT p_partkey, p_brand, p_retailprice,
        |    rank() OVER (ORDER BY p_retailprice DESC, p_brand) AS rk
        |  FROM part) WHERE rk <= 5
        |ORDER BY p_retailprice DESC, p_brand, p_partkey""".stripMargin,

    "q73_full_any" ->
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
        |ORDER BY custkey""".stripMargin,

    "q74_array_math" ->
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
        |FROM g ORDER BY l_orderkey""".stripMargin,

    "q75_bit_aggs" ->
      """SELECT l_returnflag,
        |  bit_and(CAST(l_linenumber AS BIGINT)) AS b_and,
        |  bit_or(CAST(l_linenumber AS BIGINT)) AS b_or,
        |  bit_xor(CAST(l_linenumber AS BIGINT)) AS b_xor
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q76_group_array" ->
      """SELECT o_custkey,
        |  array_to_string(list_sort(list(o_orderstatus)), ',') AS statuses,
        |  array_to_string(list_sort(list(DISTINCT o_orderstatus)), ',') AS uniq_statuses
        |FROM orders WHERE o_custkey < 50
        |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,

    "q77_encoding_funcs" ->
      """SELECT p_partkey,
        |  lower(hex(CAST(p_brand AS BLOB))) AS hexed,
        |  to_base64(CAST(p_brand AS BLOB)) AS b64,
        |  md5(p_brand) AS md5h,
        |  sha256(p_brand) AS sha256h
        |FROM part WHERE p_partkey < 100 ORDER BY p_partkey""".stripMargin,

    "q78_math_funcs" ->
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
        |ORDER BY l_orderkey, l_linenumber, sq""".stripMargin,

    "q79_date_funcs" ->
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
        |FROM orders WHERE o_orderkey < 200 ORDER BY o_orderkey""".stripMargin,

    "q80_ip_funcs" ->
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
        |FROM s ORDER BY p_partkey""".stripMargin,

    "q81_array_predicates" ->
      """WITH g AS (SELECT l_orderkey,
        |    list_sort(list(CAST(l_linenumber AS BIGINT))) AS lns
        |  FROM lineitem WHERE l_orderkey < 100 GROUP BY l_orderkey)
        |SELECT l_orderkey,
        |  list_contains(lns, 3) AS has3,
        |  list_has_all(lns, [1, 2]) AS has_all_12,
        |  list_has_any(lns, [6, 7]) AS has_any_67,
        |  CAST(coalesce(list_position(lns, 2), 0) AS BIGINT) AS idx2,
        |  CAST(len(list_filter(lns, x -> x = 1)) AS BIGINT) AS count_eq_1
        |FROM g ORDER BY l_orderkey""".stripMargin,

    // greedy ordered-subsequence existence == the unbounded-window funnel
    // DP (chain starts propagate, so >= with (ts, step)-sorted processing)
    "e10_sequence_match" ->
      """WITH ev AS (SELECT user_id, epoch_us(ts) AS t, event_type FROM events
        |  WHERE event_type IN ('signup', 'click', 'purchase')),
        |s AS (SELECT user_id, min(t) AS t0 FROM ev
        |  WHERE event_type = 'signup' GROUP BY user_id),
        |c AS (SELECT ev.user_id, min(t) AS t1 FROM ev JOIN s USING (user_id)
        |  WHERE event_type = 'click' AND t >= t0 GROUP BY ev.user_id),
        |p AS (SELECT ev.user_id, min(t) AS t2 FROM ev JOIN c USING (user_id)
        |  WHERE event_type = 'purchase' AND t >= t1 GROUP BY ev.user_id),
        |u AS (SELECT DISTINCT user_id FROM ev),
        |m AS (SELECT u.user_id, p.user_id IS NOT NULL AS matched
        |  FROM u LEFT JOIN p USING (user_id))
        |SELECT matched, count(*) AS n FROM m
        |GROUP BY matched ORDER BY matched""".stripMargin,

    "p1_training_pipeline" ->
      s"""WITH k AS (SELECT md5(text) AS digest, min(doc_id) AS doc_id
         |    FROM documents GROUP BY md5(text)),
         |d AS (SELECT * FROM documents
         |  WHERE doc_id IN (SELECT doc_id FROM k)),
         |dtoks AS (SELECT doc_id, string_split(text, ' ') AS t FROM d),
         |dsh AS (SELECT doc_id, list_distinct(list_transform(
         |    range(0, greatest(len(t) - 3, 0) + 1),
         |    i -> array_to_string(t[i+1:i+3], ' '))) AS shingles FROM dtoks),
         |dhs AS (SELECT doc_id,
         |  list_transform(shingles, s -> ${sqlCharFold("s")}) AS hashes FROM dsh),
         |dsig AS (SELECT doc_id, list_transform(range(16), p ->
         |  list_min(list_transform(hashes,
         |    h -> (h * (2 * p + 1) + (12345 * p + 1)) % 2147483647))) AS sig FROM dhs),
         |dbands AS (SELECT doc_id, b AS band_id,
         |  list_reduce(list_prepend(CAST(0 AS BIGINT), sig[b*8+1:b*8+8]),
         |    (acc, x) -> (acc * 1000003 + x) % 2147483647) AS band_hash
         |  FROM dsig, range(2) r(b)),
         |dcands AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
         |  FROM dbands a JOIN dbands b
         |    ON a.band_id = b.band_id AND a.band_hash = b.band_hash
         |   AND a.doc_id < b.doc_id),
         |drops AS (SELECT DISTINCT id2 AS doc_id FROM dcands
         |  JOIN dhs h1 ON h1.doc_id = id1
         |  JOIN dhs h2 ON h2.doc_id = id2
         |  WHERE CAST(len(list_distinct(list_intersect(h1.hashes, h2.hashes))) AS DOUBLE) /
         |        len(list_distinct(list_concat(h1.hashes, h2.hashes))) >= 0.4999995),
         |dd AS (SELECT * FROM d
         |  WHERE doc_id NOT IN (SELECT doc_id FROM drops)),
         |${langPredCtes("dd")},
         |lk AS (SELECT dd.* FROM dd JOIN lp ON dd.doc_id = lp.doc_id
         |  AND lp.pred = dd.lang),
         |s AS (SELECT doc_id, lang,
         |    CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
         |      AS n_tokens,
         |    round((CAST(length(text) AS DOUBLE) -
         |        length(regexp_replace(text, '[.,!?;:]', '', 'g'))) /
         |      greatest(CAST(length(text) AS DOUBLE), 1.0), 6) AS punct_ratio
         |  FROM lk)
         |SELECT doc_id, lang, n_tokens, punct_ratio FROM s
         |WHERE n_tokens >= 20 AND punct_ratio < 0.05
         |ORDER BY doc_id""".stripMargin,

    "q88_histogram" ->
      """SELECT CAST(floor(l_quantity / 10.0) AS INTEGER) AS bin,
        |  count(*) AS n
        |FROM lineitem GROUP BY bin ORDER BY bin""".stripMargin,

    "q89_sum_map" ->
      """WITH g AS (SELECT l_returnflag, l_linestatus,
        |    sum(CAST(l_quantity AS DECIMAL(28,2))) AS q
        |  FROM lineitem GROUP BY l_returnflag, l_linestatus)
        |SELECT l_returnflag,
        |  array_to_string(list(l_linestatus ORDER BY l_linestatus), ',') AS keys,
        |  array_to_string(list(CAST(CAST(q AS DECIMAL(28,2)) AS VARCHAR)
        |    ORDER BY l_linestatus), ',') AS sums
        |FROM g GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q86_datetime_format" ->
      """SELECT o_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS fmt_date,
        |  strftime(o_orderdate, '%Y-%m') AS fmt_month,
        |  strftime(o_orderdate, '%H:%M:%S') AS fmt_time,
        |  CAST(year(o_orderdate) * 100 + month(o_orderdate) AS INTEGER) AS yyyymm,
        |  CAST(year(o_orderdate) * 10000 + month(o_orderdate) * 100
        |    + day(o_orderdate) AS INTEGER) AS yyyymmdd
        |FROM orders WHERE o_orderkey < 200 ORDER BY o_orderkey""".stripMargin,

    "q87_string_pad" ->
      """SELECT p_partkey,
        |  lpad(p_brand, 12, '*') AS lp,
        |  rpad(p_brand, 12, '-') AS rp,
        |  repeat(p_brand, 2) AS rep,
        |  CAST(strpos(p_type, 'BRASS') AS BIGINT) AS pos_brass,
        |  array_to_string(string_split(p_type, ' ')[1:2], ' ') AS first_two,
        |  reverse(p_brand) AS rev
        |FROM part WHERE p_partkey < 100 ORDER BY p_partkey""".stripMargin,

    "q83_weighted_quantile" ->
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
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q84_topk_weighted_argmin" ->
      """WITH r AS (SELECT p_type,
        |    CAST(sum(CAST(p_retailprice AS DECIMAL(28,2))) AS DOUBLE) AS wsum
        |  FROM part GROUP BY p_type),
        |ck AS (SELECT p_type, p_partkey AS cheapest_key FROM (
        |    SELECT p_type, p_partkey,
        |      row_number() OVER (PARTITION BY p_type
        |        ORDER BY p_retailprice, p_partkey) AS rn
        |    FROM part) WHERE rn = 1)
        |SELECT p_type, wsum, cheapest_key FROM r JOIN ck USING (p_type)
        |ORDER BY wsum DESC, p_type LIMIT 5""".stripMargin,

    "q85_stats_aggs" ->
      """SELECT l_returnflag,
        |  round(stddev_pop(l_quantity), 6) AS sd,
        |  round(var_pop(l_quantity), 6) AS vp,
        |  round(covar_pop(l_quantity, l_discount), 6) AS cv,
        |  round(corr(l_quantity, l_extendedprice), 6) AS cr
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // the same greedy automaton replayed in DuckDB as a RECURSIVE CTE
    // (state = chains + next-needed-step; completing step 3 resets) —
    // lane-safe, see the e9 note on the list_reduce vectorization bug
    "e11_sequence_count" ->
      """WITH RECURSIVE ev AS (SELECT user_id,
        |    epoch_us(ts) * 10 + (CASE event_type WHEN 'signup' THEN 0
        |      WHEN 'click' THEN 1 WHEN 'purchase' THEN 2 END) AS e
        |  FROM events WHERE event_type IN ('signup', 'click', 'purchase')),
        |ord AS (SELECT user_id, e,
        |    row_number() OVER (PARTITION BY user_id ORDER BY e) AS i FROM ev),
        |n AS (SELECT user_id, count(*) AS cnt FROM ord GROUP BY user_id),
        |st(user_id, i, chains, need) AS (
        |  SELECT user_id, CAST(0 AS BIGINT), CAST(0 AS BIGINT), 0 FROM n
        |  UNION ALL
        |  SELECT st.user_id, st.i + 1,
        |    st.chains + CASE WHEN o.e % 10 = st.need AND st.need = 2
        |                     THEN 1 ELSE 0 END,
        |    CASE WHEN o.e % 10 = st.need
        |         THEN CASE WHEN st.need = 2 THEN 0 ELSE st.need + 1 END
        |         ELSE st.need END
        |  FROM st JOIN ord o ON o.user_id = st.user_id AND o.i = st.i + 1)
        |SELECT st.user_id, st.chains AS n_chains
        |FROM st JOIN n ON st.user_id = n.user_id AND st.i = n.cnt
        |ORDER BY st.user_id""".stripMargin,

    "e12_delta_sum" ->
      """WITH w AS (SELECT user_id,
        |    value - lag(value) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS d
        |  FROM events)
        |SELECT user_id,
        |  CAST(sum(CAST(d AS DECIMAL(28,6))) AS DOUBLE) AS delta_sum
        |FROM w WHERE d > 0 GROUP BY user_id ORDER BY user_id""".stripMargin,

    "e13_max_intersections" ->
      """WITH ev AS (SELECT user_id, epoch_us(ts) AS t0,
        |    epoch_us(ts) + 1800000000 AS t1 FROM events),
        |pts AS (SELECT user_id, t0 AS t, 1 AS d FROM ev
        |  UNION ALL SELECT user_id, t1, -1 FROM ev),
        |c AS (SELECT user_id, sum(d) OVER (PARTITION BY user_id
        |    ORDER BY t, d ROWS UNBOUNDED PRECEDING) AS open FROM pts)
        |SELECT user_id, CAST(max(open) AS BIGINT) AS max_open
        |FROM c GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q82_uniq_upto" ->
      """SELECT l_returnflag,
        |  CAST(least(count(DISTINCT l_suppkey), 51) AS BIGINT) AS uniq_upto
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "x3_image_decode" ->
      """SELECT doc_id, 'png' AS format,
        |  CAST(doc_id % 64 + 1 AS INTEGER) AS width,
        |  CAST(doc_id * 7 % 48 + 1 AS INTEGER) AS height
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q72_ch_types" ->
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS ln,
        |  CAST(l_quantity AS DOUBLE) AS qty, l_returnflag AS flag
        |FROM lineitem WHERE l_orderkey < 100
        |ORDER BY l_orderkey, ln, qty, flag""".stripMargin)

  // ===== batch 11: the ClickHouse-SQL text front end (graft.chsql.ChSql) =====
  // Each ch* entry is a CH SELECT *string* parsed and planned by the
  // translator — the reference's declared query surface (queryStmt,
  // ClickHouseParser.py:1705-1786) finally accepted as text. The DuckDB
  // oracles are independent ANSI re-derivations.

  private def chsql(s: SparkSession, dir: String, text: String): DataFrame =
    graft.chsql.ChSql.sql(s, text)(n => tbl(s, dir, n))

  /** [[chsql]] with [[tblPar]]'s scan fan-out on ONE named table — the
    * SQL-surface twin of the tblPar opt-in (r15, guide §2.5): used only
    * where the statement's cross-row aggregates are exact (counts,
    * decimal sums), so the partial-sum order the repartition introduces
    * cannot change a value. No-op at production scan widths. */
  private def chsqlPar(s: SparkSession, dir: String, text: String,
      parTable: String, parKey: String): DataFrame =
    graft.chsql.ChSql.sql(s, text)(n =>
      if (n == parTable) tblPar(s, dir, n, parKey) else tbl(s, dir, n))

  /** Statement-sequence runner for the DDL/DML text surface (ch32+):
    * each statement goes through [[graft.chsql.ChSql.statement]] with
    * catalog-first resolution (tables the sequence CREATEs shadow the
    * parquet dir), and the last statement's frame is the entry result. */
  private def chstmts(s: SparkSession, dir: String, stmts: Seq[String]): DataFrame = {
    val resolve: String => DataFrame = n =>
      if (s.catalog.tableExists(n)) graft.chsql.ChDdl.readTable(s, n)
      else tbl(s, dir, n)
    // DDL/DML side effects run eagerly inside statement(); only the final
    // SELECT stays a lazy frame for the caller
    stmts.map(t => graft.chsql.ChSql.statement(s, t)(resolve)._1).last
  }

  private val batch11: Map[String, (SparkSession, String) => DataFrame] = Map(

    // scan → filter → group → agg, decimal-exact sums (q1 shape, as text)
    "ch1_sql_agg" -> ((s, dir) => chsql(s, dir,
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS Decimal(18, 2))) AS Float64) AS sum_qty,
        |  count() AS n
        |FROM lineitem
        |WHERE l_shipdate <= toDateTime('1998-09-01')
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    // PREWHERE + ORDER BY + LIMIT n BY group + global LIMIT
    "ch2_sql_limit_by" -> ((s, dir) => chsql(s, dir,
      """SELECT o_custkey, o_orderkey, o_totalprice
        |FROM orders
        |PREWHERE o_totalprice > 150000
        |ORDER BY o_custkey, o_totalprice DESC, o_orderkey
        |LIMIT 2 BY o_custkey
        |LIMIT 100""".stripMargin)),

    // join + aggregate + HAVING with an aggregate predicate
    "ch3_sql_join" -> ((s, dir) => chsql(s, dir,
      """SELECT n_name, count() AS cnt,
        |  CAST(sum(CAST(c_acctbal AS Decimal(18, 2))) AS Float64) AS total_bal
        |FROM customer
        |INNER JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name
        |HAVING count() > 10
        |ORDER BY n_name""".stripMargin)),

    // scalar-function surface: dates, strings, multiIf, BETWEEN, IN
    "ch4_sql_funcs" -> ((s, dir) => chsql(s, dir,
      """SELECT o_orderkey,
        |  toYear(o_orderdate) AS yr,
        |  toYYYYMM(o_orderdate) AS ym,
        |  concat(upper(substring(o_orderpriority, 1, 1)), '-',
        |         toString(o_orderkey % 7)) AS tag,
        |  multiIf(o_totalprice > 200000, 'hi',
        |          o_totalprice > 100000, 'mid', 'lo') AS bucket
        |FROM orders
        |WHERE o_orderkey BETWEEN 1 AND 4000 AND o_orderstatus IN ('O', 'F')
        |ORDER BY o_orderkey""".stripMargin)),

    // parametric quantile + countIf + deterministic argMax
    "ch5_sql_quantile" -> ((s, dir) => chsql(s, dir,
      """SELECT o_orderpriority,
        |  round(quantile(0.5)(o_totalprice), 6) AS med,
        |  countIf(o_totalprice > 150000) AS n_big,
        |  argMax(o_orderkey, o_totalprice) AS top_order
        |FROM orders
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin)),

    // ARRAY JOIN over a computed array (token explosion as text)
    "ch6_sql_arrayjoin" -> ((s, dir) => chsql(s, dir,
      """SELECT tok, count() AS n
        |FROM (SELECT splitByChar(' ', text) AS toks FROM documents)
        |ARRAY JOIN toks AS tok
        |GROUP BY tok
        |ORDER BY n DESC, tok
        |LIMIT 20""".stripMargin)),

    // IN (subquery) — planned as a semi join, CH's execution strategy
    "ch7_sql_in_sub" -> ((s, dir) => chsql(s, dir,
      """SELECT count() AS n,
        |  CAST(sum(CAST(o_totalprice AS Decimal(18, 2))) AS Float64) AS total
        |FROM orders
        |WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 9000)""".stripMargin)),

    // UNION ALL of two aggregated branches (set-op inside FROM, ordered)
    "ch8_sql_union" -> ((s, dir) => chsql(s, dir,
      """SELECT st, n FROM (
        |  SELECT o_orderstatus AS st, count() AS n
        |  FROM orders WHERE o_totalprice > 300000 GROUP BY st
        |  UNION ALL
        |  SELECT o_orderstatus AS st, count() AS n
        |  FROM orders WHERE o_totalprice < 5000 GROUP BY st)
        |ORDER BY st, n""".stripMargin)),

    // scalar subquery threshold + SETTINGS clause
    "ch9_sql_scalar_sub" -> ((s, dir) => chsql(s, dir,
      """SELECT count() AS n FROM orders
        |WHERE o_totalprice > (SELECT max(o_totalprice) FROM orders) / 2
        |SETTINGS max_threads = 32""".stripMargin)),

    // ASOF LEFT JOIN as CH text (join strictness in the grammar) over a
    // pre-aggregated right side built by the same translator
    "ch11_sql_asof" -> ((s, dir) => graft.chsql.ChSql.sql(s,
      """SELECT event_id, o_orderkey
        |FROM events
        |ASOF LEFT JOIN (
        |  SELECT o_custkey AS user_id, o_orderdate,
        |         max(o_orderkey) AS o_orderkey
        |  FROM orders GROUP BY user_id, o_orderdate) AS r
        |  ON user_id = user_id AND ts >= o_orderdate
        |ORDER BY event_id""".stripMargin) {
        case "events" => events(s, dir).select("event_id", "user_id", "ts")
        case n => tbl(s, dir, n)
      }),

    // windowFunnel as CH text: per-user funnel depth within a 3-day
    // window, distribution over levels — e9's query via the front end
    "ch18_sql_funnel" -> ((s, dir) => graft.chsql.ChSql.sql(s,
      """SELECT level, count() AS n FROM (
        |  SELECT user_id, windowFunnel(259200)(ts,
        |    event_type = 'signup', event_type = 'click',
        |    event_type = 'purchase') AS level
        |  FROM events GROUP BY user_id)
        |GROUP BY level ORDER BY level""".stripMargin) {
        case "events" => events(s, dir).select("user_id", "ts", "event_type")
        case n => tbl(s, dir, n)
      }),

    // behavioral aggregates as CH text: the sequenceMatch pattern
    // sublanguage (adjacency, time-bound) + any-gap sequenceCount, per
    // user in one GROUP BY — the reference grammar's parametric-function
    // form end-to-end
    "ch17_sql_sequence" -> ((s, dir) => graft.chsql.ChSql.sql(s,
      """SELECT user_id,
        |  sequenceMatch('(?1)(?2)')(ts,
        |    event_type = 'view', event_type = 'click') AS m_adj,
        |  sequenceMatch('(?1)(?t<=7200)(?2)')(ts,
        |    event_type = 'view', event_type = 'purchase') AS m_tb,
        |  sequenceCount('(?1).*(?2)')(ts,
        |    event_type = 'signup', event_type = 'purchase') AS n_chains
        |FROM events
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin) {
        case "events" => events(s, dir).select("user_id", "ts", "event_type")
        case n => tbl(s, dir, n)
      }),

    // date-axis WITH FILL via an INTERVAL step, as CH text
    "ch16_sql_fill_dates" -> ((s, dir) => chsql(s, dir,
      """SELECT d, n FROM (
        |  SELECT toDate(o_orderdate) AS d, count() AS n
        |  FROM orders WHERE o_custkey < 20 GROUP BY d)
        |ORDER BY d WITH FILL STEP INTERVAL 1 day""".stripMargin)),

    // WITH FILL ... INTERPOLATE as CH text: carry counts forward across
    // the filled gaps (bucketed carry, no global window)
    "ch15_sql_interpolate" -> ((s, dir) => chsql(s, dir,
      """SELECT o_custkey AS k, count() AS n
        |FROM orders
        |WHERE o_custkey % 97 = 0
        |GROUP BY k
        |ORDER BY k WITH FILL STEP 97 INTERPOLATE (n)""".stripMargin)),

    // composite text query: FROM-subquery + IN-subquery + date function +
    // generic -If + HAVING + LIMIT in one statement — the realistic shape
    // a reference user would paste in
    "ch14_sql_integration" -> ((s, dir) => chsql(s, dir,
      """SELECT yr, status, count() AS n,
        |  CAST(sum(CAST(o_totalprice AS Decimal(18, 2))) AS Float64) AS rev,
        |  uniqIf(o_custkey, o_totalprice > 200000) AS big_custs
        |FROM (SELECT toYear(o_orderdate) AS yr, o_orderstatus AS status,
        |        o_totalprice, o_custkey
        |      FROM orders
        |      WHERE o_custkey IN (SELECT c_custkey FROM customer
        |                          WHERE c_acctbal > 0))
        |GROUP BY yr, status
        |HAVING count() > 50
        |ORDER BY yr, status
        |LIMIT 20""".stripMargin)),

    // parametric topK(k)(x) as CH text — TypedImperativeAggregate (exact
    // tier: freq desc, value asc, so cross-engine hash-verifiable)
    "ch13_sql_topk" -> ((s, dir) => chsql(s, dir,
      """SELECT l_returnflag,
        |  arrayStringConcat(arrayMap(x -> toString(x),
        |    topK(3)(CAST(l_quantity AS Int64))), ',') AS top_q
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin)),

    // ORDER BY ... WITH FILL STEP as CH text: densify a sparse key axis
    "ch12_sql_with_fill" -> ((s, dir) => chsql(s, dir,
      """SELECT o_custkey AS k, count() AS n
        |FROM orders
        |WHERE o_custkey % 97 = 0
        |GROUP BY k
        |ORDER BY k WITH FILL STEP 97""".stripMargin)),

    // window functions as CH text: ranking + framed running sum + lag
    "ch10_sql_window" -> ((s, dir) => chsql(s, dir,
      """SELECT o_custkey, o_orderkey,
        |  row_number() OVER (PARTITION BY o_custkey
        |    ORDER BY o_totalprice DESC, o_orderkey) AS rn,
        |  CAST(sum(CAST(o_totalprice AS Decimal(18, 2))) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS Float64) AS running,
        |  lag(o_orderkey, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS prev
        |FROM orders
        |WHERE o_custkey < 200
        |ORDER BY o_custkey, o_orderkey""".stripMargin)),

    // GROUP BY ROLLUP(...) as CH text — lowers onto Spark's grouping-set
    // aggregation, super-aggregate rows carry NULL keys
    // scan fan-out opt-in (r15): the ROLLUP Expand triples the row count
    // before the partial aggregate, and on the driver's single-row-group
    // file that all ran as ONE task; count + Decimal sums are exact under
    // any partial-sum order, so the spread is value-identical
    "ch19_sql_rollup" -> ((s, dir) => chsqlPar(s, dir,
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS Decimal(18, 2))) AS Float64) AS sum_qty,
        |  count() AS n
        |FROM lineitem
        |GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
      "lineitem", "l_orderkey")),

    // the WITH CUBE modifier form (GROUP BY a, b WITH CUBE)
    "ch20_sql_cube" -> ((s, dir) => chsql(s, dir,
      """SELECT o_orderstatus, o_orderpriority, count() AS n,
        |  CAST(sum(CAST(o_totalprice AS Decimal(18, 2))) AS Float64) AS total
        |FROM orders
        |GROUP BY o_orderstatus, o_orderpriority WITH CUBE
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin)),

    // GROUP BY GROUPING SETS ((..), (..), ()) as CH text
    "ch21_sql_grouping_sets" -> ((s, dir) => chsql(s, dir,
      """SELECT l_returnflag, l_linestatus, count() AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin)),

    // LIMIT n WITH TIES as CH text (two-pass cutoff, no global window);
    // outer query pins a total output order for the gate
    "ch22_sql_ties" -> ((s, dir) => chsql(s, dir,
      """SELECT pk, price FROM (
        |  SELECT p_partkey AS pk, p_retailprice AS price FROM part
        |  ORDER BY price DESC LIMIT 5 WITH TIES)
        |ORDER BY price DESC, pk""".stripMargin)),

    // SAMPLE k/m as CH text — deterministic key-bucket sampling; the key
    // column rides in SETTINGS (parquet has no SAMPLE BY clause)
    "ch23_sql_sample" -> ((s, dir) => chsql(s, dir,
      """SELECT count() AS n,
        |  CAST(sum(CAST(l_quantity AS Decimal(18, 2))) AS Float64) AS sum_qty
        |FROM lineitem SAMPLE 2/10
        |SETTINGS graft_sample_key = 'l_orderkey'""".stripMargin)),

    // SAMPLE k/m OFFSET o/m2 in the text path (sampleClause OFFSET
    // alternative, ClickHouseParser.py:11016-11083): the offset shifts the
    // deterministic bucket window through the keyspace. Arms 1 and 2 read
    // disjoint windows of the mod-10 bucket space ([0,2) and [5,7)); arm 3
    // uses the fraction form, i.e. window [0.002,0.007) of the 1e6-bucket
    // space — a different modulus, so it overlaps arms 1-2 (harmless: each
    // arm is labeled and aggregated separately). Replayed verbatim in DuckDB
    "ch87_sql_sample_offset" -> ((s, dir) => chsql(s, dir,
      """SELECT part, count() AS n, CAST(sum(k) AS Int64) AS s FROM (
        |  SELECT 1 AS part, l_orderkey AS k FROM lineitem SAMPLE 2/10
        |    SETTINGS graft_sample_key = 'l_orderkey'
        |  UNION ALL
        |  SELECT 2 AS part, l_orderkey AS k FROM lineitem
        |    SAMPLE 2/10 OFFSET 5/10
        |    SETTINGS graft_sample_key = 'l_orderkey'
        |  UNION ALL
        |  SELECT 3 AS part, l_orderkey AS k FROM lineitem
        |    SAMPLE 0.005 OFFSET 0.002
        |    SETTINGS graft_sample_key = 'l_orderkey')
        |GROUP BY part ORDER BY part""".stripMargin)),

    // CH default-fill contract as text (r10): omitted INSERT columns fill
    // the TYPE default (0, NULL only for Nullable), CLEAR COLUMN resets to
    // the recomputed DEFAULT / type default per partition, ADD COLUMN
    // computes its DEFAULT for pre-existing rows at read time, and
    // MODIFY COLUMN ... DEFAULT swaps the rule for later inserts only
    "ch88_sql_default_fill" -> ((s, dir) => chstmts(s, dir, Seq(
      "DROP TABLE IF EXISTS ch88_t",
      """CREATE TABLE ch88_t (k Int64, p Int32, v Int64,
        |  d Int64 DEFAULT k * 2 + 1, n Nullable(Int64))
        |ENGINE = MergeTree PARTITION BY p ORDER BY k""".stripMargin,
      "INSERT INTO ch88_t VALUES (1, 0, 7, 100, 5), (2, 1, 8, 200, 6)",
      "INSERT INTO ch88_t (k, p) VALUES (3, 0), (4, 1)",
      "ALTER TABLE ch88_t CLEAR COLUMN v IN PARTITION 0",
      "ALTER TABLE ch88_t CLEAR COLUMN d IN PARTITION 1",
      "ALTER TABLE ch88_t ADD COLUMN w Int64 DEFAULT k * 10",
      "ALTER TABLE ch88_t MODIFY COLUMN v Int64 DEFAULT k * 5",
      "INSERT INTO ch88_t (k, p) VALUES (5, 0)",
      "SELECT k, p, v, d, n, w FROM ch88_t ORDER BY k"))),

    // bloom_filter data-skipping index (r12): ADD INDEX ... TYPE
    // bloom_filter + MATERIALIZE INDEX build a per-file bit-position
    // sidecar; the session optimizer rule then prunes FILES for
    // equality/IN predicates on the indexed (unsorted, high-cardinality)
    // column. Pruning must be invisible to results — the oracle is the
    // plain filter; the files-read drop is pinned in ScaleDesignSpec.
    "ch89_sql_bloom_index" -> ((s, dir) => chstmts(s, dir, Seq(
      "DROP TABLE IF EXISTS ch89_t",
      """CREATE TABLE ch89_t (k Int64, pk Int64, price Float64)
        |ENGINE = MergeTree ORDER BY k""".stripMargin,
      """INSERT INTO ch89_t SELECT l_orderkey, l_partkey, l_extendedprice
        |FROM lineitem""".stripMargin,
      "ALTER TABLE ch89_t ADD INDEX bf_pk pk TYPE bloom_filter GRANULARITY 1",
      "ALTER TABLE ch89_t MATERIALIZE INDEX bf_pk",
      """SELECT k, pk, price FROM ch89_t WHERE pk IN (42, 142, 1042)
        |ORDER BY k, pk, price""".stripMargin))),

    // SAMPLE n — the approximate row-count form (sampleClause,
    // ClickHouseParser.py:11016-11083; was an honest refusal through
    // r11): n scales onto the SAMPLE BY keyspace via the table's exact
    // count (CH uses size stats), then the standard deterministic
    // 1e6-bucket filter applies. The spread key keeps buckets uniform —
    // the same contract CH puts on SAMPLE BY columns.
    "ch90_sql_sample_rows" -> ((s, dir) => chstmts(s, dir, Seq(
      "DROP TABLE IF EXISTS ch90_t",
      """CREATE TABLE ch90_t (k Int64, flag String, qty Float64)
        |ENGINE = MergeTree ORDER BY k SAMPLE BY k""".stripMargin,
      """INSERT INTO ch90_t
        |SELECT (l_orderkey * 7919 + l_linenumber) % 1000003,
        |  l_returnflag, l_quantity FROM lineitem""".stripMargin,
      """SELECT flag, count() AS n,
        |  CAST(sum(CAST(qty AS Decimal(18, 2))) AS Float64) AS total
        |FROM ch90_t SAMPLE 5000
        |GROUP BY flag ORDER BY flag""".stripMargin))),

    // tokenbf_v1 + hasToken (r12): the text-search skip index — token
    // bloom sidecar built by MATERIALIZE, hasToken(col, 'tok') scans
    // prune files through the same session rule as ch89's value bloom.
    // The NOT conjunct is deliberately unprunable (only positive
    // hasToken conjuncts are sound prune sources) — it rides as a plain
    // filter, proving mixed predicates stay correct.
    "ch91_sql_token_bloom" -> ((s, dir) => chstmts(s, dir, Seq(
      "DROP TABLE IF EXISTS ch91_t",
      """CREATE TABLE ch91_t (id Int64, txt String)
        |ENGINE = MergeTree ORDER BY id""".stripMargin,
      "INSERT INTO ch91_t SELECT doc_id, text FROM documents",
      "ALTER TABLE ch91_t ADD INDEX tok txt TYPE tokenbf_v1(4096, 3, 0)",
      "ALTER TABLE ch91_t MATERIALIZE INDEX tok",
      """SELECT id, length(txt) AS n FROM ch91_t
        |WHERE hasToken(txt, 'merge') AND NOT hasToken(txt, 'vector')
        |ORDER BY id""".stripMargin))),

    // ngrambf_v1 (r12): the substring skip index — character-4-gram
    // bloom sidecar; a LIKE '%pat%' scan (Catalyst simplifies it to
    // Contains) prunes files missing any of the pattern's grams. The
    // multi-word pattern crosses token boundaries — the predicate class
    // neither the value bloom nor the token bloom can serve.
    "ch92_sql_ngram_bloom" -> ((s, dir) => chstmts(s, dir, Seq(
      "DROP TABLE IF EXISTS ch92_t",
      """CREATE TABLE ch92_t (id Int64, txt String)
        |ENGINE = MergeTree ORDER BY id""".stripMargin,
      "INSERT INTO ch92_t SELECT doc_id, text FROM documents",
      "ALTER TABLE ch92_t ADD INDEX ng txt TYPE ngrambf_v1(4, 1024, 3, 0)",
      "ALTER TABLE ch92_t MATERIALIZE INDEX ng",
      """SELECT id, length(txt) AS n FROM ch92_t
        |WHERE txt LIKE '%merge batch%'
        |ORDER BY id""".stripMargin))),

    // EXISTS / NOT EXISTS subqueries (uncorrelated, eager boolean)
    "ch24_sql_exists" -> ((s, dir) => chsql(s, dir,
      """SELECT o_orderstatus, count() AS n FROM orders
        |WHERE EXISTS (SELECT 1 FROM customer WHERE c_acctbal > 9999)
        |  AND NOT EXISTS (SELECT 1 FROM customer WHERE c_acctbal > 999999)
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // ORDER BY ... COLLATE 'ci' as CH text — case-insensitive ordering on
    // a mixed-case computed column, partkey tiebreak for a total order
    "ch25_sql_collate" -> ((s, dir) => chsql(s, dir,
      """SELECT s, pk FROM (
        |  SELECT if(p_partkey % 2 = 0, upper(p_name), p_name) AS s,
        |         p_partkey AS pk
        |  FROM part WHERE p_partkey <= 200)
        |ORDER BY s COLLATE 'ci', pk""".stripMargin)),

    // FROM t FINAL as CH text: ReplacingMergeTree read-time collapse; the
    // engine's sorting key + version ride in SETTINGS (parquet carries no
    // engine clause). Snapshot-with-updates shape: base rows at v=1, a
    // sparse overlay at v=2, FINAL keeps the latest per key.
    "ch26_sql_final" -> ((s, dir) => chsql(s, dir,
      """WITH snap AS (
        |  SELECT o_orderkey AS k, 1 AS v, o_totalprice AS price FROM orders
        |  UNION ALL
        |  SELECT o_orderkey AS k, 2 AS v, o_totalprice * 2 AS price
        |  FROM orders WHERE o_orderkey % 100 = 0)
        |SELECT count() AS n,
        |  CAST(sum(CAST(price AS Decimal(18, 2))) AS Float64) AS total
        |FROM snap FINAL
        |SETTINGS graft_final_keys = 'k', graft_final_version = 'v'""".stripMargin)),

    // COLUMNS('re') APPLY(f) as CH text: regex projection + per-column
    // aggregate wrap, expanded at plan time against the scan schema
    "ch27_sql_columns_apply" -> ((s, dir) => chsql(s, dir,
      """SELECT COLUMNS('^l_(quantity|discount|tax)$') APPLY(max)
        |FROM lineitem""".stripMargin)),

    // SELECT * EXCEPT (cols) as CH text — schema-driven projection
    "ch28_sql_star_except" -> ((s, dir) => chsql(s, dir,
      """SELECT * EXCEPT (r_comment) FROM region ORDER BY r_regionkey""")),

    // sumMap as CH text: per-key sums in ONE aggregation pass (the typed
    // imperative aggregate; contrast q89's two-level groupBy shape)
    // ===== the DDL/DML statement surface as text (ChDdl) =====

    // INSERT INTO table SELECT|VALUES (insertStmt, the most common DML):
    // CREATE a managed table, append a filtered scan + literal tuples as
    // distributed writes, read the union back through a SELECT
    "ch32_sql_insert_select" -> ((s, dir) => chstmts(s, dir, Seq(
      "DROP TABLE IF EXISTS ch32_big",
      """CREATE TABLE ch32_big (k Int64, price Float64, status String)
        |ENGINE = MergeTree ORDER BY k""".stripMargin,
      """INSERT INTO ch32_big
        |SELECT o_orderkey, o_totalprice, o_orderstatus
        |FROM orders WHERE o_totalprice > 200000""".stripMargin,
      "INSERT INTO ch32_big VALUES (-1, 123.5, 'X'), (-2, 47.25, 'X')",
      """SELECT status, count() AS n,
        |  CAST(sum(CAST(price AS Decimal(18, 2))) AS Float64) AS total
        |FROM ch32_big GROUP BY status ORDER BY status""".stripMargin))),

    // CREATE TABLE through the ChTypes column sublanguage (Nullable /
    // LowCardinality / Decimal) + INSERT VALUES with NULLs and an
    // explicit column list (unlisted columns fill NULL)
    "ch33_sql_create_insert" -> ((s, dir) => chstmts(s, dir, Seq(
      "DROP TABLE IF EXISTS ch33_t",
      """CREATE TABLE ch33_t (id Int64, tag LowCardinality(String),
        |  val Nullable(Float64), qty Decimal(18, 2))
        |ENGINE = MergeTree ORDER BY id""".stripMargin,
      """INSERT INTO ch33_t VALUES (1, 'a', 1.5, 10.25), (2, 'b', NULL, 20.5),
        |  (3, 'a', 2.75, 0.01)""".stripMargin,
      "INSERT INTO ch33_t (id, tag, qty) VALUES (4, 'b', 5.5)",
      """SELECT tag, count() AS n, CAST(sum(qty) AS Float64) AS qsum,
        |  CAST(sum(val) AS Float64) AS vsum
        |FROM ch33_t GROUP BY tag ORDER BY tag""".stripMargin))),

    // ALTER TABLE DELETE / UPDATE as text → Mutations rewrite-and-swap
    "ch34_sql_alter_delete" -> ((s, dir) => chstmts(s, dir, Seq(
      "DROP TABLE IF EXISTS ch34_t",
      """CREATE TABLE ch34_t (k Int64, price Float64, flag String)
        |ENGINE = MergeTree ORDER BY k""".stripMargin,
      """INSERT INTO ch34_t SELECT o_orderkey, o_totalprice, o_orderstatus
        |FROM orders WHERE o_orderkey < 5000""".stripMargin,
      "ALTER TABLE ch34_t DELETE WHERE flag = 'F'",
      "ALTER TABLE ch34_t UPDATE price = price * 2 WHERE k % 10 = 0",
      """SELECT flag, count() AS n,
        |  CAST(sum(CAST(price AS Decimal(18, 2))) AS Float64) AS total
        |FROM ch34_t GROUP BY flag ORDER BY flag""".stripMargin))),

    // OPTIMIZE TABLE FINAL as text: ReplacingMergeTree(v) version collapse
    // driven by the engine keys recorded at CREATE TABLE time
    "ch35_sql_optimize_final" -> ((s, dir) => chstmts(s, dir, Seq(
      "DROP TABLE IF EXISTS ch35_t",
      """CREATE TABLE ch35_t (k Int64, v Int64, price Float64)
        |ENGINE = ReplacingMergeTree(v) ORDER BY k""".stripMargin,
      """INSERT INTO ch35_t SELECT o_orderkey, 1, o_totalprice
        |FROM orders WHERE o_orderkey < 2000""".stripMargin,
      """INSERT INTO ch35_t SELECT o_orderkey, 2, o_totalprice * 2
        |FROM orders WHERE o_orderkey < 1000""".stripMargin,
      "OPTIMIZE TABLE ch35_t FINAL",
      """SELECT count() AS n,
        |  CAST(sum(CAST(price AS Decimal(18, 2))) AS Float64) AS total
        |FROM ch35_t""".stripMargin))),

    // dictionary DDL + the scalar dictGet/dictHas expression tier as
    // text: plan-time load into a broadcast map literal (the CH
    // RAM-resident-dictionary model), per-row GetMapValue lookup
    "ch38_sql_dictget" -> ((s, dir) => chstmts(s, dir, Seq(
      "DROP DICTIONARY IF EXISTS ch38_nations",
      s"""CREATE DICTIONARY ch38_nations (n_nationkey Int64, n_name String)
         |PRIMARY KEY n_nationkey
         |SOURCE(FILE(path '$dir/nation.parquet' format 'parquet'))""".stripMargin,
      """SELECT dictGet('ch38_nations', 'n_name', c_nationkey) AS nation,
        |  count() AS cnt
        |FROM customer
        |WHERE dictHas('ch38_nations', c_nationkey)
        |GROUP BY nation ORDER BY nation""".stripMargin))),

    // CTAS + lightweight DELETE FROM + inline FORMAT JSONEachRow data —
    // the remaining insertStmt/createTableStmt/deleteStmt text forms
    "ch37_sql_ctas_delete" -> ((s, dir) => chstmts(s, dir, Seq(
      "DROP TABLE IF EXISTS ch37_t",
      """CREATE TABLE ch37_t ENGINE = MergeTree ORDER BY k AS
        |SELECT o_orderkey AS k, o_totalprice AS price, o_orderstatus AS flag
        |FROM orders WHERE o_orderkey < 3000""".stripMargin,
      "DELETE FROM ch37_t WHERE flag = 'O'",
      """INSERT INTO ch37_t FORMAT JSONEachRow
        |{"k": -1, "price": 10.5, "flag": "Z"}
        |{"flag": "Z", "k": -2, "price": 20.25}""".stripMargin,
      """SELECT flag, count() AS n,
        |  CAST(sum(CAST(price AS Decimal(18, 2))) AS Float64) AS total
        |FROM ch37_t GROUP BY flag ORDER BY flag""".stripMargin))),

    // partition-level ALTER verbs as text (the CH retention/data-management
    // workhorses): DROP PARTITION is a metadata directory delete; DETACH
    // moves the partition dir to detached/ and ATTACH restores it — file
    // renames, zero data rewrite (O(parts), never O(table))
    "ch39_sql_partition_ops" -> ((s, dir) => chstmts(s, dir, Seq(
      "DROP TABLE IF EXISTS ch39_t",
      """CREATE TABLE ch39_t (k Int64, price Float64, flag String)
        |ENGINE = MergeTree ORDER BY k PARTITION BY flag""".stripMargin,
      """INSERT INTO ch39_t SELECT o_orderkey, o_totalprice, o_orderstatus
        |FROM orders WHERE o_orderkey < 4000""".stripMargin,
      "ALTER TABLE ch39_t DROP PARTITION 'F'",
      "ALTER TABLE ch39_t DETACH PARTITION 'O'",
      "ALTER TABLE ch39_t ATTACH PARTITION 'O'",
      """SELECT flag, count() AS n,
        |  CAST(sum(CAST(price AS Decimal(18, 2))) AS Float64) AS total
        |FROM ch39_t GROUP BY flag ORDER BY flag""".stripMargin))),

    // per-column DEFAULT / MATERIALIZED / ALIAS expressions in CREATE
    // TABLE text (tableColumnDfnt): INSERTs omitting defaulted columns
    // fill from the expression (which may reference other inserted
    // columns), MATERIALIZED always computes, ALIAS is projection-time
    "ch40_sql_column_defaults" -> ((s, dir) => chstmts(s, dir, Seq(
      "DROP TABLE IF EXISTS ch40_t",
      """CREATE TABLE ch40_t (id Int64, name String,
        |  upper_name String MATERIALIZED upper(name),
        |  score Float64 DEFAULT 1.5,
        |  tag String DEFAULT concat(name, '!'),
        |  label String ALIAS concat('L:', name))
        |ENGINE = MergeTree ORDER BY id""".stripMargin,
      "INSERT INTO ch40_t (id, name) VALUES (1, 'ann'), (2, 'bob')",
      "INSERT INTO ch40_t (id, name, score) VALUES (3, 'cy', 9.25)",
      """SELECT id, name, upper_name, score, tag, label
        |FROM ch40_t ORDER BY id""".stripMargin))),

    // SummingMergeTree (per-key sums on merge) and CollapsingMergeTree
    // (±1 sign cancellation) — insert, OPTIMIZE FINAL, scan back; the
    // oracle recomputes both collapses from the raw rows
    // parameterized view: the TEXT registers at CREATE (a {p:Type}
    // reference defers building), each read binds literals — the CH
    // parameterized-view surface; DuckDB twin inlines the literals
    "ch63_sql_param_view" -> ((s, dir) => chstmts(s, dir, Seq(
      "DROP VIEW IF EXISTS ch63_v",
      """CREATE VIEW ch63_v AS SELECT o_orderstatus AS st, count() AS n,
        |  CAST(sum(CAST(o_totalprice AS Decimal(18, 2))) AS Float64) AS total
        |FROM orders
        |WHERE o_orderdate >= {lo:Date} AND o_orderdate < {hi:Date}
        |GROUP BY st""".stripMargin,
      """SELECT st, n, total FROM ch63_v(lo = '1995-01-01', hi = '1996-01-01')
        |ORDER BY st""".stripMargin))),

    // aggregate combinators: -OrNull (empty state → NULL), -OrDefault
    // (empty state → 0), -Distinct, chained after -If; the threshold
    // leaves some groups with an empty filtered state
    "ch64_sql_agg_combinators" -> ((s, dir) => chsql(s, dir,
      """SELECT o_orderstatus AS st,
        |  countIfOrNull(o_totalprice > 400000) AS c_hi,
        |  CAST(sumIfOrNull(CAST(o_totalprice AS Decimal(18,2)),
        |                   o_totalprice > 400000) AS Float64) AS s_hi,
        |  CAST(sumIfOrDefault(CAST(o_totalprice AS Decimal(18,2)),
        |                      o_totalprice > 400000) AS Float64) AS s_def,
        |  countDistinct(o_orderpriority) AS np,
        |  CAST(avgDistinct(o_custkey) AS Float64) AS ad
        |FROM orders GROUP BY st ORDER BY st""".stripMargin)),

    // statistical aggregates: singleValueOrNull, boundingRatio, entropy,
    // skewSamp/kurtSamp (one-pass power-sum expansion); floats rounded so
    // the cross-engine summation-order wobble cannot reach the hash
    "ch65_sql_stats_aggs" -> ((s, dir) => chsql(s, dir,
      """SELECT o_orderstatus AS st,
        |  singleValueOrNull(o_orderstatus) AS sv,
        |  CAST(boundingRatio(o_orderkey, o_custkey) AS Float64) AS br,
        |  CAST(round(entropy(o_orderpriority), 6) AS Float64) AS ent,
        |  CAST(round(skewSamp(o_totalprice), 6) AS Float64) AS sk,
        |  CAST(round(kurtSamp(o_totalprice), 6) AS Float64) AS ku
        |FROM orders GROUP BY st ORDER BY st""".stripMargin)),

    // `NOT x IN (subquery)` prefix-NOT form (fuzz-gate discovery): the
    // parser folds the negation into the InSub node, so the WHERE
    // conjunct plans the same anti-join as `x NOT IN (...)`; the
    // projected select-list form rides the same normalization
    "ch85_sql_not_in_subquery" -> ((s, dir) => chsql(s, dir,
      """SELECT o_orderkey AS k, o_custkey AS c,
        |  NOT o_custkey IN (SELECT c_custkey FROM customer
        |    WHERE c_custkey % 3 = 0) AS outside
        |FROM orders
        |WHERE NOT o_custkey IN (SELECT c_custkey FROM customer
        |  WHERE c_custkey % 7 = 0) AND o_orderkey <= 2000
        |ORDER BY k""".stripMargin)),

    // UTF8 pad/search aliases + arrayDotProduct: leftPadUTF8/rightPadUTF8
    // ride lpad/rpad, positionCaseInsensitiveUTF8 rides lowered instr,
    // arrayDotProduct rides the codegen'd native dot the similarity
    // operators use — the DuckDB twin computes the dot in closed form
    "ch84_sql_string_pad_utf8" -> ((s, dir) => chsql(s, dir,
      """SELECT k,
        |  leftPadUTF8(p, 12, '*') AS lp,
        |  rightPadUTF8(p, 12) AS rp,
        |  positionCaseInsensitiveUTF8(p, 'urgent') AS pos,
        |  CAST(round(arrayDotProduct(
        |      [toFloat64(k % 5), 2.0, 3.0],
        |      [1.0, toFloat64(k % 3), 2.0]), 6) AS Float64) AS dp
        |FROM (SELECT o_orderkey AS k, o_orderpriority AS p
        |  FROM orders WHERE o_orderkey <= 200)
        |ORDER BY k""".stripMargin)),

    // sub-second INTERVAL units + DateTime64 add/subtract family
    // (interval rule NANOSECOND/MICROSECOND/MILLISECOND,
    // ClickHouseParser.py:17712-17784): Spark timestamps are µs-precision
    // so ms/µs map to native day-time intervals; ns refuses honestly
    "ch86_sql_subsecond_interval" -> ((s, dir) => chsql(s, dir,
      """SELECT event_id AS k,
        |  ts + INTERVAL 500 MILLISECOND AS t_ms,
        |  ts - INTERVAL 250 MICROSECOND AS t_us,
        |  addMilliseconds(ts, event_id % 100) AS t_addms,
        |  subtractMicroseconds(ts, 1500) AS t_subus,
        |  ts + toIntervalMillisecond(3) AS t_intms,
        |  toStartOfInterval(addMilliseconds(ts, event_id % 997),
        |    INTERVAL 250 MILLISECOND) AS t_grid,
        |  toStartOfMillisecond(addMicroseconds(ts, event_id % 9973))
        |    AS t_msfloor,
        |  toStartOfSecond(addMilliseconds(ts, event_id % 997)) AS t_sfloor
        |FROM events WHERE event_id < 500 ORDER BY k""".stripMargin)),

    // width_bucket histogram indexing, array shifts, query-log literal
    // normalization, decimal size formatting (jumpConsistentHash rides
    // spec-side: its reference vectors are pinned in ChSqlSpec; DuckDB
    // has no loop construct to replay the LCG)
    "ch83_sql_misc_scalar" -> ((s, dir) => chsql(s, dir,
      """SELECT k,
        |  widthBucket(k % 110, 0, 100, 10) AS wb,
        |  arrayStringConcat(arrayMap(x -> toString(x),
        |    arrayShiftLeft([b, c, d], k % 2)), ',') AS sl,
        |  normalizeQuery('SELECT a' || toString(k) || ' + '
        |    || toString(k) || ' WHERE s = \'' || toString(k) || '\'') AS nq,
        |  formatReadableDecimalSize(k * 1000 + 123) AS fr
        |FROM (SELECT o_orderkey AS k, o_orderkey % 5 + 1 AS b,
        |    o_orderkey % 3 + 1 AS c, o_orderkey % 7 + 1 AS d
        |  FROM orders WHERE o_orderkey <= 300)
        |ORDER BY k""".stripMargin)),

    // File(Format) table engine: the table's storage IS the declared
    // interchange format (CSV here) — create/insert/scan-back round-trip;
    // the DuckDB twin computes the same aggregate from the source rows
    "ch82_sql_file_engine" -> ((s, dir) => chstmts(s, dir, Seq(
      "DROP TABLE IF EXISTS ch82_file",
      """CREATE TABLE ch82_file (k Int64, s String, p Float64)
        |ENGINE = File(CSVWithNames)""".stripMargin,
      """INSERT INTO ch82_file
        |SELECT o_orderkey, o_orderpriority, o_totalprice
        |FROM orders WHERE o_orderkey <= 100""".stripMargin,
      """SELECT count() AS n,
        |  CAST(sum(CAST(p AS Decimal(18, 2))) AS Float64) AS total,
        |  min(s) AS mn FROM ch82_file""".stripMargin))),

    // categorical association aggregates: cramersV / contingency /
    // theilsU from one collected pair set per group (single partial+final
    // pass); the DuckDB twin rebuilds the full zero-including contingency
    // grid in SQL
    "ch81_sql_association" -> ((s, dir) => chsql(s, dir,
      """SELECT o_orderstatus AS st,
        |  round(cramersV(o_orderpriority, o_custkey % 4), 6) AS cv,
        |  round(contingency(o_orderpriority, o_custkey % 4), 6) AS cg,
        |  round(theilsU(o_orderpriority, o_custkey % 4), 6) AS tu
        |FROM orders GROUP BY st ORDER BY st""".stripMargin)),

    // the remaining ranking window functions — identical text runs on
    // DuckDB (same default RANGE frame; the unique (price, key) ordering
    // leaves no peer-row ambiguity)
    "ch80_sql_window_rank" -> ((s, dir) => chsql(s, dir,
      """SELECT o_orderkey AS k,
        |  round(percent_rank() OVER w, 6) AS pr,
        |  round(cume_dist() OVER w, 6) AS cdw,
        |  nth_value(o_totalprice, 3) OVER w AS nv
        |FROM orders WHERE o_orderkey <= 2000
        |WINDOW w AS (PARTITION BY o_orderstatus
        |  ORDER BY o_totalprice, o_orderkey)
        |ORDER BY k""".stripMargin)),

    // map arithmetic tuples + human-readable time deltas: the synthesized
    // key sets keep sorted-key order closed-form (1 < b < 5 always), so
    // the DuckDB twin is pure string arithmetic
    "ch79_sql_map_arith" -> ((s, dir) => chsql(s, dir,
      """SELECT k,
        |  arrayStringConcat(arrayMap(x -> toString(x),
        |    mapAdd(([1, b], [k, 10]), ([1, 5], [100, k % 7])).1), ',') AS mk,
        |  arrayStringConcat(arrayMap(x -> toString(x),
        |    mapAdd(([1, b], [k, 10]), ([1, 5], [100, k % 7])).2), ',') AS mv,
        |  arrayStringConcat(arrayMap(x -> toString(x),
        |    mapPopulateSeries(([1, c], [k, 9])).2), ',') AS pv,
        |  formatReadableTimeDelta(k * 97 % 200000) AS frtd
        |FROM (SELECT o_orderkey AS k, o_orderkey % 3 + 2 AS b,
        |    o_orderkey % 4 + 2 AS c
        |  FROM orders WHERE o_orderkey <= 300)
        |ORDER BY k""".stripMargin)),

    // vector distance family over the embeddings table: every distance a
    // sequential double fold (deterministic accumulation order) so the
    // DuckDB twin replays it exactly with list_reduce — the embedding-
    // pipeline scalar kernel, row-local and codegen'd
    "ch78_sql_vector_distance" -> ((s, dir) => chsql(s, dir,
      """SELECT vec_id AS k,
        |  round(dotProduct(v, rv), 5) AS dp,
        |  round(L1Distance(v, rv), 5) AS l1,
        |  round(L2Distance(v, rv), 5) AS l2,
        |  round(LinfDistance(v, rv), 5) AS linf,
        |  round(L2Norm(v), 5) AS n2,
        |  round(cosineDistance(v, rv), 6) AS cd,
        |  round(arrayJaccardIndex(arrayMap(x -> floor(x * 4),
        |    arraySlice(v, 1, 16)), arrayMap(x -> floor(x * 4),
        |    arraySlice(rv, 1, 16))), 6) AS jac
        |FROM (SELECT vec_id,
        |    arrayMap(x -> toFloat64(x), embedding) AS v,
        |    arrayReverse(arrayMap(x -> toFloat64(x), embedding)) AS rv
        |  FROM embeddings WHERE vec_id < 200)
        |ORDER BY k""".stripMargin)),

    // runningAccumulate(aggState) as the running window over the query
    // order, the toRelative*Num epoch ordinals, substringIndex/initcap,
    // and arrayRotateLeft — DuckDB twin via window frames and list slices
    "ch77_sql_running_relative" -> ((s, dir) => chsql(s, dir,
      """SELECT o_orderkey AS k,
        |  round(runningAccumulate(sumState(o_totalprice)), 2) AS racc,
        |  runningAccumulate(countState(o_orderkey)) AS rcnt,
        |  toRelativeDayNum(o_orderdate) AS rd,
        |  toRelativeWeekNum(o_orderdate) AS rw,
        |  toRelativeMonthNum(o_orderdate) AS rm,
        |  toRelativeYearNum(o_orderdate) AS ry,
        |  substringIndex(o_orderpriority, '-', 1) AS ssi,
        |  initcap(o_orderpriority) AS ic,
        |  arrayStringConcat(arrayMap(x -> toString(x),
        |    arrayRotateLeft([1, 2, 3, 4, 5], o_orderkey % 7)), ',') AS rot
        |FROM orders WHERE o_orderkey <= 2000
        |ORDER BY o_orderkey""".stripMargin)),

    // minMap/maxMap per-key extremum aggregates (sumMap siblings): one
    // collect of zipped pairs per group + row-local array algebra — a
    // single partial+final pass; DuckDB twin via unnested pair UNION +
    // per-key min/max + ordered string_agg
    "ch75_sql_minmax_map" -> ((s, dir) => chsql(s, dir,
      """SELECT p,
        |  arrayStringConcat(arrayMap(x -> toString(x),
        |    minMap(ka, va).1), ',') AS mk,
        |  arrayStringConcat(arrayMap(x -> toString(x),
        |    minMap(ka, va).2), ',') AS mn,
        |  arrayStringConcat(arrayMap(x -> toString(x),
        |    maxMap(ka, va).2), ',') AS mx
        |FROM (SELECT o_orderpriority AS p,
        |    [o_orderkey % 5, o_orderkey % 3, 7] AS ka,
        |    [o_orderkey, o_orderkey + 1, o_orderkey % 11] AS va
        |  FROM orders WHERE o_orderkey <= 2000)
        |GROUP BY p ORDER BY p""".stripMargin)),

    // occurrence enumerations (ARRAY JOIN companions) — the 4-slot shape
    // makes every output a closed-form of the two generators, so the
    // DuckDB twin is pure CASE arithmetic
    "ch76_sql_enumerate" -> ((s, dir) => chsql(s, dir,
      """SELECT k,
        |  arrayStringConcat(arrayMap(x -> toString(x),
        |    arrayEnumerateUniq([b, c, b, 7])), ',') AS u,
        |  arrayStringConcat(arrayMap(x -> toString(x),
        |    arrayEnumerateDense([b, c, b, 7])), ',') AS dn
        |FROM (SELECT o_orderkey AS k, o_orderkey % 3 + 1 AS b,
        |    o_orderkey % 5 + 1 AS c
        |  FROM orders WHERE o_orderkey <= 300)
        |ORDER BY k""".stripMargin)),

    // URL family completion + string/math extras. URLs are synthesized
    // from keys, so the DuckDB twin can REBUILD each expected part from
    // the same formula (the ch53 formula-twin pattern) — no URL parser
    // needed on the oracle side; split/position/count compute directly.
    "ch74_sql_url_string" -> ((s, dir) => chsql(s, dir,
      """SELECT k,
        |  domain(u) AS d, topLevelDomain(u) AS tld,
        |  domainWithoutWWW(u) AS dw, firstSignificantSubdomain(u) AS fsd,
        |  queryString(u) AS qs, fragment(u) AS fr,
        |  queryStringAndFragment(u) AS qf,
        |  cutQueryString(u) AS cq, cutFragment(u) AS cf, cutWWW(u) AS cw,
        |  pathFull(u) AS pf,
        |  countMatches(txt, '[0-9]+') AS cm,
        |  arrayStringConcat(tokens(txt), '|') AS tk,
        |  arrayStringConcat(splitByRegexp('[,-]', txt), '/') AS sbr,
        |  positionUTF8(txt, 'batch') AS pu,
        |  ascii(substring(toString(k), 1, 1)) AS asc0,
        |  char(72, 105) AS ch,
        |  round(sigmoid(k % 7 - 3), 6) AS sg,
        |  factorial(k % 10) AS fact,
        |  arrayStringConcat(JSONExtractKeys(j), ',') AS jk,
        |  JSONExtractRaw(j, 'b') AS jraw
        |FROM (SELECT o_orderkey AS k,
        |    concat('https://www.shop', toString(o_orderkey % 50),
        |      '.example.co/cat/p', toString(o_orderkey),
        |      '?id=', toString(o_orderkey), '&x=1#sec',
        |      toString(o_orderkey % 3)) AS u,
        |    concat('item ', toString(o_orderkey), ' of 2024, batch-',
        |      toString(o_orderkey % 9), ' lot-',
        |      repeat('7 ', o_orderkey % 3)) AS txt,
        |    concat('{"a":', toString(o_orderkey), ',"b":{"c":2}}') AS j
        |  FROM orders WHERE o_orderkey <= 300)
        |ORDER BY k""".stripMargin)),

    // array scan family (arrayFill/arraySplit/arrayAUC) + date extras
    // (dateName/toISOYear/toYearWeek/timeSlot) — array results
    // stringified (the comparer has no array contract); the DuckDB twin
    // hand-unrolls fill/split over the fixed 5-slot shape and replays
    // the pairwise AUC with list lambdas
    "ch73_sql_array_scan" -> ((s, dir) => chsql(s, dir,
      """SELECT k,
        |  arrayStringConcat(arrayMap(x -> toString(x),
        |    arrayFill(x -> x != 0, arr)), ',') AS af,
        |  arrayStringConcat(arrayMap(x -> toString(x),
        |    arrayReverseFill(x -> x != 0, arr)), ',') AS arf,
        |  arrayStringConcat(arrayMap(g -> arrayStringConcat(
        |    arrayMap(x -> toString(x), g), ','),
        |    arraySplit(x -> x = 0, arr)), ';') AS asp,
        |  round(arrayAUC(scores, labels), 6) AS auc,
        |  dateName('month', d) AS mn,
        |  CAST(toISOYear(d) AS Int64) AS iy,
        |  CAST(toYearWeek(d) AS Int64) AS yw,
        |  toString(timeSlot(dt)) AS tslot
        |FROM (SELECT o_orderkey AS k,
        |    [o_orderkey % 7 + 1, 0, o_orderkey % 5 + 1, 0,
        |     o_orderkey % 3 + 1] AS arr,
        |    [0.1 * (o_orderkey % 10), 0.3, 0.5 * (o_orderkey % 3), 0.7]
        |      AS scores,
        |    [1, 0, o_orderkey % 2, 1 - o_orderkey % 2] AS labels,
        |    o_orderdate AS d,
        |    addSeconds(o_orderdate, o_orderkey % 5400) AS dt
        |  FROM orders WHERE o_orderkey <= 500)
        |ORDER BY k""".stripMargin)),

    // geohash + pointInPolygon: the round-trip identity decode(encode(p))
    // ≈ p pins the bisection cross-engine (a precision-12 cell is ~2e-7
    // wide, far inside round-5), and the square polygon has an exact
    // BETWEEN twin; cell strings themselves are pinned by the ezs42
    // ChSqlSpec vector
    "ch72_sql_geohash" -> ((s, dir) => chsql(s, dir,
      """SELECT k,
        |  round(geohashDecode(geohashEncode(lon, lat, 12)).1, 5) AS rlon,
        |  round(geohashDecode(geohashEncode(lon, lat, 12)).2, 5) AS rlat,
        |  pointInPolygon((px, py),
        |    [(0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0)]) AS pip
        |FROM (SELECT c_custkey AS k,
        |    (c_custkey % 360) - 180 + 0.21 AS lon,
        |    (c_custkey % 170) - 85 + 0.37 AS lat,
        |    (c_custkey % 23) * 0.61 + 0.005 AS px,
        |    (c_custkey % 19) * 0.83 + 0.005 AS py
        |  FROM customer WHERE c_custkey <= 300)
        |ORDER BY k""".stripMargin)),

    // regression / tuple / heavy-hitter aggregates: least-squares via the
    // covariance algebra (one partial+final pass), sumCount tuple,
    // anyHeavy as deterministic mode, uniqTheta on the exact tier — the
    // DuckDB twin uses regr_slope/regr_intercept and a windowed mode
    "ch71_sql_regression" -> ((s, dir) => chsql(s, dir,
      """SELECT o_orderstatus AS st,
        |  round(simpleLinearRegression(o_orderkey, o_totalprice).1, 6) AS k,
        |  round(simpleLinearRegression(o_orderkey, o_totalprice).2, 4) AS b,
        |  CAST(round(sumCount(o_totalprice).1, 2) AS Float64) AS s,
        |  sumCount(o_totalprice).2 AS c,
        |  anyHeavy(o_orderpriority) AS hv,
        |  uniqTheta(o_custkey) AS u
        |FROM orders GROUP BY st ORDER BY st""".stripMargin)),

    // SQL lambda UDFs (CREATE FUNCTION): parsed once, expanded at call
    // sites into codegen'd expressions — the DuckDB twin inlines the
    // equivalent CASE/arithmetic by hand. OR REPLACE keeps the entry
    // idempotent across bench's repeated runs in one session.
    "ch70_sql_create_function" -> ((s, dir) => chstmts(s, dir, Seq(
      """CREATE OR REPLACE FUNCTION price_band AS (p) ->
        |  multiIf(p < 50000, 'low', p < 150000, 'mid', 'high')""".stripMargin,
      "CREATE OR REPLACE FUNCTION taxed AS (p, r) -> floor(p * (1 + r))",
      """SELECT price_band(o_totalprice) AS band, count() AS n,
        |  CAST(sum(taxed(o_totalprice, 0.1)) AS Int64) AS taxed_total
        |FROM orders GROUP BY band ORDER BY band""".stripMargin))),

    // block-order navigation functions: neighbor/runningDifference are
    // rewritten onto the enclosing SELECT's ORDER BY (the deterministic
    // contract a distributed plan can honor); lagInFrame is the explicit
    // OVER form. The DuckDB twin spells out the equivalent lead/lag.
    "ch67_sql_navigation" -> ((s, dir) => chsql(s, dir,
      """SELECT o_orderkey AS k,
        |  neighbor(o_totalprice, 1, -1.0) AS nxt,
        |  runningDifference(o_totalprice) AS rd,
        |  lagInFrame(o_totalprice, 1, 0.0)
        |    OVER (PARTITION BY o_orderstatus ORDER BY o_orderkey) AS lf
        |FROM orders WHERE o_orderkey <= 2000
        |ORDER BY o_orderkey""".stripMargin)),

    // multi-needle substring/regex search + n-gram distance — all
    // row-local codegen'd array algebra (no UDFs); the DuckDB twin
    // re-derives each via strpos/regexp_matches/list lambdas
    "ch68_sql_multisearch" -> ((s, dir) => chsql(s, dir,
      """SELECT p_partkey AS k,
        |  multiSearchAny(p_name, ['red', 'blu']) AS any_n,
        |  multiSearchFirstPosition(p_name, ['red', 'blu']) AS pos_n,
        |  multiSearchFirstIndex(p_name, ['red', 'blu']) AS idx_n,
        |  multiMatchAny(p_name, ['^a', 'red$']) AS m_any,
        |  multiMatchAnyIndex(p_name, ['^a', 'red$']) AS m_idx,
        |  round(ngramDistance(p_name, 'chocolate red'), 6) AS ngd
        |FROM part WHERE p_partkey <= 300 ORDER BY k""".stripMargin)),

    // INTERSECT ALL / EXCEPT ALL multiset semantics (duplicate
    // multiplicities verified via the count roll-up)
    "ch69_sql_setop_all" -> ((s, dir) => chsql(s, dir,
      """SELECT k, cnt FROM (
        |  SELECT k, count() AS cnt FROM (
        |    SELECT o_custkey AS k FROM orders WHERE o_totalprice > 100000
        |    INTERSECT ALL
        |    SELECT o_custkey AS k FROM orders WHERE o_totalprice > 150000)
        |  GROUP BY k)
        |ORDER BY k LIMIT 200""".stripMargin)),

    // the -ForEach combinator: element-wise array aggregation (position i
    // aggregates element i of every row); results stringified because the
    // cross-engine comparer has no array column contract
    "ch66_sql_foreach" -> ((s, dir) => chsql(s, dir,
      """WITH t AS (SELECT l_returnflag AS flag,
        |    [l_quantity, l_tax, l_discount] AS vs
        |  FROM lineitem WHERE l_orderkey < 2000)
        |SELECT flag,
        |  arrayStringConcat(arrayMap(x -> toString(round(x, 4)),
        |    sumForEach(vs)), ',') AS s,
        |  arrayStringConcat(arrayMap(x -> toString(x),
        |    countForEach(vs)), ',') AS c,
        |  arrayStringConcat(arrayMap(x -> toString(round(x, 4)),
        |    avgForEach(vs)), ',') AS av,
        |  arrayStringConcat(arrayMap(x -> toString(round(x, 4)),
        |    maxForEach(vs)), ',') AS mx
        |FROM t GROUP BY flag ORDER BY flag""".stripMargin)),

    // ORDER BY ALL (every select item) + the SQL-standard OFFSET/FETCH
    // clause — DuckDB runs the identical text
    "ch62_sql_orderby_all_fetch" -> ((s, dir) => chsql(s, dir,
      """SELECT o_orderstatus AS st, o_orderpriority AS pri, count() AS n
        |FROM orders GROUP BY st, pri
        |ORDER BY ALL
        |OFFSET 3 ROWS FETCH NEXT 5 ROWS ONLY""".stripMargin)),

    // QUALIFY: filter on window results (pre-projection window filter,
    // aliases in scope) — DuckDB runs the identical text
    "ch60_sql_qualify" -> ((s, dir) => chsql(s, dir,
      """SELECT o_custkey AS cust, o_orderkey AS okey, o_totalprice AS price
        |FROM orders
        |QUALIFY row_number() OVER (PARTITION BY o_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey) = 1
        |ORDER BY cust""".stripMargin)),

    // PASTE JOIN: positional zip of two ordered subqueries (row-index
    // stamp + dense equi-join); the DuckDB twin is POSITIONAL JOIN
    "ch61_sql_paste_join" -> ((s, dir) => chsql(s, dir,
      """SELECT k, r FROM
        |  (SELECT o_orderkey AS k FROM orders ORDER BY o_orderkey LIMIT 100)
        |PASTE JOIN
        |  (SELECT o_totalprice AS r FROM orders ORDER BY o_orderkey LIMIT 100)
        |ORDER BY k""".stripMargin)),

    // query parameters: {name:Type} placeholders bound via SET param_*
    // (the CH parameterized-query surface); the DuckDB twin inlines the
    // same literals
    "ch59_sql_query_params" -> ((s, dir) => chstmts(s, dir, Seq(
      "SET param_cutoff = '1995-06-01'",
      "SET param_minpr = '150000'",
      """SELECT count() AS n,
        |  CAST(sum(CAST(o_totalprice AS Decimal(18, 2))) AS Float64) AS total
        |FROM orders
        |WHERE o_orderdate >= {cutoff:Date}
        |  AND o_totalprice >= {minpr:Float64}""".stripMargin))),

    // WITH RECURSIVE: iterate-to-fixpoint execution (working-table
    // semantics, localCheckpoint per round) feeding the IN machinery —
    // DuckDB runs its native recursive CTE on the same text
    "ch58_sql_recursive" -> ((s, dir) => chsql(s, dir,
      """WITH RECURSIVE seq AS (
        |  SELECT CAST(1 AS Int64) AS n FROM numbers(1)
        |  UNION ALL SELECT n * 2 AS n FROM seq WHERE n < 1000)
        |SELECT count() AS cnt,
        |  CAST(sum(CAST(o_totalprice AS Decimal(18, 2))) AS Float64) AS total
        |FROM orders WHERE o_orderkey IN (SELECT n FROM seq)""".stripMargin)),

    // quantified comparisons: ordered ANY/ALL fold to one (min, max,
    // count) scalar subquery probe; = ANY / <> ALL route through the IN
    // semi/anti-join machinery — DuckDB runs the identical text
    "ch57_sql_quantified" -> ((s, dir) => chsql(s, dir,
      """SELECT count() AS n,
        |  CAST(sum(CAST(o_totalprice AS Decimal(18, 2))) AS Float64) AS total
        |FROM orders
        |WHERE o_totalprice > ALL (SELECT o_totalprice FROM orders WHERE o_orderkey < 500)
        |  AND o_totalprice < ANY (SELECT o_totalprice FROM orders WHERE o_orderkey > 5000)
        |  AND o_orderkey <> ALL (SELECT o_orderkey FROM orders WHERE o_orderkey % 97 = 0)""".stripMargin)),

    // geo distance family: haversine central angle / mean-radius sphere
    // distance, coordinates synthesized from keys; the DuckDB twin
    // replays the identical formula (both engines IEEE doubles, results
    // rounded) — row-local math, codegen'd, no shuffle
    "ch53_sql_geo" -> ((s, dir) => chsql(s, dir,
      """SELECT c_custkey AS k,
        |  round(greatCircleDistance(lon1, lat1, lon2, lat2), 2) AS dist,
        |  round(greatCircleAngle(lon1, lat1, lon2, lat2), 6) AS ang
        |FROM (SELECT c_custkey,
        |    (c_custkey % 360) - 180 + 0.25 AS lon1,
        |    (c_custkey % 170) - 85 + 0.5 AS lat1,
        |    ((c_custkey * 7) % 360) - 180 AS lon2,
        |    ((c_custkey * 3) % 170) - 85 AS lat2
        |  FROM customer WHERE c_custkey <= 200)
        |ORDER BY k""".stripMargin)),

    // bitmap family: a bitmap is its sorted distinct value array; the
    // set algebra maps to native array_* functions. The DuckDB twin
    // derives every cardinality from count-distinct + INTERSECT algebra
    "ch54_sql_bitmap" -> ((s, dir) => chsql(s, dir,
      """SELECT p,
        |  bitmapCardinality(b1) AS c1,
        |  bitmapAndCardinality(b1, b2) AS ci,
        |  bitmapOrCardinality(b1, b2) AS cu,
        |  bitmapXorCardinality(b1, b2) AS cx,
        |  bitmapAndnotCardinality(b1, b2) AS cd,
        |  bitmapContains(b1, 7) AS has7,
        |  bitmapHasAny(b1, b2) AS anyov,
        |  bitmapHasAll(b1, b2) AS allov,
        |  bitmapMin(b1) AS mn, bitmapMax(b1) AS mx
        |FROM (SELECT o_orderpriority AS p,
        |    bitmapBuild(groupArray(o_custkey % 100)) AS b1,
        |    bitmapBuild(groupArray(o_custkey % 60)) AS b2
        |  FROM orders WHERE o_orderkey < 8000 GROUP BY p)
        |ORDER BY p""".stripMargin)),

    // fixed-grid minute floors + the Modified Julian Day pair
    "ch55_sql_date_extras" -> ((s, dir) => chsql(s, dir,
      """SELECT k, m5, m10, m15, mjd,
        |  fromModifiedJulianDay(mjd + 10) AS rt
        |FROM (SELECT o_orderkey AS k,
        |    toStartOfFiveMinutes(ts) AS m5,
        |    toStartOfTenMinutes(ts) AS m10,
        |    toStartOfFifteenMinutes(ts) AS m15,
        |    toModifiedJulianDay(o_orderdate) AS mjd
        |  FROM (SELECT o_orderkey, o_orderdate,
        |      addSeconds(toDateTime(o_orderdate), o_orderkey % 86400) AS ts
        |    FROM orders WHERE o_orderkey < 2000))
        |ORDER BY k""".stripMargin)),

    // SimpleAggregateFunction columns (value IS the state, plain-function
    // fold on merge) + the groupBitmap State/Merge tier, both under
    // AggregatingMergeTree OPTIMIZE FINAL
    "ch56_sql_simple_agg" -> ((s, dir) => chstmts(s, dir, Seq(
      "DROP TABLE IF EXISTS ch56_t",
      """CREATE TABLE ch56_t (flag String,
        |  s SimpleAggregateFunction(sum, Int64),
        |  mx SimpleAggregateFunction(max, Float64),
        |  bs AggregateFunction(groupBitmap, Int64))
        |ENGINE = AggregatingMergeTree ORDER BY flag""".stripMargin,
      """INSERT INTO ch56_t SELECT o_orderstatus, sum(o_orderkey),
        |  max(o_totalprice), groupBitmapState(o_custkey % 500)
        |FROM orders WHERE o_orderkey < 3000 GROUP BY o_orderstatus""".stripMargin,
      """INSERT INTO ch56_t SELECT o_orderstatus, sum(o_orderkey),
        |  max(o_totalprice), groupBitmapState(o_custkey % 500)
        |FROM orders WHERE o_orderkey >= 3000 AND o_orderkey < 6000
        |GROUP BY o_orderstatus""".stripMargin,
      "OPTIMIZE TABLE ch56_t FINAL",
      """SELECT flag, s, mx, groupBitmapMerge(bs) AS u
        |FROM ch56_t GROUP BY flag, s, mx ORDER BY flag""".stripMargin))),

    // AggregatingMergeTree end-to-end: typed AggregateFunction columns
    // declared in DDL, two state-batch INSERT SELECTs, OPTIMIZE FINAL
    // merges states per key WITHOUT finalizing (state-in, state-out),
    // -Merge reads finalize — the full CH MV-rollup contract. The
    // `states` scalar pins that the collapse actually ran (rows = keys).
    "ch51_sql_aggregating" -> ((s, dir) => chstmts(s, dir, Seq(
      "DROP TABLE IF EXISTS ch51_t",
      """CREATE TABLE ch51_t (flag String,
        |  ss AggregateFunction(sum, Decimal(18, 2)),
        |  cs AggregateFunction(count, Int64),
        |  us AggregateFunction(uniq, Int64),
        |  avs AggregateFunction(avg, Int64),
        |  ms AggregateFunction(min, Date))
        |ENGINE = AggregatingMergeTree ORDER BY flag""".stripMargin,
      """INSERT INTO ch51_t SELECT o_orderstatus,
        |  sumState(CAST(o_totalprice AS Decimal(18, 2))), countState(),
        |  uniqState(o_custkey), avgState(o_orderkey), minState(o_orderdate)
        |FROM orders WHERE o_orderkey < 3000 GROUP BY o_orderstatus""".stripMargin,
      """INSERT INTO ch51_t SELECT o_orderstatus,
        |  sumState(CAST(o_totalprice AS Decimal(18, 2))), countState(),
        |  uniqState(o_custkey), avgState(o_orderkey), minState(o_orderdate)
        |FROM orders WHERE o_orderkey >= 3000 AND o_orderkey < 6000
        |GROUP BY o_orderstatus""".stripMargin,
      "OPTIMIZE TABLE ch51_t FINAL",
      """SELECT flag, CAST(sumMerge(ss) AS Float64) AS total,
        |  countMerge(cs) AS n, uniqMerge(us) AS u, avgMerge(avs) AS av,
        |  minMerge(ms) AS dmin,
        |  (SELECT count() FROM ch51_t) AS states
        |FROM ch51_t GROUP BY flag ORDER BY flag""".stripMargin))),

    // VersionedCollapsingMergeTree: (sign, version) cancellation — a
    // (+1, -1) pair with the SAME version cancels, a new version of the
    // same key survives alongside nothing (the cancelled v1 is gone)
    "ch52_sql_versioned_collapse" -> ((s, dir) => chstmts(s, dir, Seq(
      "DROP TABLE IF EXISTS ch52_t",
      """CREATE TABLE ch52_t (k Int64, price Decimal(18, 2), sign Int8, ver Int64)
        |ENGINE = VersionedCollapsingMergeTree(sign, ver) ORDER BY k""".stripMargin,
      """INSERT INTO ch52_t SELECT o_orderkey,
        |  CAST(o_totalprice AS Decimal(18, 2)), 1, 1
        |FROM orders WHERE o_orderkey < 4000""".stripMargin,
      """INSERT INTO ch52_t SELECT o_orderkey,
        |  CAST(o_totalprice AS Decimal(18, 2)), -1, 1
        |FROM orders WHERE o_orderkey < 4000 AND o_orderkey % 3 = 0""".stripMargin,
      """INSERT INTO ch52_t SELECT o_orderkey,
        |  CAST(CAST(o_totalprice AS Decimal(18, 2)) * 2 AS Decimal(18, 2)), 1, 2
        |FROM orders WHERE o_orderkey < 4000 AND o_orderkey % 3 = 0""".stripMargin,
      "OPTIMIZE TABLE ch52_t FINAL",
      """SELECT count() AS n, CAST(sum(price) AS Float64) AS total,
        |  CAST(sum(ver) AS Int64) AS vsum
        |FROM ch52_t""".stripMargin))),

    // RANGE_HASHED dictionary: interval-keyed lookup — the dictionary
    // collapses to a key -> sorted-interval-array broadcast map (never a
    // per-row range join), the probe is a row-local filter HOF; the
    // DuckDB twin is the equivalent BETWEEN join (ranges are disjoint
    // per key, so the join is exact)
    "ch50_sql_range_dict" -> ((s, dir) => chstmts(s, dir, Seq(
      "DROP DICTIONARY IF EXISTS ch50_disc",
      "DROP TABLE IF EXISTS ch50_src",
      """CREATE TABLE ch50_src ENGINE = MergeTree ORDER BY k AS
        |SELECT n_nationkey AS k,
        |  addDays(toDate('1995-01-01'), CAST(n_nationkey AS Int32)) AS lo,
        |  addDays(toDate('1995-01-01'), CAST(n_nationkey + 364 AS Int32)) AS hi,
        |  (n_nationkey + 1) * 0.5 AS amount
        |FROM nation
        |UNION ALL
        |SELECT n_nationkey AS k,
        |  addDays(toDate('1996-06-01'), CAST(n_nationkey AS Int32)) AS lo,
        |  addDays(toDate('1996-06-01'), CAST(n_nationkey + 364 AS Int32)) AS hi,
        |  (n_nationkey + 1) * 1.5 AS amount
        |FROM nation""".stripMargin,
      """CREATE DICTIONARY ch50_disc (k Int64, lo Date, hi Date, amount Float64)
        |PRIMARY KEY k
        |SOURCE(CLICKHOUSE(TABLE 'ch50_src'))
        |LAYOUT(RANGE_HASHED())
        |RANGE(MIN lo MAX hi)""".stripMargin,
      """SELECT dictGet('ch50_disc', 'amount', o_custkey % 25, o_orderdate) AS amt,
        |  count() AS n
        |FROM orders
        |WHERE dictHas('ch50_disc', o_custkey % 25, o_orderdate)
        |GROUP BY amt ORDER BY amt""".stripMargin))),

    "ch49_sql_engine_collapse" -> ((s, dir) => chstmts(s, dir, Seq(
      "DROP TABLE IF EXISTS ch49_s",
      "DROP TABLE IF EXISTS ch49_c",
      """CREATE TABLE ch49_s (flag String, n Int64, amt Decimal(18, 2))
        |ENGINE = SummingMergeTree ORDER BY flag""".stripMargin,
      """INSERT INTO ch49_s SELECT o_orderstatus, 1,
        |  CAST(o_totalprice AS Decimal(18, 2))
        |FROM orders WHERE o_orderkey < 4000""".stripMargin,
      "OPTIMIZE TABLE ch49_s FINAL",
      """CREATE TABLE ch49_c (k Int64, price Decimal(18, 2), sign Int8)
        |ENGINE = CollapsingMergeTree(sign) ORDER BY k""".stripMargin,
      """INSERT INTO ch49_c SELECT o_orderkey,
        |  CAST(o_totalprice AS Decimal(18, 2)), 1
        |FROM orders WHERE o_orderkey < 4000""".stripMargin,
      """INSERT INTO ch49_c SELECT o_orderkey,
        |  CAST(o_totalprice AS Decimal(18, 2)), -1
        |FROM orders WHERE o_orderkey < 4000 AND o_orderkey % 3 = 0""".stripMargin,
      "OPTIMIZE TABLE ch49_c FINAL",
      """SELECT flag, n, CAST(amt AS Float64) AS amt,
        |  (SELECT count() FROM ch49_c) AS c_rows,
        |  (SELECT CAST(sum(price) AS Float64) FROM ch49_c) AS c_amt
        |FROM ch49_s ORDER BY flag""".stripMargin))),

    // -State/-Merge combinators: a CTAS holds typed, parquet-stored
    // AggregateFunction states at (flag, pri) grain; the merge query
    // folds them up to per-flag — the CH AggregatingMergeTree MV rollup
    // shape, one partial+final pass, and the round-trip must equal the
    // direct aggregates DuckDB computes from the raw table
    "ch48_sql_state_merge" -> ((s, dir) => chstmts(s, dir, Seq(
      "DROP TABLE IF EXISTS ch48_mv",
      """CREATE TABLE ch48_mv ENGINE = MergeTree ORDER BY flag AS
        |SELECT o_orderstatus AS flag, o_orderpriority AS pri,
        |  sumState(CAST(o_totalprice AS Decimal(18, 2))) AS ss,
        |  countState() AS cs,
        |  uniqState(o_custkey) AS us,
        |  avgState(o_orderkey) AS avs,
        |  minState(o_orderdate) AS ms,
        |  maxState(o_orderdate) AS xs
        |FROM orders GROUP BY flag, pri""".stripMargin,
      """SELECT flag,
        |  CAST(sumMerge(ss) AS Float64) AS total,
        |  countMerge(cs) AS n,
        |  uniqMerge(us) AS u,
        |  avgMerge(avs) AS av,
        |  minMerge(ms) AS dmin,
        |  maxMerge(xs) AS dmax
        |FROM ch48_mv GROUP BY flag ORDER BY flag""".stripMargin))),

    // DISTINCT ON (first row per key after ORDER BY), a projected
    // IN (subquery) boolean, and a map constructor probed per-row
    "ch45_sql_distinct_on" -> ((s, dir) => chsql(s, dir,
      """SELECT DISTINCT ON (cust) cust, okey, big, is_o
        |FROM (SELECT o_custkey AS cust, o_orderkey AS okey,
        |    o_orderkey IN (SELECT o_orderkey FROM orders
        |      WHERE o_totalprice > 200000) AS big,
        |    mapContains(mapFromArrays([o_orderstatus], [1]), 'O') AS is_o
        |  FROM orders WHERE o_orderkey < 4000)
        |ORDER BY cust, okey""".stripMargin)),

    // the add/subtract date families, interval constructors, and age()
    // (COMPLETE units between two dates, CH truncation semantics)
    "ch46_sql_date_arith" -> ((s, dir) => chsql(s, dir,
      """SELECT o_orderkey AS k,
        |  addMonths(o_orderdate, 2) AS am,
        |  subtractDays(o_orderdate, 10) AS sd,
        |  addWeeks(o_orderdate, 3) AS aw,
        |  subtractYears(o_orderdate, 1) AS sy,
        |  toDate(o_orderdate + toIntervalDay(5)) AS tid,
        |  age('month', o_orderdate, toDate('1998-12-01')) AS agm,
        |  age('day', o_orderdate, toDate('1998-12-01')) AS agd
        |FROM orders WHERE o_orderkey < 2000 ORDER BY k""".stripMargin)),

    // legacy visitParam*/simpleJSON* extraction aliases over JSON
    // synthesized from table columns (round-trips exactly: double→string
    // →double is identity for Spark's shortest-repr formatting)
    "ch47_sql_visitparam" -> ((s, dir) => chsql(s, dir,
      """SELECT k,
        |  visitParamExtractString(j, 'status') AS st,
        |  simpleJSONExtractString(j, 'status') AS st2,
        |  visitParamExtractInt(j, 'key') AS ki,
        |  simpleJSONExtractFloat(j, 'price') AS pf
        |FROM (SELECT o_orderkey AS k,
        |    concat('{"status":"', o_orderstatus, '","key":',
        |      toString(o_orderkey), ',"price":', toString(o_totalprice),
        |      '}') AS j
        |  FROM orders WHERE o_orderkey < 2000)
        |ORDER BY k""".stripMargin)),

    // arrayJoin() as a select-list row expander (the function form of the
    // ARRAY JOIN clause) feeding an aggregation
    "ch43_sql_arrayjoin_func" -> ((s, dir) => chsql(s, dir,
      """SELECT flag, count() AS n,
        |  CAST(sum(CAST(v AS Decimal(18, 2))) AS Float64) AS total
        |FROM (
        |  SELECT o_orderstatus AS flag,
        |    arrayJoin([o_totalprice, o_totalprice * 2]) AS v
        |  FROM orders WHERE o_orderkey < 2000)
        |GROUP BY flag ORDER BY flag""".stripMargin)),

    // the -Array aggregate combinator over per-row arrays + a select
    // alias resolved inside WHERE (CH scope rules)
    "ch44_sql_array_combinator" -> ((s, dir) => chsql(s, dir,
      """SELECT l_returnflag AS flag,
        |  CAST(CAST(sumArray(vs) AS Decimal(18, 2)) AS Float64) AS sq,
        |  countArray(vs) AS ne
        |FROM (SELECT l_returnflag, [l_quantity, l_tax] AS vs,
        |        l_orderkey * 2 AS k2
        |      FROM lineitem WHERE k2 < 4000)
        |GROUP BY flag ORDER BY flag""".stripMargin)),

    // the standalone lightweight UPDATE statement (updateStmt,
    // ClickHouseParser.py:8187-8265) and DELETE FROM with IN PARTITION:
    // mutations pruned to exactly the named partition's directory —
    // O(one part), the rest of the table is never read or written
    "ch42_sql_update_stmt" -> ((s, dir) => chstmts(s, dir, Seq(
      "DROP TABLE IF EXISTS ch42_t",
      """CREATE TABLE ch42_t (k Int64, price Float64, flag String)
        |ENGINE = MergeTree ORDER BY k PARTITION BY flag""".stripMargin,
      """INSERT INTO ch42_t SELECT o_orderkey, o_totalprice, o_orderstatus
        |FROM orders WHERE o_orderkey < 4000""".stripMargin,
      "UPDATE ch42_t SET price = price * 2 IN PARTITION 'F' WHERE k % 3 = 0",
      "DELETE FROM ch42_t IN PARTITION 'O' WHERE k % 5 = 0",
      """SELECT flag, count() AS n,
        |  CAST(sum(CAST(price AS Decimal(18, 2))) AS Float64) AS total
        |FROM ch42_t GROUP BY flag ORDER BY flag""".stripMargin))),

    // projections as substitutable MVs: ADD registers, MATERIALIZE builds
    // the aggregate table, and a SELECT whose shape the projection covers
    // reads the (tiny) materialized table instead of scanning the base
    "ch41_sql_projection" -> ((s, dir) => chstmts(s, dir, Seq(
      "DROP TABLE IF EXISTS ch41_t",
      """CREATE TABLE ch41_t ENGINE = MergeTree ORDER BY k AS
        |SELECT o_orderkey AS k, o_orderstatus AS flag, o_totalprice AS price
        |FROM orders""".stripMargin,
      """ALTER TABLE ch41_t ADD PROJECTION p_agg (SELECT flag,
        |  count() AS n,
        |  CAST(sum(CAST(price AS Decimal(18, 2))) AS Float64) AS total
        |  GROUP BY flag)""".stripMargin,
      "ALTER TABLE ch41_t MATERIALIZE PROJECTION p_agg",
      """SELECT flag, count() AS n,
        |  CAST(sum(CAST(price AS Decimal(18, 2))) AS Float64) AS total
        |FROM ch41_t GROUP BY flag ORDER BY flag""".stripMargin))),

    // SQL-standard keyword spellings in one entry: EXTRACT(unit FROM e),
    // SUBSTRING(e FROM a FOR b), TRIM(BOTH s FROM e), the :: cast
    // operator, DATE/TIMESTAMP typed literals, hex literals
    "ch36_sql_keyword_forms" -> ((s, dir) => chsql(s, dir,
      """SELECT o_orderkey AS k,
        |  EXTRACT(YEAR FROM o_orderdate) AS yr,
        |  SUBSTRING(o_orderpriority FROM 1 FOR 4) AS pri,
        |  TRIM(BOTH 'x' FROM concat('xx', o_orderstatus, 'x')) AS st,
        |  o_orderkey :: Float64 AS kf,
        |  0xFF AS hx,
        |  EXTRACT(MONTH FROM DATE '1997-06-15') AS mo,
        |  toYear(TIMESTAMP '1998-02-03 04:05:06') AS ty
        |FROM orders WHERE o_orderkey < 100 ORDER BY k""".stripMargin)),

    "ch31_sql_summap" -> ((s, dir) => chsql(s, dir,
      """SELECT l_returnflag,
        |  arrayStringConcat(
        |    sumMap(l_linestatus, CAST(l_quantity AS Int64)).1, ',') AS keys,
        |  arrayStringConcat(arrayMap(x -> toString(x),
        |    sumMap(l_linestatus, CAST(l_quantity AS Int64)).2), ',') AS sums
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin)),

    // retention() as CH text: the behavioral cohort aggregate — anchor
    // condition + pairwise follow-ups, one partial-combinable agg pass
    // (array output stringified for the gate comparator)
    "ch30_sql_retention" -> ((s, dir) => graft.chsql.ChSql.sql(s,
      """SELECT user_id,
        |  arrayStringConcat(arrayMap(x -> toString(x),
        |    retention(event_type = 'signup', event_type = 'click',
        |              event_type = 'purchase')), ',') AS r
        |FROM events
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin) {
        case "events" => events(s, dir).select("user_id", "event_type")
        case n => tbl(s, dir, n)
      }),

    // WINDOW clause as CH text: one named spec, three OVER refs — Spark
    // plans a single WindowExec pass for all three (shared partitioning)
    "ch29_sql_named_window" -> ((s, dir) => chsql(s, dir,
      """SELECT o_custkey, o_orderkey,
        |  row_number() OVER w AS rn,
        |  CAST(sum(CAST(o_totalprice AS Decimal(18, 2))) OVER w AS Float64) AS running,
        |  lag(o_orderkey, 1) OVER w AS prev
        |FROM orders
        |WHERE o_custkey < 200
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY o_custkey, o_orderkey""".stripMargin)),

    // adaptive histogram tier: quantile-seeded equi-depth bins — the
    // deterministic twin of CH's merge-order-dependent streaming bins
    "q90_adaptive_histogram" -> ((s, dir) =>
      graft.operators.ChOps.adaptiveHistogram(
        tbl(s, dir, "lineitem"), "l_quantity", 6).orderBy("bin")),

    // REAL WAV decode: synthesize PCM-16 WAVs distributed (params are pure
    // functions of the id), parse them back through javax.sound.sampled —
    // the oracle re-derives rate/channels/frames/duration from the id, so
    // a header mis-parse cannot hash-match. StubCodec is now video-only.
    "x4_audio_decode" -> ((s, dir) => {
      import graft.operators.Multimodal
      val ids = tbl(s, dir, "documents").select(col("doc_id"))
        .filter(col("doc_id") < 500)
      Multimodal.extractMetaAudio(
          Multimodal.syntheticWavs(ids, "doc_id"), "doc_id")
        .toDF()
        .filter(col("err").isNull)
        .select(col("doc_id"), col("sample_rate"), col("channels"),
          col("n_frames"), col("duration_us"))
        .orderBy("doc_id")
    }),

    // sequenceMatch separator sublanguage: strict adjacency (?1)(?2) and
    // time-bounded (?1)(?t<=2h)(?2), per user over the full event stream
    // (non-matching events break adjacency, as in CH)
    "e14_sequence_patterns" -> ((s, dir) => {
      import graft.operators.ChOps
      val ev = events(s, dir)
      val adj = ChOps.sequenceMatchPattern(ev, "user_id", "ts", "event_type",
          Seq("view", "click"), Seq(ChOps.Adjacent))
        .withColumnRenamed("matched", "m_adj")
      val tb = ChOps.sequenceMatchPattern(ev, "user_id", "ts", "event_type",
          Seq("view", "purchase"), Seq(ChOps.MaxGapMicros(7200L * 1000000L)))
        .withColumnRenamed("matched", "m_tb")
      adj.join(tb, Seq("user_id")).orderBy("user_id")
    }))

  private val oracles11: Map[String, String] = Map(

    "ch1_sql_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  count(*) AS n
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-01'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "ch32_sql_insert_select" ->
      """WITH big AS (
        |  SELECT o_orderkey AS k, o_totalprice AS price, o_orderstatus AS status
        |  FROM orders WHERE o_totalprice > 200000
        |  UNION ALL
        |  SELECT * FROM (VALUES (-1, 123.5, 'X'), (-2, 47.25, 'X'))
        |    AS v(k, price, status))
        |SELECT status, count(*) AS n,
        |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM big GROUP BY status ORDER BY status""".stripMargin,

    "ch33_sql_create_insert" ->
      """WITH t(id, tag, val, qty) AS (VALUES
        |  (1, 'a', 1.5, CAST(10.25 AS DECIMAL(18,2))),
        |  (2, 'b', NULL, CAST(20.5 AS DECIMAL(18,2))),
        |  (3, 'a', 2.75, CAST(0.01 AS DECIMAL(18,2))),
        |  (4, 'b', NULL, CAST(5.5 AS DECIMAL(18,2))))
        |SELECT tag, count(*) AS n, CAST(sum(qty) AS DOUBLE) AS qsum,
        |  CAST(sum(val) AS DOUBLE) AS vsum
        |FROM t GROUP BY tag ORDER BY tag""".stripMargin,

    "ch34_sql_alter_delete" ->
      """WITH t AS (
        |  SELECT o_orderkey AS k, o_totalprice AS price, o_orderstatus AS flag
        |  FROM orders WHERE o_orderkey < 5000),
        |d AS (SELECT * FROM t WHERE flag <> 'F'),
        |u AS (SELECT k, CASE WHEN k % 10 = 0 THEN price * 2 ELSE price END AS price,
        |    flag FROM d)
        |SELECT flag, count(*) AS n,
        |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM u GROUP BY flag ORDER BY flag""".stripMargin,

    "ch35_sql_optimize_final" ->
      """WITH s AS (
        |  SELECT o_orderkey AS k, 1 AS v, o_totalprice AS price
        |  FROM orders WHERE o_orderkey < 2000
        |  UNION ALL
        |  SELECT o_orderkey, 2, o_totalprice * 2
        |  FROM orders WHERE o_orderkey < 1000),
        |fin AS (SELECT k, price,
        |    row_number() OVER (PARTITION BY k ORDER BY v DESC) AS rn FROM s)
        |SELECT count(*) AS n,
        |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM fin WHERE rn = 1""".stripMargin,

    "ch38_sql_dictget" ->
      """SELECT n_name AS nation, count(*) AS cnt
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    "ch37_sql_ctas_delete" ->
      """WITH t AS (SELECT o_orderkey AS k, o_totalprice AS price,
        |    o_orderstatus AS flag FROM orders WHERE o_orderkey < 3000),
        |d AS (SELECT * FROM t WHERE flag <> 'O'
        |  UNION ALL
        |  SELECT * FROM (VALUES (-1, 10.5, 'Z'), (-2, 20.25, 'Z'))
        |    AS v(k, price, flag))
        |SELECT flag, count(*) AS n,
        |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM d GROUP BY flag ORDER BY flag""".stripMargin,

    "ch39_sql_partition_ops" ->
      """WITH t AS (
        |  SELECT o_orderkey AS k, o_totalprice AS price, o_orderstatus AS flag
        |  FROM orders WHERE o_orderkey < 4000)
        |SELECT flag, count(*) AS n,
        |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM t WHERE flag <> 'F' GROUP BY flag ORDER BY flag""".stripMargin,

    "ch40_sql_column_defaults" ->
      """WITH t(id, name, score) AS (VALUES
        |  (1, 'ann', 1.5), (2, 'bob', 1.5), (3, 'cy', 9.25))
        |SELECT id, name, upper(name) AS upper_name, score,
        |  name || '!' AS tag, 'L:' || name AS label
        |FROM t ORDER BY id""".stripMargin,

    "ch41_sql_projection" ->
      """SELECT o_orderstatus AS flag, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY flag ORDER BY flag""".stripMargin,

    "ch43_sql_arrayjoin_func" ->
      """WITH ex AS (
        |  SELECT o_orderstatus AS flag,
        |    unnest([o_totalprice, o_totalprice * 2]) AS v
        |  FROM orders WHERE o_orderkey < 2000)
        |SELECT flag, count(*) AS n,
        |  CAST(sum(CAST(v AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM ex GROUP BY flag ORDER BY flag""".stripMargin,

    "ch44_sql_array_combinator" ->
      """WITH t AS (SELECT l_returnflag, [l_quantity, l_tax] AS vs
        |  FROM lineitem WHERE l_orderkey * 2 < 4000)
        |SELECT l_returnflag AS flag,
        |  CAST(CAST(sum(list_sum(vs)) AS DECIMAL(18,2)) AS DOUBLE) AS sq,
        |  CAST(sum(len(vs)) AS BIGINT) AS ne
        |FROM t GROUP BY flag ORDER BY flag""".stripMargin,

    "ch63_sql_param_view" ->
      """SELECT o_orderstatus AS st, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders
        |WHERE o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1996-01-01'
        |GROUP BY st ORDER BY st""".stripMargin,

    "ch64_sql_agg_combinators" ->
      """SELECT o_orderstatus AS st,
        |  NULLIF(count(*) FILTER (WHERE o_totalprice > 400000), 0) AS c_hi,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
        |    FILTER (WHERE o_totalprice > 400000) AS DOUBLE) AS s_hi,
        |  CAST(coalesce(sum(CAST(o_totalprice AS DECIMAL(18,2)))
        |    FILTER (WHERE o_totalprice > 400000), 0) AS DOUBLE) AS s_def,
        |  count(DISTINCT o_orderpriority) AS np,
        |  CAST(avg(DISTINCT o_custkey) AS DOUBLE) AS ad
        |FROM orders GROUP BY st ORDER BY st""".stripMargin,

    "ch65_sql_stats_aggs" ->
      """WITH g AS (SELECT o_orderstatus AS st,
        |  CASE WHEN count(DISTINCT o_orderstatus) = 1
        |       THEN min(o_orderstatus) END AS sv,
        |  CAST(arg_max(o_custkey, o_orderkey)
        |     - arg_min(o_custkey, o_orderkey) AS DOUBLE)
        |    / CAST(max(o_orderkey) - min(o_orderkey) AS DOUBLE) AS br,
        |  round(entropy(o_orderpriority), 6) AS ent,
        |  count(*)::DOUBLE AS n,
        |  sum(o_totalprice::DOUBLE) AS s1,
        |  sum(pow(o_totalprice::DOUBLE, 2)) AS s2,
        |  sum(pow(o_totalprice::DOUBLE, 3)) AS s3,
        |  sum(pow(o_totalprice::DOUBLE, 4)) AS s4
        |FROM orders GROUP BY st)
        |SELECT st, sv, br, ent,
        |  round(((s3/n - 3*(s1/n)*(s2/n) + 2*pow(s1/n, 3)) * n/(n-1))
        |    / pow((s2/n - pow(s1/n, 2)) * n/(n-1), 1.5), 6) AS sk,
        |  round(((s4/n - 4*(s1/n)*(s3/n) + 6*pow(s1/n, 2)*(s2/n)
        |      - 3*pow(s1/n, 4)) * n/(n-1))
        |    / pow((s2/n - pow(s1/n, 2)) * n/(n-1), 2), 6) AS ku
        |FROM g ORDER BY st""".stripMargin,

    "ch66_sql_foreach" ->
      """WITH t AS (SELECT l_returnflag AS flag,
        |    [l_quantity, l_tax, l_discount] AS vs
        |  FROM lineitem WHERE l_orderkey < 2000),
        |u AS (SELECT flag, generate_subscripts(vs, 1) AS i, unnest(vs) AS v
        |      FROM t),
        |g AS (SELECT flag, i, sum(v) AS s, count(v) AS c, avg(v) AS av,
        |             max(v) AS mx
        |      FROM u GROUP BY flag, i)
        |SELECT flag,
        |  array_to_string(list(round(s, 4)::VARCHAR ORDER BY i), ',') AS s,
        |  array_to_string(list(c::VARCHAR ORDER BY i), ',') AS c,
        |  array_to_string(list(round(av, 4)::VARCHAR ORDER BY i), ',') AS av,
        |  array_to_string(list(round(mx, 4)::VARCHAR ORDER BY i), ',') AS mx
        |FROM g GROUP BY flag ORDER BY flag""".stripMargin,

    "ch62_sql_orderby_all_fetch" ->
      """SELECT o_orderstatus AS st, o_orderpriority AS pri, count(*) AS n
        |FROM orders GROUP BY st, pri
        |ORDER BY ALL
        |OFFSET 3 ROWS FETCH NEXT 5 ROWS ONLY""".stripMargin,

    "ch60_sql_qualify" ->
      """SELECT o_custkey AS cust, o_orderkey AS okey, o_totalprice AS price
        |FROM orders
        |QUALIFY row_number() OVER (PARTITION BY o_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey) = 1
        |ORDER BY cust""".stripMargin,

    "ch61_sql_paste_join" ->
      """SELECT k, r FROM
        |  (SELECT o_orderkey AS k FROM orders ORDER BY o_orderkey LIMIT 100)
        |POSITIONAL JOIN
        |  (SELECT o_totalprice AS r FROM orders ORDER BY o_orderkey LIMIT 100)
        |ORDER BY k""".stripMargin,

    "ch85_sql_not_in_subquery" ->
      """SELECT o_orderkey AS k, o_custkey AS c,
        |  o_custkey NOT IN (SELECT c_custkey FROM customer
        |    WHERE c_custkey % 3 = 0) AS outside
        |FROM orders
        |WHERE o_custkey NOT IN (SELECT c_custkey FROM customer
        |  WHERE c_custkey % 7 = 0) AND o_orderkey <= 2000
        |ORDER BY k""".stripMargin,

    "ch87_sql_sample_offset" ->
      """SELECT part, count(*) AS n, CAST(sum(k) AS BIGINT) AS s FROM (
        |  SELECT 1 AS part, l_orderkey AS k FROM lineitem
        |    WHERE l_orderkey % 10 >= 0 AND l_orderkey % 10 < 2
        |  UNION ALL
        |  SELECT 2 AS part, l_orderkey AS k FROM lineitem
        |    WHERE l_orderkey % 10 >= 5 AND l_orderkey % 10 < 7
        |  UNION ALL
        |  SELECT 3 AS part, l_orderkey AS k FROM lineitem
        |    WHERE l_orderkey % 1000000 >= 2000
        |      AND l_orderkey % 1000000 < 7000)
        |GROUP BY part ORDER BY part""".stripMargin,

    // replays the session: base inserts, the omitted-column fills
    // (v→0, d→k*2+1, n→NULL), the two partition-scoped CLEARs, the
    // read-time ADD COLUMN fill, and the post-MODIFY default insert
    "ch88_sql_default_fill" ->
      """WITH base(k, p, v, d, n) AS (VALUES
        |  (1, 0, 7, 100, 5), (2, 1, 8, 200, 6),
        |  (3, 0, 0, 7, NULL), (4, 1, 0, 9, NULL)),
        |clr AS (SELECT k, p,
        |    CASE WHEN p = 0 THEN 0 ELSE v END AS v,
        |    CASE WHEN p = 1 THEN k * 2 + 1 ELSE d END AS d, n
        |  FROM base),
        |ins AS (SELECT *, k * 10 AS w FROM clr
        |  UNION ALL SELECT 5, 0, 25, 11, NULL, 50)
        |SELECT CAST(k AS BIGINT) AS k, CAST(p AS INTEGER) AS p,
        |  CAST(v AS BIGINT) AS v, CAST(d AS BIGINT) AS d,
        |  CAST(n AS BIGINT) AS n, CAST(w AS BIGINT) AS w
        |FROM ins ORDER BY k""".stripMargin,

    // bloom pruning is a scan optimization, not a semantics change: the
    // oracle is the PLAIN filter over the same derived table
    "ch89_sql_bloom_index" ->
      """SELECT l_orderkey AS k, l_partkey AS pk, l_extendedprice AS price
        |FROM lineitem WHERE l_partkey IN (42, 142, 1042)
        |ORDER BY k, pk, price""".stripMargin,

    // SAMPLE n replay: the exact count → ceil-scaled 1e6-bucket fraction
    // → pmod filter, the same integer arithmetic as the builder
    "ch90_sql_sample_rows" ->
      """WITH src AS (SELECT
        |    (l_orderkey * 7919 + l_linenumber) % 1000003 AS k,
        |    l_returnflag AS flag, l_quantity AS qty FROM lineitem),
        |tot AS (SELECT count(*) AS t FROM src),
        |kk AS (SELECT LEAST(1000000,
        |    GREATEST(1, (5000::BIGINT * 1000000 + t - 1) // t)) AS kb
        |  FROM tot)
        |SELECT flag, count(*) AS n,
        |  CAST(sum(CAST(qty AS DECIMAL(18, 2))) AS DOUBLE) AS total
        |FROM src, kk WHERE k % 1000000 < kb
        |GROUP BY flag ORDER BY flag""".stripMargin,

    // token pruning is a scan optimization: the oracle is the plain
    // token-membership filter (same [^A-Za-z0-9_]+ boundary)
    "ch91_sql_token_bloom" ->
      """SELECT doc_id AS id, length(text) AS n FROM documents
        |WHERE list_contains(
        |    string_split_regex(text, '[^A-Za-z0-9_]+'), 'merge')
        |  AND NOT list_contains(
        |    string_split_regex(text, '[^A-Za-z0-9_]+'), 'vector')
        |ORDER BY id""".stripMargin,

    "ch92_sql_ngram_bloom" ->
      """SELECT doc_id AS id, length(text) AS n FROM documents
        |WHERE text LIKE '%merge batch%'
        |ORDER BY id""".stripMargin,

    "ch86_sql_subsecond_interval" ->
      """SELECT event_id AS k,
        |  ts + INTERVAL 500 MILLISECOND AS t_ms,
        |  ts - INTERVAL 250 MICROSECOND AS t_us,
        |  ts + (event_id % 100) * INTERVAL 1 MILLISECOND AS t_addms,
        |  ts - 1500 * INTERVAL 1 MICROSECOND AS t_subus,
        |  ts + INTERVAL 3 MILLISECOND AS t_intms,
        |  make_timestamp((epoch_us(ts + (event_id % 997) *
        |    INTERVAL 1 MILLISECOND) // 250000) * 250000) AS t_grid,
        |  date_trunc('milliseconds', ts + (event_id % 9973) *
        |    INTERVAL 1 MICROSECOND) AS t_msfloor,
        |  date_trunc('second', ts + (event_id % 997) *
        |    INTERVAL 1 MILLISECOND) AS t_sfloor
        |FROM events WHERE event_id < 500 ORDER BY k""".stripMargin,

    "ch84_sql_string_pad_utf8" ->
      """SELECT k,
        |  lpad(p, 12, '*') AS lp,
        |  rpad(p, 12, ' ') AS rp,
        |  CAST(instr(lower(p), 'urgent') AS BIGINT) AS pos,
        |  CAST(round((k % 5) * 1.0 + 2.0 * (k % 3) + 6.0, 6) AS DOUBLE) AS dp
        |FROM (SELECT o_orderkey AS k, o_orderpriority AS p
        |  FROM orders WHERE o_orderkey <= 200)
        |ORDER BY k""".stripMargin,

    "ch83_sql_misc_scalar" ->
      """SELECT k,
        |  CAST(CASE WHEN k % 110 >= 100 THEN 11
        |    ELSE floor((k % 110) / 10) + 1 END AS BIGINT) AS wb,
        |  CASE WHEN k % 2 = 0 THEN b || ',' || c || ',' || d
        |    ELSE c || ',' || d || ',0' END AS sl,
        |  'SELECT a' || k || ' + ? WHERE s = ?' AS nq,
        |  CASE WHEN k = 0 THEN '123.00 B'
        |    ELSE printf('%.2f', (k * 1000 + 123) / 1000.0) || ' KB' END AS fr
        |FROM (SELECT o_orderkey AS k, o_orderkey % 5 + 1 AS b,
        |    o_orderkey % 3 + 1 AS c, o_orderkey % 7 + 1 AS d
        |  FROM orders WHERE o_orderkey <= 300)
        |ORDER BY k""".stripMargin,

    "ch82_sql_file_engine" ->
      """SELECT count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |  min(o_orderpriority) AS mn
        |FROM orders WHERE o_orderkey <= 100""".stripMargin,

    "ch81_sql_association" ->
      """WITH base AS (SELECT o_orderstatus AS st, o_orderpriority AS x,
        |    o_custkey % 4 AS y FROM orders),
        |xs AS (SELECT DISTINCT st, x FROM base),
        |ys AS (SELECT DISTINCT st, y FROM base),
        |cells AS (SELECT st, x, y, CAST(count(*) AS DOUBLE) AS c
        |  FROM base GROUP BY st, x, y),
        |grid AS (SELECT xs.st, xs.x, ys.y
        |  FROM xs JOIN ys ON xs.st = ys.st),
        |g2 AS (SELECT grid.st, grid.x, grid.y, coalesce(c, 0) AS c
        |  FROM grid LEFT JOIN cells ON grid.st = cells.st
        |    AND grid.x = cells.x AND grid.y = cells.y),
        |rows_ AS (SELECT st, x, sum(c) AS cx FROM g2 GROUP BY st, x),
        |cols_ AS (SELECT st, y, sum(c) AS cy FROM g2 GROUP BY st, y),
        |tot AS (SELECT st, sum(c) AS n FROM g2 GROUP BY st),
        |agg AS (SELECT g2.st,
        |    sum(CASE WHEN cx * cy > 0
        |      THEN pow(c - cx * cy / n, 2) / (cx * cy / n) ELSE 0 END) AS chi2,
        |    max(n) AS n,
        |    count(DISTINCT g2.x) AS nx, count(DISTINCT g2.y) AS ny,
        |    -sum(CASE WHEN c > 0 THEN (c / n) * ln(c / cy) ELSE 0 END) AS hxy
        |  FROM g2 JOIN rows_ USING (st, x) JOIN cols_ USING (st, y)
        |    JOIN tot USING (st)
        |  GROUP BY g2.st),
        |hx_ AS (SELECT rows_.st,
        |    -sum(CASE WHEN cx > 0 THEN (cx / n) * ln(cx / n) ELSE 0 END) AS hx
        |  FROM rows_ JOIN tot USING (st) GROUP BY rows_.st)
        |SELECT agg.st AS st,
        |  round(CASE WHEN least(nx, ny) <= 1 THEN 0
        |    ELSE sqrt(chi2 / (n * (least(nx, ny) - 1))) END, 6) AS cv,
        |  round(sqrt(chi2 / (chi2 + n)), 6) AS cg,
        |  round(CASE WHEN hx = 0 THEN 0 ELSE (hx - hxy) / hx END, 6) AS tu
        |FROM agg JOIN hx_ ON agg.st = hx_.st
        |ORDER BY st""".stripMargin,

    "ch80_sql_window_rank" ->
      """SELECT o_orderkey AS k,
        |  round(percent_rank() OVER w, 6) AS pr,
        |  round(cume_dist() OVER w, 6) AS cdw,
        |  nth_value(o_totalprice, 3) OVER w AS nv
        |FROM orders WHERE o_orderkey <= 2000
        |WINDOW w AS (PARTITION BY o_orderstatus
        |  ORDER BY o_totalprice, o_orderkey)
        |ORDER BY k""".stripMargin,

    "ch79_sql_map_arith" ->
      """SELECT k,
        |  '1,' || b || ',5' AS mk,
        |  (k + 100) || ',10,' || (k % 7) AS mv,
        |  k || repeat(',0', CAST(c - 2 AS INT)) || ',9' AS pv,
        |  CASE WHEN s = 0 THEN '0 seconds' ELSE concat_ws(', ',
        |    CASE WHEN d > 0 THEN d || ' day' ||
        |      (CASE WHEN d = 1 THEN '' ELSE 's' END) END,
        |    CASE WHEN h > 0 THEN h || ' hour' ||
        |      (CASE WHEN h = 1 THEN '' ELSE 's' END) END,
        |    CASE WHEN m > 0 THEN m || ' minute' ||
        |      (CASE WHEN m = 1 THEN '' ELSE 's' END) END,
        |    CASE WHEN sec > 0 THEN sec || ' second' ||
        |      (CASE WHEN sec = 1 THEN '' ELSE 's' END) END) END AS frtd
        |FROM (SELECT k, b, c, s, s // 86400 AS d,
        |    (s % 86400) // 3600 AS h, (s % 3600) // 60 AS m, s % 60 AS sec
        |  FROM (SELECT o_orderkey AS k, o_orderkey % 3 + 2 AS b,
        |      o_orderkey % 4 + 2 AS c, o_orderkey * 97 % 200000 AS s
        |    FROM orders WHERE o_orderkey <= 300))
        |ORDER BY k""".stripMargin,

    "ch78_sql_vector_distance" ->
      s"""SELECT vec_id AS k,
         |  round(${sqlDot("v", "rv")}, 5) AS dp,
         |  round(list_reduce(list_prepend(0.0, list_transform(
         |    list_zip(v, rv), p -> abs(p[1] - p[2]))),
         |    (acc, x) -> acc + x), 5) AS l1,
         |  round(sqrt(list_reduce(list_prepend(0.0, list_transform(
         |    list_zip(v, rv), p -> (p[1] - p[2]) * (p[1] - p[2]))),
         |    (acc, x) -> acc + x)), 5) AS l2,
         |  round(list_max(list_transform(list_zip(v, rv),
         |    p -> abs(p[1] - p[2]))), 5) AS linf,
         |  round(sqrt(${sqlDot("v", "v")}), 5) AS n2,
         |  round(CASE WHEN sqrt(${sqlDot("v", "v")}) *
         |      sqrt(${sqlDot("rv", "rv")}) = 0 THEN 1.0
         |    ELSE 1.0 - ${sqlDot("v", "rv")} /
         |      (sqrt(${sqlDot("v", "v")}) * sqrt(${sqlDot("rv", "rv")}))
         |    END, 6) AS cd,
         |  round(CASE WHEN len(list_distinct(list_concat(ja, jb))) = 0
         |    THEN NULL ELSE len(list_intersect(ja, jb)) * 1.0 /
         |      len(list_distinct(list_concat(ja, jb))) END, 6) AS jac
         |FROM (SELECT vec_id, v, list_reverse(v) AS rv,
         |    list_distinct(list_transform(v[1:16],
         |      x -> CAST(floor(x * 4) AS BIGINT))) AS ja,
         |    list_distinct(list_transform(list_reverse(v)[1:16],
         |      x -> CAST(floor(x * 4) AS BIGINT))) AS jb
         |  FROM (SELECT vec_id,
         |      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |    FROM embeddings WHERE vec_id < 200))
         |ORDER BY k""".stripMargin,

    "ch77_sql_running_relative" ->
      """SELECT o_orderkey AS k,
        |  round(sum(o_totalprice) OVER (ORDER BY o_orderkey
        |    ROWS UNBOUNDED PRECEDING), 2) AS racc,
        |  count(o_orderkey) OVER (ORDER BY o_orderkey
        |    ROWS UNBOUNDED PRECEDING) AS rcnt,
        |  CAST(floor(epoch(o_orderdate) / 86400) AS BIGINT) AS rd,
        |  CAST(floor((epoch(o_orderdate) + 3 * 86400) / (7 * 86400))
        |    AS BIGINT) AS rw,
        |  CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS rm,
        |  CAST(year(o_orderdate) AS BIGINT) AS ry,
        |  split_part(o_orderpriority, '-', 1) AS ssi,
        |  CASE o_orderpriority WHEN '4-NOT SPECIFIED' THEN '4-not Specified'
        |    ELSE lower(o_orderpriority) END AS ic,
        |  array_to_string(list_concat(
        |    list_slice([1, 2, 3, 4, 5], (o_orderkey % 7) % 5 + 1, 5),
        |    list_slice([1, 2, 3, 4, 5], 1, (o_orderkey % 7) % 5)), ',') AS rot
        |FROM orders WHERE o_orderkey <= 2000
        |ORDER BY k""".stripMargin,

    "ch75_sql_minmax_map" ->
      """WITH rows0 AS (SELECT o_orderpriority AS p, o_orderkey AS k
        |    FROM orders WHERE o_orderkey <= 2000),
        |pairs AS (
        |  SELECT p, k % 5 AS key, k AS v FROM rows0
        |  UNION ALL SELECT p, k % 3, k + 1 FROM rows0
        |  UNION ALL SELECT p, 7, k % 11 FROM rows0),
        |agg AS (SELECT p, key, min(v) AS mnv, max(v) AS mxv
        |  FROM pairs GROUP BY p, key)
        |SELECT p,
        |  string_agg(CAST(key AS VARCHAR), ',' ORDER BY key) AS mk,
        |  string_agg(CAST(mnv AS VARCHAR), ',' ORDER BY key) AS mn,
        |  string_agg(CAST(mxv AS VARCHAR), ',' ORDER BY key) AS mx
        |FROM agg GROUP BY p ORDER BY p""".stripMargin,

    "ch76_sql_enumerate" ->
      """SELECT k,
        |  '1,' || CASE WHEN c = b THEN 2 ELSE 1 END || ',' ||
        |    CASE WHEN c = b THEN 3 ELSE 2 END || ',1' AS u,
        |  '1,' || CASE WHEN c = b THEN 1 ELSE 2 END || ',1,' ||
        |    CASE WHEN c = b THEN 2 ELSE 3 END AS dn
        |FROM (SELECT o_orderkey AS k, o_orderkey % 3 + 1 AS b,
        |    o_orderkey % 5 + 1 AS c
        |  FROM orders WHERE o_orderkey <= 300)
        |ORDER BY k""".stripMargin,

    "ch74_sql_url_string" ->
      """SELECT k,
        |  'www.shop' || ks || '.example.co' AS d,
        |  'co' AS tld,
        |  'shop' || ks || '.example.co' AS dw,
        |  'example' AS fsd,
        |  'id=' || k || '&x=1' AS qs,
        |  'sec' || k3 AS fr,
        |  '?id=' || k || '&x=1#sec' || k3 AS qf,
        |  'https://www.shop' || ks || '.example.co/cat/p' || k
        |    || '#sec' || k3 AS cq,
        |  'https://www.shop' || ks || '.example.co/cat/p' || k
        |    || '?id=' || k || '&x=1' AS cf,
        |  'https://shop' || ks || '.example.co/cat/p' || k
        |    || '?id=' || k || '&x=1#sec' || k3 AS cw,
        |  '/cat/p' || k || '?id=' || k || '&x=1#sec' || k3 AS pf,
        |  CAST(3 + (k % 3) AS BIGINT) AS cm,
        |  'item|' || k || '|of|2024|batch|' || k9 || '|lot'
        |    || repeat('|7', CAST(k % 3 AS INT)) AS tk,
        |  array_to_string(string_split_regex(txt, '[,-]'), '/') AS sbr,
        |  CAST(strpos(txt, 'batch') AS BIGINT) AS pu,
        |  ascii(substring(CAST(k AS VARCHAR), 1, 1)) AS asc0,
        |  'Hi' AS ch,
        |  round(1.0 / (1.0 + exp(-(k % 7 - 3))), 6) AS sg,
        |  CAST(factorial(CAST(k % 10 AS INT)) AS BIGINT) AS fact,
        |  'a,b' AS jk,
        |  '{"c":2}' AS jraw
        |FROM (SELECT o_orderkey AS k,
        |    CAST(o_orderkey % 50 AS VARCHAR) AS ks,
        |    CAST(o_orderkey % 3 AS VARCHAR) AS k3,
        |    CAST(o_orderkey % 9 AS VARCHAR) AS k9,
        |    'item ' || o_orderkey || ' of 2024, batch-' ||
        |      (o_orderkey % 9) || ' lot-' ||
        |      repeat('7 ', CAST(o_orderkey % 3 AS INT)) AS txt
        |  FROM orders WHERE o_orderkey <= 300)
        |ORDER BY k""".stripMargin,

    "ch73_sql_array_scan" ->
      """SELECT k,
        |  concat_ws(',', b1, b1, CASE WHEN b3<>0 THEN b3 ELSE b1 END,
        |    CASE WHEN b3<>0 THEN b3 ELSE b1 END, b5) AS af,
        |  concat_ws(',', CASE WHEN b1<>0 THEN b1 ELSE b3 END, b3, b3, b5, b5) AS arf,
        |  concat_ws(';', b1, concat_ws(',', 0, b3), concat_ws(',', 0, b5)) AS asp,
        |  round(CASE WHEN len(neg) = 0 OR len(pos) = 0 THEN NULL ELSE
        |    list_sum(list_transform(pos, p -> list_sum(list_transform(neg,
        |      q2 -> CASE WHEN p > q2 THEN 1.0 WHEN p = q2 THEN 0.5
        |        ELSE 0.0 END))))
        |    / (len(pos) * len(neg)) END, 6) AS auc,
        |  monthname(d) AS mn,
        |  CAST(isoyear(d) AS BIGINT) AS iy,
        |  CAST(isoyear(d) * 100 + isowk AS BIGINT) AS yw,
        |  strftime(dt - (CAST(epoch(dt) AS BIGINT) % 1800) * INTERVAL 1 SECOND,
        |    '%Y-%m-%d %H:%M:%S') AS tslot
        |FROM (
        |  SELECT k, b1, b3, b5, d, dt,
        |    CAST(weekofyear(d) AS BIGINT) AS isowk,
        |    list_filter(list_transform(generate_series(1, 4),
        |      i -> CASE WHEN labels[i] <> 0 THEN scores[i] END),
        |      x -> x IS NOT NULL) AS pos,
        |    list_filter(list_transform(generate_series(1, 4),
        |      i -> CASE WHEN labels[i] = 0 THEN scores[i] END),
        |      x -> x IS NOT NULL) AS neg
        |  FROM (
        |    SELECT o_orderkey AS k,
        |      o_orderkey % 7 + 1 AS b1, o_orderkey % 5 + 1 AS b3,
        |      o_orderkey % 3 + 1 AS b5,
        |      [0.1::DOUBLE * (o_orderkey % 10), 0.3::DOUBLE,
        |       0.5::DOUBLE * (o_orderkey % 3), 0.7::DOUBLE] AS scores,
        |      [1, 0, CAST(o_orderkey % 2 AS INT),
        |       CAST(1 - o_orderkey % 2 AS INT)] AS labels,
        |      o_orderdate AS d,
        |      o_orderdate + (o_orderkey % 5400) * INTERVAL 1 SECOND AS dt
        |    FROM orders WHERE o_orderkey <= 500))
        |ORDER BY k""".stripMargin,

    "ch72_sql_geohash" ->
      """SELECT k, round(lon, 5) AS rlon, round(lat, 5) AS rlat,
        |  (px < 10 AND py < 10) AS pip
        |FROM (SELECT c_custkey AS k,
        |    (c_custkey % 360) - 180 + 0.21 AS lon,
        |    (c_custkey % 170) - 85 + 0.37 AS lat,
        |    (c_custkey % 23) * 0.61 + 0.005 AS px,
        |    (c_custkey % 19) * 0.83 + 0.005 AS py
        |  FROM customer WHERE c_custkey <= 300)
        |ORDER BY k""".stripMargin,

    "ch71_sql_regression" ->
      """WITH f AS (SELECT o_orderstatus AS st, o_orderpriority AS p,
        |    count(*) AS c FROM orders GROUP BY st, p),
        |  hv AS (SELECT st, p AS hv FROM
        |    (SELECT st, p, row_number() OVER (PARTITION BY st
        |       ORDER BY c DESC, p) AS rn FROM f) WHERE rn = 1)
        |SELECT a.st AS st, k, b, s, c, hv.hv AS hv, u FROM (
        |  SELECT o_orderstatus AS st,
        |    round(regr_slope(o_totalprice, o_orderkey), 6) AS k,
        |    round(regr_intercept(o_totalprice, o_orderkey), 4) AS b,
        |    CAST(round(sum(o_totalprice), 2) AS DOUBLE) AS s,
        |    count(o_totalprice) AS c,
        |    count(DISTINCT o_custkey) AS u
        |  FROM orders GROUP BY st) a JOIN hv ON a.st = hv.st
        |ORDER BY st""".stripMargin,

    "ch70_sql_create_function" ->
      """SELECT CASE WHEN o_totalprice < 50000 THEN 'low'
        |    WHEN o_totalprice < 150000 THEN 'mid' ELSE 'high' END AS band,
        |  count(*) AS n,
        |  CAST(sum(floor(o_totalprice * (1 + 0.1))) AS BIGINT) AS taxed_total
        |FROM orders GROUP BY band ORDER BY band""".stripMargin,

    "ch67_sql_navigation" ->
      """SELECT k, nxt, rd, lf FROM (
        |  SELECT o_orderkey AS k,
        |    coalesce(lead(o_totalprice, 1) OVER (ORDER BY o_orderkey), -1.0) AS nxt,
        |    coalesce(o_totalprice - lag(o_totalprice, 1) OVER (ORDER BY o_orderkey), 0) AS rd,
        |    coalesce(lag(o_totalprice, 1) OVER (PARTITION BY o_orderstatus
        |      ORDER BY o_orderkey), 0.0) AS lf
        |  FROM orders WHERE o_orderkey <= 2000)
        |ORDER BY k""".stripMargin,

    "ch68_sql_multisearch" ->
      """SELECT p_partkey AS k,
        |  (strpos(p_name, 'red') > 0 OR strpos(p_name, 'blu') > 0) AS any_n,
        |  CAST(coalesce(list_min(list_filter(
        |    [strpos(p_name, 'red'), strpos(p_name, 'blu')], x -> x > 0)), 0)
        |    AS BIGINT) AS pos_n,
        |  CAST(CASE WHEN strpos(p_name, 'red') > 0 THEN 1
        |    WHEN strpos(p_name, 'blu') > 0 THEN 2 ELSE 0 END AS BIGINT) AS idx_n,
        |  (regexp_matches(p_name, '^a') OR regexp_matches(p_name, 'red$')) AS m_any,
        |  CAST(CASE WHEN regexp_matches(p_name, '^a') THEN 1
        |    WHEN regexp_matches(p_name, 'red$') THEN 2 ELSE 0 END AS BIGINT) AS m_idx,
        |  round(CASE WHEN len(list_distinct(list_concat(
        |      list_transform(generate_series(1, greatest(length(p_name) - 3, 0)),
        |        i -> substring(p_name, i, 4)),
        |      list_transform(generate_series(1, 10),
        |        i -> substring('chocolate red', i, 4))))) = 0 THEN 0.0
        |    ELSE 1.0 - len(list_intersect(
        |      list_distinct(list_transform(
        |        generate_series(1, greatest(length(p_name) - 3, 0)),
        |        i -> substring(p_name, i, 4))),
        |      list_distinct(list_transform(generate_series(1, 10),
        |        i -> substring('chocolate red', i, 4)))))
        |      / len(list_distinct(list_concat(
        |      list_transform(generate_series(1, greatest(length(p_name) - 3, 0)),
        |        i -> substring(p_name, i, 4)),
        |      list_transform(generate_series(1, 10),
        |        i -> substring('chocolate red', i, 4))))) END, 6) AS ngd
        |FROM part WHERE p_partkey <= 300 ORDER BY k""".stripMargin,

    "ch69_sql_setop_all" ->
      """SELECT k, cnt FROM (
        |  SELECT k, count(*) AS cnt FROM (
        |    SELECT o_custkey AS k FROM orders WHERE o_totalprice > 100000
        |    INTERSECT ALL
        |    SELECT o_custkey AS k FROM orders WHERE o_totalprice > 150000)
        |  GROUP BY k)
        |ORDER BY k LIMIT 200""".stripMargin,

    "ch59_sql_query_params" ->
      """SELECT count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders
        |WHERE o_orderdate >= DATE '1995-06-01'
        |  AND o_totalprice >= 150000""".stripMargin,

    "ch58_sql_recursive" ->
      """WITH RECURSIVE seq AS (
        |  SELECT CAST(1 AS BIGINT) AS n
        |  UNION ALL SELECT n * 2 AS n FROM seq WHERE n < 1000)
        |SELECT count(*) AS cnt,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders WHERE o_orderkey IN (SELECT n FROM seq)""".stripMargin,

    "ch57_sql_quantified" ->
      """SELECT count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders
        |WHERE o_totalprice > ALL (SELECT o_totalprice FROM orders WHERE o_orderkey < 500)
        |  AND o_totalprice < ANY (SELECT o_totalprice FROM orders WHERE o_orderkey > 5000)
        |  AND o_orderkey <> ALL (SELECT o_orderkey FROM orders WHERE o_orderkey % 97 = 0)""".stripMargin,

    "ch53_sql_geo" ->
      """SELECT c_custkey AS k,
        |  round(2 * 6371000 * asin(sqrt(
        |    pow(sin(radians(lat2 - lat1) / 2), 2) +
        |    cos(radians(lat1)) * cos(radians(lat2)) *
        |    pow(sin(radians(lon2 - lon1) / 2), 2))), 2) AS dist,
        |  round(degrees(2 * asin(sqrt(
        |    pow(sin(radians(lat2 - lat1) / 2), 2) +
        |    cos(radians(lat1)) * cos(radians(lat2)) *
        |    pow(sin(radians(lon2 - lon1) / 2), 2)))), 6) AS ang
        |FROM (SELECT c_custkey,
        |    (c_custkey % 360) - 180 + 0.25 AS lon1,
        |    (c_custkey % 170) - 85 + 0.5 AS lat1,
        |    ((c_custkey * 7) % 360) - 180 AS lon2,
        |    ((c_custkey * 3) % 170) - 85 AS lat2
        |  FROM customer WHERE c_custkey <= 200)
        |ORDER BY k""".stripMargin,

    "ch54_sql_bitmap" ->
      """WITH t AS (SELECT o_orderpriority AS p, o_custkey % 100 AS v1,
        |    o_custkey % 60 AS v2 FROM orders WHERE o_orderkey < 8000),
        |a1 AS (SELECT p, count(DISTINCT v1) AS c1, min(v1) AS mn,
        |    max(v1) AS mx FROM t GROUP BY p),
        |a2 AS (SELECT p, count(DISTINCT v2) AS c2 FROM t GROUP BY p),
        |i AS (SELECT p, count(*) AS ci0 FROM
        |    (SELECT DISTINCT p, v1 AS v FROM t
        |     INTERSECT SELECT DISTINCT p, v2 AS v FROM t) GROUP BY p),
        |h AS (SELECT DISTINCT p, true AS has7a FROM t WHERE v1 = 7)
        |SELECT a1.p AS p, c1,
        |  coalesce(ci0, 0) AS ci,
        |  c1 + c2 - coalesce(ci0, 0) AS cu,
        |  c1 + c2 - 2 * coalesce(ci0, 0) AS cx,
        |  c1 - coalesce(ci0, 0) AS cd,
        |  coalesce(has7a, false) AS has7,
        |  coalesce(ci0, 0) > 0 AS anyov,
        |  coalesce(ci0, 0) = c2 AS allov,
        |  mn, mx
        |FROM a1 JOIN a2 USING (p) LEFT JOIN i USING (p) LEFT JOIN h USING (p)
        |ORDER BY p""".stripMargin,

    "ch55_sql_date_extras" ->
      """WITH s AS (SELECT o_orderkey AS k, o_orderdate,
        |    CAST(o_orderdate AS TIMESTAMP) +
        |      (o_orderkey % 86400) * INTERVAL 1 SECOND AS ts
        |  FROM orders WHERE o_orderkey < 2000)
        |SELECT k,
        |  CAST(to_timestamp(floor(epoch(ts) / 300) * 300) AS TIMESTAMP) AS m5,
        |  CAST(to_timestamp(floor(epoch(ts) / 600) * 600) AS TIMESTAMP) AS m10,
        |  CAST(to_timestamp(floor(epoch(ts) / 900) * 900) AS TIMESTAMP) AS m15,
        |  CAST(date_diff('day', DATE '1858-11-17', o_orderdate) AS INTEGER) AS mjd,
        |  CAST(o_orderdate + INTERVAL 10 DAY AS DATE) AS rt
        |FROM s ORDER BY k""".stripMargin,

    "ch56_sql_simple_agg" ->
      """SELECT o_orderstatus AS flag,
        |  CAST(sum(o_orderkey) AS BIGINT) AS s,
        |  max(o_totalprice) AS mx,
        |  count(DISTINCT o_custkey % 500) AS u
        |FROM orders WHERE o_orderkey < 6000
        |GROUP BY flag ORDER BY flag""".stripMargin,

    "ch51_sql_aggregating" ->
      """SELECT o_orderstatus AS flag,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |  count(*) AS n,
        |  count(DISTINCT o_custkey) AS u,
        |  avg(o_orderkey) AS av,
        |  min(o_orderdate) AS dmin,
        |  (SELECT count(DISTINCT o_orderstatus) FROM orders
        |   WHERE o_orderkey < 6000) AS states
        |FROM orders WHERE o_orderkey < 6000
        |GROUP BY flag ORDER BY flag""".stripMargin,

    "ch52_sql_versioned_collapse" ->
      """WITH t AS (
        |  SELECT o_orderkey AS k,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS price, 1 AS ver
        |  FROM orders WHERE o_orderkey < 4000 AND o_orderkey % 3 <> 0
        |  UNION ALL
        |  SELECT o_orderkey,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 2 AS DECIMAL(18,2)), 2
        |  FROM orders WHERE o_orderkey < 4000 AND o_orderkey % 3 = 0)
        |SELECT count(*) AS n, CAST(sum(price) AS DOUBLE) AS total,
        |  CAST(sum(ver) AS BIGINT) AS vsum
        |FROM t""".stripMargin,

    "ch50_sql_range_dict" ->
      """WITH src AS (
        |  SELECT n_nationkey AS k,
        |    DATE '1995-01-01' + n_nationkey * INTERVAL 1 DAY AS lo,
        |    DATE '1995-01-01' + (n_nationkey + 364) * INTERVAL 1 DAY AS hi,
        |    CAST((n_nationkey + 1) * 0.5 AS DOUBLE) AS amount FROM nation
        |  UNION ALL
        |  SELECT n_nationkey,
        |    DATE '1996-06-01' + n_nationkey * INTERVAL 1 DAY,
        |    DATE '1996-06-01' + (n_nationkey + 364) * INTERVAL 1 DAY,
        |    CAST((n_nationkey + 1) * 1.5 AS DOUBLE) FROM nation)
        |SELECT s.amount AS amt, count(*) AS n
        |FROM orders o JOIN src s
        |  ON o.o_custkey % 25 = s.k AND o.o_orderdate BETWEEN s.lo AND s.hi
        |GROUP BY amt ORDER BY amt""".stripMargin,

    "ch49_sql_engine_collapse" ->
      """WITH c AS (
        |  SELECT o_orderkey AS k, CAST(o_totalprice AS DECIMAL(18,2)) AS price
        |  FROM orders WHERE o_orderkey < 4000 AND o_orderkey % 3 <> 0)
        |SELECT o_orderstatus AS flag, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS amt,
        |  (SELECT count(*) FROM c) AS c_rows,
        |  (SELECT CAST(sum(price) AS DOUBLE) FROM c) AS c_amt
        |FROM orders WHERE o_orderkey < 4000
        |GROUP BY flag ORDER BY flag""".stripMargin,

    "ch48_sql_state_merge" ->
      """SELECT o_orderstatus AS flag,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |  count(*) AS n,
        |  count(DISTINCT o_custkey) AS u,
        |  avg(o_orderkey) AS av,
        |  min(o_orderdate) AS dmin,
        |  max(o_orderdate) AS dmax
        |FROM orders GROUP BY flag ORDER BY flag""".stripMargin,

    "ch45_sql_distinct_on" ->
      """SELECT DISTINCT ON (o_custkey) o_custkey AS cust,
        |  o_orderkey AS okey,
        |  o_orderkey IN (SELECT o_orderkey FROM orders
        |    WHERE o_totalprice > 200000) AS big,
        |  (o_orderstatus = 'O') AS is_o
        |FROM orders WHERE o_orderkey < 4000
        |ORDER BY cust, okey""".stripMargin,

    "ch46_sql_date_arith" ->
      """SELECT o_orderkey AS k,
        |  CAST(o_orderdate + INTERVAL 2 MONTH AS DATE) AS am,
        |  CAST(o_orderdate - INTERVAL 10 DAY AS DATE) AS sd,
        |  CAST(o_orderdate + INTERVAL 21 DAY AS DATE) AS aw,
        |  CAST(o_orderdate - INTERVAL 1 YEAR AS DATE) AS sy,
        |  CAST(o_orderdate + INTERVAL 5 DAY AS DATE) AS tid,
        |  CAST((1998 * 12 + 12) - (year(o_orderdate) * 12 + month(o_orderdate))
        |    - CASE WHEN day(o_orderdate) > 1 THEN 1 ELSE 0 END AS BIGINT) AS agm,
        |  date_diff('day', o_orderdate, DATE '1998-12-01') AS agd
        |FROM orders WHERE o_orderkey < 2000 ORDER BY k""".stripMargin,

    "ch47_sql_visitparam" ->
      """SELECT o_orderkey AS k,
        |  o_orderstatus AS st,
        |  o_orderstatus AS st2,
        |  o_orderkey AS ki,
        |  o_totalprice AS pf
        |FROM orders WHERE o_orderkey < 2000 ORDER BY k""".stripMargin,

    "ch42_sql_update_stmt" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k, o_totalprice AS price, o_orderstatus AS flag
        |  FROM orders WHERE o_orderkey < 4000),
        |mutated AS (
        |  SELECT k, flag,
        |    CASE WHEN flag = 'F' AND k % 3 = 0 THEN price * 2 ELSE price END AS price
        |  FROM base WHERE NOT (flag = 'O' AND k % 5 = 0))
        |SELECT flag, count(*) AS n,
        |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM mutated GROUP BY flag ORDER BY flag""".stripMargin,

    "ch36_sql_keyword_forms" ->
      """SELECT o_orderkey AS k,
        |  CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS yr,
        |  SUBSTRING(o_orderpriority FROM 1 FOR 4) AS pri,
        |  TRIM(BOTH 'x' FROM concat('xx', o_orderstatus, 'x')) AS st,
        |  CAST(o_orderkey AS DOUBLE) AS kf,
        |  CAST(255 AS INTEGER) AS hx,
        |  CAST(EXTRACT(MONTH FROM DATE '1997-06-15') AS INTEGER) AS mo,
        |  CAST(EXTRACT(YEAR FROM TIMESTAMP '1998-02-03 04:05:06') AS INTEGER) AS ty
        |FROM orders WHERE o_orderkey < 100 ORDER BY k""".stripMargin,

    "ch2_sql_limit_by" ->
      """WITH r AS (SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders WHERE o_totalprice > 150000)
        |SELECT o_custkey, o_orderkey, o_totalprice FROM r WHERE rn <= 2
        |ORDER BY o_custkey, o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin,

    "ch3_sql_join" ->
      """SELECT n_name, count(*) AS cnt,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name HAVING count(*) > 10 ORDER BY n_name""".stripMargin,

    "ch4_sql_funcs" ->
      """SELECT o_orderkey,
        |  year(o_orderdate) AS yr,
        |  CAST(strftime(o_orderdate, '%Y%m') AS INTEGER) AS ym,
        |  upper(substring(o_orderpriority, 1, 1)) || '-' ||
        |    CAST(o_orderkey % 7 AS VARCHAR) AS tag,
        |  CASE WHEN o_totalprice > 200000 THEN 'hi'
        |       WHEN o_totalprice > 100000 THEN 'mid' ELSE 'lo' END AS bucket
        |FROM orders
        |WHERE o_orderkey BETWEEN 1 AND 4000 AND o_orderstatus IN ('O', 'F')
        |ORDER BY o_orderkey""".stripMargin,

    "ch5_sql_quantile" ->
      """SELECT o_orderpriority,
        |  round(quantile_cont(o_totalprice, 0.5), 6) AS med,
        |  CAST(sum(CASE WHEN o_totalprice > 150000 THEN 1 ELSE 0 END) AS BIGINT) AS n_big,
        |  max((o_totalprice, o_orderkey))[2] AS top_order
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "ch6_sql_arrayjoin" ->
      """WITH t AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        |SELECT tok, count(*) AS n FROM t GROUP BY tok
        |ORDER BY n DESC, tok LIMIT 20""".stripMargin,

    "ch7_sql_in_sub" ->
      """SELECT count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders
        |WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 9000)""".stripMargin,

    "ch8_sql_union" ->
      """SELECT st, n FROM (
        |  SELECT o_orderstatus AS st, count(*) AS n
        |  FROM orders WHERE o_totalprice > 300000 GROUP BY st
        |  UNION ALL
        |  SELECT o_orderstatus AS st, count(*) AS n
        |  FROM orders WHERE o_totalprice < 5000 GROUP BY st)
        |ORDER BY st, n""".stripMargin,

    "ch9_sql_scalar_sub" ->
      """SELECT count(*) AS n FROM orders
        |WHERE o_totalprice > (SELECT max(o_totalprice) FROM orders) / 2""".stripMargin,

    "ch19_sql_rollup" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  count(*) AS n
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,

    "ch20_sql_cube" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders
        |GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,

    "ch21_sql_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,

    "ch22_sql_ties" ->
      """SELECT pk, price FROM (
        |  SELECT p_partkey AS pk, p_retailprice AS price,
        |    rank() OVER (ORDER BY p_retailprice DESC) AS rk FROM part)
        |WHERE rk <= 5 ORDER BY price DESC, pk""".stripMargin,

    "ch23_sql_sample" ->
      """SELECT count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |WHERE l_orderkey % 10 >= 0 AND l_orderkey % 10 < 2""".stripMargin,

    "ch24_sql_exists" ->
      """SELECT o_orderstatus, count(*) AS n FROM orders
        |WHERE EXISTS (SELECT 1 FROM customer WHERE c_acctbal > 9999)
        |  AND NOT EXISTS (SELECT 1 FROM customer WHERE c_acctbal > 999999)
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "ch25_sql_collate" ->
      """SELECT s, pk FROM (
        |  SELECT CASE WHEN p_partkey % 2 = 0 THEN upper(p_name) ELSE p_name END AS s,
        |         p_partkey AS pk
        |  FROM part WHERE p_partkey <= 200)
        |ORDER BY lower(s), pk""".stripMargin,

    "ch27_sql_columns_apply" ->
      """SELECT max(l_quantity) AS max_l_quantity,
        |  max(l_discount) AS max_l_discount,
        |  max(l_tax) AS max_l_tax
        |FROM lineitem""".stripMargin,

    "ch28_sql_star_except" ->
      "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey",

    "ch31_sql_summap" ->
      """WITH g AS (SELECT l_returnflag, l_linestatus,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
        |  FROM lineitem GROUP BY l_returnflag, l_linestatus)
        |SELECT l_returnflag,
        |  string_agg(l_linestatus, ',' ORDER BY l_linestatus) AS keys,
        |  string_agg(CAST(q AS VARCHAR), ',' ORDER BY l_linestatus) AS sums
        |FROM g GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "ch30_sql_retention" ->
      """WITH m AS (SELECT user_id,
        |    max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS s,
        |    max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS p
        |  FROM events GROUP BY user_id)
        |SELECT user_id,
        |  CAST(s AS VARCHAR) || ',' || CAST(least(s, c) AS VARCHAR) || ',' ||
        |  CAST(least(s, p) AS VARCHAR) AS r
        |FROM m ORDER BY user_id""".stripMargin,

    "ch29_sql_named_window" ->
      """SELECT o_custkey, o_orderkey,
        |  row_number() OVER w AS rn,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS running,
        |  lag(o_orderkey, 1) OVER w AS prev
        |FROM orders
        |WHERE o_custkey < 200
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "ch26_sql_final" ->
      """WITH snap AS (
        |  SELECT o_orderkey AS k, 1 AS v, o_totalprice AS price FROM orders
        |  UNION ALL
        |  SELECT o_orderkey AS k, 2 AS v, o_totalprice * 2 AS price
        |  FROM orders WHERE o_orderkey % 100 = 0),
        |fin AS (SELECT k, price,
        |    row_number() OVER (PARTITION BY k ORDER BY v DESC) AS rn
        |  FROM snap)
        |SELECT count(*) AS n,
        |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM fin WHERE rn = 1""".stripMargin,

    // identical result contract to the operator-level entry — the text
    // form must reproduce e9's funnel distribution exactly
    "ch18_sql_funnel" -> oracles9("e9_window_funnel"),

    // adjacency + time-bound replay borrowed from e14; 2-step greedy
    // automaton replay as a RECURSIVE CTE (completion at level 1) —
    // lane-safe, see the e9 note on the list_reduce vectorization bug
    "ch17_sql_sequence" ->
      """WITH RECURSIVE ev AS (SELECT user_id, ts, event_type,
        |    CASE event_type WHEN 'view' THEN 1 WHEN 'click' THEN 2 ELSE 0 END AS s_adj
        |  FROM events),
        |nx AS (SELECT user_id, event_type,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, s_adj) AS nxt
        |  FROM ev),
        |adj AS (SELECT user_id,
        |    max(CASE WHEN event_type = 'view' AND nxt = 'click' THEN 1 ELSE 0 END) AS m
        |  FROM nx GROUP BY user_id),
        |tb AS (SELECT DISTINCT a.user_id FROM events a JOIN events b
        |    ON a.user_id = b.user_id
        |   AND a.event_type = 'view' AND b.event_type = 'purchase'
        |   AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 2 HOUR),
        |sc AS (SELECT user_id,
        |    epoch_us(ts) * 10 + (CASE event_type WHEN 'signup' THEN 0
        |      WHEN 'purchase' THEN 1 END) AS e
        |  FROM events WHERE event_type IN ('signup', 'purchase')),
        |scord AS (SELECT user_id, e,
        |    row_number() OVER (PARTITION BY user_id ORDER BY e) AS i FROM sc),
        |scn AS (SELECT user_id, count(*) AS cnt FROM scord GROUP BY user_id),
        |screc(user_id, i, chains, need) AS (
        |  SELECT user_id, CAST(0 AS BIGINT), CAST(0 AS BIGINT), 0 FROM scn
        |  UNION ALL
        |  SELECT s.user_id, s.i + 1,
        |    s.chains + CASE WHEN o.e % 10 = s.need AND s.need = 1
        |                    THEN 1 ELSE 0 END,
        |    CASE WHEN o.e % 10 = s.need
        |         THEN CASE WHEN s.need = 1 THEN 0 ELSE s.need + 1 END
        |         ELSE s.need END
        |  FROM screc s JOIN scord o ON o.user_id = s.user_id AND o.i = s.i + 1),
        |scst AS (SELECT s.user_id, [s.chains, CAST(s.need AS BIGINT)] AS f
        |  FROM screc s JOIN scn ON s.user_id = scn.user_id AND s.i = scn.cnt)
        |SELECT u.user_id,
        |  coalesce(adj.m, 0) = 1 AS m_adj,
        |  tb.user_id IS NOT NULL AS m_tb,
        |  coalesce(scst.f[1], 0) AS n_chains
        |FROM (SELECT DISTINCT user_id FROM events) u
        |LEFT JOIN adj ON u.user_id = adj.user_id
        |LEFT JOIN tb ON u.user_id = tb.user_id
        |LEFT JOIN scst ON u.user_id = scst.user_id
        |ORDER BY u.user_id""".stripMargin,

    "ch16_sql_fill_dates" ->
      """WITH g AS (SELECT CAST(o_orderdate AS DATE) AS d, count(*) AS n
        |  FROM orders WHERE o_custkey < 20 GROUP BY 1),
        |b AS (SELECT min(d) AS lo, max(d) AS hi FROM g),
        |axis AS (SELECT CAST(unnest(generate_series(CAST(lo AS TIMESTAMP),
        |    CAST(hi AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS d FROM b)
        |SELECT axis.d AS d, g.n AS n
        |FROM axis LEFT JOIN g ON axis.d = g.d ORDER BY d""".stripMargin,

    "ch15_sql_interpolate" ->
      """WITH g AS (SELECT o_custkey AS k, count(*) AS n
        |  FROM orders WHERE o_custkey % 97 = 0 GROUP BY 1),
        |b AS (SELECT min(k) AS lo, max(k) AS hi FROM g),
        |axis AS (SELECT unnest(generate_series(lo, hi, 97)) AS k FROM b),
        |j AS (SELECT axis.k AS k, g.n AS n FROM axis LEFT JOIN g ON axis.k = g.k)
        |SELECT k, coalesce(last_value(n IGNORE NULLS) OVER (
        |    ORDER BY k ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |  0) AS n
        |FROM j ORDER BY k""".stripMargin,

    "ch14_sql_integration" ->
      """SELECT year(o_orderdate) AS yr, o_orderstatus AS status,
        |  count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev,
        |  count(DISTINCT CASE WHEN o_totalprice > 200000
        |    THEN o_custkey END) AS big_custs
        |FROM orders
        |WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 0)
        |GROUP BY yr, status
        |HAVING count(*) > 50
        |ORDER BY yr, status
        |LIMIT 20""".stripMargin,

    "ch13_sql_topk" ->
      """WITH c AS (SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS v,
        |    count(*) AS n
        |  FROM lineitem GROUP BY 1, 2),
        |r AS (SELECT l_returnflag, v, row_number() OVER (
        |    PARTITION BY l_returnflag ORDER BY n DESC, v) AS rn FROM c)
        |SELECT l_returnflag,
        |  array_to_string(list(CAST(v AS VARCHAR) ORDER BY rn), ',') AS top_q
        |FROM r WHERE rn <= 3 GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "ch12_sql_with_fill" ->
      """WITH g AS (SELECT o_custkey AS k, count(*) AS n
        |  FROM orders WHERE o_custkey % 97 = 0 GROUP BY 1),
        |b AS (SELECT min(k) AS lo, max(k) AS hi FROM g),
        |axis AS (SELECT unnest(generate_series(lo, hi, 97)) AS k FROM b)
        |SELECT axis.k AS k, g.n AS n
        |FROM axis LEFT JOIN g ON axis.k = g.k ORDER BY k""".stripMargin,

    "ch11_sql_asof" ->
      """WITH r AS (SELECT o_custkey AS user_id, o_orderdate,
        |                  max(o_orderkey) AS o_orderkey
        |           FROM orders GROUP BY 1, 2)
        |SELECT event_id, o_orderkey
        |FROM events ASOF LEFT JOIN r
        |  ON events.user_id = r.user_id AND r.o_orderdate <= events.ts
        |ORDER BY event_id""".stripMargin,

    "ch10_sql_window" ->
      """SELECT o_custkey, o_orderkey,
        |  row_number() OVER (PARTITION BY o_custkey
        |    ORDER BY o_totalprice DESC, o_orderkey) AS rn,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running,
        |  lag(o_orderkey, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS prev
        |FROM orders
        |WHERE o_custkey < 200
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    // same micro-histogram edge derivation as ChOps.adaptiveHistogram:
    // min/max/count → 4096-bin grid counts → cumulative → equi-depth
    // edges on grid boundaries → row-local binning
    "q90_adaptive_histogram" ->
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
        |FROM b2 GROUP BY bin, lo, hi ORDER BY bin""".stripMargin,

    "x4_audio_decode" ->
      """SELECT doc_id,
        |  CAST(CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000
        |       ELSE 44100 END AS INTEGER) AS sample_rate,
        |  CAST(doc_id % 2 + 1 AS INTEGER) AS channels,
        |  CAST(doc_id % 500 + 100 AS BIGINT) AS n_frames,
        |  CAST((doc_id % 500 + 100) * 1000000 //
        |    (CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000
        |     ELSE 44100 END) AS BIGINT) AS duration_us
        |FROM documents WHERE doc_id < 500 ORDER BY doc_id""".stripMargin,

    // adjacency: lead() over the SAME (ts, encoded-step) tie order the
    // operator sorts by; time-bound: an existence join within the window
    "e14_sequence_patterns" ->
      """WITH ev AS (SELECT user_id, ts, event_type,
        |    CASE event_type WHEN 'view' THEN 1 WHEN 'click' THEN 2 ELSE 0 END AS s_adj
        |  FROM events),
        |nx AS (SELECT user_id, event_type,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, s_adj) AS nxt
        |  FROM ev),
        |adj AS (SELECT user_id,
        |    max(CASE WHEN event_type = 'view' AND nxt = 'click' THEN 1 ELSE 0 END) AS m
        |  FROM nx GROUP BY user_id),
        |tb AS (SELECT DISTINCT a.user_id FROM events a JOIN events b
        |    ON a.user_id = b.user_id
        |   AND a.event_type = 'view' AND b.event_type = 'purchase'
        |   AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 2 HOUR)
        |SELECT u.user_id,
        |  coalesce(adj.m, 0) = 1 AS m_adj,
        |  tb.user_id IS NOT NULL AS m_tb
        |FROM (SELECT DISTINCT user_id FROM events) u
        |LEFT JOIN adj ON u.user_id = adj.user_id
        |LEFT JOIN tb ON u.user_id = tb.user_id
        |ORDER BY u.user_id""".stripMargin)

  // ===== batch 12: product quantization (PQ / IVF-PQ) =====

  /** DuckDB twin of the native per-subspace squared-L2 fold: slice j of
    * both lists (1-based inclusive list_slice), sequential
    * ascending-dimension accumulation — bit-identical doubles to
    * NativeExpressions.pqEncodeCompute/pqLutCompute. */
  private def sqlL2Slice(a: String, b: String, j: Int, dsub: Int): String = {
    val lo = j * dsub + 1
    val hi = (j + 1) * dsub
    s"list_reduce(list_prepend(0.0, list_transform(" +
      s"list_zip(list_slice($a, $lo, $hi), list_slice($b, $lo, $hi)), " +
      s"p -> (p[1] - p[2]) * (p[1] - p[2]))), (acc, x) -> acc + x)"
  }

  /** Per-subspace encode CTEs (code_0..code_{m-1}): each picks the
    * centroid minimizing the subspace distance, ties to the lowest
    * codebook position — the strict-< first-wins of pqEncodeCompute. */
  private def pqCodeCtes(m: Int, dsub: Int): String =
    (0 until m).map { j =>
      s"""code_$j AS (SELECT id, cv AS cv_$j FROM (
         |  SELECT a.id, c.cv, row_number() OVER (PARTITION BY a.id
         |    ORDER BY ${sqlL2Slice("a.v", "c.cv", j, dsub)}, c.cpos) AS rn
         |  FROM vecs a CROSS JOIN cents c) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")

  /** ADC distance: left-assoc sum of per-subspace reconstruction
    * distances, ascending j — the exact grouping of pqAdcByQueryCompute. */
  private def pqAdcSql(m: Int, dsub: Int): String =
    (0 until m).map(j => s"(${sqlL2Slice("q.qv", s"k$j.cv_$j", j, dsub)})")
      .mkString(" + ")

  private def pqCodeJoins(m: Int): String =
    (0 until m).map(j => s"JOIN code_$j k$j ON k$j.id = n.id").mkString(" ")

  /** L2 between subspace j of `a` (sliced) and an ALREADY-SLICED dsub
    * vector `b` — the trained-codebook twin of [[sqlL2Slice]], same
    * sequential zip fold. */
  private def sqlL2SliceVsFull(a: String, b: String, j: Int,
      dsub: Int): String = {
    val lo = j * dsub + 1
    val hi = (j + 1) * dsub
    s"list_reduce(list_prepend(0.0, list_transform(" +
      s"list_zip(list_slice($a, $lo, $hi), $b), " +
      s"p -> (p[1] - p[2]) * (p[1] - p[2]))), (acc, x) -> acc + x)"
  }

  /** One Lloyd round per subspace over the stride init, then re-encode —
    * the pqCodebooksTrained replay: ac_j = stride assignment (ties to
    * lowest cpos, the strict-< first-wins of pqEncodeCompute), mn_j =
    * rounded per-(code, pos) means, tc_j = trained centroids with
    * empty cells keeping the stride slice, code2_j = re-assignment
    * against the trained centroids. */
  private def pqTrainedCodeCtes(m: Int, dsub: Int): String =
    (0 until m).map { j =>
      val lo = j * dsub + 1
      val hi = (j + 1) * dsub
      s"""ac_$j AS (SELECT id, cpos FROM (
         |  SELECT a.id, c.cpos, row_number() OVER (PARTITION BY a.id
         |    ORDER BY ${sqlL2Slice("a.v", "c.cv", j, dsub)}, c.cpos) AS rn
         |  FROM vecs a CROSS JOIN cents c) WHERE rn = 1),
         |mn_$j AS (SELECT cpos, pos, round(avg(x), 6) AS mx FROM (
         |    SELECT ac.cpos, unnest(list_slice(a.v, $lo, $hi)) AS x,
         |      unnest(range(0, $dsub)) AS pos
         |    FROM vecs a JOIN ac_$j ac ON ac.id = a.id) GROUP BY cpos, pos),
         |tc_$j AS (SELECT c.cpos,
         |    coalesce(mm.mv, list_slice(c.cv, $lo, $hi)) AS cvj
         |  FROM cents c LEFT JOIN (SELECT cpos, list(mx ORDER BY pos) AS mv
         |    FROM mn_$j GROUP BY cpos) mm ON mm.cpos = c.cpos),
         |code2_$j AS (SELECT id, cvj AS cv_$j FROM (
         |  SELECT a.id, t.cvj, row_number() OVER (PARTITION BY a.id
         |    ORDER BY ${sqlL2SliceVsFull("a.v", "t.cvj", j, dsub)}, t.cpos)
         |      AS rn
         |  FROM vecs a CROSS JOIN tc_$j t) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")

  private def pqTrainedAdcSql(m: Int, dsub: Int): String =
    (0 until m).map(j =>
      s"(${sqlL2SliceVsFull("q.qv", s"k$j.cv_$j", j, dsub)})").mkString(" + ")

  private def pqTrainedCodeJoins(m: Int): String =
    (0 until m).map(j => s"JOIN code2_$j k$j ON k$j.id = n.id").mkString(" ")

  /** Shared CTE chain replaying `Similarity.semDedup(centroidEvery=50,
    * iters=1, threshold=0.95)` over embeddings + planted copies (id+10000):
    * ends with `cell1(id, v, cell)` and `dropped(id)`. Used by the v10
    * oracle and composed into the p2 pipeline oracle. */
  /** Shared DuckDB replay of the semDedup k-means cascade. `strideSql`
    * is the centroid-stride expression: v10 pins the historical literal
    * 50; p2 derives the √n operating point from the corpus count (the
    * same GREATEST(1, round(sqrt(n)), n // cap) rule as semDedupAuto /
    * the Sqrt ANN sizing on the Spark side). */
  private def semdedupCteBlock(strideSql: String = "50"): String =
    s"""base AS (SELECT vec_id AS id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings
       |  UNION ALL
       |  SELECT vec_id + 10000, list_transform(embedding, x -> CAST(x AS DOUBLE))
       |  FROM embeddings),
       |cents0 AS (SELECT id AS cid, v AS cv FROM base
       |  WHERE id % ($strideSql) = 0),
       |a0 AS (SELECT id, v, cid,
       |  round(${sqlDot("v", "cv")} /
       |    (sqrt(${sqlNormSq("v")}) * sqrt(${sqlNormSq("cv")})), 6) AS csim
       |  FROM base CROSS JOIN cents0),
       |cell0 AS (SELECT id, v, cid AS cell FROM (
       |  SELECT id, v, cid, row_number() OVER (PARTITION BY id
       |    ORDER BY csim DESC, cid) AS rn FROM a0) WHERE rn = 1),
       |m0 AS (SELECT cell, pos, round(avg(x), 6) AS m FROM (
       |    SELECT cell, unnest(v) AS x, unnest(range(0, len(v))) AS pos
       |    FROM cell0) GROUP BY cell, pos),
       |p0 AS (SELECT cell, list(m ORDER BY pos) AS mv FROM m0 GROUP BY cell),
       |cents1 AS (SELECT cid, coalesce(p0.mv, cv) AS cv
       |  FROM cents0 LEFT JOIN p0 ON p0.cell = cents0.cid),
       |a1 AS (SELECT id, v, cid,
       |  round(${sqlDot("v", "cv")} /
       |    (sqrt(${sqlNormSq("v")}) * sqrt(${sqlNormSq("cv")})), 6) AS csim
       |  FROM base CROSS JOIN cents1),
       |cell1 AS (SELECT id, v, cid AS cell FROM (
       |  SELECT id, v, cid, row_number() OVER (PARTITION BY id
       |    ORDER BY csim DESC, cid) AS rn FROM a1) WHERE rn = 1),
       |dropped AS (SELECT DISTINCT r.id FROM cell1 l JOIN cell1 r
       |  ON l.cell = r.cell AND l.id < r.id
       |  WHERE round(${sqlDot("l.v", "r.v")} /
       |    (sqrt(${sqlNormSq("l.v")}) * sqrt(${sqlNormSq("r.v")})), 6) >= 0.95)""".stripMargin

  private val batch12: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Exhaustive ADC scan: corpus compressed to m=4 codes/row (row-local
    // codegen'd encode, zero shuffles), queries carry a precomputed LUT —
    // per-(query,row) cost is 4 array reads, not 64 flops. The
    // 100 TB story: the code table is 64x smaller than the raw corpus.
    "v8_pq_topk" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      // CONSTANT-size PQ codebook (10 centroids/subspace at every SF —
      // stride n/10 reproduces the historical stride-50 codebook at
      // sf0.01's 500 vectors): a fixed STRIDE grows centroids with the
      // corpus, which blows the uint8 code space past 256 and makes
      // encode cost quadratic across scale factors
      val every = math.max(1L, emb.count() / 10).toInt
      annTopK(emb, annTrain(emb, AnnIndex(Coarse(Exhaustive), Pq(4, every))))
        .orderBy(col("query_id"), col("adist"), col("neighbor_id"))
    }),

    // PQ with TRAINED subspace codebooks (closes the stride ceiling for
    // the PQ family the way v13 closed it for IVF): one deterministic
    // Lloyd round per subspace over the v8 stride init — assignment IS
    // pqEncode (row-local, broadcast codebooks), the update is ONE
    // map-combinable (subspace, code, pos) mean shuffle with ≤ C·d
    // driver rows; the serving plan (encode + broadcast-LUT ADC) is
    // byte-identical to v8's, only the codebook VALUES differ. DuckDB
    // replays the per-subspace assignment, the rounded means (empty
    // cells keep the stride centroid), the re-encode and the ADC.
    "v14_pq_trained" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val every = math.max(1L, emb.count() / 10).toInt
      annTopK(emb, annTrain(emb,
          AnnIndex(Coarse(Exhaustive), Pq(4, every, iters = 1))))
        .orderBy(col("query_id"), col("adist"), col("neighbor_id"))
    }),

    // IVF-PQ (faiss IVFADC): coarse cells prune (nprobe=2), ADC ranks the
    // survivors from codes only — raw vectors are read exactly once.
    // Both codebooks constant-size (stride n/10, see v8).
    "v9_ivfpq_topk" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val every = math.max(1L, emb.count() / 10).toInt
      annTopK(emb, annTrain(emb, AnnIndex(Coarse(Every(every)), Pq(4, every))),
          nprobe = 2)
        .orderBy(col("query_id"), col("adist"), col("neighbor_id"))
    }),

    // CCNet-style perplexity quality signal: train a capped-vocab add-1
    // bigram LM on the corpus (two map-side-combinable count passes),
    // broadcast the bounded model, score every doc in one row-local
    // codegen'd fold. maxVocab=20 deliberately exercises the UNK path.
    "t15_bigram_ppl" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val model = graft.operators.TextAnalysis.trainBigramModel(
        docs, "text", maxVocab = 20)
      graft.operators.TextAnalysis.bigramPerplexity(docs, "doc_id", "text", model)
        .orderBy("doc_id")
    }),

    // capped-bigram-table variant: model state bounded by CONFIGURATION
    // (vocab ≤ 21, bigrams ≤ 50 of the 462 realized pairs — truncation
    // genuinely bites); the dropped tail folds into the add-k smoothing
    // floor, and DuckDB replays the same top-B (count desc, pair asc) rule
    "t15b_bigram_ppl_capped" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val model = graft.operators.TextAnalysis.trainBigramModel(
        docs, "text", maxVocab = 20, maxBigrams = 50)
      graft.operators.TextAnalysis.bigramPerplexity(docs, "doc_id", "text", model)
        .orderBy("doc_id")
    }),

    // characteristic terms per doc: tf groupBy (map-combinable), df
    // aggregated from tf (vocabulary-sized → broadcast idf join)
    "t16_tfidf_terms" -> ((s, dir) =>
      graft.operators.TextAnalysis.tfidfTopTerms(
          tbl(s, dir, "documents"), "doc_id", "text", k = 3)
        .orderBy(col("doc_id"), desc("score"), col("term"))),

    // SemDeDup: deterministic k-means (1 Lloyd round, stride init, means
    // rounded so SQL replays the codebook), then near-dup pruning WITHIN
    // cells only — planted exact copies (id+10000) must be dropped.
    "v10_semdedup" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings").select("vec_id", "embedding")
      val copies = emb.select((col("vec_id") + 10000).as("vec_id"),
        col("embedding"))
      graft.operators.Similarity.semDedup(emb.unionByName(copies),
          "vec_id", "embedding", centroidEvery = 50, iters = 1,
          threshold = 0.95)
        .orderBy("id")
    }),

    // int8 scalar quantization: per-vector symmetric scale, row-local —
    // the 4x compression tier next to PQ; codes emitted as CSV so the
    // compare is engine-neutral
    "v11_int8_quant" -> ((s, dir) =>
      graft.operators.Similarity.quantizeInt8(
          tbl(s, dir, "embeddings"), "vec_id", "embedding")
        .select(col("id"), col("scale"),
          array_join(transform(col("codes"), c => c.cast("string")), ",")
            .as("codes_csv"),
          col("err"))
        .orderBy("id")),

    // Embedding pipeline end-to-end (the vector twin of p1): SemDeDup
    // prunes near-duplicates (planted copies must go), then IVF ANN serves
    // top-k over the SURVIVING corpus only — the standard
    // dedup-before-index ordering of a production vector pipeline.
    "p2_embedding_pipeline" -> ((s, dir) => {
      // Both stages on the √n operating point (r10 re-anchor): a fixed
      // stride-50 grew both codebooks linearly with the corpus, making
      // the assignment passes O(n²/50) across scale factors — the same
      // parametrization that blew v3/v5's 10×-data ratios in r8. √n
      // balances assignment vs within-cell pairwise at O(n^1.5), capped
      // at 4096 centroids (constant-size regime at extreme scale).
      val emb = tbl(s, dir, "embeddings").select("vec_id", "embedding")
      val copies = emb.select((col("vec_id") + 10000).as("vec_id"),
        col("embedding"))
      val all = emb.unionByName(copies)
      // One count feeds semDedupAuto's stride (knownN); the survivor set
      // is materialized ONCE (localCheckpoint) before indexing — without
      // it, the √n index's count + codebook collect + the final ranking
      // each re-evaluated the whole k-means/pairwise lineage (a real
      // pipeline persists the deduped corpus before building the index)
      val kept = graft.operators.Similarity.semDedupAuto(all, "vec_id",
          "embedding", iters = 1, threshold = 0.95, knownN = all.count())
        .filter(col("keep")).select(col("id").as("vec_id"))
      val corpus = all.join(kept, Seq("vec_id"), "left_semi")
        .localCheckpoint(true)
      annTopK(corpus, annTrain(corpus, AnnIndex(Coarse(Sqrt))))
        .orderBy(col("query_id"), desc("sim"), col("neighbor_id"))
    }))

  private val oracles12: Map[String, String] = Map(

    "v8_pq_topk" ->
      s"""WITH vecs AS (SELECT vec_id AS id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |stride AS (SELECT GREATEST(1, count(*) // 10) AS s FROM vecs),
         |cents AS (SELECT row_number() OVER (ORDER BY id) - 1 AS cpos, v AS cv
         |  FROM vecs WHERE id % (SELECT s FROM stride) = 0),
         |${pqCodeCtes(4, 16)},
         |q AS (SELECT id AS query_id, v AS qv FROM vecs WHERE id < 10),
         |scored AS (SELECT q.query_id, n.id AS neighbor_id,
         |  round(${pqAdcSql(4, 16)}, 6) AS adist
         |  FROM q CROSS JOIN vecs n ${pqCodeJoins(4)}
         |  WHERE q.query_id <> n.id),
         |rk AS (SELECT query_id, neighbor_id, adist, row_number() OVER (
         |  PARTITION BY query_id ORDER BY adist, neighbor_id) AS rn
         |  FROM scored)
         |SELECT query_id, neighbor_id, adist FROM rk WHERE rn <= 3
         |ORDER BY query_id, adist, neighbor_id""".stripMargin,

    // the v8 chain with one Lloyd training round per subspace spliced in
    // (pqCodebooksTrained replay) — assignment, rounded means,
    // empty-cell fallback, re-encode, ADC over the TRAINED centroids
    "v14_pq_trained" ->
      s"""WITH vecs AS (SELECT vec_id AS id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |stride AS (SELECT GREATEST(1, count(*) // 10) AS s FROM vecs),
         |cents AS (SELECT row_number() OVER (ORDER BY id) - 1 AS cpos, v AS cv
         |  FROM vecs WHERE id % (SELECT s FROM stride) = 0),
         |${pqTrainedCodeCtes(4, 16)},
         |q AS (SELECT id AS query_id, v AS qv FROM vecs WHERE id < 10),
         |scored AS (SELECT q.query_id, n.id AS neighbor_id,
         |  round(${pqTrainedAdcSql(4, 16)}, 6) AS adist
         |  FROM q CROSS JOIN vecs n ${pqTrainedCodeJoins(4)}
         |  WHERE q.query_id <> n.id),
         |rk AS (SELECT query_id, neighbor_id, adist, row_number() OVER (
         |  PARTITION BY query_id ORDER BY adist, neighbor_id) AS rn
         |  FROM scored)
         |SELECT query_id, neighbor_id, adist FROM rk WHERE rn <= 3
         |ORDER BY query_id, adist, neighbor_id""".stripMargin,

    "v9_ivfpq_topk" ->
      s"""WITH vecs AS (SELECT vec_id AS id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |stride AS (SELECT GREATEST(1, count(*) // 10) AS s FROM vecs),
         |ccents AS (SELECT id AS ccid, v AS ccv FROM vecs
         |  WHERE id % (SELECT s FROM stride) = 0),
         |cassign AS (SELECT id, v, ccid,
         |  round(${sqlDot("v", "ccv")} /
         |    (sqrt(${sqlNormSq("v")}) * sqrt(${sqlNormSq("ccv")})), 6) AS csim
         |  FROM vecs CROSS JOIN ccents),
         |cranked AS (SELECT id, v, ccid, row_number() OVER (PARTITION BY id
         |    ORDER BY csim DESC, ccid) AS crn FROM cassign),
         |cells AS (SELECT id, v, ccid AS cell FROM cranked WHERE crn = 1),
         |probes AS (SELECT id, ccid AS cell FROM cranked WHERE crn <= 2),
         |cents AS (SELECT row_number() OVER (ORDER BY id) - 1 AS cpos, v AS cv
         |  FROM vecs WHERE id % (SELECT s FROM stride) = 0),
         |${pqCodeCtes(4, 16)},
         |q AS (SELECT p.id AS query_id, v.v AS qv, p.cell
         |  FROM probes p JOIN vecs v ON v.id = p.id WHERE p.id < 10),
         |scored AS (SELECT q.query_id, n.id AS neighbor_id,
         |  round(${pqAdcSql(4, 16)}, 6) AS adist
         |  FROM q JOIN cells cl ON cl.cell = q.cell
         |  JOIN vecs n ON n.id = cl.id ${pqCodeJoins(4)}
         |  WHERE q.query_id <> n.id),
         |rk AS (SELECT query_id, neighbor_id, adist, row_number() OVER (
         |  PARTITION BY query_id ORDER BY adist, neighbor_id) AS rn
         |  FROM scored)
         |SELECT query_id, neighbor_id, adist FROM rk WHERE rn <= 3
         |ORDER BY query_id, adist, neighbor_id""".stripMargin,

    // full training + scoring replay: top-20 vocab by (count desc, token),
    // UNK=chr(1), BOS=chr(2), pair separator=chr(3) — the sentinels of
    // graft.plans.BigramModel; add-1 smoothing, V = |top| + 1 (UNK)
    "t15_bigram_ppl" ->
      """WITH toks AS (SELECT doc_id,
        |    list_filter(string_split(trim(text), ' '), x -> len(x) > 0) AS t
        |  FROM documents),
        |uni AS (SELECT unnest(t) AS tok FROM toks),
        |uc AS (SELECT tok, count(*) AS c FROM uni GROUP BY tok),
        |top AS (SELECT tok, c FROM uc ORDER BY c DESC, tok LIMIT 20),
        |tl AS (SELECT list(tok) AS l FROM top),
        |vn AS (SELECT count(*) + 1 AS v FROM top),
        |unk AS (SELECT (SELECT count(*) FROM uni) - (SELECT sum(c) FROM top) AS c),
        |nd AS (SELECT count(*) AS n FROM toks WHERE len(t) > 0),
        |ctx AS (SELECT tok, c FROM top
        |  UNION ALL SELECT chr(1), c FROM unk),
        |mapped AS (SELECT doc_id, list_transform(t,
        |    x -> CASE WHEN list_contains(tl.l, x) THEN x ELSE chr(1) END) AS m
        |  FROM toks, tl),
        |pos AS (SELECT doc_id, m,
        |    unnest(range(1, len(m) + 1)) AS i
        |  FROM mapped WHERE len(m) > 0),
        |pos2 AS (SELECT doc_id,
        |    CASE WHEN i = 1 THEN chr(2) ELSE m[i - 1] END AS prev,
        |    m[i] AS cur FROM pos),
        |bg AS (SELECT doc_id, prev, cur FROM pos2),
        |bc AS (SELECT prev, cur, count(*) AS c FROM bg GROUP BY prev, cur),
        |sc AS (SELECT p.doc_id,
        |    ln((coalesce(b.c, 0) + 1.0) /
        |       ((CASE WHEN p.prev = chr(2) THEN (SELECT n FROM nd)
        |              ELSE cx.c END) + 1.0 * (SELECT v FROM vn))) AS lp
        |  FROM pos2 p
        |  LEFT JOIN bc b ON b.prev = p.prev AND b.cur = p.cur
        |  LEFT JOIN ctx cx ON cx.tok = p.prev),
        |agg AS (SELECT doc_id, sum(lp) AS logp, count(*) AS n
        |  FROM sc GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(a.n, 0) AS n_tokens,
        |  CASE WHEN a.n > 0 THEN round(exp(-a.logp / a.n), 6) END AS ppl
        |FROM (SELECT doc_id FROM documents) d
        |LEFT JOIN agg a USING (doc_id) ORDER BY doc_id""".stripMargin,

    "t15b_bigram_ppl_capped" ->
      """WITH toks AS (SELECT doc_id,
        |    list_filter(string_split(trim(text), ' '), x -> len(x) > 0) AS t
        |  FROM documents),
        |uni AS (SELECT unnest(t) AS tok FROM toks),
        |uc AS (SELECT tok, count(*) AS c FROM uni GROUP BY tok),
        |top AS (SELECT tok, c FROM uc ORDER BY c DESC, tok LIMIT 20),
        |tl AS (SELECT list(tok) AS l FROM top),
        |vn AS (SELECT count(*) + 1 AS v FROM top),
        |unk AS (SELECT (SELECT count(*) FROM uni) - (SELECT sum(c) FROM top) AS c),
        |nd AS (SELECT count(*) AS n FROM toks WHERE len(t) > 0),
        |ctx AS (SELECT tok, c FROM top
        |  UNION ALL SELECT chr(1), c FROM unk),
        |mapped AS (SELECT doc_id, list_transform(t,
        |    x -> CASE WHEN list_contains(tl.l, x) THEN x ELSE chr(1) END) AS m
        |  FROM toks, tl),
        |pos AS (SELECT doc_id, m,
        |    unnest(range(1, len(m) + 1)) AS i
        |  FROM mapped WHERE len(m) > 0),
        |pos2 AS (SELECT doc_id,
        |    CASE WHEN i = 1 THEN chr(2) ELSE m[i - 1] END AS prev,
        |    m[i] AS cur FROM pos),
        |bg AS (SELECT doc_id, prev, cur FROM pos2),
        |bc AS (SELECT prev, cur, count(*) AS c FROM bg GROUP BY prev, cur),
        |bk AS (SELECT prev, cur, c FROM bc
        |  ORDER BY c DESC, prev || chr(3) || cur LIMIT 50),
        |sc AS (SELECT p.doc_id,
        |    ln((coalesce(b.c, 0) + 1.0) /
        |       ((CASE WHEN p.prev = chr(2) THEN (SELECT n FROM nd)
        |              ELSE cx.c END) + 1.0 * (SELECT v FROM vn))) AS lp
        |  FROM pos2 p
        |  LEFT JOIN bk b ON b.prev = p.prev AND b.cur = p.cur
        |  LEFT JOIN ctx cx ON cx.tok = p.prev),
        |agg AS (SELECT doc_id, sum(lp) AS logp, count(*) AS n
        |  FROM sc GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(a.n, 0) AS n_tokens,
        |  CASE WHEN a.n > 0 THEN round(exp(-a.logp / a.n), 6) END AS ppl
        |FROM (SELECT doc_id FROM documents) d
        |LEFT JOIN agg a USING (doc_id) ORDER BY doc_id""".stripMargin,

    "t16_tfidf_terms" ->
      """WITH toks AS (SELECT doc_id,
        |    unnest(list_filter(string_split(trim(text), ' '),
        |      x -> len(x) > 0)) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        |dfc AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |n AS (SELECT count(*) AS n FROM documents),
        |scored AS (SELECT doc_id, term,
        |    round(CAST(tf AS DOUBLE) *
        |      (ln(((SELECT n FROM n) + 1.0) / (CAST(df AS DOUBLE) + 1.0))
        |       + 1.0), 6) AS score
        |  FROM tf JOIN dfc USING (term)),
        |rk AS (SELECT doc_id, term, score, row_number() OVER (
        |  PARTITION BY doc_id ORDER BY score DESC, term) AS rn FROM scored)
        |SELECT doc_id, term, score FROM rk WHERE rn <= 3
        |ORDER BY doc_id, score DESC, term""".stripMargin,

    // k-means replay: stride init → cosine assignment (round 6, tie cid)
    // → per-(cell,pos) rounded means → re-pack (empty cells keep the old
    // centroid) → final assignment → within-cell near-dup pairs
    "v10_semdedup" ->
      s"""WITH ${semdedupCteBlock()}
         |SELECT c.id, c.cell, d.id IS NULL AS keep
         |FROM cell1 c LEFT JOIN dropped d ON d.id = c.id
         |ORDER BY c.id""".stripMargin,

    "v11_int8_quant" ->
      """WITH vecs AS (SELECT vec_id AS id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |sc AS (SELECT id, v,
        |    list_reduce(list_prepend(0.0, list_transform(v, x -> abs(x))),
        |      (a, x) -> greatest(a, x)) AS amax
        |  FROM vecs),
        |q AS (SELECT id, v,
        |    CASE WHEN amax > 0 THEN amax / 127.0 ELSE 0.0 END AS s,
        |    CASE WHEN amax > 0 THEN list_transform(v,
        |        x -> CAST(round(x / (amax / 127.0), 0) AS INT))
        |      ELSE list_transform(v, x -> 0) END AS codes
        |  FROM sc)
        |SELECT id, round(s, 6) AS scale,
        |  array_to_string(list_transform(codes, c -> CAST(c AS VARCHAR)), ',')
        |    AS codes_csv,
        |  round(sqrt(list_reduce(list_prepend(0.0,
        |    list_transform(list_zip(v, codes),
        |      p -> (p[1] - CAST(p[2] AS DOUBLE) * s) *
        |           (p[1] - CAST(p[2] AS DOUBLE) * s))),
        |    (a, x) -> a + x) / greatest(len(v), 1)), 6) AS err
        |FROM q ORDER BY id""".stripMargin,

    // pipeline composition: the full semDedup replay feeds the kept set,
    // then the v3 IVF algebra runs over survivors only
    "p2_embedding_pipeline" ->
      s"""WITH ${semdedupCteBlock(
             "SELECT GREATEST(1, CAST(round(sqrt(count(*))) AS BIGINT), " +
               "count(*) // 4096) FROM base")},
         |kept AS (SELECT c.id, c.v FROM cell1 c
         |  LEFT JOIN dropped d ON d.id = c.id WHERE d.id IS NULL),
         |kcents AS (SELECT id AS cid, v AS cv FROM kept
         |  WHERE id % (SELECT GREATEST(1,
         |    CAST(round(sqrt(count(*))) AS BIGINT),
         |    count(*) // 4096) FROM kept) = 0),
         |kassign AS (SELECT id, v, cid,
         |  round(${sqlDot("v", "cv")} /
         |    (sqrt(${sqlNormSq("v")}) * sqrt(${sqlNormSq("cv")})), 6) AS csim
         |  FROM kept CROSS JOIN kcents),
         |kcells AS (SELECT id, v, cid AS cell FROM (
         |  SELECT id, v, cid, row_number() OVER (PARTITION BY id
         |    ORDER BY csim DESC, cid) AS rn FROM kassign) WHERE rn = 1),
         |kq AS (SELECT id AS query_id, v AS qv, cell FROM kcells WHERE id < 10),
         |kscored AS (SELECT query_id, c.id AS neighbor_id,
         |  round(${sqlDot("qv", "c.v")} /
         |    (sqrt(${sqlNormSq("qv")}) * sqrt(${sqlNormSq("c.v")})), 6) AS sim
         |  FROM kq JOIN kcells c USING (cell) WHERE query_id <> c.id),
         |krk AS (SELECT query_id, neighbor_id, sim, row_number() OVER (
         |  PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rn
         |  FROM kscored)
         |SELECT query_id, neighbor_id, sim FROM krk WHERE rn <= 3
         |ORDER BY query_id, sim DESC, neighbor_id""".stripMargin)

  // ===== batch 13: retrieval, line dedup, mixture sampling =====

  private val batch13: Map[String, (SparkSession, String) => DataFrame] = Map(

    // BM25 full-text retrieval: one map-side-combinable stats pass (N,
    // avgdl, per-query-term df), then row-local codegen'd scoring and a
    // TakeOrderedAndProject top-k — no joins, no full sort
    "t17_bm25_topk" -> ((s, dir) =>
      graft.operators.TextAnalysis.bm25TopK(
        tbl(s, dir, "documents"), "doc_id", "text",
        Seq("spark", "window", "merge"), k = 20)),

    // RefinedWeb-style boilerplate line removal: planted header/footer
    // lines shared across ~1/3 / ~1/4 of docs must be stripped while each
    // doc's unique lines survive in order. Dup set broadcasts; the corpus
    // text never shuffles.
    "t18_line_dedup" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents").select(col("doc_id"),
        concat_ws("\n",
          when(col("doc_id") % 3 === 0, lit("subscribe to our newsletter"))
            .otherwise(concat(lit("header "), col("doc_id"))),
          col("text"),
          when(col("doc_id") % 4 === 0, lit("all rights reserved"))
            .otherwise(concat(lit("footer "), col("doc_id")))).as("text"))
      graft.operators.TextAnalysis.lineDedup(docs, "doc_id", "text",
          minDocs = 10)
        .orderBy("doc_id")
    }),

    // temperature-weighted source mixture: a skewed 60/30/10 source split,
    // alpha=0.7 flattens toward the small source (code keeps ~75%, web
    // ~44%); keep rule is the deterministic portable-hash per-mille filter
    "t19_mixture_sample" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 10 < 6, "web")
          .when(col("doc_id") % 10 < 9, "books")
          .otherwise("code").as("src"))
      graft.operators.TextAnalysis.mixtureSample(docs, "src", "doc_id",
          alpha = 0.7, targetRows = 250)
        .orderBy("doc_id")
    }),

    // per-source corpus profile: one map-side-combinable agg pass with
    // exact interpolated percentiles (DuckDB quantile_cont twin)
    "t21_corpus_stats" -> ((s, dir) =>
      graft.operators.TextAnalysis.corpusStats(
          tbl(s, dir, "documents"), "source", "text")
        .orderBy("source")),

    // sequence packing: shard-local concat-and-split at 512-token
    // context boundaries; offsets/bins are deterministic (portable-hash
    // shard + id order), spillover rows span bins
    "t26_pack_sequences" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents").select(col("doc_id"),
        graft.operators.TextAnalysis.tokenCount(col("text")).as("tk"))
      graft.operators.TextAnalysis.packSequences(docs, "doc_id", "tk",
          capacity = 512, shards = 8)
        .orderBy("doc_id")
    }),

    // skew-safe domain quota: top-10 docs per source by (n_chars desc,
    // doc_id) through the salted two-phase window — result provably equal
    // to the single-window form the oracle replays
    "t25_quota_sample" -> ((s, dir) =>
      graft.operators.TextAnalysis.quotaSample(
          tbl(s, dir, "documents").select("doc_id", "source", "n_chars"),
          "source", "n_chars", "doc_id", cap = 10)
        .orderBy("doc_id")),

    // ANN operating-point evaluation: recall@3 of the IVF candidates
    // against the exact brute-force top-3, per query
    "v12_ann_recall" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val exact = graft.operators.Similarity.topKNeighbors(
        emb.filter(col("vec_id") < 10), emb, "vec_id", "embedding", k = 3)
      val approx = annTopK(emb, annTrain(emb, AnnIndex(Coarse(Every(50)))))
      graft.operators.Similarity.annRecall(exact, approx)
        .orderBy("query_id")
    }),

    // fastText-style hashing-trick scorer: tokens → portable-hash buckets
    // → broadcast weight dot → sigmoid; row-local codegen, the oracle
    // replays the whole serving path including the default weight vector
    "t23_linear_score" -> ((s, dir) =>
      graft.operators.TextAnalysis.linearScore(
          tbl(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),

    // ingestion-time dedup: batch joins a compact digest ledger (history
    // text never rescanned), then dedups against itself keeping min id
    "t24_incremental_dedup" -> ((s, dir) => {
      val d = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
      val history = d.filter(col("doc_id") < 300)
        .select(md5(col("text")).as("digest"))
      val batch = d.unionByName(
        d.filter(col("doc_id").between(400, 449))
          .select((col("doc_id") + 10000).as("doc_id"), col("text")))
      graft.operators.Dedup.incrementalDedup(batch, history,
          "doc_id", "text")
        .select("doc_id").orderBy("doc_id")
    }),

    // One-call MinHash cascade preset: sketch → capped LSH → Levenshtein
    // verify; planted perturbed copies (18 appended chars) must survive
    // the 0.8 bar, chance LSH collisions must not
    "t22_neardup_cascade" -> ((s, dir) => {
      val d = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
      val pert = d.select((col("doc_id") + 10000).as("doc_id"),
        concat(col("text"), lit(" graft extra token")).as("text"))
      // oracle-exact variant: the DuckDB twin replays UNCAPPED banding, so
      // the hot-bucket guard is lifted here (it stays default-ON in the
      // preset itself — the 100 TB entry point keeps its skew contract)
      graft.operators.Dedup.nearDupCascade(d.unionByName(pert),
          "doc_id", "text", maxBucketSize = Int.MaxValue)
        .orderBy("id1", "id2")
    }),

    // Edit-distance verification of candidate pairs — the final cascade
    // stage after LSH: planted near-copies (11 appended chars) must pass
    // the 0.8 normalized-Levenshtein bar, adjacent-id decoy pairs must
    // fail it; pair-derived sides broadcast, the corpus never shuffles
    "t20_verify_pairs" -> ((s, dir) => {
      val d = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
      val nearCopies = d.filter(col("doc_id") < 100)
        .select((col("doc_id") + 10000).as("doc_id"),
          concat(col("text"), lit(" tail token")).as("text"))
      val corpus = d.unionByName(nearCopies)
      val ids = d.filter(col("doc_id") < 100).select(col("doc_id").as("id1"))
      val pairs = ids.select(col("id1"), (col("id1") + 10000).as("id2"))
        .unionByName(ids.filter(col("id1") < 99)
          .select(col("id1"), (col("id1") + 1).as("id2")))
      graft.operators.Dedup.verifyPairs(pairs, corpus, "doc_id", "text",
          threshold = 0.8)
        .orderBy("id1", "id2")
    }),

    // End-to-end curation pipeline (the text twin of p2's vector chain):
    // boilerplate line removal → exact dedup (keep min-id copy) →
    // token-count quality gate → 20/15 token-window chunking →
    // per-chunk fingerprints. Shuffle inventory: one line-count agg,
    // one digest agg + one semi join, the rest row-local.
    "p4_curation_pipeline" -> ((s, dir) => {
      import graft.operators.TextAnalysis
      val base = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
      val docs = base.select(col("doc_id"),
        concat_ws("\n",
          when(col("doc_id") % 3 === 0, lit("subscribe to our newsletter"))
            .otherwise(concat(lit("header "), col("doc_id"))),
          col("text")).as("text"))
      val corpus = docs.unionByName(docs.filter(col("doc_id") < 50)
        .select((col("doc_id") + 20000).as("doc_id"), col("text")))
      val cleaned = TextAnalysis.lineDedup(corpus, "doc_id", "text",
        minDocs = 10).select("doc_id", "text")
      val keep = cleaned.groupBy(md5(col("text")))
        .agg(min("doc_id").as("doc_id")).select("doc_id")
      val deduped = cleaned.join(keep, Seq("doc_id"), "left_semi")
      val quality = deduped.filter(
        TextAnalysis.tokenCount(col("text")) >= 20)
      TextAnalysis.chunkTokens(quality, "doc_id", "text", 20, 15)
        .select(col("doc_id"), col("chunk_idx"), col("chunk_tokens"),
          graft.functions.PortableHash.charFold(col("chunk")).as("fp"))
        .orderBy("doc_id", "chunk_idx")
    }),

    // Hybrid retrieval: BM25 candidates + cosine-ANN candidates for one
    // query, fused by reciprocal-rank fusion — the standard two-tower
    // serving shape; each ranker prunes at corpus scale, fusion runs on
    // k-sized candidate lists only
    "p3_hybrid_retrieval" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val emb = tbl(s, dir, "embeddings")
      val lex = graft.operators.TextAnalysis.bm25TopK(docs, "doc_id",
        "text", Seq("spark", "window", "merge"), k = 50)
      val vec = graft.operators.Similarity.topKNeighbors(
          emb.filter(col("vec_id") === 0), emb, "vec_id", "embedding",
          k = 50)
        .select(col("neighbor_id").as("doc_id"), col("sim").as("score"))
      graft.operators.Similarity.rrfFuse(Seq(lex, vec), "doc_id", "score",
        k = 10)
    }),

    // Exact cross-document SUBSTRING dedup (the Lee et al. span shape —
    // the tier between doc-level exact dedup and near-dup pairs):
    // fingerprint every sliding 8-token window, one shuffle counts
    // distinct docs per fingerprint, windows duplicated in >= 3 docs
    // merge into maximal per-doc removal spans. A 12-token boilerplate
    // prefix planted on every 5th doc must surface as its [0,12) span;
    // natural cross-doc repeats in the corpus surface too.
    "t27_substring_dedup" -> ((s, dir) => {
      val d = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
      val corpus = plantedBoilerplate(d)
      graft.operators.Dedup.substringDedupSpans(corpus, "doc_id", "text",
          k = 8, minDocs = 3)
        .orderBy("doc_id", "start_tok")
    }),

    // ... and the spans APPLIED back to the corpus (the stage the Lee et
    // al. loop actually ends with): drop the tokens inside each removal
    // span, re-materialize cleaned text. One output-bounded left join +
    // a row-local indexed-HOF token filter; the fingerprint (not the
    // full text) travels to the result so the artifact stays small while
    // the compare is still byte-exact on the cleaned stream.
    "t27b_substring_clean" -> ((s, dir) => {
      val d = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
      val corpus = plantedBoilerplate(d)
      val spans = graft.operators.Dedup.substringDedupSpans(corpus,
        "doc_id", "text", k = 8, minDocs = 3)
      graft.operators.Dedup.applySubstringSpans(corpus, spans)
        .select(col("doc_id"),
          graft.functions.PortableHash.charFold(col("text_clean")).as("fp"),
          col("n_removed"))
        // always true, but anchors the row count to the cleaning output:
        // under a bare count() Catalyst proves the span side unique and
        // ELIMINATES the join (+ prunes the fp HOFs), so a bench row
        // would time a bare scan instead of the operator
        .filter(col("n_removed") >= 0)
        .orderBy("doc_id")
    }),

    // Curation pipeline variant closing the Lee et al. loop end-to-end:
    // substring spans found, APPLIED (cleaned text re-materialized),
    // quality-filtered, then chunked for training — the p4 ending over
    // substring-deduped instead of line-deduped text. Same scale shape
    // as its stages: one count shuffle + one output-bounded join +
    // row-local chunking.
    "p4b_curation_substring" -> ((s, dir) => {
      import graft.operators.{Dedup, TextAnalysis}
      val d = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
      val corpus = plantedBoilerplate(d)
      val spans = Dedup.substringDedupSpans(corpus, "doc_id", "text",
        k = 8, minDocs = 3)
      val cleaned = Dedup.applySubstringSpans(corpus, spans)
        .select(col("doc_id"), col("text_clean").as("text"))
      val quality = cleaned.filter(
        TextAnalysis.tokenCount(col("text")) >= 20)
      TextAnalysis.chunkTokens(quality, "doc_id", "text", 20, 15)
        .select(col("doc_id"), col("chunk_idx"), col("chunk_tokens"),
          graft.functions.PortableHash.charFold(col("chunk")).as("fp"))
        .orderBy("doc_id", "chunk_idx")
    }),

    // BPE tokenizer at serving shape: a TRAINED merge-table snapshot
    // (bpeSnapshotMerges — regenerate with Test/runMain
    // graft.BpeSnapshotMain) applied row-local to every doc; true piece
    // counts + a fingerprint of the full encoded stream. Training itself
    // is pinned in TrainingOpsSpec (hand-computed Sennrich-example
    // merges + the maxWords bounded-state pin); this entry proves the
    // ENCODER cross-engine: DuckDB replays the identical merge chain.
    "t28_bpe" -> ((s, dir) =>
      tbl(s, dir, "documents").filter(col("doc_id") < 400)
        .select(col("doc_id"),
          TextAnalysis.bpePieceCount(col("text"), bpeSnapshotMerges)
            .cast("long").as("n_pieces"),
          graft.functions.PortableHash.charFold(concat_ws(" ",
            TextAnalysis.bpeEncode(col("text"), bpeSnapshotMerges)))
            .as("fp"))
        // always true; blocks column pruning under a bare count() so the
        // bench row times the encoder, not a 400-row scan (see t27b)
        .filter(col("n_pieces") >= 0)
        .orderBy("doc_id")),

    // BPE at PRODUCTION size: a genuine 1,000-merge model, served by the
    // lowest-rank-first native encoder over ONE broadcast
    // (bpeEncodeFast) — per-token cost independent of the table size, no
    // plan-literal blowup. The synthetic corpus has a 31-word
    // vocabulary (BPE saturates at ~107 merges on it), so model AND
    // serving text use the pair-enriched fixture: sliding adjacent-word
    // concatenations (~31² distinct word forms — trained on sf0.1 by
    // BpeSnapshotMain, same derivation here and in the oracle). The
    // DuckDB twin replays the full 1,000-step training-order replace
    // chain per DISTINCT word via a recursive CTE, so a green row
    // proves the lowest-rank-first loop ≡ the training-order chain
    // cross-engine at realistic model size.
    "t28b_bpe_fast" -> ((s, dir) => {
      val model = TextAnalysis.bpeModel(s, bpeMerges1k)
      tbl(s, dir, "documents").filter(col("doc_id") < 400)
        .select(col("doc_id"),
          TextAnalysis.pairEnrich(col("text")).as("text"))
        .select(col("doc_id"),
          TextAnalysis.bpePieceCountFast(col("text"), model)
            .cast("long").as("n_pieces"),
          graft.functions.PortableHash.charFold(concat_ws(" ",
            TextAnalysis.bpeEncodeFast(col("text"), model)))
            .as("fp"))
        // always true; blocks column pruning under a bare count() (t28)
        .filter(col("n_pieces") >= 0)
        .orderBy("doc_id")
    }),

    // DSIR importance weights toward the English slice (Xie et al.):
    // hashed-token bucket profiles (B = 64, portable hash), add-1
    // smoothed log-ratio, scored as a row-local literal fold — one
    // corpus pass for both profiles, zero joins in the scoring pass
    "t29_dsir_weights" -> ((s, dir) =>
      TextAnalysis.dsirWeights(tbl(s, dir, "documents"), "doc_id", "text",
          target = col("lang") === "en", buckets = 64, roundTo = 4)
        .orderBy("doc_id")),

    // DSIR at the Xie et al. feature set: hashed unigrams AND bigrams in
    // one shared 64-bucket space (t29 is the order-blind unigram tier).
    // Same one-pass profile + zero-join scoring fold; DuckDB replays the
    // bigram hash combine (list_zip + the window-fingerprint fold) and
    // the whole estimator end-to-end.
    "t29b_dsir_ngram" -> ((s, dir) =>
      TextAnalysis.dsirWeightsNgram(tblPar(s, dir, "documents", "doc_id"), "doc_id",
          "text", target = col("lang") === "en", buckets = 64, roundTo = 4)
        .orderBy("doc_id")),

    // IVF with a TRAINED coarse codebook (closes the r10 operating-point
    // artifact's caveat: the stride codebook was the measured recall
    // CEILING of the fixed-C family). Same constant C = 10 and nprobe=2
    // as v5, one deterministic Lloyd round over the stride init — the
    // serving plan (assignment + cell join) is identical to v3/v5, only
    // the codebook VALUES differ. knownN from parquet footers.
    "v13_ivf_trained" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      annTopK(emb, annTrain(emb, AnnIndex(
          Coarse(Cells(10, Some(embeddingsN(s, dir))), iters = 1))), nprobe = 2)
        .orderBy(col("query_id"), desc("sim"), col("neighbor_id"))
    }))

  // ===== round 12: byte-level BPE, trained IVFADC, DSIR resampling =====
  private val batch14: Map[String, (SparkSession, String) => DataFrame] = Map(

    // BPE at BYTE level (GPT-2 style): the multilingual-fidelity closure
    // of t28b, whose [a-z]+ tokenizer drops every non-ASCII token. The
    // pre-tokenizer keeps EVERYTHING (letter/digit runs | punctuation
    // runs, any script); each token's UTF-8 bytes become hex-pair base
    // symbols, so no character can be out-of-alphabet. Serving is the
    // same ONE-broadcast lowest-rank-first native loop (t28b), over a
    // genuine 1,000-merge model trained on the mixed-script fixture
    // (accented Latin + CJK + injected punctuation — derived by chained
    // literal replaces both engines compute identically). The DuckDB
    // twin rebuilds the fixture, re-derives the byte symbols via
    // lower(hex(encode(tok))), and replays the full 1,000-step
    // training-order chain per DISTINCT word — a green row proves the
    // byte-level encoder cross-engine on genuinely multilingual text.
    "t28c_bpe_bytes" -> ((s, dir) => {
      val model = TextAnalysis.bpeModelBytes(s, bpeMergesBytes1k)
      tbl(s, dir, "documents").filter(col("doc_id") < 400)
        .select(col("doc_id"),
          TextAnalysis.pairEnrichBytes(TextAnalysis.mixedScriptFixture(
            col("text"), col("lang"))).as("text"))
        .select(col("doc_id"),
          TextAnalysis.bpePieceCountBytesFast(col("text"), model)
            .cast("long").as("n_pieces"),
          graft.functions.PortableHash.charFold(concat_ws(" ",
            TextAnalysis.bpeEncodeBytesFast(col("text"), model)))
            .as("fp"))
        // always true; blocks column pruning under a bare count() (t28)
        .filter(col("n_pieces") >= 0)
        .orderBy("doc_id")
    }),

    // the byte-level encoder straight to TOKEN IDS — what a training
    // pipeline persists (ints, 4 bytes/token): ids 0-255 = bytes, 256 =
    // EOW, 257+r = merge r (closed vocabulary, no UNK path exists).
    // Same corpus derivation and native loop as t28c; DuckDB maps the
    // replayed chain's pieces through the identically-rendered
    // first-wins vocab table, proving the id assignment cross-engine.
    "t28d_bpe_ids" -> ((s, dir) => {
      val model = TextAnalysis.bpeModelBytes(s, bpeMergesBytes1k)
      tbl(s, dir, "documents").filter(col("doc_id") < 400)
        .select(col("doc_id"),
          TextAnalysis.pairEnrichBytes(TextAnalysis.mixedScriptFixture(
            col("text"), col("lang"))).as("text"))
        .select(col("doc_id"),
          TextAnalysis.bpeEncodeIdsBytes(col("text"), model).as("ids"))
        .select(col("doc_id"),
          size(col("ids")).cast("long").as("n_pieces"),
          graft.functions.PortableHash.charFold(concat_ws(" ",
            transform(col("ids"), _.cast("string")))).as("fp"))
        // always true; blocks column pruning under a bare count() (t28)
        .filter(col("n_pieces") >= 0)
        .orderBy("doc_id")
    }),

    // DSIR importance RESAMPLING (closes the Xie et al. loop the way
    // t27b closed Lee et al.: t29/t29b estimate weights, this CONSUMES
    // them): Gumbel-top-k with deterministic portable-hash noise —
    // key = log-weight + (−ln(−ln u)), u from charFold(doc_id) — selects
    // k=100 docs proportionally-without-replacement toward the English
    // target. Row-local key, TakeOrderedAndProject selection (no global
    // sort — plan-pinned); DuckDB replays weights → noise → selection
    // end-to-end.
    "t30_dsir_resample" -> ((s, dir) => {
      val w = TextAnalysis.dsirWeightsNgram(tblPar(s, dir, "documents", "doc_id"),
        "doc_id", "text", target = col("lang") === "en", buckets = 64,
        roundTo = 4)
      TextAnalysis.dsirResample(w, "doc_id", "weight", k = 100,
          roundTo = 4)
        .orderBy(desc("skey"), col("doc_id"))
    }),

    // the resampling loop as a pipeline: weights → Gumbel-top-k(150) →
    // per-language mix of the SELECTED slice. The corpus is 43.6% en;
    // the selected slice's en share rising far above that is the
    // operator doing its job (pinned quantitatively in TrainingOpsSpec;
    // here the full mix is the oracle-checked output). ONE broadcast
    // join (the k-row selection against the corpus), one group-by.
    "p5_dsir_curation" -> ((s, dir) => {
      val docs = tblPar(s, dir, "documents", "doc_id")
      val w = TextAnalysis.dsirWeightsNgram(docs, "doc_id", "text",
        target = col("lang") === "en", buckets = 64, roundTo = 4)
      val sel = TextAnalysis.dsirResample(w, "doc_id", "weight", k = 150,
        roundTo = 4)
      broadcast(sel)
        .join(docs.select(col("doc_id"), col("lang")), "doc_id")
        .groupBy("lang")
        // decimal sum, not double avg: float addition is not
        // associative, so a cross-partition double aggregate could
        // last-ulp-flip the rounding between runs/engines; the weights
        // are already rounded to 4 decimals, so a decimal sum is EXACT
        .agg(count(lit(1)).as("n_docs"),
          sum(col("weight").cast("decimal(18,4)")).as("sum_weight"))
        .orderBy("lang")
    }),

    // the end-to-end multilingual TOKENIZE-AND-PACK pipeline — what a
    // pretraining data build actually runs: mixed-script corpus →
    // whitespace quality gate → TRUE token counts from the byte-level
    // id encoder (one broadcast, row-local) → shard-local sequence
    // packing into 512-token contexts (one shuffle on shard). Every
    // stage is an already-oracled operator; this entry proves the
    // COMPOSITION end-to-end cross-engine.
    // THE END-TO-END PRETRAINING CURATION PIPELINE (p7): exact dedup
    // (hash-groupBy keep-first) → quality gate → DSIR n-gram importance
    // RESAMPLING toward the en target (Xie et al.) → survivors packed
    // into 512-token training contexts (shard-local running sums, one
    // shuffle). p1/p4/p5/p6 prove the stages; this entry proves the
    // LONGEST composition — dedup feeding selection feeding packing —
    // cross-engine, the chain a real data build runs nightly. Scale
    // shape: one digest shuffle + one ≤B-row profile pass + a
    // TakeOrderedAndProject selection + one broadcast semi-join + the
    // shard repartition; text never shuffles.
    "p7_pretrain_pipeline" -> ((s, dir) => {
      val docs = tblPar(s, dir, "documents", "doc_id")
      val keep = docs.groupBy(md5(col("text")).as("digest"))
        .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
      val gated = docs.join(keep, Seq("doc_id"), "left_semi")
        .filter(TextAnalysis.tokenCount(col("text")) >= 20)
        // two consumers (DSIR profile pass, pack join): lazy
        // localCheckpoint, not .persist() — see t5
        .localCheckpoint(false)
      val w = TextAnalysis.dsirWeightsNgram(gated, "doc_id", "text",
        target = col("lang") === "en", buckets = 64, roundTo = 4)
      val sel = TextAnalysis.dsirResample(w, "doc_id", "weight", k = 200,
        roundTo = 4)
      val chosen = gated
        .join(broadcast(sel.select("doc_id")), Seq("doc_id"), "left_semi")
        .select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
      TextAnalysis.packSequences(chosen, "doc_id", "n_tokens",
          capacity = 512, shards = 8)
        .orderBy("doc_id")
    }),

    "p6_multilingual_pack" -> ((s, dir) => {
      val model = TextAnalysis.bpeModelBytes(s, bpeMergesBytes1k)
      val docs = tbl(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.mixedScriptFixture(
          col("text"), col("lang")).as("text"))
        .filter(TextAnalysis.tokenCount(col("text")) >= 20)
        .select(col("doc_id"),
          size(TextAnalysis.bpeEncodeIdsBytes(col("text"), model))
            .cast("long").as("n_tokens"))
      TextAnalysis.packSequences(docs, "doc_id", "n_tokens",
          capacity = 512, shards = 8)
        .orderBy("doc_id")
    }),

    // IVFADC with BOTH codebooks TRAINED (closes the v13/v14 loop: r11
    // proved trained coarse and trained PQ each lift recall at equal
    // serve cost; this composes them into the fully-faiss-shaped
    // index). One Lloyd round each at the v9 operating point (C=10 both
    // codebooks, m=4, nprobe=2); the serving plan is byte-identical to
    // v9's (plan-pinned), only codebook values differ. DuckDB replays
    // coarse k-means (v13 block), per-subspace PQ training (v14 block),
    // the trained-cell probe, and the ADC ranking end-to-end.
    "v15_ivfpq_trained" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      annTopK(emb, annTrain(emb, ivfPqTrainedSpec(embeddingsN(s, dir))),
          nprobe = 2)
        .orderBy(col("query_id"), col("adist"), col("neighbor_id"))
    }),

    // PERSISTED IVFADC index (the faiss write_index/read_index
    // workflow): train BOTH codebooks exactly as v15, save them as
    // parquet, reload, and serve through the same search pipeline.
    // Parquet round-trips doubles bit-exactly,
    // so load→serve ≡ train→serve — proven cross-engine by sharing
    // v15's training-replay oracle. At 100 TB this is THE serving
    // shape: codebooks train once on a sample and persist; every query
    // batch serves from the artifact.
    "v17_index_persist" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val ix = annTrain(emb, ivfPqTrainedSpec(embeddingsN(s, dir)))
      annTopK(emb, viaParquet(s, ix, "graft_idx"), nprobe = 2)
        .orderBy(col("query_id"), col("adist"), col("neighbor_id"))
    }),

    // IVFADC shortlist → EXACT re-rank (the faiss IndexRefineFlat
    // pattern): the compressed index retrieves 10 candidates/query, one
    // broadcast join re-scores ONLY those against the raw vectors with
    // exact squared L2, the final top-3 ranks by the exact distance —
    // recall-critical serving at per-query cost `rerank`, not corpus.
    "v18_ivfpq_refined" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val every = math.max(1L, emb.count() / 10).toInt
      annTopK(emb, annTrain(emb,
          AnnIndex(Coarse(Every(every)), Pq(4, every), rerank = 10)),
          nprobe = 2)
        .orderBy(col("query_id"), col("dist"), col("neighbor_id"))
    }),

    // RESIDUAL IVFADC (Jégou et al. 2011, the faiss IndexIVFPQ default):
    // the fine quantizer encodes x − centroid(cell) instead of the raw
    // vector — one extra row-local O(d) subtraction corpus-side, and
    // per-(query, probed cell) ADC LUTs broadcast by a driver-assigned
    // key. Same materialized-code-index + broadcast-LUT-join serving
    // shape as v9; the PQ stride init offsets by 1 because the coarse
    // centroid rows' residuals are identically zero.
    "v16_ivfpq_residual" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val every = math.max(1L, emb.count() / 10).toInt
      annTopK(emb, annTrain(emb,
          AnnIndex(Coarse(Every(every)), ResidualPq(4, every))), nprobe = 2)
        .orderBy(col("query_id"), col("adist"), col("neighbor_id"))
    }))

  /** 12-merge BPE model snapshot trained by
    * `Test/runMain graft.BpeSnapshotMain /root/testdata/sf0.01 12`
    * (TextAnalysis.trainBpe over the sf0.01 English documents) — the
    * train-once/ship-table serving shape; the t28 oracle builds the
    * identical DuckDB replace chain from this same value. */
  private val bpeSnapshotMerges: Seq[(String, String)] = Seq(
    ("e", "r"), ("e", "</w>"), ("o", "r"), ("i", "n"), ("er", "</w>"),
    ("o", "w"), ("ow", "</w>"), ("t", "</w>"), ("h", "</w>"), ("t", "a"),
    ("a", "s"), ("g", "</w>"))

  /** 1000-merge BPE model trained on the sf0.1 English documents and
    * shipped as a resource (regenerate with `Test/runMain
    * graft.BpeSnapshotMain /root/testdata/sf0.1 1000
    * src/main/resources/graft/bpe_merges_1k.tsv`) — the realistic-size
    * serving model for t28b's lowest-rank-first native encoder; line
    * order IS rank order. */
  private lazy val bpeMerges1k: Seq[(String, String)] = {
    val in = getClass.getResourceAsStream("/graft/bpe_merges_1k.tsv")
    require(in != null, "missing resource graft/bpe_merges_1k.tsv — " +
      "regenerate with Test/runMain graft.BpeSnapshotMain")
    val ms =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .filter(_.nonEmpty).map { l =>
          val i = l.indexOf('\t')
          (l.substring(0, i), l.substring(i + 1))
        }.toVector
      finally in.close()
    // symbols from the [a-z]+/</w> trainer only — a regenerated model
    // violating this would otherwise reach the oracle SQL unnoticed
    val ok = "^[a-z]*(</w>)?$".r
    ms.foreach { case (a, b) =>
      require(ok.matches(a) && ok.matches(b),
        s"bpe_merges_1k.tsv: unexpected merge symbol ($a, $b)")
    }
    ms
  }

  /** 1000-merge BYTE-LEVEL BPE model trained on the sf0.1 mixed-script
    * fixture, all languages (regenerate with `Test/runMain
    * graft.BpeSnapshotMain /root/testdata/sf0.1 1000
    * src/main/resources/graft/bpe_merges_bytes_1k.tsv bytes`) — the
    * t28c serving model; symbols are concatenated lowercase hex byte
    * pairs (plus the </w> marker), line order IS rank order. */
  private lazy val bpeMergesBytes1k: Seq[(String, String)] = {
    val in = getClass.getResourceAsStream("/graft/bpe_merges_bytes_1k.tsv")
    require(in != null, "missing resource graft/bpe_merges_bytes_1k.tsv — " +
      "regenerate with Test/runMain graft.BpeSnapshotMain ... bytes")
    val ms =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .filter(_.nonEmpty).map { l =>
          val i = l.indexOf('\t')
          (l.substring(0, i), l.substring(i + 1))
        }.toVector
      finally in.close()
    // hex-pair symbols from the byte-level trainer only — guards the
    // oracle SQL against a drifted regeneration (t28b convention)
    val ok = "^([0-9a-f]{2})*(</w>)?$".r
    ms.foreach { case (a, b) =>
      require(ok.matches(a) && ok.matches(b),
        s"bpe_merges_bytes_1k.tsv: unexpected merge symbol ($a, $b)")
    }
    ms
  }

  /** 32,000-merge PRODUCTION-SIZE byte-level BPE model, trained on the
    * sf0.1 DOUBLY pair-enriched mixed-script fixture with a 40k-word
    * histogram (regenerate with `Test/runMain graft.BpeSnapshotMain
    * /root/testdata/sf0.1 32000
    * src/main/resources/graft/bpe_merges_bytes_32k.tsv bytes2 40000` —
    * the single enrichment's vocabulary exhausts merging at ~11k). Same
    * hex-pair symbol convention as the 1k model. */
  private[graft] lazy val bpeMergesBytes32k: Seq[(String, String)] = {
    val in = getClass.getResourceAsStream("/graft/bpe_merges_bytes_32k.tsv")
    require(in != null, "missing resource graft/bpe_merges_bytes_32k.tsv — " +
      "regenerate with Test/runMain graft.BpeSnapshotMain ... bytes2 40000")
    val ms =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .filter(_.nonEmpty).map { l =>
          val i = l.indexOf('\t')
          (l.substring(0, i), l.substring(i + 1))
        }.toVector
      finally in.close()
    require(ms.size == 32000,
      s"bpe_merges_bytes_32k.tsv: expected 32000 merges, got ${ms.size}")
    val ok = "^([0-9a-f]{2})*(</w>)?$".r
    ms.foreach { case (a, b) =>
      require(ok.matches(a) && ok.matches(b),
        s"bpe_merges_bytes_32k.tsv: unexpected merge symbol ($a, $b)")
    }
    ms
  }

  /** Escape a string for interpolation into a single-quoted SQL
    * literal (oracle-side rendering of model tables). */
  private def sqlLit(s: String): String = "'" + s.replace("'", "''") + "'"

  private val oracles13: Map[String, String] = Map(

    "t17_bm25_topk" ->
      """WITH toks AS (SELECT doc_id,
        |    list_filter(string_split_regex(trim(text), '\s+'),
        |      t -> len(t) > 0) AS t
        |  FROM documents),
        |st AS (SELECT count(*) * 1.0 AS n, sum(len(t)) * 1.0 AS tt,
        |    sum(CASE WHEN list_contains(t, 'spark') THEN 1 ELSE 0 END) * 1.0 AS df0,
        |    sum(CASE WHEN list_contains(t, 'window') THEN 1 ELSE 0 END) * 1.0 AS df1,
        |    sum(CASE WHEN list_contains(t, 'merge') THEN 1 ELSE 0 END) * 1.0 AS df2
        |  FROM toks),
        |tf AS (SELECT doc_id, len(t) * 1.0 AS dl,
        |    len(list_filter(t, x -> x = 'spark')) * 1.0 AS tf0,
        |    len(list_filter(t, x -> x = 'window')) * 1.0 AS tf1,
        |    len(list_filter(t, x -> x = 'merge')) * 1.0 AS tf2
        |  FROM toks),
        |sc AS (SELECT doc_id, round(
        |    ln(1.0 + (st.n - st.df0 + 0.5) / (st.df0 + 0.5)) * tf0 * (1.2 + 1.0)
        |      / (tf0 + 1.2 * (1.0 - 0.75 + 0.75 * dl / (st.tt / st.n)))
        |  + ln(1.0 + (st.n - st.df1 + 0.5) / (st.df1 + 0.5)) * tf1 * (1.2 + 1.0)
        |      / (tf1 + 1.2 * (1.0 - 0.75 + 0.75 * dl / (st.tt / st.n)))
        |  + ln(1.0 + (st.n - st.df2 + 0.5) / (st.df2 + 0.5)) * tf2 * (1.2 + 1.0)
        |      / (tf2 + 1.2 * (1.0 - 0.75 + 0.75 * dl / (st.tt / st.n))), 6)
        |  AS score FROM tf, st)
        |SELECT doc_id, score FROM sc WHERE score > 0
        |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,

    "t18_line_dedup" ->
      """WITH docs AS (SELECT doc_id, concat_ws(chr(10),
        |    CASE WHEN doc_id % 3 = 0 THEN 'subscribe to our newsletter'
        |         ELSE 'header ' || doc_id END,
        |    text,
        |    CASE WHEN doc_id % 4 = 0 THEN 'all rights reserved'
        |         ELSE 'footer ' || doc_id END) AS text
        |  FROM documents),
        |ln AS (SELECT doc_id, list_filter(string_split(text, chr(10)),
        |    l -> len(trim(l)) > 0) AS l FROM docs),
        |dup AS (SELECT line FROM (SELECT doc_id, unnest(list_distinct(l))
        |    AS line FROM ln) GROUP BY line HAVING count(*) >= 10),
        |dl AS (SELECT coalesce(list(line), []) AS dups FROM dup)
        |SELECT doc_id,
        |  array_to_string(list_filter(l,
        |    x -> NOT list_contains(dups, x)), chr(10)) AS text,
        |  CAST(len(l) - len(list_filter(l,
        |    x -> NOT list_contains(dups, x))) AS BIGINT) AS n_removed
        |FROM ln CROSS JOIN dl ORDER BY doc_id""".stripMargin,

    "t19_mixture_sample" ->
      s"""WITH d AS (SELECT doc_id,
         |    CASE WHEN doc_id % 10 < 6 THEN 'web'
         |         WHEN doc_id % 10 < 9 THEN 'books' ELSE 'code' END AS src
         |  FROM documents),
         |c AS (SELECT src, count(*) AS c FROM d GROUP BY src),
         |w AS (SELECT src, c, pow(c * 1.0, 0.7) AS w FROM c),
         |z AS (SELECT sum(w) AS z FROM w),
         |f AS (SELECT src, CAST(floor(round(
         |    least(1.0, 250 * (w / (SELECT z FROM z)) / c) * 1000, 6))
         |    AS BIGINT) AS p FROM w),
         |b AS (SELECT doc_id, src,
         |    ${sqlCharFold("CAST(doc_id AS VARCHAR)")} % 1000 AS b FROM d)
         |SELECT b.doc_id, b.src FROM b JOIN f USING (src)
         |WHERE b.b < f.p ORDER BY doc_id""".stripMargin,

    "t21_corpus_stats" ->
      """WITH t AS (SELECT source,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS tk,
        |    CAST(len(text) AS BIGINT) AS ln FROM documents)
        |SELECT source, count(*) AS n_docs, CAST(sum(tk) AS BIGINT) AS tokens,
        |  round(avg(ln), 6) AS mean_chars,
        |  round(quantile_cont(ln, 0.5), 6) AS p50_chars,
        |  round(quantile_cont(ln, 0.9), 6) AS p90_chars
        |FROM t GROUP BY source ORDER BY source""".stripMargin,

    "t26_pack_sequences" ->
      s"""WITH t AS (SELECT doc_id,
         |    CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
         |      AS tk,
         |    ${sqlCharFold("CAST(doc_id AS VARCHAR)")} % 8 AS shard
         |  FROM documents),
         |c AS (SELECT doc_id, tk, shard,
         |    sum(tk) OVER (PARTITION BY shard ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM t)
         |SELECT doc_id, shard, CAST(cum - tk AS BIGINT) AS offset,
         |  CAST(floor((cum - tk) / 512) AS BIGINT) AS bin_first,
         |  CASE WHEN tk > 0 THEN CAST(floor((cum - 1) / 512) AS BIGINT)
         |       ELSE CAST(floor((cum - tk) / 512) AS BIGINT) END AS bin_last,
         |  tk AS tokens
         |FROM c ORDER BY doc_id""".stripMargin,

    "t25_quota_sample" ->
      """SELECT doc_id, source, n_chars FROM (
        |  SELECT doc_id, source, n_chars, row_number() OVER (
        |    PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 10 ORDER BY doc_id""".stripMargin,

    // exact top-3 (v1 algebra at k=3) vs IVF top-3 (v3 algebra), joined
    // per query for recall@3
    "v12_ann_recall" ->
      s"""WITH vecs AS (SELECT vec_id AS id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |eq AS (SELECT id AS query_id, v AS qv FROM vecs WHERE id < 10),
         |esc AS (SELECT query_id, n.id AS neighbor_id,
         |  round(${sqlDot("qv", "n.v")} /
         |    (sqrt(${sqlNormSq("qv")}) * sqrt(${sqlNormSq("n.v")})), 6) AS sim
         |  FROM eq CROSS JOIN vecs n WHERE query_id <> n.id),
         |erk AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id, row_number() OVER (
         |    PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rn
         |  FROM esc) WHERE rn <= 3),
         |cents AS (SELECT id AS cid, v AS cv FROM vecs WHERE id % 50 = 0),
         |assign AS (SELECT id, v, cid,
         |  round(${sqlDot("v", "cv")} /
         |    (sqrt(${sqlNormSq("v")}) * sqrt(${sqlNormSq("cv")})), 6) AS csim
         |  FROM vecs CROSS JOIN cents),
         |cells AS (SELECT id, v, cid AS cell FROM (
         |  SELECT id, v, cid, row_number() OVER (PARTITION BY id
         |    ORDER BY csim DESC, cid) AS rn FROM assign) WHERE rn = 1),
         |aq AS (SELECT id AS query_id, v AS qv, cell FROM cells WHERE id < 10),
         |asc0 AS (SELECT query_id, c.id AS neighbor_id,
         |  round(${sqlDot("qv", "c.v")} /
         |    (sqrt(${sqlNormSq("qv")}) * sqrt(${sqlNormSq("c.v")})), 6) AS sim
         |  FROM aq JOIN cells c USING (cell) WHERE query_id <> c.id),
         |ark AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id, row_number() OVER (
         |    PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rn
         |  FROM asc0) WHERE rn <= 3)
         |SELECT e.query_id,
         |  round(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1.0
         |    ELSE 0.0 END) / count(*), 6) AS recall
         |FROM erk e LEFT JOIN ark a
         |  ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
         |GROUP BY e.query_id ORDER BY e.query_id""".stripMargin,

    // serving-path replay: same bucket hash, same Knuth-derived default
    // weights, same left-fold add order, same sigmoid
    "t23_linear_score" ->
      s"""WITH toks AS (SELECT doc_id,
         |    list_filter(string_split_regex(trim(text), '\\s+'),
         |      t -> len(t) > 0) AS t
         |  FROM documents),
         |sc AS (SELECT doc_id, len(t) AS n,
         |  list_reduce(list_prepend(0.0, list_transform(t,
         |    tk -> (((${sqlCharFold("tk")} % 64) * 2654435761) % 1000)
         |          / 1000.0 - 0.5)),
         |    (acc, x) -> acc + x) AS dot
         |  FROM toks)
         |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
         |  round(1.0 / (1.0 + exp(-(CASE WHEN n > 0 THEN dot / n
         |    ELSE 0.0 END))), 6) AS score
         |FROM sc ORDER BY doc_id""".stripMargin,

    "t24_incremental_dedup" ->
      """WITH d AS (SELECT doc_id, text FROM documents),
        |hist AS (SELECT md5(text) AS dg FROM d WHERE doc_id < 300),
        |batch AS (SELECT * FROM d UNION ALL
        |  SELECT doc_id + 10000, text FROM d WHERE doc_id BETWEEN 400 AND 449),
        |fresh AS (SELECT doc_id, md5(text) AS dg FROM batch
        |  WHERE md5(text) NOT IN (SELECT dg FROM hist)),
        |rk AS (SELECT doc_id, row_number() OVER (
        |  PARTITION BY dg ORDER BY doc_id) AS rn FROM fresh)
        |SELECT doc_id FROM rk WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    // t5's LSH replay feeding the levenshtein verify instead of the
    // hashed-shingle Jaccard
    "t22_neardup_cascade" ->
      s"""WITH base AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 10000, text || ' graft extra token' FROM documents),
         |toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM base),
         |sh AS (SELECT doc_id, list_distinct(list_transform(
         |    range(0, greatest(len(t) - 3, 0) + 1),
         |    i -> array_to_string(t[i+1:i+3], ' '))) AS shingles FROM toks),
         |hs AS (SELECT doc_id,
         |  list_transform(shingles, s -> ${sqlCharFold("s")}) AS hashes FROM sh),
         |sig AS (SELECT doc_id, list_transform(range(16), p ->
         |  list_min(list_transform(hashes,
         |    h -> (h * (2 * p + 1) + (12345 * p + 1)) % 2147483647))) AS sig FROM hs),
         |bands AS (SELECT doc_id, b AS band_id,
         |  list_reduce(list_prepend(CAST(0 AS BIGINT), sig[b*8+1:b*8+8]),
         |    (acc, x) -> (acc * 1000003 + x) % 2147483647) AS band_hash
         |  FROM sig, range(2) r(b)),
         |cands AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
         |  FROM bands a JOIN bands b
         |    ON a.band_id = b.band_id AND a.band_hash = b.band_hash
         |   AND a.doc_id < b.doc_id),
         |j AS (SELECT id1, id2, a.text AS ta, b.text AS tb FROM cands
         |  JOIN base a ON a.doc_id = id1 JOIN base b ON b.doc_id = id2),
         |sc AS (SELECT id1, id2, CAST(levenshtein(ta, tb) AS BIGINT) AS lev,
         |  round(1.0 - levenshtein(ta, tb) /
         |    CAST(greatest(len(ta), len(tb)) AS DOUBLE), 6) AS sim FROM j)
         |SELECT id1, id2, lev, sim FROM sc WHERE sim >= 0.8
         |ORDER BY id1, id2""".stripMargin,

    // full window-fingerprint replay: tokenize → per-token charFold →
    // per-window polynomial fold → distinct-doc counts → semi join →
    // lag/sum window span merge (identical gap rule: <= k merges)
    "t27_substring_dedup" ->
      s"""WITH $substringSpanCtes
         |SELECT doc_id, min(pos) AS start_tok, max(pos) + 8 AS end_tok,
         |  count(*) AS n_windows
         |FROM sp GROUP BY doc_id, span
         |ORDER BY doc_id, start_tok""".stripMargin,

    // the t27 span chain, then the CLEANING replay: zipped-unnest tokens
    // with 1-based ordinality, NOT EXISTS against the span ranges
    // (0-based [start,end)), ordered string_agg re-materializes the
    // cleaned stream; fingerprint + removed-token count compare
    "t27b_substring_clean" ->
      s"""WITH $substringSpanCtes,
         |kept AS (SELECT k.doc_id, k.tok, k.i FROM tok k
         |  WHERE NOT EXISTS (SELECT 1 FROM spans s
         |    WHERE s.doc_id = k.doc_id
         |      AND k.i - 1 >= s.start_tok AND k.i - 1 < s.end_tok)),
         |agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY i)
         |    AS text_clean, count(*) AS n_kept
         |  FROM kept GROUP BY doc_id)
         |SELECT tk.doc_id,
         |  ${sqlCharFold("coalesce(a.text_clean, '')")} AS fp,
         |  CAST(len(tk.t) - coalesce(a.n_kept, 0) AS BIGINT) AS n_removed
         |FROM tk LEFT JOIN agg a USING (doc_id)
         |ORDER BY tk.doc_id""".stripMargin,

    // t27b cleaning chain, then p4's quality-filter + chunk replay over
    // the cleaned text
    "p4b_curation_substring" ->
      s"""WITH $substringSpanCtes,
         |kept AS (SELECT k.doc_id, k.tok, k.i FROM tok k
         |  WHERE NOT EXISTS (SELECT 1 FROM spans s
         |    WHERE s.doc_id = k.doc_id
         |      AND k.i - 1 >= s.start_tok AND k.i - 1 < s.end_tok)),
         |agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY i)
         |    AS text_clean FROM kept GROUP BY doc_id),
         |cl AS (SELECT tk.doc_id, coalesce(a.text_clean, '') AS text
         |  FROM tk LEFT JOIN agg a USING (doc_id)),
         |q AS (SELECT doc_id,
         |    list_filter(string_split_regex(trim(text), '\\s+'),
         |      t -> len(t) > 0) AS toks
         |  FROM cl
         |  WHERE len(regexp_split_to_array(trim(text), '\\s+')) >= 20),
         |ch AS (SELECT doc_id, i, list_slice(toks, i * 15 + 1, i * 15 + 20)
         |    AS sl
         |  FROM (SELECT doc_id, toks,
         |      UNNEST(generate_series(0, CASE WHEN len(toks) = 0 THEN -1
         |        ELSE CAST(ceil(greatest(len(toks) - 20, 0) / 15.0) AS BIGINT)
         |        END)) AS i
         |    FROM q))
         |SELECT doc_id, CAST(i AS INT) AS chunk_idx,
         |  CAST(len(sl) AS INT) AS chunk_tokens,
         |  ${sqlCharFold("array_to_string(sl, ' ')")} AS fp
         |FROM ch ORDER BY doc_id, chunk_idx""".stripMargin,

    // the encoder replayed merge-for-merge: chars+EOW spaced string,
    // then one literal replace per merge IN TRAINING ORDER (left-to-right
    // non-overlapping on both engines)
    "t28_bpe" -> {
      val chain = bpeSnapshotMerges.foldLeft(
        """regexp_replace(tok, '(.)', ' \1 ', 'g') || ' </w> '""") {
        case (acc, (a, b)) => s"replace($acc, ' $a  $b ', ' $a$b ')"
      }
      s"""WITH toks AS (SELECT doc_id,
         |    list_filter(string_split_regex(trim(lower(text)), '\\s+'),
         |      t -> regexp_matches(t, '^[a-z]+$$')) AS t
         |  FROM documents WHERE doc_id < 400),
         |enc AS (SELECT doc_id, flatten(list_transform(t, tok ->
         |    list_filter(string_split_regex(trim($chain), '\\s+'),
         |      p -> len(p) > 0))) AS pieces
         |  FROM toks)
         |SELECT doc_id, CAST(len(pieces) AS BIGINT) AS n_pieces,
         |  ${sqlCharFold("array_to_string(pieces, ' ')")} AS fp
         |FROM enc ORDER BY doc_id""".stripMargin
    },

    // the 1,000-merge chain replayed in TRAINING ORDER per DISTINCT
    // word: a recursive CTE advances every word's spaced symbol string
    // one merge per iteration (rank r applies at step r), then tokens
    // join their word's pieces back and re-concatenate in position
    // order — proving Spark's lowest-rank-first native encoder emits
    // the identical stream
    "t28b_bpe_fast" -> {
      val vals = bpeMerges1k.zipWithIndex.map { case ((a, b), r) =>
        s"($r, ${sqlLit(a)}, ${sqlLit(b)})" }.mkString(", ")
      val n = bpeMerges1k.size
      s"""WITH RECURSIVE
         |raw AS (SELECT doc_id, list_filter(
         |    string_split_regex(trim(lower(text)), '\\s+'),
         |    t -> regexp_matches(t, '^[a-z]+$$')) AS rt
         |  FROM documents WHERE doc_id < 400),
         |tk AS (SELECT doc_id,
         |    CASE WHEN len(rt) >= 2 THEN list_transform(
         |        list_zip(rt[1:len(rt)-1], rt[2:len(rt)]),
         |        p -> p[1] || p[2])
         |      ELSE CAST([] AS VARCHAR[]) END AS t
         |  FROM raw),
         |tok AS (SELECT doc_id, unnest(t) AS tok,
         |    unnest(generate_series(1, len(t))) AS i FROM tk),
         |words AS (SELECT DISTINCT tok FROM tok),
         |m(r, a, b) AS (SELECT * FROM (VALUES $vals) v(r, a, b)),
         |enc AS (
         |  SELECT tok, regexp_replace(tok, '(.)', ' \\1 ', 'g')
         |      || ' </w> ' AS s, 0 AS r
         |    FROM words
         |  UNION ALL
         |  SELECT e.tok, replace(e.s, ' ' || m.a || '  ' || m.b || ' ',
         |      ' ' || m.a || m.b || ' '), e.r + 1
         |    FROM enc e JOIN m ON m.r = e.r),
         |fin AS (SELECT tok, list_filter(
         |    string_split_regex(trim(s), '\\s+'),
         |    p -> len(p) > 0) AS pieces
         |  FROM enc WHERE r = $n),
         |jp AS (SELECT o.doc_id, o.i, f.pieces
         |  FROM tok o JOIN fin f USING (tok)),
         |agg AS (SELECT doc_id, CAST(sum(len(pieces)) AS BIGINT)
         |      AS n_pieces,
         |    string_agg(array_to_string(pieces, ' '), ' ' ORDER BY i)
         |      AS es
         |  FROM jp GROUP BY doc_id)
         |SELECT tk.doc_id,
         |  CAST(coalesce(a.n_pieces, 0) AS BIGINT) AS n_pieces,
         |  ${sqlCharFold("coalesce(a.es, '')")} AS fp
         |FROM tk LEFT JOIN agg a USING (doc_id)
         |ORDER BY tk.doc_id""".stripMargin
    },

    // replays the full DSIR pipeline: portable-hash token buckets, the
    // two smoothed profiles, the 64-entry log-ratio table (unseen
    // buckets get the symmetric prior), and the sequential per-doc fold
    "t29_dsir_weights" ->
      s"""WITH toks AS (SELECT doc_id, lang,
         |    list_filter(string_split_regex(trim(text), '\\s+'),
         |      t -> len(t) > 0) AS ts
         |  FROM documents),
         |bks AS (SELECT doc_id, lang,
         |    list_transform(ts, t -> ${sqlCharFold("t")} % 64) AS bs
         |  FROM toks),
         |prof AS (SELECT b, count(*) AS raw,
         |    count(*) FILTER (WHERE lang = 'en') AS tgt
         |  FROM (SELECT lang, unnest(bs) AS b FROM bks) GROUP BY b),
         |tot AS (SELECT sum(raw) AS rt, sum(tgt) AS tt FROM prof),
         |lrarr AS (SELECT list(r ORDER BY b) AS arr FROM (
         |    SELECT gs.b AS b, coalesce(
         |        ln((p.tgt + 1.0) / (t.tt + 64)) - ln((p.raw + 1.0) / (t.rt + 64)),
         |        ln(1.0 / (t.tt + 64)) - ln(1.0 / (t.rt + 64))) AS r
         |    FROM (SELECT unnest(range(0, 64)) AS b) gs
         |    CROSS JOIN tot t
         |    LEFT JOIN prof p ON p.b = gs.b))
         |SELECT doc_id, round(list_reduce(list_prepend(0.0,
         |    list_transform(bs, b -> arr[CAST(b AS INT) + 1])),
         |    (acc, x) -> acc + x), 4) AS weight
         |FROM bks CROSS JOIN lrarr ORDER BY doc_id""".stripMargin,

    // the t29 estimator over the unigram+bigram shared-bucket features:
    // per-token charFold hashes, bigram combine (h1*1000003 + h2) mod
    // 2147483647 mod 64 via list_zip of the two shifted slices, then the
    // identical profile/smoothing/fold (ONE CTE-block definition shared
    // with the t30/p5 resampling oracles — the estimator replay can't
    // drift between them)
    "t29b_dsir_ngram" ->
      s"""WITH ${dsirNgramCteBlock()}
         |SELECT doc_id, $sqlDsirNgramWeight AS weight
         |FROM bks CROSS JOIN lrarr ORDER BY doc_id""".stripMargin,

    // v3's serving algebra over a TRAINED codebook: one k-means round
    // (stride init n/10 → rounded per-cell means, the v10 replay), then
    // the identical assign/probe/top-k chain at nprobe=2. Queries probe
    // their top-2 cells (rn <= 2); corpus rows live in their top-1.
    "v13_ivf_trained" ->
      s"""WITH vecs AS (SELECT vec_id AS id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |cents0 AS (SELECT id AS cid, v AS cv FROM vecs
         |  WHERE id % (SELECT GREATEST(1, count(*) // 10) FROM vecs) = 0),
         |a0 AS (SELECT id, v, cid,
         |  round(${sqlDot("v", "cv")} /
         |    (sqrt(${sqlNormSq("v")}) * sqrt(${sqlNormSq("cv")})), 6) AS csim
         |  FROM vecs CROSS JOIN cents0),
         |cell0 AS (SELECT id, v, cid AS cell FROM (
         |  SELECT id, v, cid, row_number() OVER (PARTITION BY id
         |    ORDER BY csim DESC, cid) AS rn FROM a0) WHERE rn = 1),
         |m0 AS (SELECT cell, pos, round(avg(x), 6) AS m FROM (
         |    SELECT cell, unnest(v) AS x, unnest(range(0, len(v))) AS pos
         |    FROM cell0) GROUP BY cell, pos),
         |p0 AS (SELECT cell, list(m ORDER BY pos) AS mv FROM m0 GROUP BY cell),
         |cents1 AS (SELECT cid, coalesce(p0.mv, cv) AS cv
         |  FROM cents0 LEFT JOIN p0 ON p0.cell = cents0.cid),
         |a1 AS (SELECT id, v, cid,
         |  round(${sqlDot("v", "cv")} /
         |    (sqrt(${sqlNormSq("v")}) * sqrt(${sqlNormSq("cv")})), 6) AS csim
         |  FROM vecs CROSS JOIN cents1),
         |rk1 AS (SELECT id, v, cid, row_number() OVER (PARTITION BY id
         |    ORDER BY csim DESC, cid) AS rn FROM a1),
         |corp AS (SELECT id, v, cid AS cell FROM rk1 WHERE rn = 1),
         |qp AS (SELECT id AS query_id, v AS qv, cid AS cell FROM rk1
         |  WHERE rn <= 2 AND id < 10),
         |scored AS (SELECT query_id, c.id AS neighbor_id,
         |  round(${sqlDot("qv", "c.v")} /
         |    (sqrt(${sqlNormSq("qv")}) * sqrt(${sqlNormSq("c.v")})), 6) AS sim
         |  FROM qp JOIN corp c USING (cell) WHERE query_id <> c.id),
         |rk AS (SELECT query_id, neighbor_id, sim, row_number() OVER (
         |  PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rn
         |  FROM scored)
         |SELECT query_id, neighbor_id, sim FROM rk WHERE rn <= 3
         |ORDER BY query_id, sim DESC, neighbor_id""".stripMargin,

    "t20_verify_pairs" ->
      """WITH d AS (SELECT doc_id, text FROM documents),
        |nc AS (SELECT doc_id + 10000 AS doc_id, text || ' tail token' AS text
        |  FROM d WHERE doc_id < 100),
        |corpus AS (SELECT * FROM d UNION ALL SELECT * FROM nc),
        |ids AS (SELECT doc_id AS id1 FROM d WHERE doc_id < 100),
        |pairs AS (SELECT id1, id1 + 10000 AS id2 FROM ids
        |  UNION ALL SELECT id1, id1 + 1 FROM ids WHERE id1 < 99),
        |j AS (SELECT p.id1, p.id2, a.text AS ta, b.text AS tb
        |  FROM pairs p JOIN corpus a ON a.doc_id = p.id1
        |  JOIN corpus b ON b.doc_id = p.id2),
        |sc AS (SELECT id1, id2, CAST(levenshtein(ta, tb) AS BIGINT) AS lev,
        |  round(1.0 - levenshtein(ta, tb) /
        |    CAST(greatest(len(ta), len(tb)) AS DOUBLE), 6) AS sim
        |  FROM j)
        |SELECT id1, id2, lev, sim FROM sc WHERE sim >= 0.8
        |ORDER BY id1, id2""".stripMargin,

    // full curation replay: t18 line-dedup algebra → md5 keeper dedup →
    // token gate → t13 chunk algebra → charFold fingerprints
    "p4_curation_pipeline" ->
      s"""WITH docs AS (SELECT doc_id, concat_ws(chr(10),
         |    CASE WHEN doc_id % 3 = 0 THEN 'subscribe to our newsletter'
         |         ELSE 'header ' || doc_id END,
         |    text) AS text FROM documents),
         |corpus AS (SELECT * FROM docs UNION ALL
         |  SELECT doc_id + 20000 AS doc_id, text FROM docs WHERE doc_id < 50),
         |ln AS (SELECT doc_id, list_filter(string_split(text, chr(10)),
         |    l -> len(trim(l)) > 0) AS l FROM corpus),
         |dup AS (SELECT line FROM (SELECT doc_id, unnest(list_distinct(l))
         |    AS line FROM ln) GROUP BY line HAVING count(*) >= 10),
         |dl AS (SELECT coalesce(list(line), []) AS dups FROM dup),
         |cleaned AS (SELECT doc_id, array_to_string(list_filter(l,
         |    x -> NOT list_contains(dups, x)), chr(10)) AS text
         |  FROM ln CROSS JOIN dl),
         |keep AS (SELECT min(doc_id) AS doc_id FROM cleaned
         |  GROUP BY md5(text)),
         |dd AS (SELECT c.doc_id, c.text FROM cleaned c JOIN keep
         |  USING (doc_id)),
         |q AS (SELECT doc_id,
         |    list_filter(string_split_regex(trim(text), '\\s+'),
         |      t -> len(t) > 0) AS toks
         |  FROM dd
         |  WHERE len(regexp_split_to_array(trim(text), '\\s+')) >= 20),
         |ch AS (SELECT doc_id, i, list_slice(toks, i * 15 + 1, i * 15 + 20)
         |    AS sl
         |  FROM (SELECT doc_id, toks,
         |      UNNEST(generate_series(0, CASE WHEN len(toks) = 0 THEN -1
         |        ELSE CAST(ceil(greatest(len(toks) - 20, 0) / 15.0) AS BIGINT)
         |        END)) AS i
         |    FROM q))
         |SELECT doc_id, CAST(i AS INT) AS chunk_idx,
         |  CAST(len(sl) AS INT) AS chunk_tokens,
         |  ${sqlCharFold("array_to_string(sl, ' ')")} AS fp
         |FROM ch ORDER BY doc_id, chunk_idx""".stripMargin,

    // full replay: BM25 top-50 (t17 algebra), cosine top-50 for vec 0
    // (v1 algebra), then RRF with c=60 over the two candidate lists
    "p3_hybrid_retrieval" ->
      s"""WITH toks AS (SELECT doc_id,
         |    list_filter(string_split_regex(trim(text), '\\s+'),
         |      t -> len(t) > 0) AS t
         |  FROM documents),
         |st AS (SELECT count(*) * 1.0 AS n, sum(len(t)) * 1.0 AS tt,
         |    sum(CASE WHEN list_contains(t, 'spark') THEN 1 ELSE 0 END) * 1.0 AS df0,
         |    sum(CASE WHEN list_contains(t, 'window') THEN 1 ELSE 0 END) * 1.0 AS df1,
         |    sum(CASE WHEN list_contains(t, 'merge') THEN 1 ELSE 0 END) * 1.0 AS df2
         |  FROM toks),
         |tf AS (SELECT doc_id, len(t) * 1.0 AS dl,
         |    len(list_filter(t, x -> x = 'spark')) * 1.0 AS tf0,
         |    len(list_filter(t, x -> x = 'window')) * 1.0 AS tf1,
         |    len(list_filter(t, x -> x = 'merge')) * 1.0 AS tf2
         |  FROM toks),
         |sc AS (SELECT doc_id, round(
         |    ln(1.0 + (st.n - st.df0 + 0.5) / (st.df0 + 0.5)) * tf0 * (1.2 + 1.0)
         |      / (tf0 + 1.2 * (1.0 - 0.75 + 0.75 * dl / (st.tt / st.n)))
         |  + ln(1.0 + (st.n - st.df1 + 0.5) / (st.df1 + 0.5)) * tf1 * (1.2 + 1.0)
         |      / (tf1 + 1.2 * (1.0 - 0.75 + 0.75 * dl / (st.tt / st.n)))
         |  + ln(1.0 + (st.n - st.df2 + 0.5) / (st.df2 + 0.5)) * tf2 * (1.2 + 1.0)
         |      / (tf2 + 1.2 * (1.0 - 0.75 + 0.75 * dl / (st.tt / st.n))), 6)
         |  AS score FROM tf, st),
         |lex AS (SELECT doc_id, score FROM sc WHERE score > 0
         |  ORDER BY score DESC, doc_id LIMIT 50),
         |lrk AS (SELECT doc_id, row_number() OVER (
         |  ORDER BY score DESC, doc_id) AS ra FROM lex),
         |q AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
         |  FROM embeddings WHERE vec_id = 0),
         |cvs AS (SELECT vec_id AS doc_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
         |  FROM embeddings),
         |vsc AS (SELECT doc_id,
         |  round(${sqlDot("qv", "cv")} /
         |    (sqrt(${sqlNormSq("qv")}) * sqrt(${sqlNormSq("cv")})), 6) AS sim
         |  FROM cvs, q WHERE doc_id <> 0),
         |vec AS (SELECT doc_id, sim FROM vsc
         |  ORDER BY sim DESC, doc_id LIMIT 50),
         |vrk AS (SELECT doc_id, row_number() OVER (
         |  ORDER BY sim DESC, doc_id) AS rb FROM vec),
         |fused AS (SELECT coalesce(l.doc_id, v.doc_id) AS doc_id,
         |  round(coalesce(1.0 / (60 + l.ra), 0.0)
         |      + coalesce(1.0 / (60 + v.rb), 0.0), 6) AS rrf
         |  FROM lrk l FULL OUTER JOIN vrk v ON l.doc_id = v.doc_id)
         |SELECT doc_id, rrf FROM fused
         |ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin)

  /** The mixed-script fixture derivation as DuckDB SQL — the exact
    * replace chain of [[graft.operators.TextAnalysis.mixedScriptFixture]]
    * (one definition per engine; both pinned to each other by t28c). */
  private val sqlMixedScript: String =
    """CASE WHEN lang = 'fr' THEN replace(replace(text, 'e', 'é'), 'c', 'ç')
      |  WHEN lang = 'de' THEN replace(replace(text, 'a', 'ä'), 'u', 'ü')
      |  WHEN lang = 'es' THEN replace(replace(text, 'n', 'ñ'), 'o', 'ó')
      |  WHEN lang = 'zh' THEN replace(replace(replace(text,
      |    'data', '数据'), 'table', '表'), 'query', '查询')
      |  ELSE replace(replace(text, 'slow', 'slow,'), 'fast', 'fast!')
      |  END""".stripMargin

  /** Shared DuckDB replay of the dsirWeightsNgram estimator: CTE chain
    * ending in `bks(doc_id, lang, bs)` (per-doc feature buckets) and
    * `lrarr(arr)` (the 64-entry smoothed log-ratio table). ONE
    * definition serves t29b, t30 and p5 so the estimator replay can
    * never drift between the weight and resampling oracles. */
  private def dsirNgramCteBlock(src: String = "documents"): String =
    s"""toks AS (SELECT doc_id, lang,
       |    list_filter(string_split_regex(trim(text), '\\s+'),
       |      t -> len(t) > 0) AS ts
       |  FROM $src),
       |hs AS (SELECT doc_id, lang,
       |    list_transform(ts, t -> ${sqlCharFold("t")}) AS h
       |  FROM toks),
       |bks AS (SELECT doc_id, lang, list_concat(
       |    list_transform(h, x -> x % 64),
       |    CASE WHEN len(h) >= 2 THEN list_transform(
       |        list_zip(h[1:len(h)-1], h[2:len(h)]),
       |        p -> ((p[1] * 1000003 + p[2]) % 2147483647) % 64)
       |      ELSE CAST([] AS BIGINT[]) END) AS bs
       |  FROM hs),
       |prof AS (SELECT b, count(*) AS raw,
       |    count(*) FILTER (WHERE lang = 'en') AS tgt
       |  FROM (SELECT lang, unnest(bs) AS b FROM bks) GROUP BY b),
       |tot AS (SELECT sum(raw) AS rt, sum(tgt) AS tt FROM prof),
       |lrarr AS (SELECT list(r ORDER BY b) AS arr FROM (
       |    SELECT gs.b AS b, coalesce(
       |        ln((p.tgt + 1.0) / (t.tt + 64)) - ln((p.raw + 1.0) / (t.rt + 64)),
       |        ln(1.0 / (t.tt + 64)) - ln(1.0 / (t.rt + 64))) AS r
       |    FROM (SELECT unnest(range(0, 64)) AS b) gs
       |    CROSS JOIN tot t
       |    LEFT JOIN prof p ON p.b = gs.b))""".stripMargin

  /** The per-doc dsirWeightsNgram scoring fold (over `bks`/`lrarr`). */
  private def sqlDsirNgramWeight: String =
    """round(list_reduce(list_prepend(0.0,
      |    list_transform(bs, b -> arr[CAST(b AS INT) + 1])),
      |    (acc, x) -> acc + x), 4)""".stripMargin

  /** The t28c/t28d shared DuckDB replay chain: mixed-script fixture →
    * pair-enriched serving text → loss-free pre-tokenization → per
    * DISTINCT word, hex-pair byte symbols advanced one merge per
    * recursion step in TRAINING ORDER. Ends with `tk(doc_id, t2)`,
    * `tok(doc_id, tok, i)` and `fin(tok, pieces)`. ONE definition so
    * the piece and id oracles replay the identical chain. */
  private val sqlBytePretok = "[\\p{L}\\p{N}]+|[^\\s\\p{L}\\p{N}]+"

  /** The t28c/t28d serving-corpus prefix: mixed-script fixture over the
    * doc_id<400 slice, pair-enriched, re-pre-tokenized. Ends with
    * `tk(doc_id, t2)` and `tok(doc_id, tok, i)`. */
  private lazy val bpeBytesPairTokCtes: String =
    s"""raw AS (SELECT doc_id, $sqlMixedScript AS mixed
       |  FROM documents WHERE doc_id < 400),
       |ptk AS (SELECT doc_id,
       |    regexp_extract_all(mixed, '$sqlBytePretok') AS rt FROM raw),
       |tk AS (SELECT doc_id,
       |    CASE WHEN len(rt) >= 2 THEN array_to_string(list_transform(
       |        list_zip(rt[1:len(rt)-1], rt[2:len(rt)]),
       |        p -> p[1] || p[2]), ' ')
       |      ELSE '' END AS t2
       |  FROM ptk),
       |tkl AS (SELECT doc_id,
       |    regexp_extract_all(t2, '$sqlBytePretok') AS t FROM tk),
       |tok AS (SELECT doc_id, unnest(t) AS tok,
       |    unnest(generate_series(1, len(t))) AS i FROM tkl)""".stripMargin

  /** The training-order merge replay over a preceding `tok(doc_id, tok,
    * i)` CTE: per DISTINCT word, hex-pair byte symbols advanced one
    * merge per recursion step. Ends with `fin(tok, pieces)`. ONE
    * definition shared by every byte-level oracle (t28c/t28d/p6/t28e —
    * t28e passes the 32k model's documented 1,000-merge prefix). */
  private def bpeBytesMergeReplayCtesFor(
      merges: Seq[(String, String)]): String = {
    val vals = merges.zipWithIndex.map { case ((a, b), r) =>
      s"($r, ${sqlLit(a)}, ${sqlLit(b)})" }.mkString(", ")
    val n = merges.size
    s"""words AS (SELECT DISTINCT tok FROM tok),
       |m(r, a, b) AS (SELECT * FROM (VALUES $vals) v(r, a, b)),
       |enc AS (
       |  SELECT tok, regexp_replace(lower(hex(encode(tok))),
       |      '(..)', ' \\1 ', 'g') || ' </w> ' AS s, 0 AS r
       |    FROM words
       |  UNION ALL
       |  SELECT e.tok, replace(e.s, ' ' || m.a || '  ' || m.b || ' ',
       |      ' ' || m.a || m.b || ' '), e.r + 1
       |    FROM enc e JOIN m ON m.r = e.r),
       |fin AS (SELECT tok, list_filter(
       |    string_split_regex(trim(s), '\\s+'),
       |    p -> len(p) > 0) AS pieces
       |  FROM enc WHERE r = $n)""".stripMargin
  }

  private lazy val bpeBytesMergeReplayCtes: String =
    bpeBytesMergeReplayCtesFor(bpeMergesBytes1k)

  /** The t28e serving-corpus prefix: mixed-script fixture over the
    * doc_id<60 slice, pair-enriched TWICE (each enrichment
    * re-pre-tokenizes its input — punctuation fused by round one splits
    * again in round two, exactly pairEnrichBytes ∘ pairEnrichBytes).
    * Ends with `tk(doc_id, t2)` and `tok(doc_id, tok, i)`. */
  private lazy val bpeBytes2PairTokCtes: String =
    s"""raw AS (SELECT doc_id, $sqlMixedScript AS mixed
       |  FROM documents WHERE doc_id < 60),
       |ptk AS (SELECT doc_id,
       |    regexp_extract_all(mixed, '$sqlBytePretok') AS rt FROM raw),
       |p1 AS (SELECT doc_id,
       |    CASE WHEN len(rt) >= 2 THEN array_to_string(list_transform(
       |        list_zip(rt[1:len(rt)-1], rt[2:len(rt)]),
       |        p -> p[1] || p[2]), ' ')
       |      ELSE '' END AS t1
       |  FROM ptk),
       |p1t AS (SELECT doc_id,
       |    regexp_extract_all(t1, '$sqlBytePretok') AS rt2 FROM p1),
       |tk AS (SELECT doc_id,
       |    CASE WHEN len(rt2) >= 2 THEN array_to_string(list_transform(
       |        list_zip(rt2[1:len(rt2)-1], rt2[2:len(rt2)]),
       |        p -> p[1] || p[2]), ' ')
       |      ELSE '' END AS t2
       |  FROM p1t),
       |tkl AS (SELECT doc_id,
       |    regexp_extract_all(t2, '$sqlBytePretok') AS t FROM tk),
       |tok AS (SELECT doc_id, unnest(t) AS tok,
       |    unnest(generate_series(1, len(t))) AS i FROM tkl)""".stripMargin

  private lazy val bpeBytesChainCtes: String =
    s"$bpeBytesPairTokCtes,\n$bpeBytesMergeReplayCtes"

  /** The byte-level model's closed vocabulary as (piece, id) — the
    * exact first-wins construction of [[graft.plans.BpeModel]].pieceId,
    * rendered for the t28d oracle. */
  private lazy val bpeBytesVocab: Seq[(String, Int)] = {
    val m = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    (0 until 256).foreach(b => m.update(f"$b%02x", b))
    m.update("</w>", 256)
    bpeMergesBytes1k.zipWithIndex.foreach { case ((a, b), r) =>
      val s = a + b
      if (!m.contains(s)) m.update(s, 257 + r)
    }
    m.toSeq
  }

  /** The deterministic Gumbel noise of dsirResample: u =
    * (charFold(id) + 1) / (Mod + 1), g = −ln(−ln u). */
  private def sqlGumbel(idExpr: String): String =
    s"-ln(-ln((${sqlCharFold(s"CAST($idExpr AS VARCHAR)")} + 1) / " +
      "2147483648.0))"

  /** trained-everything IVFADC replay (v13 coarse-training block +
    * v14 per-subspace PQ training + the v9 serving shape) — shared by
    * v15 (train→serve) and v17 (persist→load→serve: parquet
    * round-trips the trained doubles bit-exactly, so the serve chain
    * replays identically). */
  private lazy val ivfPqTrainedOracleSql: String =
      s"""WITH vecs AS (SELECT vec_id AS id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |stride AS (SELECT GREATEST(1, count(*) // 10) AS s FROM vecs),
         |cents AS (SELECT row_number() OVER (ORDER BY id) - 1 AS cpos, v AS cv
         |  FROM vecs WHERE id % (SELECT s FROM stride) = 0),
         |cents0 AS (SELECT id AS cid, v AS cv FROM vecs
         |  WHERE id % (SELECT s FROM stride) = 0),
         |a0 AS (SELECT id, v, cid,
         |  round(${sqlDot("v", "cv")} /
         |    (sqrt(${sqlNormSq("v")}) * sqrt(${sqlNormSq("cv")})), 6) AS csim
         |  FROM vecs CROSS JOIN cents0),
         |cell0 AS (SELECT id, v, cid AS cell FROM (
         |  SELECT id, v, cid, row_number() OVER (PARTITION BY id
         |    ORDER BY csim DESC, cid) AS rn FROM a0) WHERE rn = 1),
         |m0 AS (SELECT cell, pos, round(avg(x), 6) AS m FROM (
         |    SELECT cell, unnest(v) AS x, unnest(range(0, len(v))) AS pos
         |    FROM cell0) GROUP BY cell, pos),
         |p0 AS (SELECT cell, list(m ORDER BY pos) AS mv FROM m0 GROUP BY cell),
         |cents1 AS (SELECT cid, coalesce(p0.mv, cv) AS cv
         |  FROM cents0 LEFT JOIN p0 ON p0.cell = cents0.cid),
         |${pqTrainedCodeCtes(4, 16)},
         |a1 AS (SELECT id, v, cid,
         |  round(${sqlDot("v", "cv")} /
         |    (sqrt(${sqlNormSq("v")}) * sqrt(${sqlNormSq("cv")})), 6) AS csim
         |  FROM vecs CROSS JOIN cents1),
         |rk1 AS (SELECT id, v, cid, row_number() OVER (PARTITION BY id
         |    ORDER BY csim DESC, cid) AS rn FROM a1),
         |corp AS (SELECT id, cid AS cell FROM rk1 WHERE rn = 1),
         |qp AS (SELECT id AS query_id, v AS qv, cid AS cell FROM rk1
         |  WHERE rn <= 2 AND id < 10),
         |scored AS (SELECT q.query_id, n.id AS neighbor_id,
         |  round(${pqTrainedAdcSql(4, 16)}, 6) AS adist
         |  FROM qp q JOIN corp n ON n.cell = q.cell
         |  ${pqTrainedCodeJoins(4)}
         |  WHERE q.query_id <> n.id),
         |rk AS (SELECT query_id, neighbor_id, adist, row_number() OVER (
         |  PARTITION BY query_id ORDER BY adist, neighbor_id) AS rn
         |  FROM scored)
         |SELECT query_id, neighbor_id, adist FROM rk WHERE rn <= 3
         |ORDER BY query_id, adist, neighbor_id""".stripMargin

  private val oracles14: Map[String, String] = Map(

    // byte-level chain replay: rebuild the mixed-script fixture and the
    // pair-enriched serving text, pre-tokenize with the loss-free
    // letter/digit-run | punctuation-run pattern, derive each distinct
    // word's base symbols from its UTF-8 bytes (lower(hex(encode))
    // split into 2-char groups), then advance every word one merge per
    // recursion step in TRAINING ORDER — proving the lowest-rank-first
    // byte-level native encoder emits the identical stream on
    // multilingual text
    "t28c_bpe_bytes" ->
      s"""WITH RECURSIVE
         |$bpeBytesChainCtes,
         |jp AS (SELECT o.doc_id, o.i, f.pieces
         |  FROM tok o JOIN fin f USING (tok)),
         |agg AS (SELECT doc_id, CAST(sum(len(pieces)) AS BIGINT)
         |      AS n_pieces,
         |    string_agg(array_to_string(pieces, ' '), ' ' ORDER BY i)
         |      AS es
         |  FROM jp GROUP BY doc_id)
         |SELECT tk.doc_id,
         |  CAST(coalesce(a.n_pieces, 0) AS BIGINT) AS n_pieces,
         |  ${sqlCharFold("coalesce(a.es, '')")} AS fp
         |FROM tk LEFT JOIN agg a USING (doc_id)
         |ORDER BY tk.doc_id""".stripMargin,

    // pieces from the same replayed chain, mapped through the
    // identically-rendered first-wins vocab table (ids 0-255 bytes,
    // 256 EOW, 257+r merge r) — the id assignment proven cross-engine
    "t28d_bpe_ids" -> {
      val vocabVals = bpeBytesVocab.map { case (p, id) =>
        s"(${sqlLit(p)}, $id)" }.mkString(", ")
      s"""WITH RECURSIVE
         |$bpeBytesChainCtes,
         |vb(piece, id) AS (SELECT * FROM (VALUES $vocabVals) v(piece, id)),
         |fex AS (SELECT tok, unnest(pieces) AS piece,
         |    unnest(generate_series(1, len(pieces))) AS pi FROM fin),
         |fid AS (SELECT f.tok,
         |    list(CAST(vb.id AS VARCHAR) ORDER BY f.pi) AS ids
         |  FROM fex f JOIN vb ON vb.piece = f.piece GROUP BY f.tok),
         |jp AS (SELECT o.doc_id, o.i, d.ids
         |  FROM tok o JOIN fid d USING (tok)),
         |agg AS (SELECT doc_id, CAST(sum(len(ids)) AS BIGINT)
         |      AS n_pieces,
         |    string_agg(array_to_string(ids, ' '), ' ' ORDER BY i) AS es
         |  FROM jp GROUP BY doc_id)
         |SELECT tk.doc_id,
         |  CAST(coalesce(a.n_pieces, 0) AS BIGINT) AS n_pieces,
         |  ${sqlCharFold("coalesce(a.es, '')")} AS fp
         |FROM tk LEFT JOIN agg a USING (doc_id)
         |ORDER BY tk.doc_id""".stripMargin
    },

    // weights (shared t29b block) → deterministic Gumbel keys → top-100
    // by (skey desc, doc_id)
    "t30_dsir_resample" ->
      s"""WITH ${dsirNgramCteBlock()},
         |w AS (SELECT doc_id, $sqlDsirNgramWeight AS weight
         |  FROM bks CROSS JOIN lrarr)
         |SELECT doc_id, weight,
         |  round(weight + ${sqlGumbel("doc_id")}, 4) AS skey
         |FROM w
         |ORDER BY skey DESC, doc_id LIMIT 100""".stripMargin,

    // the selected slice's language mix: same chain at k=150, joined
    // back to the corpus and grouped per language
    "p5_dsir_curation" ->
      s"""WITH ${dsirNgramCteBlock()},
         |w AS (SELECT doc_id, $sqlDsirNgramWeight AS weight
         |  FROM bks CROSS JOIN lrarr),
         |sel AS (SELECT doc_id, weight,
         |    round(weight + ${sqlGumbel("doc_id")}, 4) AS skey
         |  FROM w ORDER BY skey DESC, doc_id LIMIT 150)
         |SELECT d.lang, CAST(count(*) AS BIGINT) AS n_docs,
         |  sum(CAST(s.weight AS DECIMAL(18, 4))) AS sum_weight
         |FROM sel s JOIN documents d USING (doc_id)
         |GROUP BY d.lang ORDER BY d.lang""".stripMargin,

    // dedup → gate → DSIR profile/weights/Gumbel-top-k selection →
    // the t26 shard/cum/bin packing algebra, one replay end-to-end
    "p7_pretrain_pipeline" ->
      s"""WITH keep AS (SELECT min(doc_id) AS doc_id FROM documents
         |  GROUP BY md5(text)),
         |src AS (SELECT d.* FROM documents d JOIN keep USING (doc_id)
         |  WHERE len(list_filter(string_split_regex(trim(d.text), '\\s+'),
         |    t -> len(t) > 0)) >= 20),
         |${dsirNgramCteBlock("src")},
         |w AS (SELECT doc_id, $sqlDsirNgramWeight AS weight
         |  FROM bks CROSS JOIN lrarr),
         |sel AS (SELECT doc_id,
         |    round(weight + ${sqlGumbel("doc_id")}, 4) AS skey
         |  FROM w ORDER BY skey DESC, doc_id LIMIT 200),
         |cnt AS (SELECT s2.doc_id,
         |    CAST(len(list_filter(string_split_regex(trim(s2.text), '\\s+'),
         |      t -> len(t) > 0)) AS BIGINT) AS tk,
         |    ${sqlCharFold("CAST(s2.doc_id AS VARCHAR)")} % 8 AS shard
         |  FROM src s2 JOIN sel USING (doc_id)),
         |c AS (SELECT doc_id, tk, shard,
         |    sum(tk) OVER (PARTITION BY shard ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM cnt)
         |SELECT doc_id, shard, CAST(cum - tk AS BIGINT) AS offset,
         |  CAST(floor((cum - tk) / 512) AS BIGINT) AS bin_first,
         |  CASE WHEN tk > 0 THEN CAST(floor((cum - 1) / 512) AS BIGINT)
         |       ELSE CAST(floor((cum - tk) / 512) AS BIGINT) END
         |    AS bin_last,
         |  tk AS tokens
         |FROM c ORDER BY doc_id""".stripMargin,

    // mixed fixture → t26's whitespace-count gate → the byte-level
    // chain's TRUE token counts per doc → the t26 shard/cum/bin algebra
    "p6_multilingual_pack" ->
      s"""WITH RECURSIVE
         |docsrc AS (SELECT doc_id, $sqlMixedScript AS mixed
         |  FROM documents),
         |gate AS (SELECT doc_id, mixed FROM docsrc
         |  WHERE len(regexp_split_to_array(trim(mixed), '\\s+')) >= 20),
         |tkl AS (SELECT doc_id,
         |    regexp_extract_all(mixed, '$sqlBytePretok') AS t FROM gate),
         |tok AS (SELECT doc_id, unnest(t) AS tok,
         |    unnest(generate_series(1, len(t))) AS i FROM tkl),
         |$bpeBytesMergeReplayCtes,
         |jp AS (SELECT o.doc_id, f.pieces
         |  FROM tok o JOIN fin f USING (tok)),
         |cnt AS (SELECT g.doc_id, CAST(coalesce(a.n, 0) AS BIGINT) AS tk,
         |    ${sqlCharFold("CAST(g.doc_id AS VARCHAR)")} % 8 AS shard
         |  FROM gate g LEFT JOIN (SELECT doc_id, sum(len(pieces)) AS n
         |    FROM jp GROUP BY doc_id) a USING (doc_id)),
         |c AS (SELECT doc_id, tk, shard,
         |    sum(tk) OVER (PARTITION BY shard ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM cnt)
         |SELECT doc_id, shard, CAST(cum - tk AS BIGINT) AS offset,
         |  CAST(floor((cum - tk) / 512) AS BIGINT) AS bin_first,
         |  CASE WHEN tk > 0 THEN CAST(floor((cum - 1) / 512) AS BIGINT)
         |       ELSE CAST(floor((cum - tk) / 512) AS BIGINT) END
         |    AS bin_last,
         |  tk AS tokens
         |FROM c ORDER BY doc_id""".stripMargin,

    // trained-everything IVFADC: the v13 coarse-training block (stride
    // init → one rounded-mean Lloyd round, empty cells keep the old
    // centroid) + the v14 per-subspace PQ-training block
    // (pqTrainedCodeCtes), then the v9 serving shape — corpus vectors
    // live in their nearest TRAINED cell, queries probe their 2 nearest,
    // candidates rank by ADC against the TRAINED subspace codebooks
    "v15_ivfpq_trained" -> ivfPqTrainedOracleSql,

    // the persisted index round-trips the TRAINED codebooks bit-exactly
    // (doubles through parquet), so load→serve replays as the identical
    // training chain — the v15 oracle IS v17's oracle
    "v17_index_persist" -> ivfPqTrainedOracleSql,


    // the v9 IVFADC replay widened to a 10-candidate shortlist, then
    // the exact-L2 re-rank over raw vectors (dot-product identity,
    // the same left-assoc grouping as the Spark expression)
    "v18_ivfpq_refined" ->
      s"""WITH vecs AS (SELECT vec_id AS id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |stride AS (SELECT GREATEST(1, count(*) // 10) AS s FROM vecs),
         |ccents AS (SELECT id AS ccid, v AS ccv FROM vecs
         |  WHERE id % (SELECT s FROM stride) = 0),
         |cassign AS (SELECT id, v, ccid,
         |  round(${sqlDot("v", "ccv")} /
         |    (sqrt(${sqlNormSq("v")}) * sqrt(${sqlNormSq("ccv")})), 6) AS csim
         |  FROM vecs CROSS JOIN ccents),
         |cranked AS (SELECT id, v, ccid, row_number() OVER (PARTITION BY id
         |    ORDER BY csim DESC, ccid) AS crn FROM cassign),
         |cells AS (SELECT id, v, ccid AS cell FROM cranked WHERE crn = 1),
         |probes AS (SELECT id, ccid AS cell FROM cranked WHERE crn <= 2),
         |cents AS (SELECT row_number() OVER (ORDER BY id) - 1 AS cpos, v AS cv
         |  FROM vecs WHERE id % (SELECT s FROM stride) = 0),
         |${pqCodeCtes(4, 16)},
         |q AS (SELECT p.id AS query_id, v.v AS qv, p.cell
         |  FROM probes p JOIN vecs v ON v.id = p.id WHERE p.id < 10),
         |scored AS (SELECT q.query_id, n.id AS neighbor_id,
         |  round(${pqAdcSql(4, 16)}, 6) AS adist
         |  FROM q JOIN cells cl ON cl.cell = q.cell
         |  JOIN vecs n ON n.id = cl.id ${pqCodeJoins(4)}
         |  WHERE q.query_id <> n.id),
         |short AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id, row_number() OVER (
         |    PARTITION BY query_id ORDER BY adist, neighbor_id) AS rn
         |  FROM scored) WHERE rn <= 10),
         |ex AS (SELECT s2.query_id, s2.neighbor_id,
         |  round((${sqlDot("qv.v", "qv.v")} + ${sqlDot("nv.v", "nv.v")}) -
         |    2.0 * ${sqlDot("qv.v", "nv.v")}, 6) AS dist
         |  FROM short s2
         |  JOIN vecs qv ON qv.id = s2.query_id
         |  JOIN vecs nv ON nv.id = s2.neighbor_id),
         |rk3 AS (SELECT query_id, neighbor_id, dist, row_number() OVER (
         |  PARTITION BY query_id ORDER BY dist, neighbor_id) AS rn
         |  FROM ex)
         |SELECT query_id, neighbor_id, dist FROM rk3 WHERE rn <= 3
         |ORDER BY query_id, dist, neighbor_id""".stripMargin,

    // residual IVFADC replay: the v9 chain with (a) PQ init vectors =
    // RESIDUALS of the offset-1 stride rows, (b) candidate codes
    // assigned over residuals, (c) the query's LUT side = its residual
    // vs EACH probed cell's centroid. `vecs` holds the residuals so the
    // shared pqCodeCtes/pqAdcSql/pqCodeJoins fragments apply unchanged.
    "v16_ivfpq_residual" ->
      s"""WITH rawv AS (SELECT vec_id AS id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |stride AS (SELECT GREATEST(1, count(*) // 10) AS s FROM rawv),
         |ccents AS (SELECT id AS ccid, v AS ccv FROM rawv
         |  WHERE id % (SELECT s FROM stride) = 0),
         |cassign AS (SELECT id, v, ccid,
         |  round(${sqlDot("v", "ccv")} /
         |    (sqrt(${sqlNormSq("v")}) * sqrt(${sqlNormSq("ccv")})), 6) AS csim
         |  FROM rawv CROSS JOIN ccents),
         |cranked AS (SELECT id, v, ccid, row_number() OVER (PARTITION BY id
         |    ORDER BY csim DESC, ccid) AS crn FROM cassign),
         |cells AS (SELECT id, ccid AS cell FROM cranked WHERE crn = 1),
         |probes AS (SELECT id, ccid AS cell FROM cranked WHERE crn <= 2),
         |vecs AS (SELECT c.id, list_transform(list_zip(r.v, ct.ccv),
         |    p -> p[1] - p[2]) AS v
         |  FROM cells c JOIN rawv r ON r.id = c.id
         |  JOIN ccents ct ON ct.ccid = c.cell),
         |cents AS (SELECT row_number() OVER (ORDER BY id) - 1 AS cpos, v AS cv
         |  FROM vecs WHERE id % (SELECT s FROM stride) =
         |    1 % (SELECT s FROM stride)),
         |${pqCodeCtes(4, 16)},
         |q AS (SELECT p.id AS query_id,
         |    list_transform(list_zip(v.v, ct.ccv), p2 -> p2[1] - p2[2]) AS qv,
         |    p.cell
         |  FROM probes p JOIN rawv v ON v.id = p.id
         |  JOIN ccents ct ON ct.ccid = p.cell
         |  WHERE p.id < 10),
         |scored AS (SELECT q.query_id, n.id AS neighbor_id,
         |  round(${pqAdcSql(4, 16)}, 6) AS adist
         |  FROM q JOIN cells cl ON cl.cell = q.cell
         |  JOIN vecs n ON n.id = cl.id ${pqCodeJoins(4)}
         |  WHERE q.query_id <> n.id),
         |rk2 AS (SELECT query_id, neighbor_id, adist, row_number() OVER (
         |  PARTITION BY query_id ORDER BY adist, neighbor_id) AS rn
         |  FROM scored)
         |SELECT query_id, neighbor_id, adist FROM rk2 WHERE rn <= 3
         |ORDER BY query_id, adist, neighbor_id""".stripMargin)

  // ===== batch 15: round-12c — Gopher rule suite, fuzzy decontamination,
  // IVF range search =====

  private val batch15: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Gopher quality-filter rule suite (Rae et al. 2021, Appendix A):
    // the published heuristic pretraining filter as per-rule booleans +
    // the keep conjunction, entirely row-local (scan-speed at 100 TB).
    // The line-level rules (bullets/ellipses/dup lines) and the
    // 2-distinct-stop-words rule are exercised through the deterministic
    // multi-line fixture — three plain replaces both engines compute
    // identically.
    "t31_gopher_rules" -> ((s, dir) => {
      val cols = TextAnalysis.gopherRules(col("text"))
        .map { case (n, c) => c.as(n) }
      tblPar(s, dir, "documents", "doc_id")
        .select(col("doc_id"),
          TextAnalysis.multiLineFixture(col("text")).as("text"))
        .select(col("doc_id") +: cols: _*)
        .orderBy("doc_id")
    }),

    // FUZZY benchmark decontamination (the near-dup tier t11's exact
    // n-gram probe cannot reach): MinHash-LSH between corpus and a
    // derived benchmark (every 50th doc, lightly edited — the
    // paraphrased-eval-item shape), exact-Jaccard verify on candidates.
    // Benchmark bands + shingle sets and the bounded candidate list all
    // broadcast; the corpus is never shuffled.
    "t32_decontam_fuzzy" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      val bench = docs.filter(col("doc_id") % 50 === 0)
        .select((col("doc_id") + 100000L).as("doc_id"),
          concat(col("text"), lit(" held out eval item")).as("text"))
      TextAnalysis.decontaminateFuzzy(docs, bench, "doc_id", "text",
          shingleN = 3, numHashes = 16, bands = 4, jaccardMin = 0.5)
        .orderBy("doc_id", "bench_id")
    }),

    // THE GOPHER-GATED CURATION PIPELINE (p8): exact dedup (hash-groupBy
    // keep-first) → the published Gopher rule suite as the quality gate
    // (t31) → FUZZY benchmark decontamination (t32: MinHash-LSH + Jaccard
    // verify, flagged docs dropped) → survivors packed into 512-token
    // training contexts. p7 proved the DSIR-resampling recipe; p8 proves
    // the other canonical recipe — filter-by-rules + decontaminate —
    // composed end-to-end in ONE DuckDB replay. Scale shape: one digest
    // shuffle, row-local rules, broadcast-only decontamination probes,
    // one shard repartition; text never shuffles.
    "p8_gopher_decontam_pack" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.multiLineFixture(col("text")).as("text"))
      val keep = docs.groupBy(md5(col("text")).as("digest"))
        .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
      val rules = TextAnalysis.gopherRules(col("text")).toMap
      val repRules = TextAnalysis.gopherRepetitionRules(col("text")).toMap
      val gated = docs.join(keep, Seq("doc_id"), "left_semi")
        .filter(rules("keep") === 1 && repRules("keep_rep") === 1)
        // two consumers (decontam band/verify pass, pack): lazy
        // localCheckpoint, not .persist() — see t5
        .localCheckpoint(false)
      val bench = docs.filter(col("doc_id") % 50 === 0)
        .select((col("doc_id") + 100000L).as("doc_id"),
          concat(col("text"), lit(" held out eval item")).as("text"))
      val flagged = TextAnalysis.decontaminateFuzzy(gated, bench, "doc_id",
          "text", shingleN = 3, numHashes = 16, bands = 4, jaccardMin = 0.5)
        .select("doc_id").distinct()
      val clean = gated.join(broadcast(flagged), Seq("doc_id"), "left_anti")
        .select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
      TextAnalysis.packSequences(clean, "doc_id", "n_tokens",
          capacity = 512, shards = 8)
        .orderBy("doc_id")
    }),

    // IVF RANGE search (faiss range_search): every neighbor with cosine
    // sim >= 0.25 in the query's 2 probed cells — threshold-bounded
    // output, so the plan has NO per-query window/sort at all (cheaper
    // than top-k at scale); same constant-C codebook as v3/v5.
    "v19_ivf_range" -> ((s, dir) => annRange(s, dir, iters = 0)))

  // ---- shared r12c oracle blocks (one definition each — t31/t32/p8) ----

  /** The t31/p8 multi-line fixture: three plain replaces, the SQL twin of
    * TextAnalysis.multiLineFixture. */
  private def sqlGopherFx(src: String): String =
    s"""fx AS (SELECT doc_id,
       |    replace(replace(replace(text, ' table ', chr(10) || '- table '),
       |            ' row ', '...' || chr(10) || 'row '),
       |            ' value ', ' of value ') AS text
       |  FROM $src)""".stripMargin

  /** Gopher signal CTEs over `src` (doc_id, text) → `gm` with one column
    * per rule signal. */
  private def sqlGopherMetrics(src: String): String =
    s"""gw AS (SELECT doc_id, text,
       |    list_filter(regexp_split_to_array(trim(text), '\\s+'),
       |      t -> len(t) > 0) AS ws,
       |    list_filter(list_transform(string_split(
       |        replace(replace(replace(replace(text,
       |          chr(13) || chr(10), chr(10)), chr(13), chr(10)),
       |          chr(8232), chr(10)), chr(8233), chr(10)), chr(10)),
       |      l -> trim(l)), l -> len(l) > 0) AS ls
       |  FROM $src),
       |gm AS (SELECT doc_id, text,
       |    CAST(len(ws) AS DOUBLE) AS nw,
       |    CAST(len(ls) AS DOUBLE) AS nl,
       |    CAST(list_sum(list_transform(ws, t -> length(t))) AS DOUBLE)
       |      / greatest(CAST(len(ws) AS DOUBLE), 1.0) AS mean_len,
       |    CAST(length(text) - length(replace(text, '#', '')) AS DOUBLE)
       |      / greatest(CAST(len(ws) AS DOUBLE), 1.0) AS hash_ratio,
       |    ((length(text) - length(replace(text, '...', ''))) / 3)
       |      / greatest(CAST(len(ws) AS DOUBLE), 1.0) AS ellipsis_ratio,
       |    CAST(len(list_filter(ls, l -> l[1:1] IN ('-', '*', '•'))) AS DOUBLE)
       |      / greatest(CAST(len(ls) AS DOUBLE), 1.0) AS bullet_frac,
       |    CAST(len(list_filter(ls, l -> ends_with(l, '...'))) AS DOUBLE)
       |      / greatest(CAST(len(ls) AS DOUBLE), 1.0) AS ellipsis_frac,
       |    CAST(len(list_filter(ws, t -> regexp_matches(t, '[A-Za-z]'))) AS DOUBLE)
       |      / greatest(CAST(len(ws) AS DOUBLE), 1.0) AS alpha_frac,
       |    len(list_intersect(list_distinct(list_transform(ws, t -> lower(t))),
       |      ['the','be','to','of','and','that','have','with'])) AS stop_hits,
       |    (CAST(len(ls) AS DOUBLE) - len(list_distinct(ls)))
       |      / greatest(CAST(len(ls) AS DOUBLE), 1.0) AS dup_line_frac
       |  FROM gw)""".stripMargin

  /** (rule name, SQL predicate over gm) — ONE definition of each Gopher
    * threshold, shared by the t31 per-rule columns and the p8 gate. */
  private val sqlGopherConds: Seq[(String, String)] = Seq(
    "r_word_count" -> "nw BETWEEN 50 AND 100000",
    "r_mean_word_len" -> "mean_len BETWEEN 3.0 AND 10.0",
    // per-symbol independent bounds (Rae et al.: "either the hash symbol
    // or the ellipsis" gates on 0.1 EACH, not their sum)
    "r_symbol_ratio" -> "(hash_ratio <= 0.1 AND ellipsis_ratio <= 0.1)",
    "r_bullet_lines" -> "bullet_frac <= 0.9",
    "r_ellipsis_lines" -> "ellipsis_frac <= 0.3",
    "r_alpha_words" -> "alpha_frac >= 0.8",
    "r_stop_words" -> "stop_hits >= 2",
    "r_dup_lines" -> "dup_line_frac <= 0.3")

  private def sqlGopherKeep: String =
    sqlGopherConds.map(_._2).mkString(" AND ")

  // ---- Gopher REPETITION tier (t31b/p8) — SQL twins of
  // TextAnalysis.gopherRepetitionRules, one definition each ----

  /** Word n-gram list over `ws` (the gopher word split), SQL twin of the
    * repetition suite's shingles(n). */
  private def sqlRepShingles(n: Int): String =
    s"""CASE WHEN len(ws) >= $n THEN list_transform(
       |      range(1, len(ws) - ${n - 1} + 1),
       |      i -> array_to_string(ws[i:i+${n - 1}], ' '))
       |    ELSE CAST([] AS VARCHAR[]) END""".stripMargin

  /** Repetition signal CTEs over `src` (doc_id, text) → `grm` with one
    * column per repetition signal (same definitions as
    * gopherRepetitionRules: paragraphs on blank lines, lines on \n,
    * both trimmed/non-empty; duplicate-unit char fractions count
    * occurrences beyond the first over text length; top-n-gram fraction
    * is count × length of the most frequent n-gram, ties to the
    * longest; duplicate-n-gram fractions count all occurrences of
    * n-grams appearing ≥ 2 times). DuckDB computes the per-unit counts
    * RELATIONALLY (unnest → GROUP BY → per-doc aggregate + left join
    * back) — the engine-native shape of the Spark side's sorted
    * run-length folds; docs with no units coalesce to 0. */
  private def sqlGopherRepMetrics(src: String): String = {
    // per-(doc, unit) counts of an unnested list column
    def unitCounts(from: String, u: String): String =
      s"""(SELECT doc_id, count(*) AS cnt, length(u) AS len
         |      FROM (SELECT doc_id, unnest($u) AS u FROM $from)
         |      GROUP BY doc_id, u)""".stripMargin
    val beyondFirst = Seq("gpu" -> "ps", "glu" -> "ls").map { case (cte, u) =>
      s"""$cte AS (SELECT doc_id, sum((cnt - 1) * len) AS extra
         |  FROM ${unitCounts("grw", u)} GROUP BY doc_id)""".stripMargin
    }
    val tops = (2 to 4).map { n =>
      s"""gt$n AS (SELECT doc_id,
         |    max(struct_pack(cnt := cnt, len := len)) AS best
         |  FROM ${unitCounts("gsh", s"sh$n")} GROUP BY doc_id)""".stripMargin
    }
    val dups = (5 to 10).map { n =>
      s"""gd$n AS (SELECT doc_id,
         |    sum(CASE WHEN cnt >= 2 THEN cnt * len ELSE 0 END) AS dchars
         |  FROM ${unitCounts("gsh", s"sh$n")} GROUP BY doc_id)""".stripMargin
    }
    val joins =
      (Seq("gpu", "glu") ++ (2 to 4).map(n => s"gt$n") ++
        (5 to 10).map(n => s"gd$n"))
        .map(c => s"  LEFT JOIN $c ON $c.doc_id = w.doc_id").mkString("\n")
    s"""grn AS (SELECT doc_id, text,
       |    replace(replace(replace(replace(text,
       |      chr(13) || chr(10), chr(10)), chr(13), chr(10)),
       |      chr(8232), chr(10)), chr(8233), chr(10)) AS nt
       |  FROM $src),
       |grw AS (SELECT doc_id, text,
       |    list_filter(list_transform(string_split(nt, chr(10)),
       |      l -> trim(l)), l -> len(l) > 0) AS ls,
       |    list_filter(list_transform(string_split(nt,
       |      chr(10) || chr(10)), p -> trim(p)), p -> len(p) > 0) AS ps,
       |    list_filter(regexp_split_to_array(trim(nt), '\\s+'),
       |      t -> len(t) > 0) AS ws,
       |    greatest(CAST(length(nt) AS DOUBLE), 1.0) AS nc
       |  FROM grn),
       |gsh AS (SELECT *,
       |${(2 to 10).map(n => s"    ${sqlRepShingles(n)} AS sh$n")
            .mkString(",\n")}
       |  FROM grw),
       |${beyondFirst.mkString(",\n")},
       |${tops.mkString(",\n")},
       |${dups.mkString(",\n")},
       |grm AS (SELECT w.doc_id, w.text,
       |    CASE WHEN len(w.ps) > 0 THEN
       |      (CAST(len(w.ps) AS DOUBLE) - len(list_distinct(w.ps)))
       |        / len(w.ps)
       |    ELSE 0.0 END AS dup_para_frac,
       |    coalesce(gpu.extra, 0) / w.nc AS dup_para_char_frac,
       |    coalesce(glu.extra, 0) / w.nc AS dup_line_char_frac,
       |${(2 to 4).map(n =>
            s"    coalesce(struct_extract(gt$n.best, 'cnt') * " +
            s"struct_extract(gt$n.best, 'len'), 0) / w.nc " +
            s"AS top${n}gram_frac").mkString(",\n")},
       |${(5 to 10).map(n =>
            s"    coalesce(gd$n.dchars, 0) / w.nc AS dup${n}gram_frac")
            .mkString(",\n")}
       |  FROM grw w
       |$joins)""".stripMargin
  }

  /** (rule name, SQL predicate over grm) — ONE definition of each
    * repetition threshold, shared by t31b's per-rule columns and the
    * p8 gate. */
  private val sqlGopherRepConds: Seq[(String, String)] = Seq(
    "r_dup_paragraphs" -> "dup_para_frac <= 0.3",
    "r_dup_para_chars" -> "dup_para_char_frac <= 0.2",
    "r_dup_line_chars" -> "dup_line_char_frac <= 0.2",
    "r_top2gram_chars" -> "top2gram_frac <= 0.20",
    "r_top3gram_chars" -> "top3gram_frac <= 0.18",
    "r_top4gram_chars" -> "top4gram_frac <= 0.16",
    "r_dup5gram_chars" -> "dup5gram_frac <= 0.15",
    "r_dup6gram_chars" -> "dup6gram_frac <= 0.14",
    "r_dup7gram_chars" -> "dup7gram_frac <= 0.13",
    "r_dup8gram_chars" -> "dup8gram_frac <= 0.12",
    "r_dup9gram_chars" -> "dup9gram_frac <= 0.11",
    "r_dup10gram_chars" -> "dup10gram_frac <= 0.10")

  private def sqlGopherRepKeep: String =
    sqlGopherRepConds.map(_._2).mkString(" AND ")

  /** The t31b repetition fixture, SQL twin of
    * TextAnalysis.repetitionFixture. */
  private def sqlRepFx(src: String): String =
    s"""fx AS (SELECT doc_id,
       |    CASE WHEN doc_id % 11 = 0 THEN text ||
       |        chr(10) || chr(10) || 'para one' ||
       |        chr(10) || chr(10) || 'para one' ||
       |        chr(10) || chr(10) || 'para one'
       |      WHEN doc_id % 7 = 0 THEN text || ' ' ||
       |        repeat('badger mushroom snake gopher rae ', 20)
       |      ELSE text END AS text
       |  FROM $src)""".stripMargin

  /** MinHash → LSH-band → candidate chain shared by t32/p8: `corpus`
    * rows (doc_id, text), `bench` rows (bench_id, text) → `chs`/`bhs`
    * (distinct shingle-hash sets) and `cand` (candidate pairs). Same
    * permutation/band algebra as the t3/t5 dedup oracles. */
  private def sqlFuzzyLshCtes(corpus: String, bench: String): String =
    s"""ctoks AS (SELECT doc_id, string_split(text, ' ') AS t FROM $corpus),
       |csh AS (SELECT doc_id, list_distinct(list_transform(
       |    range(0, greatest(len(t) - 3, 0) + 1),
       |    i -> array_to_string(t[i+1:i+3], ' '))) AS sh FROM ctoks),
       |chs AS (SELECT doc_id,
       |  list_transform(sh, s -> ${sqlCharFold("s")}) AS hs FROM csh),
       |csig AS (SELECT doc_id, hs, list_transform(range(16), p ->
       |  list_min(list_transform(hs,
       |    h -> (h * (2 * p + 1) + (12345 * p + 1)) % 2147483647))) AS sig
       |  FROM chs),
       |btoks AS (SELECT bench_id, string_split(text, ' ') AS t FROM $bench),
       |bsh AS (SELECT bench_id, list_distinct(list_transform(
       |    range(0, greatest(len(t) - 3, 0) + 1),
       |    i -> array_to_string(t[i+1:i+3], ' '))) AS sh FROM btoks),
       |bhs AS (SELECT bench_id,
       |  list_transform(sh, s -> ${sqlCharFold("s")}) AS hs FROM bsh),
       |bsig AS (SELECT bench_id, hs, list_transform(range(16), p ->
       |  list_min(list_transform(hs,
       |    h -> (h * (2 * p + 1) + (12345 * p + 1)) % 2147483647))) AS sig
       |  FROM bhs),
       |cband AS (SELECT doc_id, b AS band_id,
       |  list_reduce(list_prepend(CAST(0 AS BIGINT), sig[b*4+1:b*4+4]),
       |    (acc, x) -> (acc * 1000003 + x) % 2147483647) AS band_hash
       |  FROM csig, range(4) r(b)),
       |bband AS (SELECT bench_id, b AS band_id,
       |  list_reduce(list_prepend(CAST(0 AS BIGINT), sig[b*4+1:b*4+4]),
       |    (acc, x) -> (acc * 1000003 + x) % 2147483647) AS band_hash
       |  FROM bsig, range(4) r(b)),
       |cand AS (SELECT DISTINCT doc_id, bench_id
       |  FROM cband JOIN bband USING (band_id, band_hash))""".stripMargin

  /** Exact-Jaccard verify over a candidate pair's hash sets (ch/bh
    * aliases of chs/bhs). */
  private def sqlPairJaccard: String =
    """round(CAST(len(list_intersect(ch.hs, bh.hs)) AS DOUBLE) /
      |    greatest(CAST(len(list_distinct(list_concat(ch.hs, bh.hs)))
      |      AS DOUBLE), 1.0), 6)""".stripMargin

  private val oracles15: Map[String, String] = Map(

    "t31_gopher_rules" ->
      s"""WITH ${sqlGopherFx("documents")},
         |${sqlGopherMetrics("fx")}
         |SELECT doc_id,
         |${sqlGopherConds.map { case (n, c) =>
              s"  CAST($c AS INTEGER) AS $n," }.mkString("\n")}
         |  CAST($sqlGopherKeep AS INTEGER) AS keep
         |FROM gm ORDER BY doc_id""".stripMargin,

    "t32_decontam_fuzzy" ->
      s"""WITH corp AS (SELECT doc_id, text FROM documents),
         |bench AS (SELECT doc_id + 100000 AS bench_id,
         |    text || ' held out eval item' AS text
         |  FROM documents WHERE doc_id % 50 = 0),
         |${sqlFuzzyLshCtes("corp", "bench")},
         |v AS (SELECT c.doc_id, c.bench_id, $sqlPairJaccard AS j
         |  FROM cand c JOIN chs ch ON ch.doc_id = c.doc_id
         |  JOIN bhs bh ON bh.bench_id = c.bench_id)
         |SELECT doc_id, bench_id, j FROM v WHERE j >= 0.5
         |ORDER BY doc_id, bench_id""".stripMargin,

    // fixture → exact dedup → FULL Gopher gate (quality rules AND the
    // r13 repetition tiers) → fuzzy-decontam flag-and-drop → the t26
    // shard/cum/bin packing algebra
    "p8_gopher_decontam_pack" ->
      s"""WITH ${sqlGopherFx("documents")},
         |keep AS (SELECT min(doc_id) AS doc_id FROM fx GROUP BY md5(text)),
         |ded AS (SELECT f.* FROM fx f JOIN keep USING (doc_id)),
         |${sqlGopherMetrics("ded")},
         |${sqlGopherRepMetrics("ded")},
         |gat AS (SELECT g.doc_id, g.text FROM gm g
         |  JOIN grm r ON r.doc_id = g.doc_id
         |  WHERE $sqlGopherKeep AND $sqlGopherRepKeep),
         |bench AS (SELECT doc_id + 100000 AS bench_id,
         |    text || ' held out eval item' AS text
         |  FROM fx WHERE doc_id % 50 = 0),
         |${sqlFuzzyLshCtes("gat", "bench")},
         |flagged AS (SELECT DISTINCT c.doc_id
         |  FROM cand c JOIN chs ch ON ch.doc_id = c.doc_id
         |  JOIN bhs bh ON bh.bench_id = c.bench_id
         |  WHERE $sqlPairJaccard >= 0.5),
         |clean AS (SELECT * FROM gat
         |  WHERE doc_id NOT IN (SELECT doc_id FROM flagged)),
         |cnt AS (SELECT doc_id,
         |    CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS tk,
         |    ${sqlCharFold("CAST(doc_id AS VARCHAR)")} % 8 AS shard
         |  FROM clean),
         |c AS (SELECT doc_id, tk, shard,
         |    sum(tk) OVER (PARTITION BY shard ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM cnt)
         |SELECT doc_id, shard, CAST(cum - tk AS BIGINT) AS offset,
         |  CAST(floor((cum - tk) / 512) AS BIGINT) AS bin_first,
         |  CASE WHEN tk > 0 THEN CAST(floor((cum - 1) / 512) AS BIGINT)
         |       ELSE CAST(floor((cum - tk) / 512) AS BIGINT) END
         |    AS bin_last,
         |  tk AS tokens
         |FROM c ORDER BY doc_id""".stripMargin,

    "v19_ivf_range" ->
      s"""WITH vecs AS (SELECT vec_id AS id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |stride AS (SELECT GREATEST(1, count(*) // 10) AS s FROM vecs),
         |cents AS (SELECT id AS cid, v AS cv FROM vecs
         |  WHERE id % (SELECT s FROM stride) = 0),
         |assign AS (SELECT id, v, cid,
         |  round(${sqlDot("v", "cv")} /
         |    (sqrt(${sqlNormSq("v")}) * sqrt(${sqlNormSq("cv")})), 6) AS csim
         |  FROM vecs CROSS JOIN cents),
         |ranked AS (SELECT id, v, cid, row_number() OVER (PARTITION BY id
         |    ORDER BY csim DESC, cid) AS rn FROM assign),
         |cells AS (SELECT id, v, cid AS cell FROM ranked WHERE rn = 1),
         |q AS (SELECT id AS query_id, v AS qv, cid AS cell FROM ranked
         |  WHERE rn <= 2 AND id < 10),
         |scored AS (SELECT query_id, c.id AS neighbor_id,
         |  round(${sqlDot("qv", "c.v")} /
         |    (sqrt(${sqlNormSq("qv")}) * sqrt(${sqlNormSq("c.v")})), 6) AS sim
         |  FROM q JOIN cells c USING (cell) WHERE query_id <> c.id)
         |SELECT query_id, neighbor_id, sim FROM scored WHERE sim >= 0.25
         |ORDER BY query_id, sim DESC, neighbor_id""".stripMargin)

  // ===== batch 16: round-13 — refine over the residual+trained IVFADC
  // (v20), trained-coarse range search (v19b) =====

  private val batch16: Map[String, (SparkSession, String) => DataFrame] = Map(

    // THE RECOMMENDED SERVING STACK composed end-to-end (faiss
    // IndexIVFPQ with encode_residual + IndexRefineFlat): residual
    // encoding, BOTH codebooks trained (one Lloyd round each), a
    // 10-candidate ADC shortlist, exact re-rank over the raw vectors.
    // r12's refine tier hardcoded the stride IVFADC shortlist, so
    // this composition — the one the ANN artifact recommends — could
    // not be built; refineExact now wraps any shortlist producer, and
    // the DuckDB oracle replays BOTH trainings + residual encode +
    // probe + ADC + exact re-rank end-to-end.
    "v20_refined_residual" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val every = math.max(1L, emb.count() / 10).toInt
      annTopK(emb, annTrain(emb, AnnIndex(Coarse(Every(every), iters = 1),
          ResidualPq(4, every, iters = 1), rerank = 10)), nprobe = 2)
        .orderBy(col("query_id"), col("dist"), col("neighbor_id"))
    }),

    // PRODUCTION-VOCABULARY byte-level BPE (t28e): the 32,000-merge
    // model (real tokenizers run 32k-100k; t28c proved 1k) over the
    // DOUBLY pair-enriched mixed-script fixture. ORACLE TIER IS A
    // DOCUMENTED PREFIX: DuckDB replays the first 1,000 merges of the
    // 32k table (the t28c recursion materializes steps × distinct-words
    // rows — at 32k steps that is GBs of recursion state, beyond a
    // sane oracle budget), so this entry encodes with merges.take(1000)
    // and the prefix chain is proven cross-engine against the SHIPPED
    // 32k file. The FULL 32k serving path is pinned in ScalaTest:
    // bpeEncodeBytesFast(32k) ≡ an independent driver-side
    // lowest-rank-first reference encoder, the decode round-trip, and
    // the flat-encode measurement (BpeBytesFlatMain) — the encoder's
    // per-token cost is table-size-independent by design.
    "t28e_bpe_bytes_32k" -> ((s, dir) => {
      val model = TextAnalysis.bpeModelBytes(s, bpeMergesBytes32k.take(1000))
      tbl(s, dir, "documents").filter(col("doc_id") < 60)
        .select(col("doc_id"),
          TextAnalysis.pairEnrichBytes(TextAnalysis.pairEnrichBytes(
            TextAnalysis.mixedScriptFixture(col("text"), col("lang"))))
            .as("text"))
        .select(col("doc_id"),
          TextAnalysis.bpePieceCountBytesFast(col("text"), model)
            .cast("long").as("n_pieces"),
          graft.functions.PortableHash.charFold(concat_ws(" ",
            TextAnalysis.bpeEncodeBytesFast(col("text"), model)))
            .as("fp"))
        .filter(col("n_pieces") >= 0)
        .orderBy("doc_id")
    }),

    // Gopher REPETITION rule suite (Rae et al. 2021, Table A1 — the
    // repetition-removal half the r12c t31 quality suite left out):
    // duplicate-paragraph fraction/chars, duplicate-line chars, top
    // 2/3/4-gram char fraction, duplicate 5..10-gram char fraction, all
    // at the published thresholds, entirely row-local (zero shuffles —
    // pinned). The fixture plants paragraph dups (every 11th doc) and a
    // 20×-repeated phrase (every 7th) so every tier fires both ways.
    "t31b_gopher_repetition" -> ((s, dir) => {
      val cols = TextAnalysis.gopherRepetitionRules(col("text"))
        .map { case (n, c) => c.as(n) }
      tbl(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.repetitionFixture(col("text")).as("text"))
        .select(col("doc_id") +: cols: _*)
        .orderBy("doc_id")
    }),

    // TRAINED-coarse range search: v19's radius query served from a
    // k-means codebook (one Lloyd round over the stride init — the
    // stride codebook was the measured pair-recall ceiling at every
    // range operating point). The serving plan is unchanged: row-local
    // assignment, one broadcast cell join, scan-side similarity filter,
    // ZERO windows/shuffles (pinned) — only the codebook VALUES differ.
    "v19b_ivf_range_trained" -> ((s, dir) => annRange(s, dir, iters = 1)))

  private val oracles16: Map[String, String] = Map(

    // the t28c replay shape on the DOUBLY-enriched fixture with the 32k
    // model's documented 1,000-merge PREFIX (full-table evidence lives
    // in the ScalaTest reference-encoder property + flat-encode
    // measurement; a 32k-step recursive replay would materialize
    // steps × distinct-words rows)
    "t28e_bpe_bytes_32k" ->
      s"""WITH RECURSIVE
         |$bpeBytes2PairTokCtes,
         |${bpeBytesMergeReplayCtesFor(bpeMergesBytes32k.take(1000))},
         |jp AS (SELECT o.doc_id, o.i, f.pieces
         |  FROM tok o JOIN fin f USING (tok)),
         |agg AS (SELECT doc_id, CAST(sum(len(pieces)) AS BIGINT)
         |      AS n_pieces,
         |    string_agg(array_to_string(pieces, ' '), ' ' ORDER BY i)
         |      AS es
         |  FROM jp GROUP BY doc_id)
         |SELECT tk.doc_id,
         |  CAST(coalesce(a.n_pieces, 0) AS BIGINT) AS n_pieces,
         |  ${sqlCharFold("coalesce(a.es, '')")} AS fp
         |FROM tk LEFT JOIN agg a USING (doc_id)
         |ORDER BY tk.doc_id""".stripMargin,

    "t31b_gopher_repetition" ->
      s"""WITH ${sqlRepFx("documents")},
         |${sqlGopherRepMetrics("fx")}
         |SELECT doc_id,
         |${sqlGopherRepConds.map { case (n, c) =>
              s"  CAST($c AS INTEGER) AS $n," }.mkString("\n")}
         |  CAST($sqlGopherRepKeep AS INTEGER) AS keep_rep
         |FROM grm ORDER BY doc_id""".stripMargin,

    // residual+trained IVFADC + exact re-rank, replayed END-TO-END:
    // the v13 coarse-training block (stride init → one rounded-mean
    // Lloyd round) over the RAW vectors, assignment against the trained
    // centroids, residuals vs the trained centroid of each vector's own
    // cell, the v14 per-subspace PQ-training block over the RESIDUALS
    // (offset-1 stride init — offset 0 would seed near-zero residual
    // rows under a stride coarse codebook; kept for consistency with
    // v16), per-(query, probed-cell) residual LUT ADC, a 10-candidate
    // shortlist, then the v18 exact-L2 re-rank over RAW vectors
    "v20_refined_residual" ->
      s"""WITH rawv AS (SELECT vec_id AS id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |stride AS (SELECT GREATEST(1, count(*) // 10) AS s FROM rawv),
         |ccents0 AS (SELECT id AS ccid, v AS ccv FROM rawv
         |  WHERE id % (SELECT s FROM stride) = 0),
         |ca0 AS (SELECT id, v, ccid,
         |  round(${sqlDot("v", "ccv")} /
         |    (sqrt(${sqlNormSq("v")}) * sqrt(${sqlNormSq("ccv")})), 6) AS csim
         |  FROM rawv CROSS JOIN ccents0),
         |ccell0 AS (SELECT id, v, ccid AS cell FROM (
         |  SELECT id, v, ccid, row_number() OVER (PARTITION BY id
         |    ORDER BY csim DESC, ccid) AS crn FROM ca0) WHERE crn = 1),
         |cm0 AS (SELECT cell, pos, round(avg(x), 6) AS m FROM (
         |    SELECT cell, unnest(v) AS x, unnest(range(0, len(v))) AS pos
         |    FROM ccell0) GROUP BY cell, pos),
         |cp0 AS (SELECT cell, list(m ORDER BY pos) AS mv FROM cm0
         |  GROUP BY cell),
         |ccents1 AS (SELECT ccid, coalesce(cp0.mv, ccv) AS ccv
         |  FROM ccents0 LEFT JOIN cp0 ON cp0.cell = ccents0.ccid),
         |ca1 AS (SELECT id, v, ccid,
         |  round(${sqlDot("v", "ccv")} /
         |    (sqrt(${sqlNormSq("v")}) * sqrt(${sqlNormSq("ccv")})), 6) AS csim
         |  FROM rawv CROSS JOIN ccents1),
         |crk1 AS (SELECT id, v, ccid, row_number() OVER (PARTITION BY id
         |    ORDER BY csim DESC, ccid) AS crn FROM ca1),
         |cells AS (SELECT id, ccid AS cell FROM crk1 WHERE crn = 1),
         |probes AS (SELECT id, ccid AS cell FROM crk1 WHERE crn <= 2),
         |vecs AS (SELECT c.id, list_transform(list_zip(r.v, ct.ccv),
         |    p -> p[1] - p[2]) AS v
         |  FROM cells c JOIN rawv r ON r.id = c.id
         |  JOIN ccents1 ct ON ct.ccid = c.cell),
         |cents AS (SELECT row_number() OVER (ORDER BY id) - 1 AS cpos, v AS cv
         |  FROM vecs WHERE id % (SELECT s FROM stride) =
         |    1 % (SELECT s FROM stride)),
         |${pqTrainedCodeCtes(4, 16)},
         |q AS (SELECT p.id AS query_id,
         |    list_transform(list_zip(v.v, ct.ccv), p2 -> p2[1] - p2[2]) AS qv,
         |    p.cell
         |  FROM probes p JOIN rawv v ON v.id = p.id
         |  JOIN ccents1 ct ON ct.ccid = p.cell
         |  WHERE p.id < 10),
         |scored AS (SELECT q.query_id, n.id AS neighbor_id,
         |  round(${pqTrainedAdcSql(4, 16)}, 6) AS adist
         |  FROM q JOIN cells cl ON cl.cell = q.cell
         |  JOIN vecs n ON n.id = cl.id ${pqTrainedCodeJoins(4)}
         |  WHERE q.query_id <> n.id),
         |short AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id, row_number() OVER (
         |    PARTITION BY query_id ORDER BY adist, neighbor_id) AS rn
         |  FROM scored) WHERE rn <= 10),
         |ex AS (SELECT s2.query_id, s2.neighbor_id,
         |  round((${sqlDot("qv.v", "qv.v")} + ${sqlDot("nv.v", "nv.v")}) -
         |    2.0 * ${sqlDot("qv.v", "nv.v")}, 6) AS dist
         |  FROM short s2
         |  JOIN rawv qv ON qv.id = s2.query_id
         |  JOIN rawv nv ON nv.id = s2.neighbor_id),
         |rk3 AS (SELECT query_id, neighbor_id, dist, row_number() OVER (
         |  PARTITION BY query_id ORDER BY dist, neighbor_id) AS rn
         |  FROM ex)
         |SELECT query_id, neighbor_id, dist FROM rk3 WHERE rn <= 3
         |ORDER BY query_id, dist, neighbor_id""".stripMargin,

    // the v13 coarse-training replay (stride init → one rounded-mean
    // Lloyd round → re-assignment), then the v19 range tail: every
    // probed-cell neighbor at cosine >= 0.25, no top-k rank anywhere
    "v19b_ivf_range_trained" ->
      s"""WITH vecs AS (SELECT vec_id AS id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |stride AS (SELECT GREATEST(1, count(*) // 10) AS s FROM vecs),
         |cents0 AS (SELECT id AS cid, v AS cv FROM vecs
         |  WHERE id % (SELECT s FROM stride) = 0),
         |a0 AS (SELECT id, v, cid,
         |  round(${sqlDot("v", "cv")} /
         |    (sqrt(${sqlNormSq("v")}) * sqrt(${sqlNormSq("cv")})), 6) AS csim
         |  FROM vecs CROSS JOIN cents0),
         |cell0 AS (SELECT id, v, cid AS cell FROM (
         |  SELECT id, v, cid, row_number() OVER (PARTITION BY id
         |    ORDER BY csim DESC, cid) AS rn FROM a0) WHERE rn = 1),
         |m0 AS (SELECT cell, pos, round(avg(x), 6) AS m FROM (
         |    SELECT cell, unnest(v) AS x, unnest(range(0, len(v))) AS pos
         |    FROM cell0) GROUP BY cell, pos),
         |p0 AS (SELECT cell, list(m ORDER BY pos) AS mv FROM m0 GROUP BY cell),
         |cents1 AS (SELECT cid, coalesce(p0.mv, cv) AS cv
         |  FROM cents0 LEFT JOIN p0 ON p0.cell = cents0.cid),
         |a1 AS (SELECT id, v, cid,
         |  round(${sqlDot("v", "cv")} /
         |    (sqrt(${sqlNormSq("v")}) * sqrt(${sqlNormSq("cv")})), 6) AS csim
         |  FROM vecs CROSS JOIN cents1),
         |rk1 AS (SELECT id, v, cid, row_number() OVER (PARTITION BY id
         |    ORDER BY csim DESC, cid) AS rn FROM a1),
         |corp AS (SELECT id, v, cid AS cell FROM rk1 WHERE rn = 1),
         |qp AS (SELECT id AS query_id, v AS qv, cid AS cell FROM rk1
         |  WHERE rn <= 2 AND id < 10),
         |scored AS (SELECT query_id, c.id AS neighbor_id,
         |  round(${sqlDot("qv", "c.v")} /
         |    (sqrt(${sqlNormSq("qv")}) * sqrt(${sqlNormSq("c.v")})), 6) AS sim
         |  FROM qp JOIN corp c USING (cell) WHERE query_id <> c.id)
         |SELECT query_id, neighbor_id, sim FROM scored WHERE sim >= 0.25
         |ORDER BY query_id, sim DESC, neighbor_id""".stripMargin)

  // ===== batch 17: round-14 — trained quality classifier (t33/p9) =====

  // v22 tuning constants — ONE definition feeds BOTH the Spark query
  // and the SQL oracle generator ([[sqlHnswOracle]]), so retuning the
  // query cannot silently desynchronize the oracle (r15, ADVICE: the
  // r14 oracle hardcoded m/cap/nprobe/ln(4.0) as literals)
  private val V22Cells = 40
  private val V22M = 4
  private val V22Cap = Similarity.HnswMaxLevelCap
  private val V22NProbe = 2
  private val V22K = 3
  private val v22Spec = AnnIndex(Coarse(Cells(V22Cells), hnsw = Some(V22M)))

  private val batch17: Map[String, (SparkSession, String) => DataFrame] = Map(

    // TRAINED quality classifier (the fastText curation recipe — the
    // tier the heuristic gates t8/t31/t31b stop short of): full-batch
    // logistic regression over the 64-bucket hashed-token feature space
    // (t29's convention) against a planted boilerplate-spam fixture
    // (every 7th doc dominated by a 20×-repeated spam phrase, labels =
    // the clean docs), 3 rounded deterministic GD steps (ONE
    // map-combinable ≤64-row gradient aggregate per step — the kmeans
    // driver-state convention), then the trained weights served through
    // the t8 linearScore zero-join zero-shuffle scan. DuckDB replays
    // init → 3 gradient steps → scoring END-TO-END. The trained model
    // separates cleanly: spam docs score ≈0.3, clean ≈0.9.
    "t33_trained_quality" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.spamFixture(col("text"), col("doc_id")).as("text"))
      TextAnalysis.trainedQualityScore(docs, "doc_id", "text",
          label = pmod(col("doc_id"), lit(7L)) =!= 0, buckets = 64,
          steps = 3, lr = 128.0)
        .orderBy("doc_id")
    }),

    // THE TRAINED-GATE CURATION PIPELINE (p9), the fastText distillation
    // recipe real curation stacks run: WEAK LABELS from the published
    // Gopher rules (quality ∧ repetition — the repetition tier is what
    // flags the planted boilerplate docs) computed on a bounded labeled
    // SEED SLICE (doc_id < 250), a 4-step trained classifier distilled
    // from them, then the FULL corpus gated on the trained score — the
    // smooth generalization of p8's hard rule conjunction, and the
    // production shape (rules run on a sample; the cheap trained model
    // scores the 100 TB corpus). The gate threshold is the LABEL PRIOR
    // (mean y over the seed — "keep documents the model scores above
    // the corpus base rate"), the calibration-free operating point for
    // imbalanced weak labels; it keeps ~63% of the corpus and drops
    // every planted-spam doc. Scale shape: labels + training touch only
    // the seed slice (4 scans + ≤64-row aggregates); corpus
    // scoring/gating is one row-local scan (zero joins, zero shuffles —
    // pinned).
    "p9_trained_gate" -> ((s, dir) => {
      // p8's multi-line fixture (injects the stop words the synthetic
      // corpus lacks) composed with the planted-boilerplate spam fixture
      val docs = tblPar(s, dir, "documents", "doc_id")
        .select(col("doc_id"),
          TextAnalysis.spamFixture(
            TextAnalysis.multiLineFixture(col("text")),
            col("doc_id")).as("text"))
      val rules = TextAnalysis.gopherRules(col("text")).toMap
      val repRules = TextAnalysis.gopherRepetitionRules(col("text")).toMap
      val label = rules("keep") === 1 && repRules("keep_rep") === 1
      val seed = docs.filter(col("doc_id") < 250)
      val w = TextAnalysis.trainLogistic(seed, "doc_id", "text", label,
        buckets = 64, steps = 4, lr = 128.0)
      val thr = seed.select(avg(label.cast("double"))).head().getDouble(0)
      TextAnalysis.linearScore(docs, "doc_id", "text", dim = 64,
          weights = Some(w), bias = 0.0)
        .filter(col("score") >= lit(thr))
        .orderBy("doc_id")
    }),

    // TRAINED language ID (the trained tier over t7's heuristic — real
    // langid classifiers like fastText's lid.176 are trained, not
    // rule-based), at its PRODUCTION shape (r15 — the r14 entry trained
    // 8 steps × 5 models on the FULL corpus inside the timed query, the
    // suite's most expensive row): one-vs-rest logistic models per
    // language over the shared 64-bucket hashed-token space train on a
    // BOUNDED SEED slice (doc_id < 250 — p9's distillation shape; cost
    // capped by the seed, not the corpus), PERSIST to parquet
    // (saveLinearModels — the v17 codebook convention; parquet
    // round-trips doubles bit-exactly, load→serve ≡ train→serve
    // pinned), and the FULL corpus serves from the loaded artifact: one
    // row-local argmax scan over a broadcast weight matrix (zero joins,
    // zero shuffles; ties to the alphabetically smallest language —
    // matters only for empty-token docs where every model scores 0.5).
    // DuckDB replays all five seed-training chains + the argmax serve.
    "t34_trained_langid" -> ((s, dir) => {
      val docs = tblPar(s, dir, "documents", "doc_id")
        .select(col("doc_id"), col("lang"),
          TextAnalysis.mixedScriptFixture(col("text"), col("lang"))
            .as("text"))
      val langs = Seq("de", "en", "es", "fr", "zh")
      // all five models train in ONE exploded aggregate per step
      // (≤ 5·64 driver rows) — the trajectory is identical to five
      // independent trainLogistic runs (pinned), so the oracle still
      // replays the chains independently
      val seed = docs.filter(col("doc_id") < 250)
      val models = TextAnalysis.trainLogisticMulti(seed, "doc_id", "text",
        langs.map(l => l -> (col("lang") === l)), buckets = 64, steps = 8,
        lr = 256.0)
      val art = java.nio.file.Files.createTempDirectory("graft_lm").toString
      TextAnalysis.saveLinearModels(s, art, models)
      TextAnalysis.langIdTrained(docs, "doc_id", "text",
          TextAnalysis.loadLinearModels(s, art))
        .orderBy("doc_id")
    }),

    // HNSW-routed IVF (the faiss IndexHNSWFlat-as-coarse-quantizer
    // story — past a few thousand cells the brute-force O(C·d) per-row
    // assignment dominates; the greedy graph walk costs O(M·log C·d)):
    // a deterministic navigable graph over a 40-cell stride codebook
    // (portable-hash geometric levels, top-M-by-rounded-cosine
    // adjacency per layer, strict-improvement steepest-ascent descent),
    // corpus rows land in their walk's layer-0 local maximum, queries
    // probe it plus its best layer-0 neighbor. DuckDB replays the ENTIRE
    // structure relationally — levels, per-layer adjacency ranks, entry
    // point, and the walk itself as a recursive CTE over a precomputed
    // (point, layer, node) → best-neighbor transition table — then the
    // cell join + top-k tail.
    "v22_ivf_hnsw" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      annTopK(emb, annTrain(emb, v22Spec), nprobe = V22NProbe, k = V22K)
        .orderBy(col("query_id"), desc("sim"), col("neighbor_id"))
    }),

    // IVF-SQ8 (the faiss IndexIVFScalarQuantizer analog — the middle
    // memory tier between raw IVF and IVFADC): trained coarse codebook
    // (one Lloyd round), probed cells scan INT8 codes (per-dimension
    // symmetric quantization, ~8× less memory bandwidth than the raw
    // double pipeline), raw queries dequantize candidates on the fly,
    // then the faiss SQ-then-refine stack: exact-L2 re-rank of the
    // 10-candidate int8 shortlist. DuckDB replays k-means training →
    // assignment → int8 quantize → dequantized cosine → shortlist →
    // exact re-rank END-TO-END.
    "v21_ivf_sq8" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      val every = math.max(1L, emb.count() / 10).toInt
      annTopK(emb, annTrain(emb,
          AnnIndex(Coarse(Every(every), iters = 1), Sq8, rerank = 10)),
          nprobe = 2)
        .orderBy(col("query_id"), col("dist"), col("neighbor_id"))
    }))

  /** The t33/p9 spam fixture, SQL twin of TextAnalysis.spamFixture. */
  private def sqlSpamFx(src: String): String =
    s"""sfx AS (SELECT doc_id,
       |    CASE WHEN doc_id % 7 = 0 THEN text || repeat(
       |        ' click here buy now subscribe free winner prize offer', 20)
       |      ELSE text END AS text
       |  FROM $src)""".stripMargin

  /** DuckDB replay of [[TextAnalysis.trainLogistic]] +
    * [[TextAnalysis.linearScore]] serving: the unrolled full-batch-GD
    * chain trained over `trainSrc` (must expose doc_id, y ∈ {0.0, 1.0},
    * text) and served over `serveSrc` (doc_id, text). ONE definition
    * serves the t33 and p9 oracles so the trainer replay cannot drift
    * between them. Emits CTEs ending in
    * `lg_sc(doc_id, n_tokens, score)`. */
  private def sqlLogisticChain(trainSrc: String, serveSrc: String,
      buckets: Int, steps: Int, lr: Double, roundTo: Int = 6,
      prefix: String = "lg", batches: Int = 1): String = {
    val zeros = Seq.fill(buckets)("0.0").mkString("[", ", ", "]")
    // z = token-mean of the bucket weights (no separate intercept: the
    // normalized features sum to 1, so the weight span contains it)
    val zOf: String =
      """CASE WHEN n > 0 THEN list_reduce(
        |        list_prepend(0.0, list_transform(bs,
        |          bb -> w[CAST(bb AS INT) + 1])),
        |        (acc, x) -> acc + x) / n ELSE 0.0 END""".stripMargin
    def bucketsOf(src: String, out: String, cols: String): String =
      s"""$out AS MATERIALIZED (SELECT doc_id, $cols bs, CAST(len(bs) AS DOUBLE) AS n
         |  FROM (SELECT doc_id, $cols
         |    list_transform(list_filter(string_split_regex(trim(text),
         |        '\\s+'), t -> len(t) > 0),
         |      t -> ${sqlCharFold("t")} % $buckets) AS bs
         |  FROM $src))""".stripMargin
    val sb = new StringBuilder
    if (batches == 1) {
      sb.append(bucketsOf(trainSrc, s"${prefix}_tr", "y,") + ",\n")
      sb.append(
        s"""${prefix}_nd AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS nd
           |  FROM ${prefix}_tr),
           |""".stripMargin)
    } else {
      // mini-batch SGD (r15, t37): batch membership is the portable
      // charFold of the doc id — deterministic, engine-replayable; the
      // per-step gradient/update normalize by the BATCH size
      sb.append(
        s"""${prefix}_bx AS (SELECT doc_id, y, text,
           |    ${sqlCharFold("CAST(doc_id AS VARCHAR)")} % $batches AS bt
           |  FROM $trainSrc),
           |""".stripMargin)
      sb.append(bucketsOf(s"${prefix}_bx", s"${prefix}_tr", "y, bt,") +
        ",\n")
      sb.append(
        s"""${prefix}_nd AS MATERIALIZED (SELECT bt,
           |    CAST(count(*) AS DOUBLE) AS nd
           |  FROM ${prefix}_tr GROUP BY bt),
           |""".stripMargin)
    }
    sb.append(
      s"""${prefix}_w0 AS MATERIALIZED (SELECT CAST($zeros AS DOUBLE[]) AS w),
         |""".stripMargin)
    for (k <- 1 to steps) {
      val p = k - 1
      val (eFrom, ndFrom) =
        if (batches == 1) (s"${prefix}_tr", s"${prefix}_nd")
        else (s"(SELECT * FROM ${prefix}_tr WHERE bt = ${p % batches})",
          s"(SELECT nd FROM ${prefix}_nd WHERE bt = ${p % batches})")
      sb.append(
        s"""${prefix}_e$k AS MATERIALIZED (SELECT doc_id, bs, n,
           |    1.0 / (1.0 + exp(-($zOf))) - y AS e
           |  FROM $eFrom tr$k CROSS JOIN ${prefix}_w$p),
           |${prefix}_g$k AS MATERIALIZED (SELECT b, round(sum(g), 9) AS gs
           |  FROM (
           |    SELECT unnest(bs) AS b, e / n AS g FROM ${prefix}_e$k)
           |  GROUP BY b),
           |${prefix}_w$k AS MATERIALIZED (SELECT
           |    (SELECT list(round(wp.w[gi.i + 1] - $lr * coalesce(g.gs, 0.0)
           |          / nd.nd, $roundTo) ORDER BY gi.i)
           |      FROM (SELECT unnest(range(0, $buckets)) AS i) gi
           |      CROSS JOIN ${prefix}_w$p wp CROSS JOIN $ndFrom nd
           |      LEFT JOIN ${prefix}_g$k g ON g.b = gi.i) AS w),
           |""".stripMargin)
    }
    sb.append(bucketsOf(serveSrc, s"${prefix}_sv", "") + ",\n")
    sb.append(
      s"""${prefix}_sc AS MATERIALIZED (SELECT doc_id, CAST(len(bs) AS BIGINT)
         |      AS n_tokens,
         |    round(1.0 / (1.0 + exp(-($zOf))), $roundTo) AS score
         |  FROM ${prefix}_sv CROSS JOIN ${prefix}_w$steps)""".stripMargin)
    sb.toString
  }

  /** DuckDB replay of the v22 HNSW-routed [[Similarity.search]],
    * GENERATED from the tuning constants the Spark query passes
    * (cells/m/cap/nprobe/k — r15, ADVICE: the r14 oracle spelled them
    * as literals, so retuning the query could silently desynchronize
    * it). `rkd` ranks every (point, layer, node)'s graph neighbors by
    * (sim-to-point DESC, cid ASC) ONCE: rank 1 at the current layer is
    * the walk transition; layer-0 ranks ≤ nprobe−1 are the extra
    * probes beside the walk's local maximum. */
  private def sqlHnswOracle(cells: Int, m: Int, cap: Int, nprobe: Int,
      k: Int, roundTo: Int = 6): String = {
    val lnBase = s"ln(${math.max(m, 2)}.0)"
    s"""WITH RECURSIVE vecs AS (SELECT vec_id AS id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |stride AS (SELECT GREATEST(1, count(*) // $cells) AS s FROM vecs),
       |nodes AS MATERIALIZED (SELECT id AS cid, v AS cv,
       |    LEAST(CAST(floor(-ln((${sqlCharFold("CAST(id AS VARCHAR)")}
       |        + 1) / 2147483648.0) / $lnBase) AS INT), $cap) AS lvl
       |  FROM vecs WHERE id % (SELECT s FROM stride) = 0),
       |entry AS MATERIALIZED (SELECT cid FROM nodes
       |  ORDER BY lvl DESC, cid LIMIT 1),
       |npairs AS MATERIALIZED (SELECT a.cid AS i, b.cid AS j,
       |    a.lvl AS li, b.lvl AS lj,
       |    round(${sqlDot("a.cv", "b.cv")} /
       |      (sqrt(${sqlNormSq("a.cv")}) * sqrt(${sqlNormSq("b.cv")})),
       |      $roundTo) AS sim
       |  FROM nodes a JOIN nodes b ON a.cid <> b.cid),
       |adj AS MATERIALIZED (SELECT l, i, j FROM (
       |    SELECT ls.l, p.i, p.j, row_number() OVER (
       |      PARTITION BY ls.l, p.i ORDER BY p.sim DESC, p.j) AS rn
       |    FROM (SELECT unnest(range(0, ${cap + 1})) AS l) ls
       |    JOIN npairs p ON p.li >= ls.l AND p.lj >= ls.l)
       |  WHERE rn <= $m),
       |psim AS MATERIALIZED (SELECT p.id AS pid, n.cid,
       |    round(${sqlDot("p.v", "n.cv")} /
       |      (sqrt(${sqlNormSq("p.v")}) * sqrt(${sqlNormSq("n.cv")})),
       |      $roundTo) AS sim
       |  FROM vecs p CROSS JOIN nodes n),
       |rkd AS MATERIALIZED (SELECT ps.pid, a.l, a.i AS cur, a.j,
       |    ps.sim,
       |    row_number() OVER (PARTITION BY ps.pid, a.l, a.i
       |      ORDER BY ps.sim DESC, a.j) AS rn
       |  FROM adj a JOIN psim ps ON ps.cid = a.j),
       |trans AS MATERIALIZED (SELECT pid, l, cur, j AS best,
       |    sim AS bsim
       |  FROM rkd WHERE rn = 1),
       |walk AS (
       |  SELECT ps.pid, $cap AS layer, e.cid AS cur, ps.sim AS csim
       |  FROM entry e JOIN psim ps ON ps.cid = e.cid
       |  UNION ALL
       |  SELECT w.pid,
       |    CASE WHEN coalesce(t.bsim, -2.0) > w.csim THEN w.layer
       |      ELSE w.layer - 1 END,
       |    CASE WHEN coalesce(t.bsim, -2.0) > w.csim THEN t.best
       |      ELSE w.cur END,
       |    CASE WHEN coalesce(t.bsim, -2.0) > w.csim THEN t.bsim
       |      ELSE w.csim END
       |  FROM walk w
       |  LEFT JOIN trans t ON t.pid = w.pid AND t.l = w.layer
       |    AND t.cur = w.cur
       |  WHERE w.layer > 0 OR coalesce(t.bsim, -2.0) > w.csim),
       |fin AS MATERIALIZED (SELECT w.pid, w.cur FROM walk w
       |  LEFT JOIN trans t ON t.pid = w.pid AND t.l = 0
       |    AND t.cur = w.cur
       |  WHERE w.layer = 0 AND coalesce(t.bsim, -2.0) <= w.csim),
       |corp AS (SELECT f.pid AS id, v.v, f.cur AS cell
       |  FROM fin f JOIN vecs v ON v.id = f.pid),
       |qp AS (SELECT f.pid AS query_id, v.v AS qv, pr.cell
       |  FROM fin f JOIN vecs v ON v.id = f.pid,
       |  LATERAL (SELECT f.cur AS cell
       |           UNION ALL
       |           SELECT r0.j FROM rkd r0
       |           WHERE r0.pid = f.pid AND r0.l = 0 AND r0.cur = f.cur
       |             AND r0.rn <= ${nprobe - 1}) pr
       |  WHERE f.pid < 10),
       |scored AS (SELECT query_id, c.id AS neighbor_id,
       |  round(${sqlDot("qv", "c.v")} /
       |    (sqrt(${sqlNormSq("qv")}) * sqrt(${sqlNormSq("c.v")})),
       |    $roundTo) AS sim
       |  FROM qp JOIN corp c USING (cell) WHERE query_id <> c.id),
       |rk AS (SELECT query_id, neighbor_id, sim, row_number() OVER (
       |  PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rn
       |  FROM scored)
       |SELECT query_id, neighbor_id, sim FROM rk WHERE rn <= $k
       |ORDER BY query_id, sim DESC, neighbor_id""".stripMargin
  }

  private val oracles17: Map[String, String] = Map(

    // spam fixture → init w=0 → 3 full-batch gradient steps (per-bucket
    // err/n sums, HALF_UP-rounded updates) → linearScore sigmoid scan,
    // replayed end-to-end over the planted clean/spam labels
    "t33_trained_quality" ->
      s"""WITH ${sqlSpamFx("documents")},
         |lab AS (SELECT doc_id,
         |    CASE WHEN doc_id % 7 <> 0 THEN 1.0 ELSE 0.0 END AS y, text
         |  FROM sfx),
         |${sqlLogisticChain("lab", "sfx", 64, 3, 128.0)}
         |SELECT doc_id, n_tokens, score FROM lg_sc
         |ORDER BY doc_id""".stripMargin,

    // multi-line + spam fixtures → Gopher quality ∧ repetition
    // conjunction as WEAK LABELS on the doc_id < 250 seed slice → the
    // same trainer chain → the FULL corpus gated at the label prior
    "p9_trained_gate" ->
      s"""WITH ${sqlGopherFx("documents")},
         |${sqlSpamFx("fx")},
         |seed AS (SELECT doc_id, text FROM sfx WHERE doc_id < 250),
         |${sqlGopherMetrics("seed")},
         |${sqlGopherRepMetrics("seed")},
         |lab AS (SELECT gm.doc_id,
         |    CASE WHEN ($sqlGopherKeep) AND ($sqlGopherRepKeep)
         |      THEN 1.0 ELSE 0.0 END AS y, gm.text
         |  FROM gm JOIN grm ON grm.doc_id = gm.doc_id),
         |${sqlLogisticChain("lab", "sfx", 64, 4, 128.0)}
         |SELECT doc_id, n_tokens, score FROM lg_sc
         |WHERE score >= (SELECT avg(y) FROM lg_tr)
         |ORDER BY doc_id""".stripMargin,

    // the full HNSW replay: portable-hash geometric levels over the
    // stride codebook, per-layer top-M adjacency ranks, the max-level
    // entry, a (point, layer, node) → ranked-neighbor table (rank 1 is
    // the walk transition, ranks ≤ nprobe−1 at layer 0 are the extra
    // probes), the strict-improvement walk as a recursive CTE (move
    // while the best neighbor strictly improves, else descend a layer,
    // stop at layer 0), then the standard cell-join + top-k tail.
    // GENERATED from the same V22* constants the Spark query passes.
    "v22_ivf_hnsw" ->
      sqlHnswOracle(V22Cells, V22M, V22Cap, V22NProbe, V22K),

    // five one-vs-rest training chains over the BOUNDED SEED slice
    // (ONE shared generator with the t33/p9 oracles — the trainer
    // replay cannot drift), full-corpus serving, then the argmax rank
    // ORDER BY (score DESC, lang ASC), the SQL twin of the Spark
    // side's broadcast argmax (strictly-greater over lang-sorted
    // models)
    "t34_trained_langid" -> {
      val langs = Seq("de", "en", "es", "fr", "zh")
      val chains = langs.map { l =>
        s"""lab_$l AS (SELECT doc_id,
           |    CASE WHEN lang = '$l' THEN 1.0 ELSE 0.0 END AS y, text
           |  FROM fxd WHERE doc_id < 250),
           |${sqlLogisticChain(s"lab_$l", "fxd", 64, 8, 256.0,
               prefix = s"lg_$l")}""".stripMargin
      }.mkString(",\n")
      val union = langs.map(l =>
        s"SELECT doc_id, '$l' AS lang, score FROM lg_${l}_sc")
        .mkString("\n  UNION ALL ")
      s"""WITH fxd AS (SELECT doc_id, lang, $sqlMixedScript AS text
         |  FROM documents),
         |$chains,
         |allsc AS (
         |  $union),
         |rk AS (SELECT doc_id, lang, score, row_number() OVER (
         |  PARTITION BY doc_id ORDER BY score DESC, lang) AS rn
         |  FROM allsc)
         |SELECT doc_id, lang AS lang_pred, score FROM rk WHERE rn = 1
         |ORDER BY doc_id""".stripMargin
    },

    // the v13/v19b coarse k-means replay (stride init → one rounded-mean
    // Lloyd round → re-assignment), the v11 int8 quantization per corpus
    // vector (unrounded scale amax/127 — a plain double both engines
    // compute identically), dequantized-cosine scoring in the probed
    // cells, a 10-candidate shortlist, then the v18/v20 exact-L2 re-rank
    "v21_ivf_sq8" ->
      s"""WITH vecs AS (SELECT vec_id AS id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |stride AS (SELECT GREATEST(1, count(*) // 10) AS s FROM vecs),
         |cents0 AS (SELECT id AS cid, v AS cv FROM vecs
         |  WHERE id % (SELECT s FROM stride) = 0),
         |a0 AS (SELECT id, v, cid,
         |  round(${sqlDot("v", "cv")} /
         |    (sqrt(${sqlNormSq("v")}) * sqrt(${sqlNormSq("cv")})), 6) AS csim
         |  FROM vecs CROSS JOIN cents0),
         |cell0 AS (SELECT id, v, cid AS cell FROM (
         |  SELECT id, v, cid, row_number() OVER (PARTITION BY id
         |    ORDER BY csim DESC, cid) AS rn FROM a0) WHERE rn = 1),
         |m0 AS (SELECT cell, pos, round(avg(x), 6) AS m FROM (
         |    SELECT cell, unnest(v) AS x, unnest(range(0, len(v))) AS pos
         |    FROM cell0) GROUP BY cell, pos),
         |p0 AS (SELECT cell, list(m ORDER BY pos) AS mv FROM m0 GROUP BY cell),
         |cents1 AS (SELECT cid, coalesce(p0.mv, cv) AS cv
         |  FROM cents0 LEFT JOIN p0 ON p0.cell = cents0.cid),
         |a1 AS (SELECT id, v, cid,
         |  round(${sqlDot("v", "cv")} /
         |    (sqrt(${sqlNormSq("v")}) * sqrt(${sqlNormSq("cv")})), 6) AS csim
         |  FROM vecs CROSS JOIN cents1),
         |rk1 AS (SELECT id, v, cid, row_number() OVER (PARTITION BY id
         |    ORDER BY csim DESC, cid) AS rn FROM a1),
         |qz AS (SELECT id, v,
         |    list_reduce(list_prepend(0.0, list_transform(v, x -> abs(x))),
         |      (a, x) -> greatest(a, x)) AS amax
         |  FROM vecs),
         |corp AS (SELECT r.id, r.cid AS cell,
         |    CASE WHEN q.amax > 0 THEN list_transform(q.v,
         |        x -> CAST(round(x / (q.amax / 127.0), 0) AS INT))
         |      ELSE list_transform(q.v, x -> 0) END AS codes,
         |    CASE WHEN q.amax > 0 THEN q.amax / 127.0 ELSE 0.0 END AS sc
         |  FROM rk1 r JOIN qz q ON q.id = r.id WHERE r.rn = 1),
         |qp AS (SELECT id AS query_id, v AS qv, cid AS cell FROM rk1
         |  WHERE rn <= 2 AND id < 10),
         |dq AS (SELECT query_id, qv, c.id AS neighbor_id,
         |    list_transform(c.codes, cd -> CAST(cd AS DOUBLE) * c.sc) AS dv
         |  FROM qp JOIN corp c USING (cell) WHERE query_id <> c.id),
         |scored AS (SELECT query_id, qv, neighbor_id,
         |  round(${sqlDot("qv", "dv")} /
         |    (sqrt(${sqlNormSq("qv")}) * sqrt(${sqlNormSq("dv")})), 6) AS sim
         |  FROM dq),
         |short AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id, row_number() OVER (
         |    PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rn
         |  FROM scored) WHERE rn <= 10),
         |ex AS (SELECT s2.query_id, s2.neighbor_id,
         |  round((${sqlDot("qv.v", "qv.v")} + ${sqlDot("nv.v", "nv.v")}) -
         |    2.0 * ${sqlDot("qv.v", "nv.v")}, 6) AS dist
         |  FROM short s2
         |  JOIN vecs qv ON qv.id = s2.query_id
         |  JOIN vecs nv ON nv.id = s2.neighbor_id),
         |rk3 AS (SELECT query_id, neighbor_id, dist, row_number() OVER (
         |  PARTITION BY query_id ORDER BY dist, neighbor_id) AS rn
         |  FROM ex)
         |SELECT query_id, neighbor_id, dist FROM rk3 WHERE rn <= 3
         |ORDER BY query_id, dist, neighbor_id""".stripMargin)

  // ===== batch 18: round-15 — persisted indexes, gate eval, image dedup =====

  private val batch18: Map[String, (SparkSession, String) => DataFrame] = Map(

    // HNSW graph PERSISTENCE (v22b — closes the r14 gap: the doc
    // promised "at 100 TB the graph persists next to the codebook" but
    // only IVFADC had save/load): build the deterministic navigable
    // graph over the stride codebook ONCE, save it as parquet
    // (pos, cid, cv, lvl, per-layer adjacency), reload, and serve the
    // same search pipeline from the artifact.
    // Parquet round-trips doubles/ints bit-exactly, so load→serve ≡
    // build→serve — proven cross-engine by sharing v22's
    // full-graph-replay oracle (the v17/v15 convention).
    "v22b_hnsw_persist" -> ((s, dir) => {
      val emb = tbl(s, dir, "embeddings")
      annTopK(emb, viaParquet(s, annTrain(emb, v22Spec), "graft_hnsw"),
          nprobe = V22NProbe, k = V22K)
        .orderBy(col("query_id"), desc("sim"), col("neighbor_id"))
    }),

    // CLASSIFIER EVALUATION HARNESS (t35 — the annRecall analog for
    // trained gates; closes the r14 gap "a user can't pick a gate
    // threshold the way they pick nprobe"): t33's trained quality
    // classifier scored against the planted GROUND TRUTH (doc_id%7≠0 =
    // clean), swept over a 20-point threshold grid —
    // precision/recall/F1/confusion per threshold. The grid is what
    // justifies p9's label-prior operating point: recall collapses
    // fast above the prior while precision is already ~1 below it.
    // ONE map-combinable ⌊score·20⌋ bucket aggregate (≤ 20 groups),
    // then conditional sums over the grid-sized table — no second
    // data pass. DuckDB replays training → scoring → the grid.
    "t35_gate_eval" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.spamFixture(col("text"), col("doc_id")).as("text"))
      val scored = TextAnalysis.trainedQualityScore(docs, "doc_id",
          "text", label = pmod(col("doc_id"), lit(7L)) =!= 0,
          buckets = 64, steps = 3, lr = 128.0)
        .withColumn("y", (pmod(col("doc_id"), lit(7L)) =!= 0).cast("int"))
      TextAnalysis.classifierEval(scored, "score", "y", grid = 20)
    }),

    // IMAGE PERCEPTUAL HASHING (x6 — multimodal dedup reaches operator
    // depth; r14's x1-x5 decode and meta-extract but nothing DEDUPS
    // media): REAL gray PNGs generated distributed (near-dup fixture:
    // every 5th image is a corner-perturbed copy of its predecessor),
    // REALLY decoded back through ImageIO, then dHash-64 (9×8
    // floor-mean grid, horizontal-gradient bits) + aHash-64 (8×8 grid
    // vs global mean) over the decoded rasters — row-local, zero
    // shuffles. The whole derivation is exact integer arithmetic, so
    // the oracle re-derives both hashes from the generator formulas
    // (the x5 convention: SQL computes what only a real decode could
    // otherwise produce).
    "x6_image_phash" -> ((s, dir) =>
      Multimodal.imagePHash(
          Multimodal.syntheticPngsNearDup(
            tbl(s, dir, "documents").filter(col("doc_id") < 400),
            "doc_id"),
          "doc_id")
        .toDF().select("doc_id", "width", "height", "dhash", "ahash")
        .orderBy("doc_id")),

    // IMAGE NEAR-DUP PIPELINE (x7): decode → dHash → 16-bit LSH bands
    // (reusing the text pipeline's bucket self-join WITH its hot-bucket
    // guard) → exact-Hamming verify ≤ 10 — the t5 cascade shape over
    // pixels instead of shingles. The corner perturbation only moves
    // band-0 bits, so every planted near-copy collides in bands 1-3 by
    // construction; unrelated ramps differ in ~half their bits and die
    // at the verify stage. DuckDB replays hashes → bands → bucket join
    // → Hamming end-to-end.
    "x7_image_dedup" -> ((s, dir) => {
      val hashes = Multimodal.imagePHash(
        Multimodal.syntheticPngsNearDup(
          tbl(s, dir, "documents").filter(col("doc_id") < 400),
          "doc_id"),
        "doc_id").toDF()
      Multimodal.imageNearDuplicatesCapped(hashes, "doc_id")
        .orderBy("id1", "id2")
    }),

    // GOPHER DUP-N-GRAM CHARACTER-COVERAGE TIER (t36 — closes the last
    // documented deviation from Rae et al. Table A1): the published
    // accounting counts each character ONCE however many duplicated
    // n-grams cover it; the default tier (t31b) charges overlapping
    // duplicated grams multiply, strictly stricter. Both run here over
    // the t31b repetition fixture — per-doc coverage fractions (5- to
    // 10-gram), the coverage keep bit, and the strict keep bit side by
    // side (strict=1 ⟹ coverage=1 on every row, the documented
    // direction). Row-local codegen'd pass, zero shuffles. DuckDB
    // replays the span interval-union per document.
    "t36_gopher_rep_coverage" -> ((s, dir) => {
      val cov = TextAnalysis.gopherDupCoverage(col("text"))
      val strict = TextAnalysis.gopherRepetitionRules(col("text")).toMap
      tblPar(s, dir, "documents", "doc_id")
        .select(col("doc_id"),
          TextAnalysis.repetitionFixture(col("text")).as("text"))
        .select((col("doc_id") +:
          (5 to 10).map(n =>
            cov.getField(s"cov${n}gram_frac").as(s"cov${n}gram_frac"))) ++
          Seq(cov.getField("keep_rep_cov").as("keep_rep_cov"),
            strict("keep_rep").as("keep_rep")): _*)
        .orderBy("doc_id")
    }),

    // MINI-BATCH SGD trainer tier (t37 — full-batch GD is the
    // distillation demo; mini-batch is what the 100 TB recipe runs):
    // t33's quality-classifier recipe trained by deterministic SGD —
    // batch membership is the portable charFold of the doc id (the
    // Gumbel-sampler determinism trick), 2 epochs × 4 in-order
    // batches, per-step gradients over ONLY the batch normalized by
    // the batch size, same rounded-update replay contract. batches=1
    // reproduces t33's full-batch trajectory bit for bit (pinned).
    // DuckDB replays all 8 batch steps through the SHARED chain
    // generator (batches > 1 arm).
    "t37_trained_sgd" -> ((s, dir) => {
      val docs = tblPar(s, dir, "documents", "doc_id")
        .select(col("doc_id"),
          TextAnalysis.spamFixture(col("text"), col("doc_id")).as("text"))
      val w = TextAnalysis.trainLogisticSgd(docs, "doc_id", "text",
        label = pmod(col("doc_id"), lit(7L)) =!= 0, buckets = 64,
        epochs = 2, batches = 4, lr = 128.0)
      TextAnalysis.linearScore(docs, "doc_id", "text", dim = 64,
          weights = Some(w), bias = 0.0)
        .orderBy("doc_id")
    }))

  /** DuckDB re-derivation of the x6 perceptual hashes from the
    * [[graft.operators.Multimodal.syntheticPngsNearDup]] generator
    * formulas (the x5 convention — SQL computes what only a real
    * decode could otherwise produce). ONE definition feeds the x6 and
    * x7 oracles so the hash replay cannot drift between them. Emits
    * CTEs ending in `sig(doc_id, width, height, du, au, dhash, ahash)`
    * — du/au the unsigned HUGEINT bit folds (banding needs unsigned
    * shifts), dhash/ahash the signed-BIGINT two's-complement fold
    * matching the Spark Longs. */
  private def sqlImagePHash(maxDoc: Int): String = {
    val signedOf = (u: String) =>
      s"""(CASE WHEN $u >= 9223372036854775808::HUGEINT
         |      THEN $u - 18446744073709551616::HUGEINT
         |      ELSE $u END)::BIGINT""".stripMargin
    s"""par AS (SELECT doc_id,
       |    CASE WHEN doc_id % 5 = 4 THEN doc_id - 1 ELSE doc_id END
       |      AS base,
       |    doc_id % 5 = 4 AS pert
       |  FROM documents WHERE doc_id < $maxDoc),
       |geo AS MATERIALIZED (SELECT doc_id, base, pert,
       |    base % 32 + 16 AS w, base * 3 % 24 + 16 AS h,
       |    (base % 13) * 2 + 5 AS mx, (base % 11) * 2 + 3 AS my
       |  FROM par),
       |px AS MATERIALIZED (SELECT g.doc_id, g.w, g.h, x.x AS x,
       |    y.y AS y,
       |    (g.base + x.x * g.mx + y.y * g.my +
       |      CASE WHEN g.pert AND x.x < 3 AND y.y < 3
       |        THEN 128 ELSE 0 END) % 256 AS gray
       |  FROM geo g, range(0, 48) x(x), range(0, 40) y(y)
       |  WHERE x.x < g.w AND y.y < g.h),
       |dcell AS MATERIALIZED (SELECT doc_id, (x * 9) // w AS ci,
       |    (y * 8) // h AS cj, sum(gray) // count(*) AS m
       |  FROM px GROUP BY doc_id, (x * 9) // w, (y * 8) // h),
       |dbit AS (SELECT a.doc_id, a.cj * 8 + a.ci AS k
       |  FROM dcell a JOIN dcell b ON b.doc_id = a.doc_id
       |    AND b.cj = a.cj AND b.ci = a.ci + 1
       |  WHERE a.ci < 8 AND b.m > a.m),
       |du AS (SELECT p.doc_id,
       |    coalesce(sum(1::HUGEINT << CAST(k AS INT)), 0::HUGEINT) AS u
       |  FROM par p LEFT JOIN dbit d ON d.doc_id = p.doc_id
       |  GROUP BY p.doc_id),
       |acell AS MATERIALIZED (SELECT doc_id, (x * 8) // w AS ci,
       |    (y * 8) // h AS cj, sum(gray) // count(*) AS m
       |  FROM px GROUP BY doc_id, (x * 8) // w, (y * 8) // h),
       |aavg AS (SELECT doc_id, sum(m) // 64 AS avg FROM acell
       |  GROUP BY doc_id),
       |abit AS (SELECT c.doc_id, c.cj * 8 + c.ci AS k
       |  FROM acell c JOIN aavg v ON v.doc_id = c.doc_id
       |  WHERE c.m > v.avg),
       |au AS (SELECT p.doc_id,
       |    coalesce(sum(1::HUGEINT << CAST(k AS INT)), 0::HUGEINT) AS u
       |  FROM par p LEFT JOIN abit a2 ON a2.doc_id = p.doc_id
       |  GROUP BY p.doc_id),
       |sig AS MATERIALIZED (SELECT g.doc_id,
       |    CAST(g.w AS INT) AS width, CAST(g.h AS INT) AS height,
       |    du.u AS du, au.u AS au,
       |    ${signedOf("du.u")} AS dhash,
       |    ${signedOf("au.u")} AS ahash
       |  FROM geo g JOIN du ON du.doc_id = g.doc_id
       |  JOIN au ON au.doc_id = g.doc_id)""".stripMargin
  }

  private val oracles18: Map[String, String] = Map(

    // generator formulas → pixel grid → floor-mean cells → gradient /
    // above-average bits → HUGEINT bit fold → signed two's-complement
    // BIGINT, per document
    "x6_image_phash" ->
      s"""WITH ${sqlImagePHash(400)}
         |SELECT doc_id, width, height, dhash, ahash FROM sig
         |ORDER BY doc_id""".stripMargin,

    // the same hash derivation, then 16-bit bands of the UNSIGNED
    // value (the Spark side's shiftrightunsigned twin), the distinct
    // bucket self-join, and the exact-Hamming verify
    "x7_image_dedup" ->
      s"""WITH ${sqlImagePHash(400)},
         |bnd AS (SELECT doc_id, b.b AS band_id,
         |    CAST((du >> CAST(b.b * 16 AS INT)) % 65536 AS BIGINT)
         |      AS band_hash
         |  FROM sig, range(0, 4) b(b)),
         |cand AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
         |  FROM bnd a JOIN bnd b ON b.band_id = a.band_id
         |    AND b.band_hash = a.band_hash AND a.doc_id < b.doc_id),
         |hm AS (SELECT c.id1, c.id2,
         |    CAST(bit_count(xor(s1.dhash, s2.dhash)) AS BIGINT)
         |      AS hamming
         |  FROM cand c JOIN sig s1 ON s1.doc_id = c.id1
         |  JOIN sig s2 ON s2.doc_id = c.id2)
         |SELECT id1, id2, hamming FROM hm WHERE hamming <= 10
         |ORDER BY id1, id2""".stripMargin,

    // the strict-tier CTEs (shared generators with t31b/p8) provide
    // tokens + the strict keep bit; the coverage tier positions every
    // duplicated-gram occurrence in the space-joined token rendering
    // (cumulative token starts) and interval-unions the spans per
    // document — each char counted once, the published accounting
    "t36_gopher_rep_coverage" -> {
      val covCtes = (5 to 10).map { n =>
        s"""cg$n AS (SELECT doc_id, unnest(sh$n) AS gram,
           |    unnest(range(1, len(sh$n) + 1)) AS i FROM gsh),
           |cd$n AS (SELECT doc_id, gram FROM cg$n
           |  GROUP BY doc_id, gram HAVING count(*) >= 2),
           |cs$n AS (SELECT c.doc_id, st.s AS s, st.s + len(c.gram) AS e
           |  FROM cg$n c JOIN cd$n d ON d.doc_id = c.doc_id
           |    AND d.gram = c.gram
           |  JOIN cst st ON st.doc_id = c.doc_id AND st.i = c.i),
           |cu$n AS (SELECT doc_id,
           |    sum(greatest(e - greatest(s, pm), 0)) AS cov
           |  FROM (SELECT doc_id, s, e,
           |      coalesce(max(e) OVER (PARTITION BY doc_id ORDER BY s, e
           |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           |        AS pm
           |    FROM cs$n)
           |  GROUP BY doc_id)""".stripMargin
      }.mkString(",\n")
      val covFracs = (5 to 10).map(n =>
        s"round(coalesce(cu$n.cov, 0) / w.nc, 6) AS cov${n}gram_frac")
        .mkString(",\n  ")
      val covThr = Map(5 -> "0.15", 6 -> "0.14", 7 -> "0.13",
        8 -> "0.12", 9 -> "0.11", 10 -> "0.10")
      val covKeep = (5 to 10).map(n =>
        s"coalesce(cu$n.cov, 0) / w.nc <= ${covThr(n)}").mkString(" AND ")
      val covJoins = (5 to 10).map(n =>
        s"LEFT JOIN cu$n ON cu$n.doc_id = w.doc_id").mkString("\n")
      s"""WITH ${sqlRepFx("documents")},
         |${sqlGopherRepMetrics("fx")},
         |cst AS MATERIALIZED (SELECT doc_id, i2 AS i,
         |    coalesce(sum(tl) OVER (PARTITION BY doc_id
         |      ORDER BY i2 ROWS BETWEEN UNBOUNDED PRECEDING
         |      AND 1 PRECEDING), 0) AS s
         |  FROM (SELECT doc_id,
         |      unnest(list_transform(ws, x -> len(x) + 1)) AS tl,
         |      unnest(range(1, len(ws) + 1)) AS i2 FROM grw)),
         |$covCtes
         |SELECT w.doc_id,
         |  $covFracs,
         |  CAST(($covKeep) AS INTEGER) AS keep_rep_cov,
         |  CAST(($sqlGopherRepKeep) AS INTEGER) AS keep_rep
         |FROM grw w
         |JOIN grm ON grm.doc_id = w.doc_id
         |$covJoins
         |ORDER BY w.doc_id""".stripMargin
    },

    // spam fixture → portable-hash batch assignment → 2 epochs × 4
    // in-order batch steps (per-batch nd, rounded gradient sums and
    // updates) → the linearScore sigmoid scan, replayed end-to-end
    "t37_trained_sgd" ->
      s"""WITH ${sqlSpamFx("documents")},
         |lab AS (SELECT doc_id,
         |    CASE WHEN doc_id % 7 <> 0 THEN 1.0 ELSE 0.0 END AS y, text
         |  FROM sfx),
         |${sqlLogisticChain("lab", "sfx", 64, 8, 128.0, batches = 4)}
         |SELECT doc_id, n_tokens, score FROM lg_sc
         |ORDER BY doc_id""".stripMargin,

    // persistence is transparent to results — v22b IS v22's oracle
    // (generated from the same V22* constants)
    "v22b_hnsw_persist" ->
      sqlHnswOracle(V22Cells, V22M, V22Cap, V22NProbe, V22K),

    // t33's training chain (the SHARED generator), then the threshold
    // grid: bucket rows at ⌊score·20⌋, group-sum pos/neg, conditional
    // sums per threshold; precision/recall computed UNROUNDED for the
    // F1 division (as the Spark side does), all three rounded at 6
    "t35_gate_eval" ->
      s"""WITH ${sqlSpamFx("documents")},
         |lab AS (SELECT doc_id,
         |    CASE WHEN doc_id % 7 <> 0 THEN 1.0 ELSE 0.0 END AS y, text
         |  FROM sfx),
         |${sqlLogisticChain("lab", "sfx", 64, 3, 128.0)},
         |ev AS (SELECT
         |    least(greatest(CAST(floor(score * 20) AS BIGINT), 0), 19)
         |      AS b,
         |    CASE WHEN doc_id % 7 <> 0 THEN 1.0 ELSE 0.0 END AS y
         |  FROM lg_sc),
         |cnt AS (SELECT b, sum(y) AS pos, sum(1.0 - y) AS neg
         |  FROM ev GROUP BY b),
         |th AS (SELECT unnest(range(0, 20)) AS i),
         |cf AS (SELECT i,
         |    sum(CASE WHEN c.b >= t.i THEN c.pos ELSE 0.0 END) AS tp,
         |    sum(CASE WHEN c.b >= t.i THEN c.neg ELSE 0.0 END) AS fp,
         |    sum(CASE WHEN c.b < t.i THEN c.pos ELSE 0.0 END) AS fn,
         |    sum(CASE WHEN c.b < t.i THEN c.neg ELSE 0.0 END) AS tn
         |  FROM th t CROSS JOIN cnt c GROUP BY i),
         |pr AS (SELECT i, tp, fp, fn, tn,
         |    CASE WHEN tp + fp > 0 THEN tp / (tp + fp) ELSE 0.0 END AS p,
         |    CASE WHEN tp + fn > 0 THEN tp / (tp + fn) ELSE 0.0 END AS r
         |  FROM cf)
         |SELECT CAST(i AS DOUBLE) / 20 AS threshold,
         |  CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
         |  CAST(fn AS BIGINT) AS fn, CAST(tn AS BIGINT) AS tn,
         |  round(p, 6) AS "precision", round(r, 6) AS recall,
         |  round(CASE WHEN p + r > 0 THEN 2.0 * p * r / (p + r)
         |    ELSE 0.0 END, 6) AS f1
         |FROM pr ORDER BY threshold""".stripMargin)
}
