package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.chsql.ChSql

/** The CH-SQL text front end: parse + plan checks against hand-built
  * DataFrame equivalents on in-memory data. Cross-engine value checks for
  * the ch* entries live in the DuckDB oracle gate. */
class ChSqlSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private lazy val orders = Seq(
    (1L, 10L, "A", 100.0, "1997-01-05"),
    (2L, 10L, "B", 250.0, "1997-02-10"),
    (3L, 20L, "A", 50.0, "1997-02-11"),
    (4L, 20L, "A", 75.0, "1998-03-01"),
    (5L, 30L, "C", 500.0, "1998-03-02"),
    (6L, 30L, "A", 120.0, "1998-04-01"))
    .toDF("okey", "cust", "status", "price", "d")
    .select(col("okey"), col("cust"), col("status"), col("price"),
      col("d").cast("date").as("d"))

  private lazy val custs = Seq((10L, "alice", 1), (20L, "bob", 1), (30L, "carol", 2))
    .toDF("cust", "name", "nat")

  private def resolve(n: String): DataFrame = n match {
    case "orders" => orders
    case "custs" => custs
    case other => fail(s"unknown table $other")
  }

  private def run(q: String): Seq[Seq[Any]] =
    ChSql.sql(spark, q)(resolve).collect().toSeq.map(_.toSeq)

  test("scan + where + order + limit") {
    val r = run("SELECT okey, price FROM orders WHERE price >= 100 ORDER BY price DESC LIMIT 2")
    assert(r == Seq(Seq(5L, 500.0), Seq(2L, 250.0)))
  }

  test("prewhere and where combine") {
    val r = run("SELECT okey FROM orders PREWHERE status = 'A' WHERE price < 100 ORDER BY okey")
    assert(r == Seq(Seq(3L), Seq(4L)))
  }

  test("group by with aggregates, having, order by alias") {
    val r = run(
      """SELECT cust, sum(price) AS total, count() AS n
        |FROM orders GROUP BY cust HAVING count() >= 2 ORDER BY total DESC""".stripMargin)
    assert(r == Seq(Seq(30L, 620.0, 2L), Seq(2L * 5, 350.0, 2L), Seq(20L, 125.0, 2L)))
  }

  test("group by expression + select alias reuse in GROUP BY") {
    val r = run(
      """SELECT toYear(d) AS yr, count() AS n FROM orders GROUP BY yr ORDER BY yr""")
    assert(r == Seq(Seq(1997, 3L), Seq(1998, 3L)))
  }

  test("countIf/sumIf/if/multiIf and arithmetic") {
    val r = run(
      """SELECT countIf(status = 'A') AS na, sumIf(price, status = 'A') AS sa,
        |  if(1 = 1, 'y', 'n') AS flag
        |FROM orders""".stripMargin)
    assert(r == Seq(Seq(4L, 345.0, "y")))
  }

  test("argMax picks value at max of ordering column") {
    val r = run("SELECT argMax(okey, price) AS best FROM orders")
    assert(r == Seq(Seq(5L)))
  }

  test("generic -If combinator works on any aggregate name") {
    val r = run(
      """SELECT uniqIf(cust, status = 'A') AS u,
        |  argMaxIf(okey, price, status = 'A') AS am,
        |  groupUniqArrayIf(status, price > 200) AS gs
        |FROM orders""".stripMargin)
    // custs with an 'A' order: 10, 20, 30 → 3; best 'A' price is okey 6
    assert(r.head.take(2) == Seq(3L, 6L))
    assert(r.head(2).asInstanceOf[scala.collection.Seq[String]].toSeq.sorted ==
      Seq("B", "C"))
  }

  test("parametric quantile") {
    val r = run("SELECT quantile(0.5)(price) AS med FROM orders")
    assert(r == Seq(Seq(110.0)))
  }

  test("join using + group") {
    val r = run(
      """SELECT name, count() AS n FROM orders
        |INNER JOIN custs USING (cust)
        |GROUP BY name ORDER BY name""".stripMargin)
    assert(r == Seq(Seq("alice", 2L), Seq("bob", 2L), Seq("carol", 2L)))
  }

  test("join on condition with qualified names") {
    val r = run(
      """SELECT o.okey FROM orders AS o
        |INNER JOIN custs AS c ON o.cust = c.cust AND c.nat = 2
        |ORDER BY o.okey""".stripMargin)
    assert(r == Seq(Seq(5L), Seq(6L)))
  }

  test("IN subquery becomes a semi join; NOT IN an anti join") {
    val r = run(
      "SELECT okey FROM orders WHERE cust IN (SELECT cust FROM custs WHERE nat = 2) ORDER BY okey")
    assert(r == Seq(Seq(5L), Seq(6L)))
    val r2 = run(
      "SELECT okey FROM orders WHERE cust NOT IN (SELECT cust FROM custs WHERE nat = 2) AND price > 100 ORDER BY okey")
    assert(r2 == Seq(Seq(2L)))
    // GLOBAL IN is the distributed-subquery spelling of the same thing
    val r3 = run(
      "SELECT okey FROM orders WHERE cust GLOBAL IN (SELECT cust FROM custs WHERE nat = 2) ORDER BY okey")
    assert(r3 == Seq(Seq(5L), Seq(6L)))
  }

  test("scalar subquery evaluates once") {
    val r = run(
      "SELECT okey FROM orders WHERE price > (SELECT avg(price) FROM orders) ORDER BY okey")
    assert(r == Seq(Seq(2L), Seq(5L)))
  }

  test("LIMIT BY per-group cap") {
    val r = run(
      """SELECT cust, okey, price FROM orders
        |ORDER BY cust, price DESC LIMIT 1 BY cust""".stripMargin)
    assert(r.map(_.head) == Seq(10L, 20L, 30L))
    assert(r.map(_(2)) == Seq(250.0, 75.0, 500.0))
  }

  test("array join explodes with alias; left array join keeps empties") {
    val r = run(
      """SELECT okey, tok FROM (
        |  SELECT okey, arrayMap(x -> x * 2, [1, 2]) AS arr FROM orders WHERE okey = 1)
        |ARRAY JOIN arr AS tok ORDER BY tok""".stripMargin)
    assert(r == Seq(Seq(1L, 2), Seq(1L, 4)))
  }

  test("subquery in FROM + WITH cte") {
    val r = run(
      """WITH big AS (SELECT okey, price FROM orders WHERE price >= 200)
        |SELECT count() AS n FROM big""".stripMargin)
    assert(r == Seq(Seq(2L)))
  }

  test("scalar WITH alias") {
    val r = run("WITH 100 AS thresh SELECT okey FROM orders WHERE price < thresh ORDER BY okey")
    assert(r == Seq(Seq(3L), Seq(4L)))
  }

  test("intersect / except set operations") {
    // A-status custs {10,20,30} ∩ price>100 custs {10,30} = {10,30}
    val r = run(
      """SELECT cust FROM orders WHERE status = 'A'
        |INTERSECT SELECT cust FROM orders WHERE price > 100
        |ORDER BY cust""".stripMargin)
    assert(r == Seq(Seq(10L), Seq(30L)))
    // and the complement via EXCEPT
    val r2 = run(
      """SELECT cust FROM orders WHERE status = 'A'
        |EXCEPT SELECT cust FROM orders WHERE price > 100
        |ORDER BY cust""".stripMargin)
    assert(r2 == Seq(Seq(20L)))
  }

  test("limit comma form and OFFSET") {
    // CH `LIMIT offset, count`
    val r = run("SELECT okey FROM orders ORDER BY okey LIMIT 2, 3")
    assert(r == Seq(Seq(3L), Seq(4L), Seq(5L)))
    val r2 = run("SELECT okey FROM orders ORDER BY okey LIMIT 2 OFFSET 4")
    assert(r2 == Seq(Seq(5L), Seq(6L)))
  }

  test("PREWHERE accepts IN-subquery conjuncts") {
    val r = run(
      """SELECT okey FROM orders
        |PREWHERE cust IN (SELECT cust FROM custs WHERE nat = 1) AND price < 100
        |ORDER BY okey""".stripMargin)
    assert(r == Seq(Seq(3L), Seq(4L)))
  }

  test("union all / distinct") {
    val r = run(
      """SELECT status FROM orders WHERE cust = 10
        |UNION DISTINCT SELECT status FROM orders WHERE cust = 20
        |ORDER BY status""".stripMargin)
    assert(r == Seq(Seq("A"), Seq("B")))
  }

  test("case both forms, between, in list, like") {
    val r = run(
      """SELECT okey,
        |  CASE WHEN price > 200 THEN 'hi' ELSE 'lo' END AS bucket,
        |  CASE status WHEN 'A' THEN 1 ELSE 0 END AS isa
        |FROM orders WHERE okey BETWEEN 1 AND 3 AND status IN ('A', 'B')
        |  AND 'abc' LIKE 'a%' ORDER BY okey""".stripMargin)
    assert(r == Seq(Seq(1L, "lo", 1), Seq(2L, "hi", 0), Seq(3L, "lo", 1)))
  }

  test("string/date/math function mappings") {
    val r = run(
      """SELECT lower('AbC') AS lo, substring('hello', 2, 3) AS sub,
        |  position('hello', 'll') AS p, toYYYYMM(toDate('1997-03-05')) AS ym,
        |  round(sqrt(16.0)) AS sq, intDiv(7, 2) AS idiv, 7 % 3 AS m
        |FROM orders LIMIT 1""".stripMargin)
    assert(r == Seq(Seq("abc", "ell", 3, 199703, 4.0, 3L, 1)))
  }

  test("ternary operator and extended function mappings") {
    val r = run(
      """SELECT okey, price > 200 ? 'hi' : 'lo' AS bucket,
        |  toQuarter(d) AS q, toDayOfYear(d) AS doy,
        |  intDivOrZero(10, 0) AS z, moduloOrZero(10, 0) AS mz,
        |  round(exp2(3.0)) AS e2
        |FROM orders WHERE okey <= 2 ORDER BY okey""".stripMargin)
    assert(r == Seq(
      Seq(1L, "lo", 1, 5, 0L, 0L, 8.0),
      Seq(2L, "hi", 1, 41, 0L, 0L, 8.0)))
  }

  test("sequenceMatch pattern sublanguage as a text aggregate") {
    import spark.implicits._
    val ev = Seq(
      (1L, 100L, "a"), (1L, 200L, "b"),               // adjacent a,b
      (2L, 100L, "a"), (2L, 150L, "x"), (2L, 200L, "b"), // x breaks adjacency
      (3L, 100L, "a"))
      .toDF("u", "t", "et")
      .select(col("u"), timestamp_micros(col("t")).as("ts"), col("et"))
    def q(pat: String) = ChSql.sql(spark,
      s"""SELECT u, sequenceMatch('$pat')(ts, et = 'a', et = 'b') AS m
         |FROM ev GROUP BY u ORDER BY u""".stripMargin) {
      case "ev" => ev
      case other => fail(s"unknown $other")
    }.collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(q("(?1)(?2)") == Map(1L -> true, 2L -> false, 3L -> false))
    assert(q("(?1).*(?2)") == Map(1L -> true, 2L -> true, 3L -> false))
    // 1s time bound: u1 delta is 100us, passes; u2 any-gap within bound
    assert(q("(?1)(?t<=1)(?2)") == Map(1L -> true, 2L -> true, 3L -> false))
    // malformed patterns fail loudly
    intercept[IllegalArgumentException] { q("(?2)(?1)") }
    intercept[IllegalArgumentException] { q("") }
    intercept[IllegalArgumentException] { q("(?1)(?t<=") }
  }

  test("tuple literal + element access, array literal + index") {
    val r = run("SELECT (1, 'x').1 AS t1, [10, 20, 30][2] AS a2 FROM orders LIMIT 1")
    assert(r == Seq(Seq(1, 20)))
  }

  test("with totals adds the grand-total row") {
    val r = run(
      """SELECT status, sum(price) AS s FROM orders
        |GROUP BY status WITH TOTALS ORDER BY s""".stripMargin)
    assert(r.size == 4)
    assert(r.map(_(1)).contains(1095.0)) // grand total
  }

  test("group by all infers non-aggregate keys") {
    val r = run(
      "SELECT status, count() AS n FROM orders GROUP BY ALL ORDER BY status")
    assert(r == Seq(Seq("A", 4L), Seq("B", 1L), Seq("C", 1L)))
  }

  test("settings clause is accepted and applied") {
    val r = run(
      "SELECT count() AS n FROM orders SETTINGS max_threads = 4")
    assert(r == Seq(Seq(6L)))
  }

  test("unknown function fails loudly") {
    intercept[IllegalArgumentException] {
      run("SELECT frobnicate(okey) FROM orders")
    }
  }

  test("malformed inputs fail with parse errors, not obscure crashes") {
    for (bad <- Seq(
      "",                                       // empty
      "SELEC okey FROM orders",                 // typo keyword
      "SELECT FROM orders",                     // missing select list
      "SELECT okey FROM",                       // missing relation
      "SELECT okey FROM orders WHERE",          // dangling clause
      "SELECT (okey FROM orders",               // unbalanced paren
      "SELECT okey FROM orders GROUP BY",       // dangling group by
      "SELECT okey FROM orders LIMIT x",        // non-integer limit
      "SELECT okey FROM orders trailing junk ;" // trailing tokens
    )) {
      val e = intercept[IllegalArgumentException] { run(bad) }
      assert(e.getMessage.contains("ChSql") || e.getMessage.nonEmpty)
    }
    // non-aggregate item outside GROUP BY is a planning error
    intercept[IllegalArgumentException] {
      run("SELECT okey, sum(price) AS s FROM orders GROUP BY cust")
    }
  }

  test("window functions: row_number, rank, running sum with frame, lag") {
    val r = run(
      """SELECT okey,
        |  row_number() OVER (PARTITION BY cust ORDER BY price DESC, okey) AS rn,
        |  CAST(sum(price) OVER (PARTITION BY cust ORDER BY okey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS Float64) AS running,
        |  lag(okey, 1) OVER (PARTITION BY cust ORDER BY okey) AS prev
        |FROM orders ORDER BY okey""".stripMargin)
    assert(r.map(_(1)) == Seq(2, 1, 2, 1, 1, 2)) // rn per cust by price desc
    assert(r.map(_(2)) == Seq(100.0, 350.0, 50.0, 125.0, 500.0, 620.0))
    assert(r.map(_(3)) == Seq(null, 1L, null, 3L, null, 5L))
  }

  test("global window (no partition) and ntile") {
    val r = run(
      """SELECT okey, rank() OVER (ORDER BY price DESC) AS rk,
        |  ntile(2) OVER (ORDER BY price) AS half
        |FROM orders ORDER BY okey""".stripMargin)
    assert(r.map(_(1)) == Seq(4, 2, 6, 5, 1, 3))
  }

  test("ORDER BY WITH FILL densifies the axis; FROM/TO override bounds") {
    val r = run(
      """SELECT cust AS k, count() AS n FROM orders GROUP BY k
        |ORDER BY k WITH FILL STEP 10""".stripMargin)
    assert(r.map(_.head) == Seq(10L, 20L, 30L))
    val r2 = run(
      """SELECT cust AS k, count() AS n FROM orders GROUP BY k
        |ORDER BY k WITH FILL FROM 10 TO 51 STEP 10""".stripMargin)
    assert(r2.map(_.head) == Seq(10L, 20L, 30L, 40L, 50L))
    assert(r2.map(_(1)) == Seq(2L, 2L, 2L, null, null))
  }

  test("topK aggregate: freq desc then value asc, exercised across partitions") {
    import spark.implicits._
    // 4 partitions force serialize/merge of the partial count maps
    val vals = spark.sparkContext
      .parallelize(Seq("b", "b", "b", "a", "a", "c", "c", "d"), 4).toDF("v")
    val r = ChSql.sql(spark,
      "SELECT arrayStringConcat(topK(3)(v), ',') AS t FROM vals") {
      case "vals" => vals
      case other => fail(s"unknown $other")
    }.head().getString(0)
    assert(r == "b,a,c") // b:3, then a:2 before c:2 (value asc), d dropped
  }

  test("WITH FILL INTERPOLATE carries values across filled gaps") {
    val r = run(
      """SELECT cust AS k, count() AS n FROM orders GROUP BY k
        |ORDER BY k WITH FILL FROM 10 TO 51 STEP 10 INTERPOLATE (n)""".stripMargin)
    assert(r.map(_.head) == Seq(10L, 20L, 30L, 40L, 50L))
    assert(r.map(_(1)) == Seq(2L, 2L, 2L, 2L, 2L)) // 40/50 carry 30's count
  }

  test("ANY LEFT JOIN keeps exactly one deterministic match per key") {
    import spark.implicits._
    val multi = Seq((10L, "x"), (10L, "a"), (20L, "z")).toDF("cust", "tag")
    val r = ChSql.sql(spark,
      "SELECT okey, tag FROM orders ANY LEFT JOIN tags USING (cust) ORDER BY okey") {
      case "orders" => orders
      case "tags" => multi
      case other => fail(s"unknown $other")
    }.collect().map(row => (row.getLong(0), row.getString(1))).toSeq
    // cust 10 has two right rows; the pick-ascending winner is "a"
    assert(r.filter(_._1 <= 2) == Seq((1L, "a"), (2L, "a")))
    assert(r.count(_._1 == 1L) == 1) // no fan-out
  }

  test("sum(DISTINCT) maps, DISTINCT inside unsupported aggregates fails loudly") {
    val r = run("SELECT CAST(sum(DISTINCT price) AS Float64) AS s FROM orders")
    assert(r == Seq(Seq(1095.0)))
    // avg(DISTINCT x) ≡ sum(DISTINCT x) / count(DISTINCT x)
    assert(run("SELECT avg(DISTINCT price) AS a FROM orders")
      == Seq(Seq(1095.0 / 6)))
    intercept[IllegalArgumentException] {
      run("SELECT median(DISTINCT price) FROM orders")
    }
  }

  test("ASOF LEFT JOIN: nearest right row at or before the left timestamp") {
    import spark.implicits._
    val quotes = Seq((10L, 100L, 1.0), (10L, 200L, 2.0), (20L, 150L, 9.0))
      .toDF("cust", "qts", "px")
    val r = ChSql.sql(spark,
      """SELECT okey, px FROM trades
        |ASOF LEFT JOIN quotes ON cust = cust AND tts >= qts
        |ORDER BY okey""".stripMargin) {
      case "trades" => Seq((1L, 10L, 150L), (2L, 10L, 250L), (3L, 20L, 100L))
        .toDF("okey", "cust", "tts")
      case "quotes" => quotes
      case other => fail(s"unknown $other")
    }.collect().map(row => (row.getLong(0), Option(row.get(1)))).toSeq
    // trade 1 at 150 sees quote at 100; trade 2 at 250 sees 200; trade 3
    // at 100 precedes all cust-20 quotes → null (LEFT semantics)
    assert(r == Seq((1L, Some(1.0)), (2L, Some(2.0)), (3L, None)))
  }

  test("GROUP BY ROLLUP adds super-aggregate rows with NULL keys") {
    val r = run(
      """SELECT status, count() AS n FROM orders
        |GROUP BY ROLLUP(status) ORDER BY status NULLS FIRST""".stripMargin)
    assert(r == Seq(Seq(null, 6L), Seq("A", 4L), Seq("B", 1L), Seq("C", 1L)))
  }

  test("ROLLUP/CUBE over EMPTY input emit zero rows (CH/Spark, not Postgres)") {
    // Engine-semantics pin from the DuckDB fuzz leg (r9, seeds 1549/1560/
    // 1564): Postgres-family engines materialize the () grouping set over
    // zero input rows (one phantom grand-total row, count 0); ClickHouse
    // and Spark emit no rows. This engine deliberately keeps CH/Spark
    // semantics — the fuzz gate's dk rendering adapts with
    // HAVING count(*) > 0.
    val r = run(
      """SELECT status, count() AS n FROM orders WHERE okey < 0
        |GROUP BY ROLLUP(status)""".stripMargin)
    assert(r.isEmpty)
    val c = run(
      """SELECT status, count() AS n FROM orders WHERE okey < 0
        |GROUP BY CUBE(status)""".stripMargin)
    assert(c.isEmpty)
    // WITH TOTALS over empty input likewise adds no totals row
    val t = run(
      """SELECT status, count() AS n FROM orders WHERE okey < 0
        |GROUP BY status WITH TOTALS""".stripMargin)
    assert(t.isEmpty)
  }

  test("GROUP BY ... WITH ROLLUP modifier form matches ROLLUP(...)") {
    val a = run("SELECT status, count() AS n FROM orders GROUP BY status WITH ROLLUP ORDER BY status NULLS FIRST")
    val b = run("SELECT status, count() AS n FROM orders GROUP BY ROLLUP(status) ORDER BY status NULLS FIRST")
    assert(a == b)
  }

  test("GROUP BY CUBE over two keys emits all 2^2 grouping combinations") {
    val r = run(
      """SELECT status, cust, count() AS n FROM orders
        |WHERE status IN ('B', 'C')
        |GROUP BY CUBE(status, cust)
        |ORDER BY status NULLS FIRST, cust NULLS FIRST""".stripMargin)
    assert(r == Seq(
      Seq(null, null, 2L), Seq(null, 10L, 1L), Seq(null, 30L, 1L),
      Seq("B", null, 1L), Seq("B", 10L, 1L),
      Seq("C", null, 1L), Seq("C", 30L, 1L)))
  }

  test("GROUP BY GROUPING SETS picks exactly the listed sets") {
    val r = run(
      """SELECT status, cust, count() AS n FROM orders
        |GROUP BY GROUPING SETS ((status), (cust), ())
        |ORDER BY status NULLS FIRST, cust NULLS FIRST""".stripMargin)
    // sets: by status (3 rows), by cust (3 rows), grand total (1 row)
    assert(r.length == 7)
    assert(r.head == Seq(null, null, 6L))
    assert(r.count(x => x(0) == null && x(1) != null) == 3)
    assert(r.count(x => x(0) != null && x(1) == null) == 3)
  }

  test("LIMIT n WITH TIES extends past n over equal ordering tuples") {
    val r = run("SELECT okey, cust FROM orders ORDER BY cust LIMIT 3 WITH TIES")
    // 3rd row is cust=20; its tie (okey 4) comes along
    assert(r.map(_.head).toSet == Set(1L, 2L, 3L, 4L))
  }

  test("SAMPLE k/m keeps the deterministic key buckets") {
    val r = run(
      """SELECT okey FROM orders SAMPLE 1/2 ORDER BY okey
        |SETTINGS graft_sample_key = 'okey'""".stripMargin)
    assert(r.map(_.head) == Seq(2L, 4L, 6L))
  }

  test("SAMPLE without graft_sample_key fails loudly") {
    val e = intercept[IllegalArgumentException] {
      run("SELECT okey FROM orders SAMPLE 1/2")
    }
    assert(e.getMessage.contains("graft_sample_key"))
  }

  test("SAMPLE n (row-count form): count-scaled buckets, n>=total is the " +
      "whole table, OFFSET refuses, SAMPLE 0 refuses") {
    // keys spread over the 1e6 bucket space: 6 rows, n=3 → kb=500000 →
    // pmod(key,1e6) ∈ {250000, 500000, 750000, 0, 250000, 500000}; the
    // < 500000 window keeps exactly the three {250000, 0, 250000} keys
    val r = run(
      """SELECT k FROM (SELECT okey * 250000 AS k FROM orders) SAMPLE 3
        |ORDER BY k SETTINGS graft_sample_key = 'k'""".stripMargin)
    assert(r.map(_.head) == Seq(250000L, 1000000L, 1250000L))
    // n >= table size: no filter at all
    val all = run(
      """SELECT okey FROM orders SAMPLE 100 ORDER BY okey
        |SETTINGS graft_sample_key = 'okey'""".stripMargin)
    assert(all.map(_.head) == Seq(1L, 2L, 3L, 4L, 5L, 6L))
    val eo = intercept[IllegalArgumentException] {
      run("""SELECT okey FROM orders SAMPLE 3 OFFSET 1/2
            |SETTINGS graft_sample_key = 'okey'""".stripMargin)
    }
    assert(eo.getMessage.contains("row-count form"))
    val e0 = intercept[IllegalArgumentException] {
      run("""SELECT okey FROM orders SAMPLE 0
            |SETTINGS graft_sample_key = 'okey'""".stripMargin)
    }
    assert(e0.getMessage.contains("(0,1]"))
  }

  test("SAMPLE k/m OFFSET o/m: two offsets partition the keyspace") {
    val lo = run(
      """SELECT okey FROM orders SAMPLE 1/2 ORDER BY okey
        |SETTINGS graft_sample_key = 'okey'""".stripMargin)
    val hi = run(
      """SELECT okey FROM orders SAMPLE 1/2 OFFSET 1/2 ORDER BY okey
        |SETTINGS graft_sample_key = 'okey'""".stripMargin)
    assert(lo.map(_.head) == Seq(2L, 4L, 6L)) // buckets [0,1): even keys
    assert(hi.map(_.head) == Seq(1L, 3L, 5L)) // buckets [1,2): odd keys
    // disjoint + complete: the two windows tile okey 1..6 exactly
    assert((lo.map(_.head) ++ hi.map(_.head)).toSet ==
      Set(1L, 2L, 3L, 4L, 5L, 6L))
    // inexact offset (not a whole number of sample buckets) refuses
    val e1 = intercept[IllegalArgumentException] {
      run("""SELECT okey FROM orders SAMPLE 1/2 OFFSET 1/3
            |SETTINGS graft_sample_key = 'okey'""".stripMargin)
    }
    assert(e1.getMessage.contains("whole number"))
    // window running past the end of the keyspace refuses
    val e2 = intercept[IllegalArgumentException] {
      run("""SELECT okey FROM orders SAMPLE 2/3 OFFSET 2/3
            |SETTINGS graft_sample_key = 'okey'""".stripMargin)
    }
    assert(e2.getMessage.contains("past the end"))
  }

  test("SAMPLE ratio guards: zero sample refuses, oversized denominators " +
      "refuse instead of truncating (r9 ADVICE)") {
    // SAMPLE ratio is (0,1] like ClickHouse — 0 would read nothing
    val e0 = intercept[IllegalArgumentException] {
      run("""SELECT okey FROM orders SAMPLE 0.0
            |SETTINGS graft_sample_key = 'okey'""".stripMargin)
    }
    assert(e0.getMessage.contains("(0,1]"))
    val e0b = intercept[IllegalArgumentException] {
      run("""SELECT okey FROM orders SAMPLE 0/10
            |SETTINGS graft_sample_key = 'okey'""".stripMargin)
    }
    assert(e0b.getMessage.contains("(0,1]"))
    // ... but OFFSET 0 (start of keyspace) stays legal
    val ok = run(
      """SELECT okey FROM orders SAMPLE 1/2 OFFSET 0/2 ORDER BY okey
        |SETTINGS graft_sample_key = 'okey'""".stripMargin)
    assert(ok.map(_.head) == Seq(2L, 4L, 6L))
    // a denominator past Int.MaxValue used to truncate via .toInt into a
    // wrong-but-plausible bucket window; now it refuses
    val e1 = intercept[IllegalArgumentException] {
      run("""SELECT okey FROM orders SAMPLE 1/5000000000
            |SETTINGS graft_sample_key = 'okey'""".stripMargin)
    }
    assert(e1.getMessage.contains("out of supported range"))
    val e2 = intercept[IllegalArgumentException] {
      run("""SELECT okey FROM orders SAMPLE 1/2 OFFSET 2500000000/5000000000
            |SETTINGS graft_sample_key = 'okey'""".stripMargin)
    }
    assert(e2.getMessage.contains("out of supported range"))
  }

  test("sub-second INTERVAL units and the DateTime64 add family") {
    val r = run(
      """SELECT
        |  toDateTime('2024-01-01 00:00:00') + INTERVAL 500 MILLISECOND AS a,
        |  addMicroseconds(toDateTime('2024-01-01 00:00:00'), 250) AS b,
        |  subtractMilliseconds(toDateTime('2024-01-01 00:00:00'), 1) AS c,
        |  toDateTime('2024-01-01 00:00:00') + toIntervalMicrosecond(7) AS d
        |""".stripMargin)
    assert(r.head(0).toString.contains("00:00:00.5"))
    assert(r.head(1).toString.contains("00:00:00.00025"))
    assert(r.head(2).toString.contains("23:59:59.999"))
    assert(r.head(3).toString.contains("00:00:00.000007"))
    // nanoseconds refuse honestly (Spark timestamps are µs-precision)
    val e = intercept[IllegalArgumentException] {
      run("SELECT toDateTime('2024-01-01 00:00:00') + INTERVAL 1 NANOSECOND AS x")
    }
    assert(e.getMessage.contains("NANOSECOND"))
    val e2 = intercept[IllegalArgumentException] {
      run("SELECT addNanoseconds(toDateTime('2024-01-01 00:00:00'), 5) AS x")
    }
    assert(e2.getMessage.contains("microsecond"))
    // sub-second grids/floors (DateTime64): 250ms grid floors into the
    // bucket start, type-preserving (phase subtraction, no LTZ coercion)
    val g = run(
      """SELECT toStartOfInterval(
        |  addMilliseconds(toDateTime('2024-01-01 00:00:00'), 765),
        |  INTERVAL 250 MILLISECOND) AS a,
        |  toStartOfMillisecond(
        |    addMicroseconds(toDateTime('2024-01-01 00:00:00'), 765432)) AS b
        |""".stripMargin)
    assert(g.head(0).toString.contains("00:00:00.75")) // 765ms → 750ms bucket
    assert(g.head(1).toString.contains("00:00:00.765"))
    val e3 = intercept[IllegalArgumentException] {
      run("SELECT toStartOfNanosecond(toDateTime('2024-01-01 00:00:00')) AS x")
    }
    assert(e3.getMessage.contains("microsecond"))
  }

  test("EXISTS (subquery) is an eager query-constant boolean") {
    val hit = run("SELECT okey FROM orders WHERE EXISTS (SELECT 1 FROM custs WHERE nat = 2) ORDER BY okey")
    assert(hit.map(_.head) == Seq(1L, 2L, 3L, 4L, 5L, 6L))
    val miss = run("SELECT okey FROM orders WHERE EXISTS (SELECT 1 FROM custs WHERE nat = 5)")
    assert(miss.isEmpty)
    val neg = run("SELECT count() AS n FROM orders WHERE NOT EXISTS (SELECT 1 FROM custs WHERE nat = 5)")
    assert(neg == Seq(Seq(6L)))
  }

  test("ORDER BY ... COLLATE 'ci' sorts case-insensitively") {
    val r = run(
      """SELECT s FROM (SELECT 'B' AS s UNION ALL SELECT 'a' AS s)
        |ORDER BY s COLLATE 'ci'""".stripMargin)
    assert(r.map(_.head) == Seq("a", "B")) // binary order would be B, a
  }

  test("SELECT * EXCEPT (cols) drops the listed columns, keeps order") {
    val r = ChSql.sql(spark,
      "SELECT * EXCEPT (d, status) FROM orders ORDER BY okey LIMIT 1")(resolve)
    assert(r.columns.toSeq == Seq("okey", "cust", "price"))
    assert(r.collect().head.toSeq == Seq(1L, 10L, 100.0))
  }

  test("COLUMNS('re') projects regex-matched columns; APPLY(f) wraps them") {
    val r = ChSql.sql(spark,
      "SELECT COLUMNS('^c') FROM custs ORDER BY cust LIMIT 1")(resolve)
    assert(r.columns.toSeq == Seq("cust"))
    val agg = run("SELECT COLUMNS('price|cust') APPLY(max) FROM orders")
    assert(agg == Seq(Seq(30L, 500.0)))
  }

  test("* EXCEPT ... APPLY(sum) aggregates every remaining column") {
    val r = ChSql.sql(spark,
      "SELECT * EXCEPT (okey, status, d) APPLY(sum) FROM orders")(resolve)
    assert(r.columns.toSeq == Seq("sum_cust", "sum_price"))
    assert(r.collect().head.toSeq == Seq(120L, 1095.0))
  }

  test("* EXCEPT select modifier does not shadow the EXCEPT set operation") {
    val r = run(
      """SELECT okey FROM orders WHERE price > 100
        |EXCEPT
        |SELECT okey FROM orders WHERE status = 'C'
        |ORDER BY okey""".stripMargin)
    assert(r.map(_.head) == Seq(2L, 6L))
  }

  test("round-4 function batch: string/math/array/map/json parity names") {
    val r = run(
      """SELECT
        |  levenshteinDistance('kitten', 'sitting') AS lev,
        |  positionCaseInsensitive('Hello World', 'WORLD') AS posci,
        |  countSubstrings('abcabcabc', 'ab') AS nsub,
        |  multiSearchAny('haystack', ['xyz', 'stack']) AS msa,
        |  roundBankers(2.5) AS rb,
        |  bitCount(255) AS bc,
        |  bitTest(5, 0) AS bt0,
        |  bitTest(5, 1) AS bt1,
        |  isFinite(1.0) AS fin,
        |  isInfinite(exp(1000.0)) AS inf,
        |  toString(dateTrunc('month', toDateTime('1997-03-15'))) AS dtr,
        |  toString(toLastDayOfMonth(toDate('1997-02-03'))) AS ldm,
        |  toString(toDecimal64('12.345', 2)) AS dec,
        |  arrayReverseSort([3, 1, 2]) AS ars,
        |  arrayPushBack([1, 2], 3) AS apb,
        |  arrayPushFront([1, 2], 0) AS apf,
        |  arrayPopBack([1, 2, 3]) AS apob,
        |  arrayPopFront([1, 2, 3]) AS apof,
        |  arrayFirst(x -> x > 1, [1, 2, 3]) AS af,
        |  arrayLast(x -> x > 1, [1, 2, 3]) AS al,
        |  JSONExtractBool('{"a": true}', 'a') AS jb,
        |  JSONLength('[1,2,3]') AS jl""".stripMargin)
    val row = r.head
    assert(row(0) == 3 && row(1) == 7 && row(2) == 3L && row(3) == true)
    assert(row(4) == 2.0 && row(5) == 8 && row(6) == true && row(7) == false)
    assert(row(8) == true && row(9) == true)
    assert(row(10) == "1997-03-01 00:00:00" && row(11) == "1997-02-28")
    assert(row(12) == "12.35")
    assert(row(13) == Seq(3, 2, 1) && row(14) == Seq(1, 2, 3) && row(15) == Seq(0, 1, 2))
    assert(row(16) == Seq(1, 2) && row(17) == Seq(2, 3))
    assert(row(18) == 2 && row(19) == 3)
    assert(row(20) == true && row(21) == 3L)
  }

  test("ORDER BY ALL and the SQL-standard OFFSET/FETCH clause") {
    val r = run("""SELECT status, cust, okey FROM orders
                  |ORDER BY ALL""".stripMargin)
    assert(r.map(_.last) == Seq(1L, 3L, 4L, 6L, 2L, 5L))
    val r2 = run("""SELECT okey FROM orders ORDER BY okey
                   |OFFSET 1 ROWS FETCH NEXT 2 ROWS ONLY""".stripMargin)
    assert(r2.flatten == Seq(2L, 3L))
    // FETCH FIRST ... WITH TIES rides the existing ties machinery
    val r3 = run("""SELECT status FROM orders ORDER BY status
                   |FETCH FIRST 3 ROWS WITH TIES""".stripMargin)
    assert(r3.flatten == Seq("A", "A", "A", "A"))
  }

  test("QUALIFY filters on window results; PASTE JOIN zips positionally") {
    // top order per customer — the canonical QUALIFY shape
    val r = run("""SELECT okey, cust, price FROM orders
                  |QUALIFY row_number() OVER (PARTITION BY cust
                  |  ORDER BY price DESC) = 1
                  |ORDER BY cust""".stripMargin)
    assert(r == Seq(Seq(2L, 10L, 250.0), Seq(4L, 20L, 75.0),
      Seq(5L, 30L, 500.0)))
    // select aliases resolve inside QUALIFY (CH scope rules)
    val r2 = run("""SELECT okey, price * 2 AS p2 FROM orders
                   |QUALIFY rank() OVER (ORDER BY p2 DESC) <= 2
                   |ORDER BY okey""".stripMargin)
    assert(r2.map(_.head) == Seq(2L, 5L))
    // aggregate + QUALIFY refuses with guidance
    val e = intercept[IllegalArgumentException](run(
      "SELECT cust, count() AS n FROM orders GROUP BY cust QUALIFY n > 1"))
    assert(e.getMessage.contains("subquery"))
    // PASTE JOIN: row i pairs with row i, shorter side truncates
    val pj = run("""SELECT okey, rk FROM
                   |  (SELECT okey FROM orders ORDER BY okey)
                   |PASTE JOIN
                   |  (SELECT okey * 10 AS rk FROM orders
                   |   ORDER BY okey LIMIT 4)
                   |ORDER BY okey""".stripMargin)
    assert(pj == Seq(Seq(1L, 10L), Seq(2L, 20L), Seq(3L, 30L), Seq(4L, 40L)))
  }

  test("parameterized views: CREATE VIEW with {p:Type}, read via v(p = ...)") {
    val (st, _) = ChSql.statement(spark,
      """CREATE VIEW pv AS SELECT okey, price FROM orders
        |WHERE price >= {minp:Float64}""".stripMargin)(resolve)
    assert(st.collect().head.getString(0).contains("parameterized"))
    val r = ChSql.sql(spark,
      "SELECT okey FROM pv(minp = 200) ORDER BY okey")(resolve)
    assert(r.collect().map(_.getLong(0)).toSeq == Seq(2L, 5L))
    // the same view rebinds per read
    val r2 = ChSql.sql(spark,
      "SELECT count() AS n FROM pv(minp = 60)")(resolve)
    assert(r2.collect().head.getLong(0) == 5L)
    // a missing binding names the parameter
    val e = intercept[IllegalArgumentException](
      ChSql.sql(spark, "SELECT count() AS n FROM pv()")(resolve).collect())
    assert(e.getMessage.contains("minp"))
    val (dropped, _) = ChSql.statement(spark, "DROP VIEW pv")(resolve)
    assert(dropped.collect().head.getString(0).contains("parameterized"))
  }

  test("query parameters: {name:Type} substituted from SET param_*") {
    ChSql.statement(spark, "SET param_min_price = '200'")(resolve)
    val r = run("""SELECT okey FROM orders
                  |WHERE price >= {min_price:Float64} ORDER BY okey""".stripMargin)
    assert(r.flatten ==
      run("SELECT okey FROM orders WHERE price >= 200 ORDER BY okey").flatten)
    // typed substitution: a parenthesized type and a string parameter
    ChSql.statement(spark, "SET param_pk = '2'")(resolve)
    assert(run("SELECT okey FROM orders WHERE okey = {pk:Decimal(10, 0)}")
      .flatten == Seq(2L))
    // unset parameter → clear error
    val e = intercept[IllegalArgumentException](
      run("SELECT {never_set_param:Int64} AS v FROM orders"))
    assert(e.getMessage.contains("never_set_param"))
  }

  test("WITH RECURSIVE: series, tree walk, UNION-distinct cycle termination") {
    // linear series: working-table semantics, one row per round
    val r = run("""WITH RECURSIVE seq AS (
        |  SELECT CAST(1 AS Int64) AS n FROM numbers(1)
        |  UNION ALL SELECT n + 1 AS n FROM seq WHERE n < 10)
        |SELECT count() AS c, sum(n) AS s FROM seq""".stripMargin)
    assert(r.head == Seq(10L, 55L))
    // tree walk: ancestors of 13 in the intDiv(n, 2) binary tree
    val anc = run("""WITH RECURSIVE anc AS (
        |  SELECT CAST(13 AS Int64) AS node FROM numbers(1)
        |  UNION ALL SELECT intDiv(node, 2) AS node FROM anc WHERE node > 0)
        |SELECT node FROM anc ORDER BY node""".stripMargin)
    assert(anc.flatten == Seq(0L, 1L, 3L, 6L, 13L))
    // UNION (distinct) reaches the fixpoint of a CYCLIC step — the
    // seen-set subtraction is what terminates it
    val cyc = run("""WITH RECURSIVE c AS (
        |  SELECT CAST(0 AS Int64) AS n FROM numbers(1)
        |  UNION SELECT (n + 1) % 3 AS n FROM c)
        |SELECT count() AS n FROM c""".stripMargin)
    assert(cyc.head.head == 3L)
  }

  test("quantified comparisons: ANY/ALL subqueries incl. empty-set semantics") {
    // > ALL over a nonempty set is a max probe; = ANY routes through IN
    val r = run("""SELECT okey FROM orders
                  |WHERE price > ALL (SELECT price FROM orders WHERE okey <= 2)
                  |ORDER BY okey""".stripMargin)
    assert(r.flatten == run(
      "SELECT okey FROM orders WHERE price > 250 ORDER BY okey").flatten)
    val eq = run("""SELECT count() AS n FROM orders
                   |WHERE okey = ANY (SELECT okey FROM orders WHERE price < 200)""".stripMargin)
    val notAll = run("""SELECT count() AS n FROM orders
                       |WHERE okey <> ALL (SELECT okey FROM orders WHERE price < 200)""".stripMargin)
    assert(eq.head.head.asInstanceOf[Long] +
      notAll.head.head.asInstanceOf[Long] ==
      run("SELECT count() AS n FROM orders").head.head.asInstanceOf[Long])
    // empty subquery: ALL → everything qualifies, ANY → nothing does
    assert(run("""SELECT count() AS n FROM numbers(5)
                 |WHERE number > ALL (SELECT number FROM numbers(5) WHERE number < 0)""".stripMargin)
      .head.head == 5L)
    assert(run("""SELECT count() AS n FROM numbers(5)
                 |WHERE number > ANY (SELECT number FROM numbers(5) WHERE number < 0)""".stripMargin)
      .head.head == 0L)
    // = ALL: true iff the set is empty or all-equal to the probe
    assert(run("""SELECT count() AS n FROM numbers(5)
                 |WHERE number = ALL (SELECT number FROM numbers(5) WHERE number = 3)""".stripMargin)
      .head.head == 1L)
  }

  test("map functions: keys/values/contains/fromArrays") {
    val r = run(
      """SELECT
        |  mapKeys(mapFromArrays(['a', 'b'], [1, 2])) AS ks,
        |  mapValues(mapFromArrays(['a', 'b'], [1, 2])) AS vs,
        |  mapContains(mapFromArrays(['a', 'b'], [1, 2]), 'b') AS has_b""".stripMargin)
    assert(r.head == Seq(Seq("a", "b"), Seq(1, 2), true))
  }

  test("statement layer: EXPLAIN variants, CREATE VIEW, SET") {
    val (ex, _) = ChSql.statement(spark,
      "EXPLAIN SYNTAX SELECT okey FROM orders WHERE price > 100")(resolve)
    assert(ex.columns.toSeq == Seq("explain"))
    // analyzed layer retains the Filter (the optimized plan would fold a
    // LocalRelation input entirely)
    assert(ex.collect().map(_.getString(0)).mkString("\n").contains("Filter"))

    val (ast, _) = ChSql.statement(spark,
      "EXPLAIN AST SELECT okey FROM orders")(resolve)
    assert(ast.collect().nonEmpty)

    // CREATE VIEW then query it through a catalog-first resolver
    ChSql.statement(spark,
      "CREATE OR REPLACE VIEW big_orders AS SELECT okey, price FROM orders WHERE price > 200")(resolve)
    def catalogFirst(n: String) =
      if (spark.catalog.tableExists(n)) spark.table(n) else resolve(n)
    val r = ChSql.statement(spark,
      "SELECT okey FROM big_orders ORDER BY okey")(catalogFirst)._1
      .collect().map(_.getLong(0)).toSeq
    assert(r == Seq(2L, 5L))

    val (st, _) = ChSql.statement(spark, "SET max_threads = 4")(resolve)
    assert(st.collect().head.getString(0).contains("shuffle.partitions"))
    spark.conf.set("spark.sql.shuffle.partitions", "4") // restore
  }

  test("table functions in FROM: numbers, zeros, one, file round-trip") {
    val n = run("SELECT sum(number) AS s, count() AS c FROM numbers(10)")
    assert(n == Seq(Seq(45L, 10L)))
    val n2 = run("SELECT min(number) AS lo, max(number) AS hi FROM numbers(5, 3)")
    assert(n2 == Seq(Seq(5L, 7L)))
    val z = run("SELECT count() AS c FROM zeros(4)")
    assert(z == Seq(Seq(4L)))
    val o = run("SELECT count() AS c FROM one()")
    assert(o == Seq(Seq(1L)))
    // numbers joins like any relation
    val j = run(
      """SELECT count() AS c FROM numbers(3) AS a
        |CROSS JOIN (SELECT number AS m FROM numbers(4)) AS b""".stripMargin)
    assert(j == Seq(Seq(12L)))
  }

  test("select aliases resolve inside WHERE/PREWHERE (CH scope rules)") {
    val r = run("SELECT okey * 2 AS k2 FROM orders WHERE k2 > 10 ORDER BY k2")
    assert(r.map(_.head) == Seq(12L))
    // source column wins on a name clash: price here is the source column
    val r2 = run("SELECT price / 100 AS price FROM orders WHERE price > 400 ORDER BY price")
    assert(r2.map(_.head) == Seq(5.0))
  }

  test("arrayJoin() as a select-list function expands rows; identical args " +
      "expand in lockstep") {
    val r = run("SELECT arrayJoin([1, 2, 3]) AS x ORDER BY x")
    assert(r.map(_.head) == Seq(1, 2, 3))
    val r2 = run("SELECT arrayJoin([10, 20]) AS a, arrayJoin([10, 20]) AS b ORDER BY a")
    assert(r2 == Seq(Seq(10, 10), Seq(20, 20))) // lockstep, not cartesian
    val r3 = run("SELECT okey, arrayJoin([1, 2]) AS t FROM orders WHERE okey = 1 ORDER BY t")
    assert(r3 == Seq(Seq(1L, 1), Seq(1L, 2)))
  }

  test("any/anyLast aggregates; toStartOfInterval grids; arraySort by key; " +
      "transform mapping; readable formats; bar") {
    val r = run("SELECT any(okey) IS NOT NULL AS a FROM orders")
    assert(r == Seq(Seq(true)))
    val g = run("SELECT toStartOfInterval(toDateTime('2024-03-15 10:23:45'), " +
      "INTERVAL 15 MINUTE) AS t")
    assert(g.head.head.toString == "2024-03-15 10:15:00.0")
    val s = run("SELECT arraySort(x -> -x, [3, 1, 2]) AS s")
    assert(s.head.head.asInstanceOf[scala.collection.Seq[_]].toSeq == Seq(3, 2, 1))
    val m = run("SELECT transform(2, [1, 2, 3], ['a', 'b', 'c'], 'x') AS t, " +
      "transform(9, [1, 2], ['a', 'b'], 'x') AS d")
    assert(m == Seq(Seq("b", "x")))
    val f = run("SELECT formatReadableSize(1536) AS s, " +
      "formatReadableQuantity(1234567) AS q")
    assert(f == Seq(Seq("1.50 KiB", "1.23 million")))
    val b = run("SELECT bar(5, 0, 10, 10) AS b, length(bar(10, 0, 10, 10)) AS l")
    assert(b.head.head == "█" * 5 && b.head(1) == 10)
  }

  test("-Array combinator, parametric groupArray(n), approx quantile tiers, " +
      "array/type utilities") {
    val r = run("SELECT sumArray(v) AS s, countArray(v) AS c, " +
      "CAST(avgArray(v) AS Int64) AS av, uniqArray(v) AS u FROM " +
      "(SELECT [okey, okey] AS v FROM orders)")
    assert(r == Seq(Seq(42.0, 12L, 3L, 6L))) // 2*(1..6)=42, 12 elems, avg 3.5→3
    val g = run("SELECT groupArray(2)(okey) AS g FROM orders")
    assert(g.head.head.asInstanceOf[scala.collection.Seq[_]].size == 2)
    val q = run("SELECT quantilesTiming(0.5, 0.9)(price) AS q FROM orders")
    assert(q.head.head.asInstanceOf[scala.collection.Seq[_]].size == 2)
    val u = run("SELECT countEqual([1, 2, 2, 3], 2) AS c, " +
      "arrayResize([1, 2], 4, 0) AS r, length(toFixedString('ab', 4)) AS f, " +
      "toTypeName(1) AS t, length(emptyArrayInt32()) AS e")
    assert(u.head(0) == 2 && u.head(1).asInstanceOf[scala.collection.Seq[_]]
      .toSeq == Seq(1, 2, 0, 0) && u.head(2) == 4 && u.head(3) == "Int32"
      && u.head(4) == 0)
    // cityHash64 spells city (the old ciphash typo is gone), sipHash64 maps
    val h = run("SELECT cityHash64('a') = cityHash64('a') AS eq")
    assert(h == Seq(Seq(true)))
  }

  test("DISTINCT ON keeps the first row per key; IN (subquery) projects " +
      "as a lazy boolean flag") {
    val r = run("SELECT DISTINCT ON (cust) cust, okey FROM orders " +
      "ORDER BY cust, okey")
    assert(r == Seq(Seq(10L, 1L), Seq(20L, 3L), Seq(30L, 5L)))
    val m = run("SELECT okey, okey IN (SELECT okey FROM orders " +
      "WHERE price > 200) AS hit FROM orders ORDER BY okey")
    assert(m.map(_(1)) == Seq(false, true, false, false, true, false))
    val n = run("SELECT okey, okey NOT IN (SELECT okey FROM orders " +
      "WHERE price > 200) AS miss FROM orders ORDER BY okey")
    assert(n.map(_(1)) == Seq(true, false, true, true, false, true))
    // mixed with aggregation downstream
    val g = run("SELECT hit, count() AS n FROM (SELECT okey IN (SELECT okey " +
      "FROM orders WHERE price > 200) AS hit FROM orders) GROUP BY hit " +
      "ORDER BY hit")
    assert(g == Seq(Seq(false, 4L), Seq(true, 2L)))
    // two unaliased IN items get distinct hidden names — each projects
    // its OWN subquery's membership, not the last one's
    val two = run("SELECT okey, okey IN (SELECT okey FROM orders " +
      "WHERE price > 200), okey IN (SELECT okey FROM orders " +
      "WHERE price < 100) FROM orders ORDER BY okey")
    assert(two.map(_(1)) == Seq(false, true, false, false, true, false))
    assert(two.map(_(2)) == Seq(false, false, true, true, false, false))
  }

  test("-State/-Merge combinators: state→merge round-trip equals the " +
      "direct aggregate; states fold across a two-level rollup") {
    // per-cust states (3 partial groups), merged to the global aggregate
    val r = run("SELECT CAST(sumMerge(ss) AS Float64) AS s, " +
      "countMerge(cs) AS c, uniqMerge(us) AS u, avgMerge(avs) AS av, " +
      "minMerge(ms) AS mn, maxMerge(xs) AS mx FROM (" +
      "SELECT cust, sumState(price) AS ss, countState() AS cs, " +
      "uniqState(status) AS us, avgState(price) AS avs, " +
      "minState(price) AS ms, maxState(price) AS xs " +
      "FROM orders GROUP BY cust)")
    val d = run("SELECT sum(price) AS s, count() AS c, uniq(status) AS u, " +
      "avg(price) AS av, min(price) AS mn, max(price) AS mx FROM orders")
    assert(r == d)
    // topK: the (value, count) tuple state folds to the same top-k,
    // same ordering pin (count desc, value asc) as the direct call
    val tk = run("SELECT topKMerge(2)(ts) AS t FROM (" +
      "SELECT cust, topKState(2)(status) AS ts FROM orders GROUP BY cust)")
    assert(tk == run("SELECT topK(2)(status) AS t FROM orders"))
    // sumMap: merged tuple equals the direct per-key rollup
    val sm = run("SELECT sumMapMerge(sm) AS m FROM (" +
      "SELECT cust, sumMapState(status, CAST(price AS Int64)) AS sm " +
      "FROM orders GROUP BY cust)")
    assert(sm == run(
      "SELECT sumMap(status, CAST(price AS Int64)) AS m FROM orders"))
    // groupArray family: merged sets equal the direct distinct array
    val ga = run("SELECT groupUniqArrayMerge(gs) AS g FROM (" +
      "SELECT cust, groupUniqArrayState(status) AS gs FROM orders GROUP BY cust)")
    assert(ga == Seq(Seq(Seq("A", "B", "C"))))
    // an unknown stem refuses honestly
    val e = intercept[IllegalArgumentException](
      run("SELECT quantileState(price) FROM orders"))
    assert(e.getMessage.contains("not supported"))
  }

  test("remote()/cluster() resolve the table locally; merge() unions by regex; " +
      "generateRandom is deterministic") {
    // remote('host:9000', db, table) — the topology argument is a hint;
    // the single local engine IS the cluster
    val r = run("SELECT count() AS c FROM remote('host:9000', db, orders)")
    assert(r == Seq(Seq(6L)))
    val r2 = run("SELECT count() AS c FROM cluster('main', orders)")
    assert(r2 == Seq(Seq(6L)))
    // merge: every catalog table matching the regex, unioned by name
    spark.sql("DROP TABLE IF EXISTS mrg_a")
    spark.sql("DROP TABLE IF EXISTS mrg_b")
    spark.range(3).toDF("k").write.saveAsTable("mrg_a")
    spark.range(4).toDF("k").write.saveAsTable("mrg_b")
    val m = ChSql.sql(spark, "SELECT count() AS c FROM merge('^mrg_')")(n =>
      spark.table(n)).collect().map(_.toSeq).toSeq
    assert(m == Seq(Seq(7L)))
    spark.sql("DROP TABLE mrg_a"); spark.sql("DROP TABLE mrg_b")
    // generateRandom: reproducible pseudo-random columns in [0,1)
    val g = run("SELECT count() AS c, min(r0) >= 0 AND max(r0) < 1 AS inrange " +
      "FROM generateRandom(100, 2)")
    assert(g == Seq(Seq(100L, true)))
    val g1 = run("SELECT sum(r1) AS s FROM generateRandom(50, 2)")
    assert(g1 == run("SELECT sum(r1) AS s FROM generateRandom(50, 2)"))
  }

  test("INSERT INTO FUNCTION file(...) writes; FROM file(...) reads it back") {
    val dir = tempDir("chsql_ins").toString
    val (st, _) = ChSql.statement(spark,
      s"""INSERT INTO FUNCTION file('$dir/out', 'Parquet')
         |SELECT okey, price FROM orders WHERE price > 100""".stripMargin)(resolve)
    assert(st.collect().head.getString(0).startsWith("wrote"))
    val back = run(
      s"SELECT okey FROM file('$dir/out', 'Parquet') ORDER BY okey")
    assert(back.map(_.head) == Seq(2L, 5L, 6L))
  }

  test("DESCRIBE prints ClickHouse type names via the canonical inverse") {
    val (d, _) = ChSql.statement(spark, "DESCRIBE TABLE orders")(resolve)
    val m = d.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(m("okey") == "Int64" && m("status") == "Nullable(String)")
    assert(m("price") == "Float64" && m("d") == "Nullable(Date)")
  }

  test("sumMap(k, v): per-key sums as a sorted (keys, sums) tuple") {
    val r = run(
      """SELECT cust, sumMap(status, CAST(price AS Int64)).1 AS ks,
        |  sumMap(status, CAST(price AS Int64)).2 AS vs
        |FROM orders GROUP BY cust ORDER BY cust""".stripMargin)
    assert(r == Seq(
      Seq(10L, Seq("A", "B"), Seq(100L, 250L)),
      Seq(20L, Seq("A"), Seq(125L)),
      Seq(30L, Seq("A", "C"), Seq(120L, 500L))))
    val cd = run("SELECT countDistinct(status) AS n FROM orders")
    assert(cd == Seq(Seq(3L)))
  }

  test("retention(): anchor + pairwise follow-up indicators per group") {
    // cust 10: statuses A, B → anchor A yes, B yes, C no → [1,1,0]
    // cust 20: statuses A, A → [1,0,0]; cust 30: C, A → [1,0,1]
    val r = run(
      """SELECT cust, retention(status = 'A', status = 'B', status = 'C') AS r
        |FROM orders GROUP BY cust ORDER BY cust""".stripMargin)
    assert(r == Seq(
      Seq(10L, Seq(1, 1, 0)), Seq(20L, Seq(1, 0, 0)), Seq(30L, Seq(1, 0, 1))))
  }

  test("ORDER BY references a column dropped by the projection") {
    val r = run("SELECT okey FROM orders WHERE cust = 30 ORDER BY price DESC")
    assert(r.map(_.head) == Seq(5L, 6L))
    assert(ChSql.sql(spark,
      "SELECT okey FROM orders ORDER BY price DESC LIMIT 2")(resolve)
      .columns.toSeq == Seq("okey")) // hidden sort col dropped
  }

  test("LIMIT offset, n BY skips the first rows per group") {
    val r = run(
      """SELECT cust, okey FROM orders
        |ORDER BY cust, price DESC
        |LIMIT 1, 1 BY cust""".stripMargin)
    // per cust, skip the highest-price row, keep the next one
    assert(r == Seq(Seq(10L, 1L), Seq(20L, 3L), Seq(30L, 6L)))
  }

  test("tuple IN list matches composite keys") {
    val r = run(
      """SELECT okey FROM orders
        |WHERE (cust, status) IN ((10, 'A'), (30, 'C'))
        |ORDER BY okey""".stripMargin)
    assert(r.map(_.head) == Seq(1L, 5L))
    val neg = run(
      "SELECT count() AS n FROM orders WHERE (cust, status) NOT IN ((10, 'A'), (30, 'C'))")
    assert(neg == Seq(Seq(4L)))
  }

  test("WINDOW clause defines named windows shared by multiple OVER refs") {
    val r = run(
      """SELECT okey,
        |  row_number() OVER w AS rn,
        |  sum(price) OVER w AS running
        |FROM orders
        |WINDOW w AS (PARTITION BY cust ORDER BY okey
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY okey""".stripMargin)
    assert(r == Seq(
      Seq(1L, 1, 100.0), Seq(2L, 2, 350.0), Seq(3L, 1, 50.0),
      Seq(4L, 2, 125.0), Seq(5L, 1, 500.0), Seq(6L, 2, 620.0)))
    val e = intercept[IllegalArgumentException] {
      run("SELECT rank() OVER nope AS r FROM orders")
    }
    assert(e.getMessage.contains("unknown named window"))
  }

  test("FROM t FINAL collapses to the latest version when keys ride in SETTINGS") {
    val r = run(
      """WITH snap AS (
        |  SELECT okey, 1 AS v, price FROM orders
        |  UNION ALL
        |  SELECT okey, 2 AS v, price * 2 AS price FROM orders WHERE okey <= 2)
        |SELECT okey, v, price FROM snap FINAL
        |ORDER BY okey
        |SETTINGS graft_final_keys = 'okey', graft_final_version = 'v'""".stripMargin)
    assert(r == Seq(
      Seq(1L, 2, 200.0), Seq(2L, 2, 500.0), Seq(3L, 1, 50.0),
      Seq(4L, 1, 75.0), Seq(5L, 1, 500.0), Seq(6L, 1, 120.0)))
  }

  test("FINAL without the settings stays a no-op; missing version fails loudly") {
    val r = run("SELECT count() AS n FROM orders FINAL")
    assert(r == Seq(Seq(6L)))
    val e = intercept[IllegalArgumentException] {
      run("SELECT count() AS n FROM orders FINAL SETTINGS graft_final_keys = 'okey'")
    }
    assert(e.getMessage.contains("graft_final_version"))
  }

  test("standalone FORMAT clause is surfaced to the caller, not the plan") {
    val (df, fmt) = ChSql.sqlWithFormat(spark,
      "SELECT okey FROM orders ORDER BY okey LIMIT 1 FORMAT JSONEachRow")(resolve)
    assert(fmt == Some("JSONEachRow"))
    assert(df.collect().map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("INTO OUTFILE ... FORMAT writes through the sink and returns rows") {
    val dir = tempDir("chsql_out").toString
    val r = run(
      s"""SELECT okey, price FROM orders WHERE price > 100
         |ORDER BY okey
         |INTO OUTFILE '$dir/hi' FORMAT TSVWithNames""".stripMargin)
    assert(r.map(_.head) == Seq(2L, 5L, 6L))
    val back = spark.read.options(Map("sep" -> "\t", "header" -> "true"))
      .csv(s"$dir/hi")
    assert(back.count() == 3 && back.columns.toSeq == Seq("okey", "price"))
  }

  test("range/arrayEnumerate: empty cases yield [], not a descending artifact") {
    val r = run(
      """SELECT range(0) AS e, range(3) AS r3, range(2, 2) AS e2,
        |  arrayEnumerate(arrayFilter(x -> x > 9, [1, 2])) AS ee,
        |  arrayEnumerate([7, 8]) AS en
        |FROM orders LIMIT 1""".stripMargin)
    assert(r == Seq(Seq(Seq(), Seq(0, 1, 2), Seq(), Seq(), Seq(1, 2))))
  }

  test("HAVING with an aggregate inside IN lifts the aggregate") {
    val r = run(
      """SELECT cust, count() AS n FROM orders
        |GROUP BY cust HAVING count() IN (2, 5) ORDER BY cust""".stripMargin)
    assert(r == Seq(Seq(10L, 2L), Seq(20L, 2L), Seq(30L, 2L)))
  }

  test("SETTINGS is statement-scoped: session conf restored after sql()") {
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    val r = run("SELECT count() AS n FROM orders SETTINGS max_threads = 7")
    assert(r == Seq(Seq(6L)))
    assert(spark.conf.get(key) == before)
  }

  test("funnel/sequence step caps are enforced on the text path") {
    val conds = (1 to 11).map(i => s"okey = $i").mkString(", ")
    intercept[IllegalArgumentException] {
      run(s"SELECT windowFunnel(3600)(d, $conds) AS lvl FROM orders")
    }
    val pat = (1 to 15).map(i => s"(?$i)").mkString(".*")
    val conds15 = (1 to 15).map(i => s"okey = $i").mkString(", ")
    intercept[IllegalArgumentException] {
      run(s"SELECT sequenceMatch('$pat')(d, $conds15) AS m FROM orders")
    }
  }

  test("SQL keyword forms: EXTRACT, SUBSTRING FROM FOR, TRIM BOTH, :: cast, typed and hex literals") {
    val r = run(
      """SELECT EXTRACT(YEAR FROM d) AS yr,
        |  EXTRACT(MONTH FROM DATE '1997-06-15') AS mo,
        |  SUBSTRING(status FROM 1 FOR 1) AS s1,
        |  SUBSTRING('abcdef' FROM 3) AS s2,
        |  TRIM(BOTH 'x' FROM 'xxhixx') AS tb,
        |  TRIM(LEADING FROM '  hi') AS tl,
        |  TRIM(TRAILING 'y' FROM 'hiyy') AS tr2,
        |  okey :: Float64 AS kf,
        |  price :: String AS ps,
        |  0xFF AS hx, 0b101 AS bn,
        |  toYear(TIMESTAMP '1998-02-03 04:05:06') AS ty
        |FROM orders WHERE okey = 1""".stripMargin)
    assert(r == Seq(Seq(1997, 6, "A", "cdef", "hi", "hi", "hi",
      1.0, "100.0", 255, 5, 1998)))
  }

  test("keyword-form fallbacks: comma spellings and EXTRACT(h, re) still work") {
    val r = run(
      """SELECT substring('abcdef', 2, 3) AS s, trim(' hi ') AS t,
        |  extract('a1b22c', '\\d+') AS e
        |FROM orders LIMIT 1""".stripMargin)
    assert(r == Seq(Seq("bcd", "hi", "1")))
  }

  test("POSITION keyword form swaps to CH argument order; comma form unchanged") {
    val r = run(
      """SELECT POSITION('C' IN status) AS p1, position(status, 'C') AS p2
        |FROM orders WHERE okey = 5""".stripMargin)
    assert(r == Seq(Seq(1, 1)))
  }

  test("translation is side-effect-free: scalar/EXISTS subqueries fire zero jobs") {
    orders.count() // warm the session so lazy-init jobs don't pollute the count
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val df = ChSql.sql(spark,
        """SELECT okey, price / (SELECT max(price) FROM orders) AS rel
          |FROM orders
          |WHERE EXISTS (SELECT 1 FROM custs WHERE nat = 1)
          |  AND price > (SELECT avg(price) FROM orders)
          |ORDER BY okey""".stripMargin)(resolve)
      org.apache.spark.sql.graftbridge.ListenerBus.drain(spark.sparkContext)
      assert(jobs.get() == 0,
        s"translation launched ${jobs.get()} Spark job(s) — subqueries are eager again")
      // the subplans are INSIDE the outer plan, visible to the optimizer
      val planStr = df.queryExecution.optimizedPlan.toString.toLowerCase
      assert(planStr.contains("subquery"))
      // and the values still match the eager semantics
      val r = df.collect().map(_.toSeq)
      // avg(price) = 182.5 → okey 2 (250) and 5 (500) qualify
      assert(r.map(_.head) sameElements Array(2L, 5L).map(_.asInstanceOf[Any]))
      assert(r.head(1) == 250.0 / 500.0)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("distributed: translated plan pushes filter to scan on parquet") {
    val dir = tempDir("chsql").toString
    orders.write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val df = ChSql.sql(spark, "SELECT okey, price FROM orders WHERE price > 100")(
      n => spark.read.parquet(s"$dir/$n.parquet"))
    val scan = df.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f }.head
    assert(scan.metadata.get("PushedFilters").exists(_.contains("GreaterThan")))
    assert(scan.requiredSchema.fieldNames.toSet == Set("okey", "price"))
  }

  test("-OrNull / -OrDefault combinators: empty state maps to NULL / 0") {
    val r = run(
      "SELECT countIfOrNull(price > 9999) AS c, " +
        "sumIfOrNull(price, price > 9999) AS s, " +
        "sumIfOrDefault(price, price > 9999) AS sd, " +
        "minIfOrNull(price, price > 9999) AS m, " +
        "countIf(price > 9999) AS c0 FROM orders")
    assert(r == Seq(Seq(null, null, 0.0, null, 0L)))
    // non-empty state: OrNull is transparent
    val r2 = run("SELECT countIfOrNull(price > 100) AS c FROM orders")
    assert(r2 == Seq(Seq(3L)))
  }

  test("-Distinct combinator and avg over DISTINCT") {
    val r = run("SELECT countDistinct(status) AS cd, sumDistinct(cust) AS sd, " +
      "avgDistinct(cust) AS ad FROM orders")
    assert(r == Seq(Seq(3L, 60L, 20.0)))
  }

  test("-ForEach combinator aggregates arrays element-wise") {
    val r = run(
      """SELECT cust, sumForEach(a) AS s, countForEach(a) AS c,
        |       avgForEach(a) AS av, maxForEach(a) AS mx, minForEach(a) AS mn
        |FROM (SELECT cust, if(okey % 2 = 0, [okey, 10], [okey]) AS a FROM orders)
        |GROUP BY cust ORDER BY cust""".stripMargin)
    assert(r.size == 3)
    val row10 = r.head
    assert(row10(0) == 10L)
    assert(row10(1) == Seq(3L, 10L))      // sum: [1]+[2,10]
    assert(row10(2) == Seq(2L, 1L))       // count per position
    assert(row10(3) == Seq(1.5, 10.0))    // avg per position
    assert(row10(4) == Seq(2L, 10L))      // max per position
    assert(row10(5) == Seq(1L, 10L))      // min per position
    assert(r(2)(1) == Seq(11L, 10L))      // cust 30: [5]+[6,10]
  }

  test("singleValueOrNull, boundingRatio, entropy, skewSamp, kurtSamp") {
    assert(run("SELECT singleValueOrNull(nat) AS sv FROM custs WHERE cust < 30")
      == Seq(Seq(1)))
    assert(run("SELECT singleValueOrNull(nat) AS sv FROM custs")
      == Seq(Seq(null)))
    // y at max x (okey=6 → 120) minus y at min x (okey=1 → 100), over Δx=5
    assert(run("SELECT boundingRatio(okey, price) AS br FROM orders")
      == Seq(Seq(4.0)))
    val e = run("SELECT entropy(status) AS e FROM orders")
      .head.head.asInstanceOf[Double]
    def lg2(p: Double) = math.log(p) / math.log(2)
    val expected = -(4.0 / 6 * lg2(4.0 / 6) + 2 * (1.0 / 6 * lg2(1.0 / 6)))
    assert(math.abs(e - expected) < 1e-9)
    val r5 = run("SELECT skewSamp(price) AS sk, kurtSamp(price) AS ku FROM orders")
    val xs = Seq(100.0, 250.0, 50.0, 75.0, 500.0, 120.0)
    val n = xs.size
    val mu = xs.sum / n
    val m2s = xs.map(v => math.pow(v - mu, 2)).sum / (n - 1)
    val m3s = xs.map(v => math.pow(v - mu, 3)).sum / (n - 1)
    val m4s = xs.map(v => math.pow(v - mu, 4)).sum / (n - 1)
    val sk = r5.head(0).asInstanceOf[Double]
    val ku = r5.head(1).asInstanceOf[Double]
    assert(math.abs(sk - m3s / math.pow(m2s, 1.5)) < 1e-6)
    assert(math.abs(ku - m4s / (m2s * m2s)) < 1e-6 * math.max(1, ku))
  }

  test("a digit-led word is one name; a number run into a non-word character is refused") {
    import ChSql.{TEnd, TId, TNum}
    assert(ChSql.lexPos("1 1.5 1e5 1.5e-3 0x1F 0b101").map(_._1) ==
      Vector(TNum("1"), TNum("1.5"), TNum("1e5"), TNum("1.5e-3"), TNum("31"),
        TNum("5"), TEnd))
    assert(ChSql.lexPos("1abc 1each 0x1Fg db.1t t.1").map(_._1) ==
      Vector(TId("1abc"), TId("1each"), TId("0x1Fg"), TId("db"), ChSql.TP("."),
        TId("1t"), TId("t"), ChSql.TP("."), TNum("1"), TEnd))
    val t = Seq((7L, 8L)).toDF("1abc", "1each")
    val df = ChSql.sql(spark, "SELECT 1abc, 1each FROM t")(_ => t)
    assert(df.columns.toSeq == Seq("1abc", "1each"))
    assert(df.collect().map(_.toSeq).toSeq == Seq(Seq(7L, 8L)))
    for (bad <- Seq("SELECT 1.5abc FROM t", "SELECT 1e-5x FROM t")) {
      val e = intercept[IllegalArgumentException](ChSql.sql(spark, bad)(_ => t))
      assert(e.getMessage.startsWith("ChSql: malformed number"), e.getMessage)
    }
  }

  test("an empty quoted name is refused, never looked up as a table") {
    val asked = scala.collection.mutable.Buffer.empty[String]
    def q(s: String) = ChSql.sql(spark, s) { n => asked += n; orders }
    for (s <- Seq("SELECT * FROM \"\"", "SELECT * FROM ``", "SELECT `` FROM orders",
        "SELECT okey AS \"\" FROM orders", "SELECT o.`` FROM orders AS o")) {
      val e = intercept[IllegalArgumentException](q(s))
      assert(e.getMessage.contains("ChSql") &&
        e.getMessage.contains("empty quoted"), s"$s: ${e.getMessage}")
    }
    assert(!asked.contains(""))
    val e = intercept[IllegalArgumentException](ChSql.statement(spark,
      "CREATE TABLE `` (a Int64) ENGINE = Memory")(resolve))
    assert(e.getMessage.startsWith("ChSql:") &&
      e.getMessage.contains("empty quoted"), e.getMessage)
  }

  test("FunctionCatalog is pinned to the dispatcher source (no drift)") {
    // Re-extract the `case "..."` arms of funcCall + windowFn from the
    // ChSql source and assert set equality with the published catalog —
    // a function added to the match without a catalog row fails here.
    val src = scala.io.Source.fromFile(
      "src/main/scala/graft/chsql/ChSql.scala", "UTF-8")
    val lines = try src.getLines().toVector finally src.close()
    def extract(start: String, end: String): Seq[String] = {
      val from = lines.indexWhere(_.contains(start))
      val to = lines.indexWhere(_.contains(end), from)
      assert(from >= 0 && to > from, s"sentinels '$start'/'$end' not found")
      val caseRe = """case ("[^"]+"(?:\s*\|\s*"[^"]+")*)""".r
      val litRe = """"([^"]+)"""".r
      lines.slice(from, to).flatMap(ln =>
        caseRe.findAllMatchIn(ln).flatMap(m =>
          litRe.findAllMatchIn(m.group(1)).map(_.group(1))))
    }
    val fromSource =
      (extract("// ---- aggregates ----", "ChSql: unknown function") ++
        extract("private def windowFn", "case _ => funcCall")).toSet
    val catalog = graft.chsql.FunctionCatalog.names.toSet
    val names = graft.chsql.FunctionCatalog.names
    assert(names.size == names.distinct.size,
      s"FunctionCatalog lists a name twice: ${names.diff(names.distinct)}")
    // a duplicate row would surface twice in SHOW FUNCTIONS
    assert(ChSql.statement(spark, "SHOW FUNCTIONS LIKE 'mapfrom%'")(resolve)
      ._1.collect().map(_.getString(0)).toSeq == Seq("mapfromarrays"))
    val missing = fromSource -- catalog
    val stale = catalog -- fromSource
    assert(missing.isEmpty && stale.isEmpty,
      s"FunctionCatalog drift — missing: $missing, stale: $stale")
    // aggregate flags agree with the dispatcher's own classification
    assert(graft.chsql.FunctionCatalog.isAggregate("sumIf"))
    assert(graft.chsql.FunctionCatalog.isAggregate("windowFunnel"))
    assert(!graft.chsql.FunctionCatalog.isAggregate("toYear"))
  }

  test("neighbor over the enclosing ORDER BY (positive, negative, default)") {
    // CH: out of range without an explicit default yields the column
    // TYPE's default (0.0 here) — not NULL
    val r = run(
      "SELECT okey, neighbor(price, 1) AS nxt FROM orders ORDER BY okey")
    assert(r == Seq(Seq(1L, 250.0), Seq(2L, 50.0), Seq(3L, 75.0),
      Seq(4L, 500.0), Seq(5L, 120.0), Seq(6L, 0.0)))
    val back = run(
      "SELECT okey, neighbor(price, -2, 0.0) AS prev2 FROM orders ORDER BY okey")
    assert(back == Seq(Seq(1L, 0.0), Seq(2L, 0.0), Seq(3L, 100.0),
      Seq(4L, 250.0), Seq(5L, 50.0), Seq(6L, 75.0)))
  }

  test("runningDifference: 0 first row, deltas over the query order") {
    val r = run(
      "SELECT okey, runningDifference(price) AS d FROM orders ORDER BY okey")
    assert(r == Seq(Seq(1L, 0.0), Seq(2L, 150.0), Seq(3L, -200.0),
      Seq(4L, 25.0), Seq(5L, 425.0), Seq(6L, -380.0)))
  }

  test("block-order functions refuse without ORDER BY and outside SELECT") {
    val e1 = intercept[IllegalArgumentException] {
      run("SELECT neighbor(price, 1) FROM orders")
    }
    assert(e1.getMessage.contains("ORDER BY"))
    val e2 = intercept[IllegalArgumentException] {
      run("SELECT okey FROM orders WHERE runningDifference(price) > 0 ORDER BY okey")
    }
    assert(e2.getMessage.contains("SELECT list"))
  }

  test("lagInFrame/leadInFrame map to lag/lead with default argument") {
    val r = run(
      """SELECT okey, lagInFrame(price, 1, -1.0) OVER (ORDER BY okey) AS p,
        |  leadInFrame(price, 2, -1.0) OVER (ORDER BY okey) AS n
        |FROM orders ORDER BY okey""".stripMargin)
    assert(r.head == Seq(1L, -1.0, 50.0))
    assert(r.last == Seq(6L, 500.0, -1.0))
  }

  test("lagInFrame: whole-partition frame OK, bounded frame refuses") {
    // the explicit whole-partition frame CH's docs prescribe is the one
    // case where the lag/lead mapping is exact — accepted
    val ok = run(
      """SELECT okey, lagInFrame(price, 1, -1.0) OVER (ORDER BY okey
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS p
        |FROM orders ORDER BY okey""".stripMargin)
    assert(ok.head == Seq(1L, -1.0))
    // a bounded frame is the defining semantic Spark's lag cannot honor
    // — silently returning whole-partition values would be wrong
    val e = intercept[IllegalArgumentException] {
      run(
        """SELECT lagInFrame(price, 1) OVER (ORDER BY okey
          |  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS p
          |FROM orders ORDER BY okey""".stripMargin)
    }
    assert(e.getMessage.contains("lagInFrame"))
    assert(e.getMessage.contains("frame"))
  }

  test("defaultValueOfArgumentType: typed defaults, folded literals") {
    val r = run(
      """SELECT defaultValueOfArgumentType(price) AS dp,
        |  defaultValueOfArgumentType(status) AS ds,
        |  defaultValueOfArgumentType(cust) AS di
        |FROM orders LIMIT 1""".stripMargin)
    assert(r == Seq(Seq(0.0, "", 0L)))
  }

  test("jumpConsistentHash refuses a non-positive bucket count") {
    val e = intercept[IllegalArgumentException] {
      run("SELECT jumpConsistentHash(okey, 0) AS b FROM orders")
    }
    assert(e.getMessage.contains("positive"))
  }

  test("association aggregates survive separator bytes in categories") {
    // two perfectly-associated categories whose values embed  such
    // that an UNESCAPED cell key would collapse both cells into one
    // ('a' + SEP + 'bc' == 'ab' + SEP + 'c'); escaped
    // encoding keeps them distinct -> cramersV = 1 exactly
    val r = run(
      """SELECT round(cramersV(x, y), 6) AS cv
        |FROM (SELECT if(okey % 2 = 0, 'a', concat('a', char(1), 'b')) AS x,
        |  if(okey % 2 = 0, concat('b', char(1), 'c'), 'c') AS y
        |FROM orders)""".stripMargin)
    assert(r == Seq(Seq(1.0)))
  }

  test("minMap refuses non-atomic key/value element types at analysis") {
    val e = intercept[Exception] {
      run("SELECT minMap([(1, 2)], [1]) AS m FROM orders")
    }
    assert(e.getMessage.toLowerCase.contains("atomic"))
  }

  test("multiSearch first-position / first-index over needle arrays") {
    val r = run(
      """SELECT multiSearchFirstPosition(name, ['ro', 'li']) AS p,
        |  multiSearchFirstIndex(name, ['ro', 'li']) AS i
        |FROM custs ORDER BY cust""".stripMargin)
    // alice: 'li' at 2 (index 2); bob: none; carol: 'ro' at 3 (index 1)
    assert(r == Seq(Seq(2L, 2L), Seq(0L, 0L), Seq(3L, 1L)))
  }

  test("multiMatchAny / multiMatchAnyIndex over regex arrays") {
    val r = run(
      """SELECT multiMatchAny(name, ['^a', 'ol$']) AS m,
        |  multiMatchAnyIndex(name, ['^a', 'ol$']) AS i
        |FROM custs ORDER BY cust""".stripMargin)
    assert(r == Seq(Seq(true, 1L), Seq(false, 0L), Seq(true, 2L)))
  }

  test("hasSubstr: contiguous array subsequence") {
    val r = run(
      """SELECT hasSubstr([1, 2, 3, 4], [2, 3]) AS yes,
        |  hasSubstr([1, 2, 3, 4], [2, 4]) AS no,
        |  hasSubstr([1, 2], []) AS empty""".stripMargin)
    assert(r == Seq(Seq(true, false, true)))
  }

  test("simpleLinearRegression / sumCount / anyHeavy / uniqTheta aggregates") {
    val r = run(
      """SELECT status,
        |  round(simpleLinearRegression(okey, price).1, 4) AS k,
        |  round(simpleLinearRegression(okey, price).2, 4) AS b,
        |  sumCount(price).1 AS s, sumCount(price).2 AS c,
        |  anyHeavy(cust) AS hv, uniqTheta(cust) AS u
        |FROM orders GROUP BY status ORDER BY status""".stripMargin)
    // status A: okey (1,3,4,6), price (100,50,75,120) — slope/intercept
    // from the least-squares algebra; anyHeavy ties (10,20,20,30) → 20
    val a = r.head
    assert(a.head == "A" && a(3) == 345.0 && a(4) == 4L && a(6) == 3L)
    assert(a(5) == 20L) // deterministic lowest-value tie-break at max freq
    val xs = Seq(1.0, 3.0, 4.0, 6.0); val ys = Seq(100.0, 50.0, 75.0, 120.0)
    val mx = xs.sum / 4; val my = ys.sum / 4
    val kk = xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum /
      xs.map(x => (x - mx) * (x - mx)).sum
    assert(a(1) == BigDecimal(kk).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(a(2) == BigDecimal(my - kk * mx).setScale(4,
      BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("geohashEncode/Decode round-trip and pointInPolygon ray casting") {
    val r = run(
      """SELECT geohashEncode(-5.6, 42.6, 5) AS gh,
        |  round(geohashDecode('ezs42').1, 6) AS lon,
        |  round(geohashDecode('ezs42').2, 6) AS lat,
        |  pointInPolygon((3.0, 3.0),
        |    [(6.0, 0.0), (8.0, 4.0), (5.0, 8.0), (0.0, 2.0)]) AS pin,
        |  pointInPolygon((20.0, 3.0),
        |    [(6.0, 0.0), (8.0, 4.0), (5.0, 8.0), (0.0, 2.0)]) AS pout""".stripMargin)
    assert(r == Seq(Seq("ezs42", -5.603027, 42.60498, true, false)))
  }

  test("arrayFill/arrayReverseFill carry the last predicate-true element") {
    val r = run(
      """SELECT arrayFill(x -> x != 0, [0, 1, 0, 0, 5, 0]) AS f,
        |  arrayReverseFill(x -> x != 0, [0, 1, 0, 0, 5, 0]) AS rf""".stripMargin)
    assert(r == Seq(Seq(Seq(0, 1, 1, 1, 5, 5), Seq(1, 1, 5, 5, 5, 0))))
  }

  test("arraySplit/arrayReverseSplit cut before/after marked elements") {
    val r = run(
      """SELECT arraySplit(x -> x = 1, [1, 2, 3, 1, 5]) AS s,
        |  arrayReverseSplit(x -> x = 1, [1, 2, 3, 1, 5]) AS rs,
        |  arraySplit(x -> x = 9, []) AS se""".stripMargin)
    assert(r == Seq(Seq(
      Seq(Seq(1, 2, 3), Seq(1, 5)),
      Seq(Seq(1), Seq(2, 3, 1), Seq(5)),
      Seq())))
  }

  test("arrayAUC: exact pairwise with half-weight ties") {
    val r = run(
      """SELECT round(arrayAUC([0.1, 0.4, 0.35, 0.8], [0, 0, 1, 1]), 4) AS auc,
        |  arrayAUC([0.5, 0.5], [1, 0]) AS tie,
        |  arrayAUC([0.5, 0.7], [1, 1]) AS onecls""".stripMargin)
    assert(r == Seq(Seq(0.75, 0.5, null)))
  }

  test("timeSlot/timeSlots/dateName/monthName/toISOYear/toYearWeek") {
    val r = run(
      """SELECT timeSlot(toDateTime('2024-03-15 10:47:12')) AS ts,
        |  timeSlots(toDateTime('2024-03-15 10:47:12'), 3600) AS slots,
        |  dateName('month', toDate('2024-03-15')) AS mn,
        |  dateName('weekday', toDate('2024-03-15')) AS wd,
        |  monthName(toDate('2024-03-15')) AS mn2,
        |  toISOYear(toDate('2021-01-01')) AS iy,
        |  toYearWeek(toDate('2021-01-01')) AS yw""".stripMargin)
    val row = r.head
    assert(row.head.toString == "2024-03-15 10:30:00.0")
    assert(row(1).asInstanceOf[scala.collection.Seq[Any]].map(_.toString).toSeq == Seq(
      "2024-03-15 10:30:00.0", "2024-03-15 11:00:00.0", "2024-03-15 11:30:00.0"))
    // 2021-01-01 is ISO week 53 of ISO year 2020
    assert(row(2) == "March" && row(3) == "Friday" && row(4) == "March")
    assert(row(5) == 2020L && row(6) == 202053L)
  }

  test("minMap/maxMap: per-key extrema tuples; arrayEnumerateUniq/Dense") {
    val r = run(
      """SELECT arrayStringConcat(arrayMap(x -> toString(x),
        |    minMap([okey % 2, 2], [price, price]).1), ',') AS mk,
        |  arrayStringConcat(arrayMap(x -> toString(x),
        |    minMap([okey % 2, 2], [price, price]).2), ',') AS mn,
        |  arrayStringConcat(arrayMap(x -> toString(x),
        |    maxMap([okey % 2, 2], [price, price]).2), ',') AS mx
        |FROM orders""".stripMargin)
    // even okeys (2,4,6) → prices 250/75/120: min 75, max 250;
    // odd (1,3,5) → 100/50/500: min 50, max 500; key 2 sees all rows
    assert(r == Seq(Seq("0,1,2", "75.0,50.0,50.0", "250.0,500.0,500.0")))
    val e = run(
      """SELECT arrayStringConcat(arrayMap(x -> toString(x),
        |    arrayEnumerateUniq([10, 20, 10, 30, 10, 20])), ',') AS u,
        |  arrayStringConcat(arrayMap(x -> toString(x),
        |    arrayEnumerateDense([10, 20, 10, 30, 10, 20])), ',') AS dn""".stripMargin)
    assert(e == Seq(Seq("1,1,2,1,3,2", "1,2,1,3,1,2")))
  }

  test("mapAdd/mapSubtract/mapPopulateSeries and formatReadableTimeDelta") {
    val r = run(
      """SELECT arrayStringConcat(arrayMap(x -> toString(x),
        |    mapAdd(([1, 2], [10, 10]), ([1, 3], [5, 5])).1), ',') AS k1,
        |  arrayStringConcat(arrayMap(x -> toString(x),
        |    mapAdd(([1, 2], [10, 10]), ([1, 3], [5, 5])).2), ',') AS v1,
        |  arrayStringConcat(arrayMap(x -> toString(x),
        |    mapSubtract(([1, 2], [10, 10]), ([1, 2], [4, 11])).2), ',') AS v2,
        |  arrayStringConcat(arrayMap(x -> toString(x),
        |    mapPopulateSeries(([1, 4], [11, 44])).1), ',') AS pk,
        |  arrayStringConcat(arrayMap(x -> toString(x),
        |    mapPopulateSeries(([1, 4], [11, 44])).2), ',') AS pv,
        |  formatReadableTimeDelta(90061) AS frtd,
        |  formatReadableTimeDelta(1) AS one,
        |  formatReadableTimeDelta(0) AS zero""".stripMargin)
    assert(r == Seq(Seq("1,2,3", "15,10,5", "6,-1", "1,2,3,4", "11,0,0,44",
      "1 day, 1 hour, 1 minute, 1 second", "1 second", "0 seconds")))
  }

  test("jumpConsistentHash, widthBucket, array shifts, normalizeQuery") {
    val r = run(
      """SELECT jumpConsistentHash(10863919174838991, 5) AS jh,
        |  widthBucket(7.5, 0.0, 10.0, 5) AS wb,
        |  widthBucket(-1.0, 0.0, 10.0, 5) AS wlo,
        |  widthBucket(10.0, 0.0, 10.0, 5) AS whi,
        |  arrayShiftLeft([1, 2, 3, 4], 2) AS sl,
        |  arrayShiftRight([1, 2, 3, 4], 1, 9) AS sr,
        |  JSON_EXISTS('{"a":{"b":1}}', 'a', 'b') AS je,
        |  JSON_EXISTS('{"a":{"b":1}}', 'a', 'c') AS jn,
        |  normalizeQuery('SELECT x1 + 12, \'lit\' FROM t WHERE y = 3.5') AS nq,
        |  formatReadableDecimalSize(1234567) AS fr""".stripMargin)
    val row = r.head
    // Lamping–Veach reference implementation vector (independently
    // recomputed: unsigned 64-bit LCG + (b+1)*2^31/((key>>33)+1) steps)
    assert(row.head == 1L)
    val vec = run(
      "SELECT jumpConsistentHash(number, 5) AS b FROM numbers(10)")
    assert(vec.map(_.head) == Seq(0L, 0L, 3L, 3L, 1L, 4L, 2L, 0L, 4L, 2L))
    assert(row(1) == 4L && row(2) == 0L && row(3) == 6L)
    assert(row(4).asInstanceOf[scala.collection.Seq[Int]].toSeq == Seq(3, 4, 0, 0))
    assert(row(5).asInstanceOf[scala.collection.Seq[Int]].toSeq == Seq(9, 1, 2, 3))
    assert(row(6) == true && row(7) == false)
    assert(row(8) == "SELECT x1 + ?, ? FROM t WHERE y = ?")
    assert(row(9) == "1.23 MB")
    // stability: same key, more buckets — assignment only moves forward
    val stab = run(
      """SELECT jumpConsistentHash(number * 7 + 3, 4) AS b4,
        |  jumpConsistentHash(number * 7 + 3, 5) AS b5
        |FROM numbers(200)""".stripMargin)
    assert(stab.forall { case Seq(b4: Long, b5: Long) =>
      b5 == b4 || b5 == 4L })
  }

  test("ngramDistance: 0 for identical, 1 for disjoint, between otherwise") {
    val r = run(
      """SELECT ngramDistance('clickhouse', 'clickhouse') AS same,
        |  ngramDistance('clickhouse', 'zzzzzzzz') AS far,
        |  ngramDistance('clickhouse', 'clickhorse') AS near""".stripMargin)
    val Seq(Seq(same: Double, far: Double, near: Double)) = r
    assert(same == 0.0 && far == 1.0 && near > 0.0 && near < 1.0)
  }

  test("Sql.splitStatements: a ';' in a string, a backquoted name or a comment does not split") {
    Seq("SELECT 'a\\';b'", "SELECT 1 AS `a;b`", "SELECT 1 -- x;y").foreach { q =>
      assert(Sql.splitStatements(q) == Seq(q))
    }
    assert(Sql.splitStatements("SELECT 1; SELECT 'x;y' ;\n; SELECT 2;") ==
      Seq("SELECT 1", "SELECT 'x;y'", "SELECT 2"))
  }

  test("lexer follows ClickHouse quoting: '' in strings, \"…\" names, doubled quotes") {
    assert(run("SELECT 'it''s' AS s") == Seq(Seq("it's")))
    assert(ChSql.sql(spark, "SELECT 1 AS \"x\"")(resolve).columns.toSeq == Seq("x"))
    var read = ""
    ChSql.sql(spark, "SELECT count() AS n FROM `a``b`") { n => read = n; orders }
    assert(read == "a`b")
  }

  test("a quoted name never matches a keyword: SELECT `from` FROM t") {
    val t = Seq(7).toDF("from")
    val df = ChSql.sql(spark, "SELECT `from` FROM t")(_ => t)
    assert(df.columns.toSeq == Seq("from") && df.collect().map(_.getInt(0)).toSeq == Seq(7))
  }
}
