package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.functions.LineageExtractor
import graft.model.LineageParseException

/** DDL corpus for lineage-extractor parity (FIXTURES.md §4), one case per
  * grammar feature affecting table extraction
  * (reference ch_view_dependencies.py:105-258). */
class LineageExtractorSpec extends AnyFunSuite with SparkSuite {

  private def t(ddl: String, db: String = "test"): Seq[String] =
    LineageExtractor.tables(ddl, Some(db))

  test("plain qualified ref") {
    assert(t("CREATE VIEW test.v AS SELECT * FROM test.car") == Seq("test.car"))
  }

  test("unqualified ref gets view's database") {
    assert(t("CREATE VIEW test.v AS SELECT * FROM car") == Seq("test.car"))
  }

  test("backtick and quoted identifiers cleaned") {
    assert(t("CREATE VIEW test.v AS SELECT * FROM `test`.`car`") == Seq("test.car"))
    assert(t("CREATE VIEW test.v AS SELECT * FROM \"other\".\"pet\"") == Seq("other.pet"))
  }

  test("multi-join view: JOIN, LEFT JOIN, comma cross join") {
    val ddl =
      """CREATE VIEW test.v AS
        |SELECT * FROM test.a
        |JOIN test.b ON a.x = b.x
        |LEFT JOIN c ON c.x = a.x""".stripMargin
    assert(t(ddl) == Seq("test.a", "test.b", "test.c"))
    assert(t("CREATE VIEW test.v AS SELECT * FROM a, b, other.c WHERE a.x = b.x") ==
      Seq("other.c", "test.a", "test.b"))
  }

  test("every join flavor is captured") {
    val ddl =
      """CREATE VIEW test.v AS SELECT * FROM t1
        |INNER JOIN t2 ON t1.k = t2.k
        |LEFT OUTER JOIN t3 ON t1.k = t3.k
        |RIGHT ANTI JOIN t4 ON t1.k = t4.k
        |LEFT SEMI JOIN t5 ON t1.k = t5.k
        |ASOF JOIN t6 ON t1.k = t6.k AND t1.ts >= t6.ts
        |GLOBAL ANY JOIN t7 USING k
        |CROSS JOIN t8
        |FULL JOIN t9 ON t1.k = t9.k""".stripMargin
    assert(t(ddl) == (1 to 9).map(i => s"test.t$i"))
  }

  test("CTE name excluded, even when referenced qualified (reference quirk)") {
    val ddl =
      """CREATE VIEW test.v AS
        |WITH cte AS (SELECT * FROM test.base)
        |SELECT * FROM cte JOIN test.other ON cte.x = other.x""".stripMargin
    assert(t(ddl) == Seq("test.base", "test.other"))
    // unqualified compare quirk: db2.cte also excluded
    val ddl2 =
      """CREATE VIEW test.v AS
        |WITH cte AS (SELECT 1)
        |SELECT * FROM db2.cte""".stripMargin
    assert(t(ddl2) == Seq())
  }

  test("divergence: first CTE of a WITH clause is excluded (reference's regex misses it)") {
    // the reference runs its CTE regex on whitespace-free getText, so the
    // first CTE is captured as `WITHflags` and never excluded — it would
    // emit a spurious test.flags edge here. We exclude all declared CTEs.
    val ddl =
      """CREATE VIEW test.v AS
        |WITH flags AS (SELECT * FROM test.base)
        |SELECT * FROM flags JOIN test.other ON flags.x = other.x""".stripMargin
    assert(t(ddl) == Seq("test.base", "test.other"))
  }

  test("divergence: comma join after ON is collected (reference's regex misses it)") {
    // comma = cross join, so c is a real dependency; the reference's
    // FROM/JOIN regex stops inside the ON expression and drops it
    val ddl = "CREATE VIEW test.v AS SELECT * FROM a JOIN b ON a.x = b.x, c"
    assert(t(ddl) == Seq("test.a", "test.b", "test.c"))
  }

  test("multiple CTEs") {
    val ddl =
      """CREATE VIEW test.v AS
        |WITH a AS (SELECT * FROM t1), b AS (SELECT * FROM t2)
        |SELECT * FROM a JOIN b USING x JOIN t3 USING y""".stripMargin
    assert(t(ddl) == Seq("test.t1", "test.t2", "test.t3"))
  }

  test("table function excluded (paren rule)") {
    assert(t("CREATE VIEW test.v AS SELECT * FROM s3('http://x/y.csv', 'CSV')") == Seq())
    assert(t("CREATE VIEW test.v AS SELECT * FROM numbers(10)") == Seq())
    assert(t(
      "CREATE VIEW test.v AS SELECT * FROM remote('host', db.t) JOIN test.real ON 1=1"
    ) == Seq("test.real"))
  }

  test("UNION ALL of two selects") {
    val ddl =
      """CREATE VIEW test.v AS
        |SELECT x FROM test.a
        |UNION ALL
        |SELECT x FROM test.b""".stripMargin
    assert(t(ddl) == Seq("test.a", "test.b"))
  }

  test("subquery in FROM: inner tables found, no phantom ref") {
    val ddl =
      """CREATE VIEW test.v AS
        |SELECT * FROM (SELECT x FROM test.inner1 JOIN inner2 USING k) AS sub""".stripMargin
    assert(t(ddl) == Seq("test.inner1", "test.inner2"))
  }

  test("IN-subquery tables found") {
    val ddl = "CREATE VIEW test.v AS SELECT * FROM test.a WHERE x IN (SELECT x FROM test.b)"
    assert(t(ddl) == Seq("test.a", "test.b"))
  }

  test("ARRAY JOIN does not produce a table ref") {
    val ddl =
      """CREATE VIEW test.v AS
        |SELECT x, arr_elem FROM test.a
        |ARRAY JOIN arr AS arr_elem""".stripMargin
    assert(t(ddl) == Seq("test.a"))
    val ddl2 = "CREATE VIEW test.v AS SELECT * FROM test.a LEFT ARRAY JOIN tags"
    assert(t(ddl2) == Seq("test.a"))
  }

  test("EXTRACT/SUBSTRING/TRIM FROM is not a table ref") {
    val ddl =
      """CREATE VIEW test.v AS
        |SELECT EXTRACT(YEAR FROM d), SUBSTRING(s FROM 2 FOR 3), TRIM(BOTH ' ' FROM s)
        |FROM test.a""".stripMargin
    assert(t(ddl) == Seq("test.a"))
  }

  test("materialized view with TO target") {
    val ddl =
      """CREATE MATERIALIZED VIEW test.mv TO test.dest AS
        |SELECT * FROM test.src""".stripMargin
    // the reference's collector only sees FROM/JOIN refs; TO target is not
    // captured (ch_view_dependencies.py:205-211 regex covers FROM|JOIN only)
    assert(t(ddl) == Seq("test.src"))
  }

  test("aliases not captured as tables") {
    val ddl = "CREATE VIEW test.v AS SELECT t.x FROM test.car AS t WHERE t.x > 1"
    assert(t(ddl) == Seq("test.car"))
    val ddl2 = "CREATE VIEW test.v AS SELECT t.x FROM test.car t FINAL"
    assert(t(ddl2) == Seq("test.car"))
  }

  test("comments and strings do not confuse the scanner") {
    val ddl =
      """CREATE VIEW test.v AS
        |-- FROM fake.table1
        |/* JOIN fake.table2 */
        |SELECT 'FROM fake.table3' AS s FROM test.real""".stripMargin
    assert(t(ddl) == Seq("test.real"))
  }

  test("distinct + sorted output") {
    val ddl =
      """CREATE VIEW test.v AS
        |SELECT * FROM test.b JOIN test.a ON 1=1 JOIN test.b ON 1=1""".stripMargin
    assert(t(ddl) == Seq("test.a", "test.b"))
  }

  test("unparseable DDL raises; extract() traps per-row") {
    intercept[LineageParseException](LineageExtractor.tables("", Some("test")))
    intercept[LineageParseException](
      LineageExtractor.tables("SELECT 'unterminated FROM x", Some("test")))
    val (deps, err) = LineageExtractor.extract("", Some("test"))
    assert(deps.isEmpty && err.isDefined)
    val (d2, e2) = LineageExtractor.extract(
      "CREATE VIEW test.v AS SELECT * FROM test.ok", Some("test"))
    assert(d2 == Seq("test.ok") && e2.isEmpty)
  }

  test("no default db: unqualified stays bare") {
    assert(LineageExtractor.tables("SELECT * FROM car", None) == Seq("car"))
  }

  test("exact tier: real parser agrees with the heuristic on plain shapes") {
    for (ddl <- Seq(
      "CREATE VIEW test.v AS SELECT * FROM test.a JOIN b ON a.x = b.x",
      """CREATE VIEW test.v AS
        |WITH flags AS (SELECT * FROM test.base)
        |SELECT household_id FROM flags""".stripMargin,
      "CREATE VIEW test.v AS SELECT (SELECT max(x) FROM test.m) AS mx FROM test.a",
      "CREATE VIEW test.v AS SELECT * FROM a WHERE x IN (SELECT x FROM test.allow)")) {
      val (exact, tier) = LineageExtractor.tablesExact(ddl, Some("test"))
      assert(tier == "exact", ddl)
      assert(exact == LineageExtractor.tables(ddl, Some("test")), ddl)
    }
  }

  test("exact tier: qualified ref colliding with a CTE name is kept (heuristic drops it)") {
    val ddl =
      """CREATE VIEW test.v AS
        |WITH x AS (SELECT 1 AS k)
        |SELECT * FROM db.x JOIN x ON 1 = 1""".stripMargin
    // heuristic: CTE exclusion matches the unqualified table part → db.x lost
    assert(LineageExtractor.tables(ddl, Some("test")) == Nil)
    // exact: qualified refs bypass CTEs in CH → db.x is a real dependency
    val (exact, tier) = LineageExtractor.tablesExact(ddl, Some("test"))
    assert(tier == "exact" && exact == Seq("db.x"))
  }

  test("exact tier: unparseable body falls back to the heuristic, keep-going contract holds") {
    val odd = "CREATE VIEW test.v AS SELECT FROM FROM test.a %%%"
    val (deps, tier) = LineageExtractor.tablesExact(odd, Some("test"))
    assert(tier == "heuristic")
    assert(deps == LineageExtractor.tables(odd, Some("test")))
    val (d2, t2, e2) = LineageExtractor.extractExact("", Some("test"))
    assert(d2.isEmpty && t2 == "error" && e2.isDefined)
  }

  test("exact tier: JOIN ON subqueries contribute dependencies") {
    val ddl =
      """CREATE VIEW test.v AS
        |SELECT * FROM a JOIN b ON a.k = b.k AND b.x IN (SELECT x FROM c)""".stripMargin
    val (exact, tier) = LineageExtractor.tablesExact(ddl, Some("test"))
    assert(tier == "exact")
    assert(exact == Seq("test.a", "test.b", "test.c"))
  }

  test("exact tier: the whole fixture corpus parses exactly (no silent fallback)") {
    // if a grammar gap sneaks in, m9 would silently ride the heuristic —
    // pin that every well-formed corpus view gets the real parse
    val views = graft.sources.CatalogSource.views(
      graft.sources.CatalogSource.fixtureCatalog(spark).toDF()).collect()
    val tiers = views.map { r =>
      val ddl = Option(r.getAs[String]("create_table_query")).getOrElse("")
      val name = r.getAs[String]("name")
      val (_, tier, _) = LineageExtractor.extractExact(
        ddl, Some(r.getAs[String]("database")))
      name -> tier
    }.toMap
    val expectHeuristic = Set("v_broken") // deliberately malformed fixture
    tiers.foreach { case (name, tier) =>
      if (expectHeuristic.contains(name)) assert(tier != "exact", name)
      else assert(tier == "exact", s"$name fell back to $tier")
    }
  }

  test("keywords match under a Turkish default locale") {
    // tr-TR upper-cases `join` to `JOİN` and lower-cases `SUBSTRING` to
    // `substrıng`: keyword tests must not follow the default locale
    val saved = java.util.Locale.getDefault
    java.util.Locale.setDefault(java.util.Locale.forLanguageTag("tr-TR"))
    try {
      assert(t("create view test.v as select * from a join b on a.x = b.x") ==
        Seq("test.a", "test.b"))
      assert(t("create view test.v as with x as (select * from t) select * from x") ==
        Seq("test.t"))
      assert(t("CREATE VIEW test.v AS SELECT SUBSTRING(s FROM pos) FROM t") == Seq("test.t"))
      assert(LineageExtractor.tablesExact(
        "create view test.v as with x as (select * from t) select * from x join u using k",
        Some("test")) == (Seq("test.t", "test.u"), "exact"))
    } finally java.util.Locale.setDefault(saved)
  }

  test("exact tier reads the view head on tokens: comments, quoted names, TO, columns") {
    def exact(ddl: String) = LineageExtractor.tablesExact(ddl, Some("test"))
    assert(exact("CREATE VIEW test.v AS /* c */ SELECT * FROM test.a") == (Seq("test.a"), "exact"))
    assert(exact("CREATE VIEW test.`x AS SELECT 1` AS SELECT * FROM test.a") ==
      (Seq("test.a"), "exact"))
    assert(exact("CREATE VIEW test.v AS SELECT * FROM \"db\".\"t\"") == (Seq("db.t"), "exact"))
    assert(exact("CREATE VIEW test.v AS SELECT 'it''s' AS s FROM test.a") == (Seq("test.a"), "exact"))
    assert(exact(
      """CREATE MATERIALIZED VIEW IF NOT EXISTS test.mv ON CLUSTER c TO test.dest
        |(k UInt64, n UInt64) -- stored columns
        |AS SELECT k, count() AS n FROM test.src GROUP BY k""".stripMargin) ==
      (Seq("test.src"), "exact"))
  }

  test("exact tier parses the whole body: trailing tokens fall back to the heuristic") {
    assert(LineageExtractor.tablesExact(
      "CREATE VIEW test.v AS SELECT 1 AS a b c FROM test.a", Some("test")) ==
      (Seq("test.a"), "heuristic"))
  }

  test("the lexer keeps what the heuristic read: escapes, quoted keywords, wide hex") {
    assert(t("CREATE VIEW test.v AS SELECT 'a\\'b''c' AS s, 0xFFFFFFFFFFFFFFFFF AS h " +
      "FROM test.a JOIN `order` USING k") == Seq("test.a", "test.order"))
  }

  test("parity decision: an unterminated /* comment is a lineage error") {
    val ddl = "CREATE VIEW test.v AS SELECT * FROM test.a /* open"
    assert(LineageExtractor.extract(ddl, Some("test")) ==
      (Nil, Some("LineageParseException: Unterminated /* comment")))
    assert(LineageExtractor.extractExact(ddl, Some("test")) ==
      (Nil, "error", Some("LineageParseException: Unterminated /* comment")))
  }

  test("a digit-led name is one name: FROM db.1t reads db.1t") {
    assert(t("CREATE VIEW test.v AS SELECT * FROM db.1t") == Seq("db.1t"))
    assert(t("CREATE VIEW test.v AS SELECT * FROM 1each JOIN db.2x_y USING k") ==
      Seq("db.2x_y", "test.1each"))
    assert(LineageExtractor.tablesExact("CREATE VIEW test.v AS SELECT * FROM db.1t",
      Some("test")) == (Seq("db.1t"), "exact"))
  }

  test("parity decision: an empty quoted name falls back to the heuristic") {
    for (q <- Seq("\"\"", "``"))
      assert(LineageExtractor.tablesExact(s"CREATE VIEW test.v AS SELECT * FROM $q",
        Some("test")) == (Seq("test."), "heuristic"), q)
  }
}
