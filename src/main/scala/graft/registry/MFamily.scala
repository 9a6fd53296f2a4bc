package graft
package registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{DependencyGraph, LineagePipeline}
import graft.sources.CatalogSource

/** The m family: the reference's own metadata dataflow (catalog scan,
  * lineage, edges, graph closure) on the built-in household fixture.
  * Their oracles re-derive the same result in pure SQL from inline
  * VALUES, an independent re-computation, not a tautology.
  */
object MFamily {

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

  val entries: Seq[Entry] = Seq(
    // ===== metadata analysis (reference's own dataflow, SURVEY.md §2.1) =====
    // S1: catalog scan, view-kind filter, system-db exclusion, ordered
    Entry("m1_views_catalog", (s, _) =>
      CatalogSource.views(CatalogSource.fixtureCatalog(s).toDF())
        .select("database", "name", "engine"),
      viewNames.map(v => s"('test','$v','View')")
        .mkString("SELECT * FROM (VALUES ", ", ",
          ") AS t(database, name, engine) ORDER BY database, name")),

    // S2: complementary non-view filter
    Entry("m2_tables_catalog", (s, _) =>
      CatalogSource.tables(CatalogSource.fixtureCatalog(s).toDF())
        .select("database", "name", "engine"),
      tableNames.map(t => s"('test','$t','MergeTree')")
        .mkString("SELECT * FROM (VALUES ", ", ",
          ") AS t(database, name, engine) ORDER BY database, name")),

    // E3+G2+G3: lineage UDF → explode to edges → first-seen dedup
    Entry("m3_lineage_edges", (s, _) => fixtureEdges(s).orderBy("src", "dst"),
      s"SELECT * FROM (VALUES $edgeValues) AS t(src, dst) ORDER BY src, dst"),

    // AST-exact lineage tier: the real CH parser (heuristic fallback)
    // must reproduce the corpus's known-true edge set — same oracle as
    // m3, independently derived through a different extractor
    Entry("m9_lineage_exact", (s, _) => {
      val deps = LineagePipeline.lineageExact(
          CatalogSource.views(CatalogSource.fixtureCatalog(s).toDF()))
        .filter(col("error").isNull).select("view", "deps")
      DependencyGraph.dedupEdges(DependencyGraph.edges(deps))
        .select("src", "dst").orderBy("src", "dst")
    },
      s"SELECT * FROM (VALUES $edgeValues) AS t(src, dst) ORDER BY src, dst"),

    // aggregation over edges: fan-out per source object
    Entry("m4_fanout", (s, _) =>
      fixtureEdges(s).groupBy("src").agg(count(lit(1)).as("fan_out"))
        .orderBy(desc("fan_out"), col("src")),
      s"""SELECT src, count(*) AS fan_out FROM (VALUES $edgeValues) AS t(src, dst)
         |GROUP BY src ORDER BY fan_out DESC, src""".stripMargin),

    // G4+G5: classification + isolated objects (left-anti join)
    Entry("m5_isolated", (s, _) => {
      val catalog = CatalogSource.fixtureCatalog(s).toDF()
        .filter(!col("database").isin(CatalogSource.systemDbs: _*))
      val objs = catalog.select(concat_ws(".", col("database"), col("name")).as("id"))
      DependencyGraph.isolated(objs, fixtureEdges(s))
    },
      (tableNames.map(t => s"('test.$t')") ++ viewNames.map(v => s"('test.$v')"))
        .mkString("WITH objs(id) AS (VALUES ", ", ",
          s"""), e(src, dst) AS (VALUES $edgeValues)
             |SELECT id FROM objs
             |WHERE id NOT IN (SELECT src FROM e UNION SELECT dst FROM e)
             |ORDER BY id""".stripMargin)),

    // transitive closure: multi-hop lineage with shortest depth
    Entry("m6_closure", (s, _) =>
      DependencyGraph.transitiveClosure(fixtureEdges(s))
        .orderBy("src", "dst"),
      s"""WITH RECURSIVE e(src, dst) AS (VALUES $edgeValues),
         |paths(src, dst, depth) AS (
         |  SELECT src, dst, 1 FROM e
         |  UNION ALL
         |  SELECT p.src, e.dst, p.depth + 1 FROM paths p JOIN e ON p.dst = e.src
         |  WHERE p.depth < 10)
         |SELECT src, dst, CAST(min(depth) AS INTEGER) AS depth
         |FROM paths GROUP BY src, dst ORDER BY src, dst""".stripMargin),

    // refresh order: topological levels over the dependency DAG
    Entry("m7_refresh_levels", (s, _) => {
      val catalog = CatalogSource.fixtureCatalog(s).toDF()
        .filter(!col("database").isin(CatalogSource.systemDbs: _*))
      val objs = catalog.select(concat_ws(".", col("database"), col("name")).as("id"))
      graft.operators.DependencyGraph.refreshLevels(objs, fixtureEdges(s))
        .orderBy("id")
    },
      (tableNames.map(t => s"('test.$t')") ++ viewNames.map(v => s"('test.$v')"))
        .mkString("WITH RECURSIVE objs(id) AS (SELECT * FROM (VALUES ", ", ",
          s"""))
             |, e(src, dst) AS (VALUES $edgeValues),
             |lv(id, level) AS (
             |  SELECT id, 0 FROM objs WHERE id NOT IN (SELECT dst FROM e)
             |  UNION ALL
             |  SELECT e.dst, lv.level + 1 FROM lv JOIN e ON e.src = lv.id)
             |SELECT id, CAST(max(level) AS INTEGER) AS level
             |FROM lv GROUP BY id ORDER BY id""".stripMargin)),

    // per-view error channel (P1 keep-going contract) as a queryable result
    Entry("m8_lineage_errors", (s, _) => {
      val (_, errs) = LineagePipeline.dependencies(
        CatalogSource.fixtureCatalog(s).toDF())
      errs.orderBy("view")
    },
      """SELECT * FROM (VALUES
        |  ('test.v_broken', 'LineageParseException: Unterminated string literal'))
        |AS t(view, error) ORDER BY view""".stripMargin),
  )
}
