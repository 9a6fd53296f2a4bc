package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.model.MermaidOptions
import graft.operators.{DependencyGraph, LineagePipeline}
import graft.sources.CatalogSource

/** End-to-end: fixture catalog → lineage UDF → graph ops → Mermaid.
  * Exercises scan→filter→project→UDF→explode→join→sort→collect→render
  * through Catalyst in one flow (SURVEY.md §7 minimum slice). */
class PipelineSpec extends AnyFunSuite with SparkSuite {

  private lazy val catalog = CatalogSource.fixtureCatalog(spark).toDF()

  test("S1/S2: view-vs-table split excludes system dbs, ordered") {
    val v = CatalogSource.views(catalog).select("name").collect().map(_.getString(0))
    assert(v.toSeq == Seq("v_broken", "v_car_inventory",
      "v_city_household_flag_stats", "v_household_flags",
      "v_household_health_score", "v_household_roster",
      "v_human_profile", "v_pet_ownership"))
    val tbl = CatalogSource.tables(catalog).select("name").collect().map(_.getString(0))
    assert(tbl.toSeq == Seq("car", "household", "household_member", "human", "orphan", "pet"))
  }

  test("one view rule: withKind says view exactly for the rows views(includeSystem = true) returns") {
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("database", "name").collect().map(r => (r.getString(0), r.getString(1))).toSet
    val kinded = CatalogSource.withKind(catalog)
    val asViews = ids(kinded.filter(col("kind") === "view"))
    assert(asViews == ids(CatalogSource.views(catalog, includeSystem = true)))
    assert(asViews.size == 9 && asViews.contains(("INFORMATION_SCHEMA", "TABLES")))
    assert(ids(kinded.filter(col("kind") === "table")) ==
      ids(CatalogSource.tables(catalog, includeSystem = true)))
  }

  test("lineage matches FIXTURES.md expected dependency map") {
    val (deps, errs) = LineagePipeline.dependencies(catalog)
    val m = deps.collect().map(r => r.getString(0) -> r.getSeq[String](1).toList).toMap
    assert(errs.count() == 1) // v_broken routes to the error channel
    assert(errs.head().getString(0) == "test.v_broken")
    assert(m("test.v_car_inventory") == List("test.car", "test.household", "test.human"))
    assert(m("test.v_household_flags") == List(
      "test.car", "test.household", "test.household_member", "test.pet"))
    assert(m("test.v_household_roster") == List(
      "test.car", "test.household", "test.household_member", "test.pet"))
    assert(m("test.v_city_household_flag_stats") == List("test.v_household_flags"))
    assert(m("test.v_household_health_score") == List("test.v_household_flags"))
    assert(m("test.v_pet_ownership") == List("test.human", "test.pet"))
    assert(m("test.v_human_profile") == List("test.human", "test.v_car_inventory"))
  }

  test("graph ops: edges, dedup, classify, isolated, closure") {
    val (deps, _) = LineagePipeline.dependencies(catalog)
    val edges = DependencyGraph.dedupEdges(DependencyGraph.edges(deps))
    assert(edges.count() == 17)

    val nodes = DependencyGraph.nodes(deps)
    val tables = CatalogSource.tables(catalog)
      .select(concat_ws(".", col("database"), col("name")).as("id"))
    val classified = DependencyGraph.classify(nodes, tables)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(classified("test.car") == "chTable")
    assert(classified("test.v_household_flags") == "chView")

    assert(DependencyGraph.isolated(nodes, edges).count() == 0)

    val closure = DependencyGraph.transitiveClosure(
      edges.select("src", "dst"))
    // two-hop: base tables reach the flag-stats / health-score views
    val pairs = closure.collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    assert(pairs.contains(("test.pet", "test.v_city_household_flag_stats", 2)))
    assert(pairs.contains(("test.car", "test.v_human_profile", 2)))
    assert(closure.filter(col("depth") === 1).count() == 17)
  }

  private def closureOf(edges: Seq[(String, String)], maxRounds: Int = 10) = {
    import spark.implicits._
    DependencyGraph.transitiveClosure(edges.toDF("src", "dst"), maxRounds)
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
  }

  private def levelsOf(objects: Seq[String], edges: Seq[(String, String)],
      maxRounds: Int = 10) = {
    import spark.implicits._
    DependencyGraph.refreshLevels(objects.toDF("id"), edges.toDF("src", "dst"), maxRounds)
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
  }

  test("closure and refresh levels: cycles, duplicate edges, empty graph") {
    // a cycle a <-> b: shortest depths close the loop (a,a,2); levels of
    // everything on or downstream of it sit at the path cap 2^maxRounds
    val cyclic = Seq("t" -> "a", "a" -> "b", "b" -> "a", "b" -> "c")
    assert(closureOf(cyclic, maxRounds = 3) == Set(
      ("a", "a", 2), ("a", "b", 1), ("a", "c", 2), ("b", "a", 1), ("b", "b", 2),
      ("b", "c", 1), ("t", "a", 1), ("t", "b", 2), ("t", "c", 3)))
    assert(levelsOf(Seq("t", "a", "b", "c", "z"), cyclic, maxRounds = 3) ==
      Map("a" -> 8, "b" -> 8, "c" -> 8, "t" -> 0, "z" -> 0))
    assert(closureOf(Seq("x" -> "y", "x" -> "y", "y" -> "z")) ==
      Set(("x", "y", 1), ("x", "z", 2), ("y", "z", 1)))
    assert(closureOf(Seq.empty).isEmpty)
    assert(levelsOf(Seq("q"), Seq.empty) == Map("q" -> 0))
  }

  test("closure and refresh levels leave no persisted RDDs or conf changes") {
    import spark.implicits._
    val edges = Seq("t" -> "a", "a" -> "b", "b" -> "a", "b" -> "c").toDF("src", "dst")
    val rddsBefore = spark.sparkContext.getPersistentRDDs.keySet
    val spBefore = spark.conf.get("spark.sql.shuffle.partitions")
    DependencyGraph.transitiveClosure(edges).collect()
    DependencyGraph.refreshLevels(Seq("t", "z").toDF("id"), edges).collect()
    assert(spark.sparkContext.getPersistentRDDs.keySet == rddsBefore)
    assert(spark.conf.get("spark.sql.shuffle.partitions") == spBefore)
  }

  test("nodes keep a view whose deps are null") {
    import spark.implicits._
    val lineage = Seq(("v1", Seq("t1", "t2")), ("v2", null)).toDF("view", "deps")
    assert(DependencyGraph.nodes(lineage).collect().map(_.getString(0)).toSet ==
      Set("v1", "v2", "t1", "t2"))
  }

  test("mermaid output matches the reference output contract") {
    val out = LineagePipeline.toMermaid(catalog,
      MermaidOptions(includeIsolatedNodes = false))
    assert(out.startsWith("graph LR\n"))
    assert(out.contains("classDef chTable fill:#ffdd00"))
    assert(out.contains("  test.car:::chTable"))
    assert(out.contains("  test.v_car_inventory:::chView"))
    assert(out.contains("  test.car -.-> test.v_car_inventory"))
    assert(out.contains("  test.v_household_flags -.-> test.v_household_health_score"))
    assert(out.endsWith("\n"))
    assert(!out.contains("\""))
  }

  test("flagship entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
