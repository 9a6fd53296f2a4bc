package graft

import java.util.concurrent.atomic.AtomicInteger
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ListenerBus
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

  /** Spark jobs `body` starts on this thread. */
  private def jobsOf[T](body: => T): (T, Int) = {
    val tag = "graft.spec.jobs"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (js.properties != null && js.properties.getProperty(tag) != null) jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    spark.sparkContext.setLocalProperty(tag, "1")
    try {
      val out = body
      ListenerBus.drain(spark.sparkContext)
      (out, jobs.get())
    } finally {
      spark.sparkContext.setLocalProperty(tag, null)
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  private object Plans extends AdaptiveSparkPlanHelper {
    def nodes(p: SparkPlan): Seq[SparkPlan] = collect(p) { case n => n }
  }

  test("dependencies parses the catalog in one job; both frames are local rows") {
    val dir = tempDir("graft_catalog")
    try {
      val path = dir.resolve("catalog.parquet").toString
      catalog.write.parquet(path)
      val onDisk = CatalogSource.readParquet(spark, path)
      onDisk.count() // warm the scan so lazy set-up jobs stay out of the count
      val ((deps, errs), jobs) = jobsOf(LineagePipeline.dependencies(onDisk))
      assert(jobs == 1)
      for (df <- Seq(deps, errs)) {
        val plan = Plans.nodes(df.queryExecution.executedPlan)
        assert(!plan.exists(_.expressions.exists(_.exists(_.isInstanceOf[ScalaUDF]))), plan)
        assert(!plan.exists(_.isInstanceOf[FileSourceScanExec]), plan)
        assert(!plan.exists(_.isInstanceOf[Exchange]), plan)
      }
      assert(deps.count() == 7 && errs.count() == 1)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("toMermaid reads the catalog in one job") {
    val dir = tempDir("graft_catalog")
    try {
      val path = dir.resolve("catalog.parquet").toString
      catalog.write.parquet(path)
      val onDisk = CatalogSource.readParquet(spark, path)
      onDisk.count() // warm the scan so lazy set-up jobs stay out of the count
      val (out, jobs) = jobsOf(LineagePipeline.toMermaid(onDisk))
      assert(jobs == 1)
      assert(out == LineagePipeline.toMermaid(catalog))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("dependencies rows come in (database, name) order, equal to the lazy lineage") {
    import spark.implicits._
    // as view ids "a-b.c" < "a.z", but as (database, name) ("a", "z") < ("a-b", "c")
    val extra = Seq(("a-b", "c", "View", "CREATE VIEW c AS SELECT * FROM t"),
      ("a", "z", "View", "CREATE VIEW z AS SELECT * FROM t"))
      .toDF("database", "name", "engine", "create_table_query")
    val shuffled = catalog.union(extra).orderBy(desc("name"))
    val lazyDeps = LineagePipeline.lineage(CatalogSource.views(shuffled))
      .filter(col("error").isNull).select("view", "deps").collect().toSeq
    val (deps, _) = LineagePipeline.dependencies(shuffled)
    assert(deps.collect().toSeq == lazyDeps)
    assert(lazyDeps.map(_.getString(0)).take(2) == Seq("a.z", "a-b.c"))
  }

  test("dependencies, toMermaid and the m3-m7 registry entries leave no state behind") {
    assertLeavesNoState {
      val (deps, errs) = LineagePipeline.dependencies(catalog)
      LineagePipeline.toMermaid(catalog)
      Seq(deps, errs) ++ Seq("m3_lineage_edges", "m4_fanout", "m5_isolated",
        "m6_closure", "m7_refresh_levels").map(SparkEntry.queries(_)(spark, ""))
    }
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
    assertLeavesNoState(Seq(DependencyGraph.transitiveClosure(edges),
      DependencyGraph.refreshLevels(Seq("t", "z").toDF("id"), edges)))
  }

  test("nodes keep a view whose deps are null") {
    import spark.implicits._
    val lineage = Seq(("v1", Seq("t1", "t2")), ("v2", null)).toDF("view", "deps")
    assert(DependencyGraph.nodes(lineage).collect().map(_.getString(0)).toSet ==
      Set("v1", "v2", "t1", "t2"))
  }

  /** G2-G5 as the distributed SQL plans they once were — a `row_number`
    * window, explode + `distinct`, a left join, a `left_anti` join + sort:
    * the reference the driver-side forms must reproduce. */
  private object SqlGraph {
    def edges(lineage: DataFrame): DataFrame =
      lineage.select(col("view"), posexplode(col("deps")).as(Seq("pos", "src")))
        .select(col("src"), col("view").as("dst"), col("pos"))
    def dedupEdges(edges: DataFrame): DataFrame =
      edges.withColumn("rn", row_number().over(Window.partitionBy("src", "dst").orderBy("pos")))
        .filter(col("rn") === 1).drop("rn")
    def nodes(lineage: DataFrame): DataFrame =
      lineage.select(explode(concat(array(col("view")),
        coalesce(col("deps"), array()))).as("id")).distinct()
    def classify(nodes: DataFrame, tables: DataFrame): DataFrame =
      nodes.join(tables.select(col("id").as("tid")), nodes("id") === col("tid"), "left")
        .select(nodes("id"), when(col("tid").isNotNull, "chTable").otherwise("chView").as("cls"))
    def isolated(nodes: DataFrame, edges: DataFrame): DataFrame = {
      val endpoints = edges.select(explode(array(col("src"), col("dst"))).as("id"))
      nodes.join(endpoints, Seq("id"), "left_anti").orderBy("id")
    }
  }

  /** Same schema and the same rows: as a sequence when `ordered`, else as
    * a multiset. */
  private def assertSame(got: DataFrame, want: DataFrame, ordered: Boolean = false): Unit = {
    assert(got.schema == want.schema)
    def rows(df: DataFrame) = {
      val rs = df.collect().toSeq.map(_.toSeq.map(String.valueOf))
      if (ordered) rs else rs.sortBy(_.mkString("\u0001"))
    }
    assert(rows(got) == rows(want))
  }

  test("driver-side G2-G5 equal their SQL formulations on a generated lineage") {
    import spark.implicits._
    // ids whose UTF-16 and UTF-8 orders differ: U+FF61 < U+1F600 only in UTF-8
    val pool = Seq("t0", "t1", "t2", "t3", "v0", "v1", "v2", "\uFF61x", "\uD83D\uDE00x", "é")
    val rnd = new scala.util.Random(7)
    val generated = (0 until 40).map { i =>
      val deps =
        if (rnd.nextInt(8) == 0) null
        else Seq.fill(rnd.nextInt(5))(if (rnd.nextInt(10) == 0) null else pool(rnd.nextInt(pool.size)))
      (s"v${i % 12}", deps) // views 0-11 listed several times
    }
    val fixed = Seq(("v1", Seq("t1", "t2", "t1")), ("v1", Seq("t2", "t1")), ("v9", null),
      ("v10", Seq("t0", null)), ("\uFF61v", Seq()), ("\uD83D\uDE00v", Seq()), ("w", Seq()))
    for (lineage <- Seq((fixed ++ generated).toDF("view", "deps"),
        LineagePipeline.dependencies(catalog)._1)) {
      val tables = Seq("t0", "t1", "t1", null, "t3", "\uFF61x", "absent").toDF("id").orderBy("id")
      val edges = DependencyGraph.edges(lineage)
      assertSame(edges, SqlGraph.edges(lineage))
      val deduped = DependencyGraph.dedupEdges(edges)
      assertSame(deduped, SqlGraph.dedupEdges(edges))
      val nodes = DependencyGraph.nodes(lineage)
      assertSame(nodes, SqlGraph.nodes(lineage))
      assertSame(DependencyGraph.classify(nodes, tables), SqlGraph.classify(nodes, tables))
      for (es <- Seq(deduped, edges.filter(col("src") =!= "t1"), edges.limit(0)))
        assertSame(DependencyGraph.isolated(nodes, es), SqlGraph.isolated(nodes, es), ordered = true)
    }
  }

  test("G2-G5 over the dependencies frames start no job; closure and levels only their own") {
    val (deps, _) = LineagePipeline.dependencies(catalog)
    val ((edges, nodes), g2g5) = jobsOf {
      val edges = DependencyGraph.dedupEdges(DependencyGraph.edges(deps)).select("src", "dst")
      val nodes = DependencyGraph.nodes(deps)
      edges.collect(); nodes.collect(); DependencyGraph.isolated(nodes, edges).collect()
      (edges, nodes)
    }
    assert(g2g5 == 0)
    val (closure, built) = jobsOf(DependencyGraph.transitiveClosure(edges))
    assert(built == 0)
    val (pairs, ran) = jobsOf(closure.collect())
    assert(ran == 1 && pairs.length == 27)
    val (levels, leveled) = jobsOf(DependencyGraph.refreshLevels(nodes, edges).collect())
    assert(leveled == 0 && levels.length == 12)
  }

  test("G2-G5 read a lazy UDF-backed lineage, as m9 does") {
    val (deps, _) = LineagePipeline.dependencies(catalog)
    val exact = LineagePipeline.lineageExact(CatalogSource.views(catalog))
      .filter(col("error").isNull).select("view", "deps")
    def edgeSet(lineage: DataFrame) =
      DependencyGraph.dedupEdges(DependencyGraph.edges(lineage)).select("src", "dst")
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(edgeSet(exact) == edgeSet(deps) && edgeSet(exact).size == 17)
    assert(DependencyGraph.nodes(exact).count() == 12)
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

  test("mermaid output on the fixture is pinned byte for byte") {
    // node and edge lines follow the views' order, sorted by view id
    assert(LineagePipeline.toMermaid(catalog) ==
      """graph LR
        |  classDef chTable fill:#ffdd00,stroke:#000000,stroke-width:2px,color:#000000
        |  classDef chView fill:#d6e4f8,stroke:#154360,stroke-width:2px,color:#154360
        |
        |  test.v_car_inventory:::chView
        |  test.car:::chTable
        |  test.household:::chTable
        |  test.human:::chTable
        |  test.v_city_household_flag_stats:::chView
        |  test.v_household_flags:::chView
        |  test.household_member:::chTable
        |  test.pet:::chTable
        |  test.v_household_health_score:::chView
        |  test.v_household_roster:::chView
        |  test.v_human_profile:::chView
        |  test.v_pet_ownership:::chView
        |
        |  test.car -.-> test.v_car_inventory
        |  test.household -.-> test.v_car_inventory
        |  test.human -.-> test.v_car_inventory
        |  test.v_household_flags -.-> test.v_city_household_flag_stats
        |  test.car -.-> test.v_household_flags
        |  test.household -.-> test.v_household_flags
        |  test.household_member -.-> test.v_household_flags
        |  test.pet -.-> test.v_household_flags
        |  test.v_household_flags -.-> test.v_household_health_score
        |  test.car -.-> test.v_household_roster
        |  test.household -.-> test.v_household_roster
        |  test.household_member -.-> test.v_household_roster
        |  test.pet -.-> test.v_household_roster
        |  test.human -.-> test.v_human_profile
        |  test.v_car_inventory -.-> test.v_human_profile
        |  test.human -.-> test.v_pet_ownership
        |  test.pet -.-> test.v_pet_ownership
        |""".stripMargin)
  }

  test("flagship entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
