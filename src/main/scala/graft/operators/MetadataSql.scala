package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.CatalogSource

/** The dependency analysis exposed as Spark SQL temp views over a catalog
  * snapshot — the repo north star (BASELINE.json: "Analysis scripts for
  * ClickHouse objects reimplemented as Spark SQL queries over metadata").
  *
  * After [[register]], a user can run plain SQL:
  * {{{
  *   SELECT * FROM graft_view_dependencies
  *   SELECT * FROM graft_isolated_objects
  *   SELECT * FROM graft_objects_by_engine
  *   SELECT * FROM graft_fan_out ORDER BY fan_out DESC
  *   SELECT * FROM graft_closure WHERE depth > 1   -- multi-hop lineage
  * }}}
  */
object MetadataSql {

  /** Register the full analysis as temp views derived from `catalog`
    * (a `system.tables`-shaped DataFrame). The catalog views
    * (`graft_catalog`, `graft_objects`, `graft_objects_by_engine`) are lazy
    * plans over `catalog`. Every lineage-derived view is a snapshot taken
    * here: [[LineagePipeline.dependencies]] parses the DDL once, in one
    * job, and `graft_view_dependencies`, `graft_lineage_errors`,
    * `graft_edges`, `graft_node_classes`, `graft_isolated_objects`,
    * `graft_fan_out`/`graft_fan_in` and `graft_closure` (which also reads
    * the edge list to the driver once, here) are plans over those local
    * rows. Later catalog changes need a re-register. */
  def register(spark: SparkSession, catalog: DataFrame): Unit = {
    catalog.createOrReplaceTempView("graft_catalog")

    val objects = CatalogSource.withKind(catalog)
    objects.createOrReplaceTempView("graft_objects")

    val (deps, errs) = LineagePipeline.dependencies(catalog)
    deps.createOrReplaceTempView("graft_view_dependencies")
    errs.createOrReplaceTempView("graft_lineage_errors")

    val edges = DependencyGraph.dedupEdges(DependencyGraph.edges(deps))
      .select("src", "dst")
    edges.createOrReplaceTempView("graft_edges")

    val nodes = DependencyGraph.nodes(deps)
    val tables = CatalogSource.tables(catalog)
      .select(concat_ws(".", col("database"), col("name")).as("id"))
    DependencyGraph.classify(nodes, tables)
      .createOrReplaceTempView("graft_node_classes")

    val userObjects = objects.filter(!col("database").isin(CatalogSource.systemDbs: _*))
    val allObjects = userObjects
      .select(concat_ws(".", col("database"), col("name")).as("id"))
    DependencyGraph.isolated(allObjects, edges)
      .createOrReplaceTempView("graft_isolated_objects")

    userObjects.groupBy("engine", "kind").agg(count(lit(1)).as("n"))
      .createOrReplaceTempView("graft_objects_by_engine")

    DependencyGraph.fanOut(edges).createOrReplaceTempView("graft_fan_out")
    DependencyGraph.fanIn(edges).createOrReplaceTempView("graft_fan_in")

    // collects the edges now; later catalog changes need a re-register
    DependencyGraph.transitiveClosure(edges)
      .createOrReplaceTempView("graft_closure")
  }
}
