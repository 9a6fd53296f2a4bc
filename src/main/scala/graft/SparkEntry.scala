package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{DependencyGraph, LineagePipeline}
import graft.registry.Registry
import graft.sources.CatalogSource

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` maps operator names (SURVEY.md §2 inventory) to DataFrame
  * builders over the driver's parquet testdata dir; `oracleSql` holds the
  * DuckDB-equivalent SQL for the hash-match correctness gate. Column names
  * are aliased identically on both sides.
  */
object SparkEntry {

  /** Flagship: the reference's whole pipeline (catalog → lineage → edges)
    * on the built-in household fixture; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    val (deps, _) = LineagePipeline.dependencies(
      CatalogSource.fixtureCatalog(spark).toDF())
    DependencyGraph.dedupEdges(DependencyGraph.edges(deps)).select("src", "dst")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Registry.entries.map(e => e.name -> e.build).toMap

  def oracleSql: Map[String, String] =
    Registry.entries.map(e => e.name -> e.oracle).toMap
}
