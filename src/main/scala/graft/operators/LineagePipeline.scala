package graft.operators

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.functions.LineageExtractor
import graft.model.MermaidOptions
import graft.operators.DependencyGraph.sparkStringOrder
import graft.render.Mermaid
import graft.sources.CatalogSource

/** End-to-end dependency analysis: the reference CLI flow
  * (ch_view_dependencies.py:367-395) re-expressed over DataFrames. The
  * per-view N+1 DDL fetch + single-threaded parse loop of the reference
  * becomes one scan + a UDF: the UDF stage runs per row with no
  * shuffle, one task per scan split (a single-file snapshot catalog is
  * one task), and only its output (view names and dep arrays, no DDL
  * text — metadata scale) is collected to the driver.
  * Every later step, graph and render alike, reads those local rows.
  */
object LineagePipeline {

  /** struct-returning lineage UDF with the keep-going error channel
    * (op P1, ch_view_dependencies.py:346-361). */
  val lineageUdf = udf { (ddl: String, db: String) =>
    val (deps, err) = LineageExtractor.extract(ddl, Option(db))
    (deps, err.orNull)
  }

  /** views → (database, name, view, r = the UDF's result struct). */
  private def parse(views: DataFrame, extract: UserDefinedFunction): DataFrame =
    views.select(col("database"), col("name"),
      concat_ws(".", col("database"), col("name")).as("view"),
      extract(coalesce(col("create_table_query"), lit("")), col("database")).as("r"))

  /** views → (view, deps array<string>, error) */
  def lineage(views: DataFrame): DataFrame =
    parse(views, lineageUdf)
      .select(col("view"), col("r._1").as("deps"), col("r._2").as("error"))

  /** AST-exact tier of the same op: the real CH parser with per-row
    * heuristic fallback ([[LineageExtractor.extractExact]]); adds the
    * `tier` column so callers can audit which rows got the exact parse.
    * Same shape, same no-shuffle parallelism. */
  val lineageExactUdf = udf { (ddl: String, db: String) =>
    val (deps, tier, err) = LineageExtractor.extractExact(ddl, Option(db))
    (deps, tier, err.orNull)
  }

  /** views → (view, deps, tier, error) through the exact tier. */
  def lineageExact(views: DataFrame): DataFrame =
    parse(views, lineageExactUdf)
      .select(col("view"), col("r._1").as("deps"), col("r._2").as("tier"),
        col("r._3").as("error"))

  /** Catalog objects of user databases (S1/S2), without
    * [[CatalogSource]]'s presentation sort. */
  private def userObjects(catalog: DataFrame): DataFrame =
    catalog.filter(!col("database").isin(CatalogSource.systemDbs: _*))

  /** (view, deps, error) of every user view, in one job: the UDF runs once
    * per row, and the rows come back sorted by (database, name) — the
    * reference's ORDER BY (ch_view_dependencies.py:305) — on the driver. */
  private def lineageRows(catalog: DataFrame): (Array[Row], StructType) = {
    val lin = parse(userObjects(catalog).filter(CatalogSource.isView), lineageUdf)
      .select(col("database"), col("name"), col("view"),
        col("r._1").as("deps"), col("r._2").as("error"))
    val rows = lin.collect()
      .sortBy(r => (r.getString(0), r.getString(1)))(
        Ordering.Tuple2(sparkStringOrder, sparkStringOrder))
      .map(r => Row(r.get(2), r.get(3), r.get(4)))
    (rows, StructType(lin.schema.drop(2)))
  }

  /** The reference's JSON payload shape `{"view_dependencies", "errors"}`
    * as two local DataFrames, rows in (database, name) order. Eager: the
    * lineage runs here, in one job, and neither frame re-reads the
    * catalog. Each frame gets its own local relation of exactly its
    * columns: a filter or projection over a shared one would be folded by
    * the optimizer into a deep copy of the rows, held by every plan that
    * reads the frame. */
  def dependencies(catalog: DataFrame): (DataFrame, DataFrame) = {
    val (rows, schema) = lineageRows(catalog)
    val (parsed, failed) = rows.partition(_.isNullAt(2))
    def local(rs: Array[Row], field: Int): DataFrame =
      catalog.sparkSession.createDataFrame(
        rs.map(r => Row(r.get(0), r.get(field))).toSeq.asJava,
        StructType(Seq(schema(0), schema(field))))
    (local(parsed, 1), local(failed, 2))
  }

  /** Full pipeline → Mermaid text (driver-side render of the collected,
    * metadata-scale graph; reference ch_view_dependencies.py:390-395), in
    * one job: one scan of the user objects returns each object's id and
    * kind, and the lineage UDF's result for the views only. */
  def toMermaid(
      catalog: DataFrame,
      options: MermaidOptions = MermaidOptions(includeIsolatedNodes = false)
  ): String = {
    val isView = CatalogSource.isView
    val (views, tables) = userObjects(catalog)
      .select(col("database"), col("name"),
        concat_ws(".", col("database"), col("name")), isView,
        when(isView, lineageUdf(coalesce(col("create_table_query"), lit("")),
          col("database"))))
      .collect().filter(!_.isNullAt(3)).partition(_.getBoolean(3))
    // parsed views by id, equal ids in (database, name) order
    val viewDeps = views.filter(_.getStruct(4).isNullAt(1))
      .sortBy(r => (r.getString(2), r.getString(0), r.getString(1)))(
        Ordering.Tuple3(sparkStringOrder, sparkStringOrder, sparkStringOrder))
      .map(r => r.getString(2) -> r.getStruct(4).getSeq[String](0))
    Mermaid.render(viewDeps.toSeq, tables.map(_.getString(2)).toSet, options)
  }
}
