package graftbench

import java.io.File
import java.nio.file.{Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.chsql.{ChDdl, ChSql}
import graft.functions.LineageExtractor
import graft.operators.{DependencyGraph, LineagePipeline}
import graft.sources.CatalogSource
import Main.CheckFailed

trait Workload {
  /** Tables the set-up warm-up scans (Bench's warm-up). */
  def warm(spark: SparkSession): Unit

  /** The i-th op of the closed loop: its name and body. A body throws on
    * failure and on a wrong output. */
  def op(i: Int): (String, (SparkSession, Tracer) => Unit)

  /** Ops per cycle: a run measures whole cycles. */
  def cycle: Int

  /** Facts the ops gathered for per-layer metrics (traced runs only). */
  def probes(spark: SparkSession): Map[String, Double] = facts.toMap

  /** Output written after the loop for run.py's value checks, on the runs
    * run.py asks for them. */
  def finalChecks(spark: SparkSession, dir: Path): Map[String, Any] = Map.empty

  /** Facts are kept only while `recording` (the traced phase). */
  var recording = false
  val facts = mutable.LinkedHashMap.empty[String, Double]
  def add(k: String, v: Double): Unit =
    if (recording) facts(k) = facts.getOrElse(k, 0.0) + v

  protected def scanAll(spark: SparkSession, dir: String, tables: Seq[String]): Unit =
    tables.foreach(t => spark.read.parquet(s"$dir/$t.parquet").count())
}

object SelectNames {
  /** The read-only ch* registry entries: the ClickHouse SELECT surface.
    * The statement-script entries (chstmts) are left to chsql_ddl. */
  val all: Seq[String] = Seq("ch1_sql_agg", "ch2_sql_limit_by", "ch3_sql_join",
    "ch4_sql_funcs", "ch5_sql_quantile", "ch6_sql_arrayjoin", "ch7_sql_in_sub",
    "ch8_sql_union", "ch9_sql_scalar_sub", "ch10_sql_window", "ch11_sql_asof",
    "ch12_sql_with_fill", "ch13_sql_topk", "ch14_sql_integration",
    "ch15_sql_interpolate", "ch16_sql_fill_dates", "ch17_sql_sequence",
    "ch18_sql_funnel", "ch19_sql_rollup", "ch20_sql_cube", "ch21_sql_grouping_sets",
    "ch22_sql_ties", "ch23_sql_sample", "ch24_sql_exists", "ch25_sql_collate",
    "ch26_sql_final", "ch27_sql_columns_apply", "ch28_sql_star_except",
    "ch29_sql_named_window", "ch30_sql_retention", "ch31_sql_summap",
    "ch36_sql_keyword_forms", "ch43_sql_arrayjoin_func", "ch44_sql_array_combinator",
    "ch45_sql_distinct_on", "ch46_sql_date_arith", "ch47_sql_visitparam",
    "ch53_sql_geo", "ch54_sql_bitmap", "ch55_sql_date_extras", "ch57_sql_quantified",
    "ch58_sql_recursive", "ch60_sql_qualify", "ch61_sql_paste_join",
    "ch62_sql_orderby_all_fetch", "ch64_sql_agg_combinators", "ch65_sql_stats_aggs",
    "ch66_sql_foreach", "ch67_sql_navigation", "ch68_sql_multisearch",
    "ch69_sql_setop_all", "ch71_sql_regression", "ch72_sql_geohash",
    "ch73_sql_array_scan", "ch74_sql_url_string", "ch75_sql_minmax_map",
    "ch76_sql_enumerate", "ch77_sql_running_relative", "ch78_sql_vector_distance",
    "ch79_sql_map_arith", "ch80_sql_window_rank", "ch81_sql_association",
    "ch83_sql_misc_scalar", "ch84_sql_string_pad_utf8", "ch85_sql_not_in_subquery",
    "ch86_sql_subsecond_interval", "ch87_sql_sample_offset")

  /** Every other entry of [[all]]: one cold pass over the whole list does
    * not fit the benchmark's per-run budget. */
  val names: Seq[String] = all.zipWithIndex.collect { case (n, i) if i % 2 == 0 => n }

  val tables: Seq[String] = Seq("lineitem", "orders", "customer", "part",
    "supplier", "nation", "region", "events", "documents", "embeddings")
}

/** Registry entries run the way Bench.once runs them, in a fixed cycle
  * (each run is one cold pass, and a seed-shuffled order moved the
  * figures more than the engine did). Each op's row count is checked
  * against the DuckDB oracle's. After the loop, every entry writes its
  * full result for run.py's value comparison. */
final class Registry(names: Seq[String], tablesDir: String, inputsDir: String)
    extends Workload {
  private val reg = graft.SparkEntry.queries
  private val missing = names.filterNot(reg.contains)
  require(missing.isEmpty, s"registry entries missing: ${missing.mkString(", ")}")
  def cycle: Int = names.size
  private val expected: Map[String, Long] = {
    val n = Main.readJson(Paths.get(inputsDir, "expected_rows.json"))
    names.map(k => k -> Option(n.get(k)).map(_.asLong).getOrElse(-1L)).toMap
  }

  def warm(spark: SparkSession): Unit = scanAll(spark, tablesDir, SelectNames.tables)

  def op(i: Int): (String, (SparkSession, Tracer) => Unit) = {
    val name = names(i % names.size)
    name -> { (spark, tr) =>
      // a read-only ch* entry is one ChSql.sql call over the tables
      val df = tr.span("translate")(reg(name)(spark, tablesDir))
      val rows = Main.materialize(spark, df, tr)
      add("rows_out", rows.toDouble)
      if (rows != expected(name))
        throw new CheckFailed(s"$name: $rows rows, oracle has ${expected(name)}")
    }
  }

  override def finalChecks(spark: SparkSession, dir: Path): Map[String, Any] = {
    names.foreach { n =>
      reg(n)(spark, tablesDir).coalesce(1).write.mode("overwrite")
        .parquet(dir.resolve(n).toString)
    }
    Map("value_checked" -> names)
  }
}

/** DDL/DML sessions sent one statement at a time through ChSql.statement.
  * An op is one statement; a session's readback SELECT is checked against
  * its DuckDB replay. */
final class DdlSessions(tablesDir: String, inputsDir: String, warehouse: String)
    extends Workload {
  private val sessions: IndexedSeq[(Seq[String], Seq[Seq[String]])] = {
    val n = Main.readJson(Paths.get(inputsDir, "ddl.json"))
    n.elements.asScala.map { s =>
      (s.get("ch").elements.asScala.map(_.asText).toSeq,
        s.get("expected").elements.asScala.map(_.elements.asScala.map(_.asText).toSeq).toSeq)
    }.toIndexedSeq
  }
  private val stmts: IndexedSeq[(String, Int)] =
    sessions.zipWithIndex.flatMap { case ((ch, _), i) => ch.map(_ -> i) }
  def cycle: Int = stmts.size

  def warm(spark: SparkSession): Unit = scanAll(spark, tablesDir, Seq("orders"))

  private def kind(s: String): String = {
    val u = s.trim.toUpperCase(java.util.Locale.ROOT)
    if (u.startsWith("CREATE")) "chddl.create"
    else if (u.startsWith("INSERT")) "chddl.insert"
    else if (u.startsWith("ALTER") && u.contains(" DELETE ")) "chddl.alter_delete"
    else if (u.startsWith("ALTER") && u.contains(" UPDATE ")) "chddl.alter_update"
    else if (u.startsWith("OPTIMIZE")) "chddl.optimize"
    else if (u.startsWith("DROP")) "chddl.drop"
    else "translate"
  }

  def op(i: Int): (String, (SparkSession, Tracer) => Unit) = {
    val (text, sess) = stmts(i % stmts.size)
    val k = kind(text)
    k -> { (spark, tr) =>
      val resolve: String => DataFrame = n =>
        if (spark.catalog.tableExists(n)) ChDdl.readTable(spark, n)
        else spark.read.parquet(s"$tablesDir/$n.parquet")
      val df = tr.span(k)(ChSql.statement(spark, text)(resolve)._1)
      if (k == "translate") {
        tr.span("analysis")(df.queryExecution.analyzed)
        tr.span("optimization")(df.queryExecution.optimizedPlan)
        tr.span("planning")(df.queryExecution.executedPlan)
        val got = tr.span("exec")(df.collect()).map(_.toSeq.map(v => String.valueOf(v)))
        val want = sessions(sess)._2
        add("live_rows", got.map(_(1).toDouble).sum)
        add("table_bytes", Host.dirSize(new File(warehouse)).toDouble)
        if (!sameRows(got.toSeq, want))
          throw new CheckFailed(s"session $sess readback ${got.toSeq} != DuckDB $want")
      }
    }
  }

  private def sameRows(a: Seq[Seq[String]], b: Seq[Seq[String]]): Boolean =
    a.size == b.size && a.zip(b).forall { case (x, y) =>
      x.size == y.size && x.zip(y).forall { case (u, v) =>
        u == v || (try math.abs(u.toDouble - v.toDouble) <= 1e-9 * math.max(1.0, math.abs(v.toDouble))
          catch { case _: NumberFormatException => false })
      }
    }
}

/** The paper's lineage pipeline over a generated catalog snapshot. An op is
  * one step of the chain; a cycle runs the chain once. Inside a
  * step, `build` wraps the operator call (with the jobs it runs eagerly) and
  * `exec` the action that materializes it; every step is checked against
  * the generator's ground truth. */
final class LineageChain(inputsDir: String) extends Workload {
  private val path = Paths.get(inputsDir, "catalog.parquet").toString
  private val truth = Main.readJson(Paths.get(inputsDir, "truth.json"))
  private val truthEdges: Set[(String, String)] = truth.get("edges").elements.asScala
    .map(e => (e.get(0).asText, e.get(1).asText)).toSet
  private def t(k: String): Long = truth.get(k).asLong
  private val steps = IndexedSeq("sources.catalog_read", "lineage.dependencies",
    "graph.edges", "render.mermaid", "graph.closure", "graph.levels")
  def cycle: Int = steps.size

  // the chain's intermediate frames, carried from step to step
  private var cat: DataFrame = _
  private var deps: DataFrame = _
  private var edges: DataFrame = _

  def warm(spark: SparkSession): Unit = CatalogSource.readParquet(spark, path).count()

  private def expect(what: String, got: Long, want: Long): Unit =
    if (got != want) throw new CheckFailed(s"$what: got $got, truth $want")

  def op(i: Int): (String, (SparkSession, Tracer) => Unit) = {
    val step = steps(i % steps.size)
    step -> { (spark, tr) => tr.span(step)(run(step, spark, tr)) }
  }

  private def run(step: String, spark: SparkSession, tr: Tracer): Unit = step match {
    case "sources.catalog_read" =>
      cat = tr.span("build")(CatalogSource.readParquet(spark, path))
      val n = tr.span("exec")(cat.count())
      expect("catalog rows", n, t("objects"))
    case "lineage.dependencies" =>
      val (d, e) = tr.span("build")(LineagePipeline.dependencies(cat))
      val (nd, ne) = tr.span("exec")((d.count(), e.count()))
      add("views", (nd + ne).toDouble); add("errors", ne.toDouble)
      expect("lineage errors", ne, t("errors"))
      expect("parsed views", nd, t("views") - t("errors"))
      deps = d
    case "graph.edges" =>
      val (e, nodes, tables) = tr.span("build") {
        val e = DependencyGraph.dedupEdges(DependencyGraph.edges(deps)).select("src", "dst")
        (e, DependencyGraph.nodes(deps), CatalogSource.tables(cat)
          .select(concat_ws(".", col("database"), col("name")).as("id")))
      }
      val (got, classes, isolated) = tr.span("exec") {
        (e.collect().map(r => (r.getString(0), r.getString(1))).toSet,
          DependencyGraph.classify(nodes, tables).groupBy("cls").count().collect()
            .map(r => r.getString(0) -> r.getLong(1)).toMap,
          DependencyGraph.isolated(nodes, e).count())
      }
      add("rows_out", got.size.toDouble)
      if (got != truthEdges)
        throw new CheckFailed(s"edges: ${(got -- truthEdges).size} extra, " +
          s"${(truthEdges -- got).size} missing")
      expect("nodes classified chTable", classes.getOrElse("chTable", 0L), t("table_nodes"))
      expect("nodes classified chView", classes.getOrElse("chView", 0L),
        t("mermaid_node_lines") - t("table_nodes"))
      expect("isolated nodes", isolated, t("isolated"))
      edges = e
    case "render.mermaid" =>
      val mermaid = LineagePipeline.toMermaid(cat)
      add("mermaid_bytes", mermaid.getBytes("UTF-8").length.toDouble)
      val lines = mermaid.split("\n")
      expect("mermaid chTable lines", lines.count(_.endsWith(":::chTable")).toLong, t("table_nodes"))
      expect("mermaid chView lines", lines.count(_.endsWith(":::chView")).toLong,
        t("mermaid_node_lines") - t("table_nodes"))
      expect("mermaid edge lines", lines.count(_.contains(" -.-> ")).toLong, t("mermaid_edge_lines"))
    case "graph.closure" =>
      val c = tr.span("build")(DependencyGraph.transitiveClosure(edges))
      expect("closure pairs", tr.span("exec")(c.count()), t("closure_pairs"))
    case "graph.levels" =>
      val lv = tr.span("build")(DependencyGraph.refreshLevels(DependencyGraph.nodes(deps), edges))
      val top = tr.span("exec")(lv.agg(max("level")).head())
      expect("max level", top.getInt(0).toLong, t("max_level"))
  }

  /** Extraction throughput outside Spark over every view DDL of the snapshot. */
  override def probes(spark: SparkSession): Map[String, Double] = {
    val views = CatalogSource.views(CatalogSource.readParquet(spark, path))
      .select("database", "create_table_query").collect()
      .map(r => (Option(r.getString(1)).getOrElse(""), r.getString(0)))
    val t0 = System.nanoTime()
    views.foreach { case (ddl, db) => LineageExtractor.extract(ddl, Some(db)) }
    add("extract_ddls", views.length.toDouble)
    add("extract_s", (System.nanoTime() - t0) / 1e9)
    facts.toMap
  }
}
