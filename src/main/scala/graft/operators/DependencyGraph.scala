package graft.operators

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, IntegerType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The reference's graph stage (SURVEY.md §2.1 G2-G5,
  * dependencies_to_mermaid.py:89-151) plus multi-hop closure and refresh
  * levels, over a metadata-scale graph: one node per catalog object, one
  * edge per view → dependency reference, thousands of rows. So every step
  * runs on the driver. G2-G5 are one core over local collections, which
  * [[graft.render.Mermaid.render]] calls as well. Their DataFrame forms
  * collect the columns they read once — no job at all over the local rows
  * of [[LineagePipeline.dependencies]] — compute with that core and return
  * a local frame, with the column names, types and nullability of the
  * equivalent SQL (a `row_number` window, explode + `distinct`, a left
  * join, a `left_anti` join + sort). The closure and refresh levels also
  * collect the edge list once and run no further driver round-trips; the
  * closure broadcasts the adjacency map and its output stays distributed
  * by source.
  *
  * Expected input: `lineage` DataFrame with columns
  * (view: string, deps: array<string>) — the output of the lineage UDF stage.
  */
object DependencyGraph {

  // ---- the driver-side core ---------------------------------------------

  /** Spark's ascending string order: nulls first, then UTF-8 bytes (the
    * reference's code-point order). */
  val sparkStringOrder: Ordering[String] = (a, b) =>
    if (a == null || b == null) java.lang.Boolean.compare(b == null, a == null)
    else UTF8String.fromString(a).binaryCompare(UTF8String.fromString(b))

  /** One edge: `src` is a dependency of view `dst`, at position `pos` of
    * the view's dependency list. */
  final case class Edge(src: String, dst: String, pos: Int)

  /** G2 (build edges): every dep of every view, views then deps in order;
    * a null dep list adds none. Direction per reference
    * dependencies_to_mermaid.py:108. */
  def edgeList(viewDeps: Iterable[(String, Seq[String])]): Seq[Edge] =
    viewDeps.iterator.flatMap { case (view, deps) =>
      Option(deps).iterator.flatMap(_.iterator.zipWithIndex.map { case (d, i) => Edge(d, view, i) })
    }.toSeq

  /** G2 (node set): each view, then its deps, once each in first-seen
    * order. Reference dependencies_to_mermaid.py:100-108. */
  def nodeList(viewDeps: Iterable[(String, Seq[String])]): Seq[String] = {
    val seen = mutable.LinkedHashSet.empty[String]
    for ((view, deps) <- viewDeps) { seen += view; if (deps != null) seen ++= deps }
    seen.toSeq
  }

  /** G3 (edge dedup, first occurrence wins): one edge per (src, dst), in
    * first-seen order; of its occurrences, the one at the lowest position
    * (the first of those on a tie). Reference
    * dependencies_to_mermaid.py:110-117. */
  def dedup(edges: Iterable[Edge]): Seq[Edge] = {
    val kept = mutable.LinkedHashMap.empty[(String, String), Edge]
    for (e <- edges) kept.get((e.src, e.dst)) match {
      case Some(k) if k.pos <= e.pos =>
      case _ => kept((e.src, e.dst)) = e
    }
    kept.values.toSeq
  }

  /** G4 (node classification): each id once as `chTable` per table id
    * equal to it (`tableCount`), or once as `chView` when there is none; a
    * null id equals nothing. Reference dependencies_to_mermaid.py:125-129. */
  def classes(ids: Seq[String], tableCount: String => Int): Seq[(String, String)] =
    ids.flatMap { id =>
      val n = if (id == null) 0 else tableCount(id)
      if (n == 0) Seq(id -> "chView") else Seq.fill(n)(id -> "chTable")
    }

  /** G5 (isolated nodes): the ids that are the endpoint of no edge, sorted
    * in [[sparkStringOrder]]; a null id is never an endpoint. Reference
    * dependencies_to_mermaid.py:137-149. */
  def isolatedIds(ids: Seq[String], edges: Iterable[(String, String)]): Seq[String] = {
    val ends = edges.iterator.flatMap(e => Iterator(e._1, e._2)).toSet
    ids.filter(id => id == null || !ends(id)).sorted(sparkStringOrder)
  }

  // ---- DataFrame forms --------------------------------------------------

  private def local(like: DataFrame, rows: Seq[Row], fields: StructField*): DataFrame =
    like.sparkSession.createDataFrame(rows.asJava, StructType(fields))

  private def viewDeps(lineage: DataFrame): Seq[(String, Seq[String])] =
    lineage.select("view", "deps").collect().toSeq
      .map(r => r.getString(0) -> (if (r.isNullAt(1)) null else r.getSeq[String](1)))

  private def ids(nodes: DataFrame): Seq[String] =
    nodes.select("id").collect().toSeq.map(_.getString(0))

  private def depsElement(lineage: DataFrame): ArrayType =
    lineage.schema("deps").dataType.asInstanceOf[ArrayType]

  /** G2 edges of `lineage` as (src = dependency, dst = view, pos). */
  def edges(lineage: DataFrame): DataFrame = {
    val view = lineage.schema("view")
    local(lineage, edgeList(viewDeps(lineage)).map(Row.fromTuple),
      StructField("src", depsElement(lineage).elementType, depsElement(lineage).containsNull),
      view.copy(name = "dst"), StructField("pos", IntegerType, nullable = false))
  }

  /** G3 over the (src, dst, pos) rows of [[edges]]. */
  def dedupEdges(edges: DataFrame): DataFrame = {
    val es = edges.select("src", "dst", "pos").collect().toSeq
      .map(r => Edge(r.getString(0), r.getString(1), r.getInt(2)))
    local(edges, dedup(es).map(Row.fromTuple),
      edges.schema("src"), edges.schema("dst"), edges.schema("pos"))
  }

  /** G2 node set of `lineage` as (id): views ∪ deps, once each. */
  def nodes(lineage: DataFrame): DataFrame =
    local(lineage, nodeList(viewDeps(lineage)).map(Row(_)),
      StructField("id", StringType,
        lineage.schema("view").nullable || depsElement(lineage).containsNull))

  /** G4 over nodes (id) and table ids (id) as (id, cls). The table ids are
    * counted in one aggregate — a sort in `tables` drops out of that plan,
    * so it reads its input once. */
  def classify(nodes: DataFrame, tables: DataFrame): DataFrame = {
    val counts = tables.groupBy("id").count().collect()
      .map(r => r.getString(0) -> r.getLong(1).toInt).toMap.withDefaultValue(0)
    local(nodes, classes(ids(nodes), counts).map(Row.fromTuple),
      nodes.schema("id"), StructField("cls", StringType, nullable = false))
  }

  /** G5 over nodes (id) and edges (src, dst) as (id), sorted. */
  def isolated(nodes: DataFrame, edges: DataFrame): DataFrame = {
    val es = edges.select("src", "dst").collect().toSeq.map(r => r.getString(0) -> r.getString(1))
    local(nodes, isolatedIds(ids(nodes), es).map(Row(_)), nodes.schema("id"))
  }

  /** Fan-out per source object / fan-in per view — SQL-surface extension
    * (repo north star: analysis as Spark SQL over metadata). */
  def fanOut(edges: DataFrame): DataFrame =
    edges.groupBy("src").agg(count("*").as("fan_out")).orderBy(desc("fan_out"), col("src"))

  def fanIn(edges: DataFrame): DataFrame =
    edges.groupBy("dst").agg(count("*").as("fan_in")).orderBy(desc("fan_in"), col("dst"))

  /** The distinct (src, dst) edge list, read to the driver once: one
    * action, which starts no job over a local edge list. */
  private def collectEdges(edges: DataFrame): Array[(Any, Any)] =
    edges.select("src", "dst").collect().map(r => (r.get(0), r.get(1))).distinct

  /** Path-length cap: `maxRounds` admits paths of at most 2^maxRounds
    * edges. */
  private def pathCap(maxRounds: Int): Int =
    if (maxRounds >= 31) Int.MaxValue else 1 << math.max(0, maxRounds)

  /** Shortest hop count from `src` to every node within `cap` hops of it.
    * `src` itself is a target only when a cycle leads back to it. A null
    * id never equals an edge's source under SQL equality, so it is
    * reached but not expanded. */
  private def bfs(adj: Map[Any, Array[Any]], src: Any, cap: Int): Iterator[(Any, Int)] = {
    val depth = mutable.HashMap.empty[Any, Int]
    var frontier = Iterable(src)
    var d = 0
    while (frontier.nonEmpty && d < cap) {
      d += 1
      val next = mutable.ArrayBuffer.empty[Any]
      for (u <- frontier; v <- adj.getOrElse(u, Array.empty[Any]) if !depth.contains(v)) {
        depth(v) = d
        if (v != null) next += v
      }
      frontier = next
    }
    depth.iterator
  }

  /** Refresh order: topological levels over the dependency DAG — level 0 =
    * objects that depend on nothing (base tables, isolated objects),
    * level(v) = 1 + max(level of v's dependencies) = the longest path
    * ending at v. Computed on the driver by sweeping f(v) = max(f(v),
    * f(u) + 1) over the collected edges until a sweep changes nothing,
    * with f capped at 2^maxRounds; the k-th sweep has followed every walk
    * of k edges, so it settles within 2^maxRounds sweeps. Objects on or
    * downstream of a cycle (a malformed catalog) read 2^maxRounds. The
    * result is one local frame: the ids of `allObjects` that are no
    * edge's target (a null id never is) at level 0, then every target. */
  def refreshLevels(allObjects: DataFrame, edges: DataFrame, maxRounds: Int = 10): DataFrame = {
    val es = collectEdges(edges)
    val cap = pathCap(maxRounds)
    val level = mutable.LinkedHashMap.empty[Any, Int]
    es.foreach { case (_, v) => level(v) = 1 }
    var changed = true
    while (changed) {
      changed = false
      // a null id never joins, so it starts a walk but never extends one
      for ((u, v) <- es if u != null) {
        val l = math.min(cap, level.getOrElse(u, 0) + 1)
        if (l > level(v)) { level(v) = l; changed = true }
      }
    }
    val zeros = allObjects.select("id").collect().iterator.map(_.get(0))
      .filter(id => id == null || !level.contains(id)).map(Row(_, 0))
    val id = allObjects.schema("id")
    local(edges, (zeros ++ level.iterator.map { case (v, l) => Row(v, l) }).toSeq,
      id.copy(nullable = id.nullable || edges.schema("dst").nullable),
      StructField("level", IntegerType, nullable = false))
  }

  /** Multi-hop lineage: transitive closure with depth = shortest hop count
    * over paths of at most 2^maxRounds edges. The adjacency map is
    * broadcast and one `mapPartitions` job runs a bounded BFS per source,
    * so the output stays distributed by source. */
  def transitiveClosure(edges: DataFrame, maxRounds: Int = 10): DataFrame = {
    val spark = edges.sparkSession
    val sc = spark.sparkContext
    val adj = collectEdges(edges).groupMap(_._1)(_._2)
    val sources = adj.keys.toSeq.sortBy(k => String.valueOf(k))
    val bc = sc.broadcast(adj)
    val cap = pathCap(maxRounds)
    val rows = sc.parallelize(sources, math.max(1, math.min(sc.defaultParallelism, sources.size)))
      .mapPartitions(_.flatMap(s => bfs(bc.value, s, cap).map { case (d, k) => Row(s, d, k) }))
    spark.createDataFrame(rows, StructType(Seq(edges.schema("src"), edges.schema("dst"),
      StructField("depth", IntegerType, nullable = false))))
  }
}
