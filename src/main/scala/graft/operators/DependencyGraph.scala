package graft.operators

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

/** Distributed form of the reference's graph stage (SURVEY.md §2.1 G2-G5)
  * plus multi-hop closure and refresh-level extensions. G2-G5 are pure
  * DataFrame ops — Catalyst handles pushdown/pruning, with hash joins on
  * `src`/`dst`. The closure and refresh levels assume the edge list fits
  * on the driver (one edge per view → dependency reference, metadata
  * scale): each collects it once and runs no further driver round-trips;
  * the closure broadcasts the adjacency map and its output stays
  * distributed by source.
  *
  * Expected input: `lineage` DataFrame with columns
  * (view: string, deps: array<string>) — the output of the lineage UDF stage.
  */
object DependencyGraph {

  /** G2 (build edges): deps exploded → (src = dependency, dst = view).
    * Direction per reference dependencies_to_mermaid.py:108.
    * `posexplode` keeps the within-view dep position so first-seen edge
    * order (G3) is reproducible under distribution. */
  def edges(lineage: DataFrame): DataFrame =
    lineage.select(
      col("view"),
      posexplode(col("deps")).as(Seq("pos", "src"))
    ).select(col("src"), col("view").as("dst"), col("pos"))

  /** G3 (edge dedup, first-occurrence-wins): reference
    * dependencies_to_mermaid.py:110-117. Order key = (dst insertion order,
    * dep position); we approximate dict order with (dst, pos) which is
    * deterministic and distribution-safe. */
  def dedupEdges(edges: DataFrame): DataFrame = {
    val w = Window.partitionBy("src", "dst").orderBy("pos")
    edges.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
  }

  /** G2 (node set): endpoints ∪ declared views.
    * Reference dependencies_to_mermaid.py:100-108. */
  def nodes(lineage: DataFrame): DataFrame =
    lineage.select(explode(concat(array(col("view")),
        coalesce(col("deps"), array()))).as("id"))
      .distinct()

  /** G4 (node classification): node ∈ table set → chTable else chView.
    * Reference dependencies_to_mermaid.py:125-129. Broadcast the table list
    * (catalog-sized) so classification never shuffles the node set. */
  def classify(nodes: DataFrame, tables: DataFrame): DataFrame =
    nodes.join(broadcast(tables.select(col("id").as("tid"))),
        nodes("id") === col("tid"), "left")
      .select(nodes("id"),
        when(col("tid").isNotNull, "chTable").otherwise("chView").as("cls"))

  /** G5 (isolated nodes): nodes that are endpoint of no edge, sorted.
    * Reference dependencies_to_mermaid.py:137-149. */
  def isolated(nodes: DataFrame, edges: DataFrame): DataFrame = {
    val endpoints = edges.select(explode(array(col("src"), col("dst"))).as("id"))
    nodes.join(endpoints, Seq("id"), "left_anti").orderBy("id")
  }

  /** Fan-out per source object / fan-in per view — SQL-surface extension
    * (repo north star: analysis as Spark SQL over metadata). */
  def fanOut(edges: DataFrame): DataFrame =
    edges.groupBy("src").agg(count("*").as("fan_out")).orderBy(desc("fan_out"), col("src"))

  def fanIn(edges: DataFrame): DataFrame =
    edges.groupBy("dst").agg(count("*").as("fan_in")).orderBy(desc("fan_in"), col("dst"))

  /** The distinct (src, dst) edge list, read to the driver once: one
    * action, plus whatever jobs the lazy upstream needs. */
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
    * downstream of a cycle (a malformed catalog) read 2^maxRounds. */
  def refreshLevels(allObjects: DataFrame, edges: DataFrame, maxRounds: Int = 10): DataFrame = {
    val es = collectEdges(edges)
    val cap = pathCap(maxRounds)
    val level = mutable.HashMap.empty[Any, Int]
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
    val spark = edges.sparkSession
    val lv = spark.createDataFrame(
      level.iterator.map { case (id, l) => Row(id, l) }.toSeq.asJava,
      StructType(Seq(edges.schema("dst").copy(name = "id"),
        StructField("level", IntegerType, nullable = false))))
    val zeros = allObjects.select(col("id"))
      .join(lv, Seq("id"), "left_anti")
      .withColumn("level", lit(0))
    zeros.union(lv)
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
