package graft.render

import scala.collection.mutable
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.model.{MermaidDependencyGraphError, MermaidOptions}
import graft.operators.DependencyGraph

/** Mermaid flowchart rendering of the view→table dependency graph.
  *
  * Output contract parity with the reference `_deps_to_mermaid`
  * (dependencies_to_mermaid.py:89-151): same header, classDef lines, node
  * class markers, `-.->` edges, isolated-node handling, trailing newline,
  * and the same typed validation errors with byte-identical messages
  * (dependencies_to_mermaid.py:25-97; asserted by tests/test_mermaid_deps.py).
  *
  * One deliberate divergence: the reference iterates Python `set`s so its
  * node order is nondeterministic (dependencies_to_mermaid.py:125); we use
  * first-seen insertion order, which satisfies every substring contract of
  * the reference tests AND is reproducible (SURVEY.md §7 "hard parts" (1)).
  *
  * The graph stage itself — nodes, edges, first-seen dedup, table/view
  * classes, sorted isolated nodes — is [[graft.operators.DependencyGraph]]'s
  * driver-side core, the one the DataFrame forms of G2-G5 compute with;
  * this object only validates input and lays out the text.
  */
object Mermaid {

  private val mapper = new ObjectMapper()

  /** Render from an ordered (view → deps) mapping.
    * Parity: `_deps_to_mermaid` (dependencies_to_mermaid.py:89-151). */
  def render(
      viewDeps: Seq[(String, Seq[String])],
      tables: Set[String] = Set.empty,
      options: MermaidOptions = MermaidOptions()
  ): String = {
    val direction = options.direction.trim.toUpperCase
    if (!Set("LR", "TB", "RL", "BT").contains(direction))
      throw new MermaidDependencyGraphError(
        "options.direction must be one of LR, TB, RL, BT")

    val nodes = DependencyGraph.nodeList(viewDeps)
    val all = DependencyGraph.edgeList(viewDeps)
    val edges = if (options.dedupeEdges) DependencyGraph.dedup(all) else all

    val ind = options.indent
    val lines = mutable.ArrayBuffer[String](
      s"graph $direction",
      s"${ind}classDef chTable fill:#ffdd00,stroke:#000000,stroke-width:2px,color:#000000",
      s"${ind}classDef chView fill:#d6e4f8,stroke:#154360,stroke-width:2px,color:#154360",
      "")
    for ((n, cls) <- DependencyGraph.classes(nodes, t => if (tables(t)) 1 else 0))
      lines += s"$ind$n:::$cls"
    lines += ""
    for (e <- edges) lines += s"$ind${e.src} -.-> ${e.dst}"
    // with no edges every node is isolated
    if (options.includeIsolatedNodes)
      for (n <- DependencyGraph.isolatedIds(nodes, edges.map(e => e.src -> e.dst)))
        lines += s"$ind$n"

    lines.mkString("\n") + "\n"
  }

  /** Validate a parsed-JSON-like value and render.
    * Parity: `json_to_mermaid` (dependencies_to_mermaid.py:25-67), including
    * null-deps → empty list and all error messages. `data` holds
    * Map[Any, Any] / Seq[Any] / String / null (see [[fromJsonString]]). */
  def fromJsonValue(
      data: collection.Map[Any, Any],
      tables: Set[String] = Set.empty,
      options: MermaidOptions = MermaidOptions()
  ): String = {
    if (!data.contains("view_dependencies"))
      throw new MermaidDependencyGraphError("Missing required key: 'view_dependencies'")
    val raw = data("view_dependencies") match {
      case m: collection.Map[_, _] => m.toSeq
      case m: Seq[_] if m.forall(_.isInstanceOf[(_, _)]) =>
        m.map(_.asInstanceOf[(Any, Any)]) // ordered entry list accepted
      case _ =>
        throw new MermaidDependencyGraphError("'view_dependencies' must be a dictionary")
    }
    val viewDeps = raw.map { case (k, v) =>
      val view = k match {
        case s: String => s
        case _ => throw new MermaidDependencyGraphError(
          "All keys in 'view_dependencies' must be strings")
      }
      val deps: Seq[String] = v match {
        case null => Seq.empty
        case xs: Seq[_] =>
          if (!xs.forall(_.isInstanceOf[String]))
            throw new MermaidDependencyGraphError(
              s"Dependencies for '$view' must be a list of strings")
          xs.map(_.asInstanceOf[String])
        case _ => throw new MermaidDependencyGraphError(
          s"Dependencies for '$view' must be a list (or null)")
      }
      view -> deps
    }
    render(viewDeps.toSeq, tables, options)
  }

  /** Parse a JSON string and render.
    * Parity: `loads_json_to_mermaid` (dependencies_to_mermaid.py:70-86). */
  def fromJsonString(
      jsonStr: String,
      tables: Set[String] = Set.empty,
      options: MermaidOptions = MermaidOptions()
  ): String = {
    val node =
      try mapper.readTree(jsonStr)
      catch {
        case e: Exception =>
          throw new MermaidDependencyGraphError(s"Invalid JSON: ${e.getMessage}")
      }
    if (node == null || !node.isObject)
      throw new MermaidDependencyGraphError("Top-level JSON must be an object/dictionary")
    fromJsonValue(toScala(node).asInstanceOf[collection.Map[Any, Any]], tables, options)
  }

  /** JsonNode → Scala value tree (object → Map preserving field order as a
    * LinkedHashMap-backed Map, array → Seq, null → null). */
  private def toScala(n: JsonNode): Any =
    if (n.isNull) null
    else if (n.isObject) {
      // LinkedHashMap preserves JSON field order → deterministic edge order
      val m = mutable.LinkedHashMap[Any, Any]()
      n.properties().forEach(e => m += (e.getKey: Any) -> toScala(e.getValue))
      m
    } else if (n.isArray) {
      val b = Vector.newBuilder[Any]
      n.forEach(e => b += toScala(e))
      b.result()
    } else if (n.isTextual) n.asText()
    else if (n.isIntegralNumber) n.asLong()
    else if (n.isFloatingPointNumber) n.asDouble()
    else if (n.isBoolean) n.asBoolean()
    else n.asText()
}
