package graft

import java.nio.file.{Files, Paths}
import graft.model.MermaidOptions
import graft.operators.LineagePipeline
import graft.sources.CatalogSource

/** CLI mirroring the reference's `python ch_view_dependencies.py out.mmd`
  * flow (ch_view_dependencies.py:367-395): read a catalog snapshot →
  * extract lineage → render Mermaid → write the file.
  *
  * Usage: Main <out.mmd> [snapshotPath]
  * With no snapshot path the built-in household fixture is used (offline
  * runs have no live ClickHouse to connect to).
  */
object Main {
  def main(args: Array[String]): Unit = {
    if (args.isEmpty) {
      System.err.println("usage: graft.Main <out.mmd> [catalogSnapshot.parquet|.json]")
      sys.exit(2)
    }
    val out = Paths.get(args(0))
    val spark = Session.local()
    try {
      val catalog =
        if (args.length > 1) {
          val p = args(1)
          if (p.endsWith(".json")) CatalogSource.readJson(spark, p)
          else CatalogSource.readParquet(spark, p)
        } else CatalogSource.fixtureCatalog(spark).toDF()
      val mermaid = LineagePipeline.toMermaid(
        catalog, MermaidOptions(includeIsolatedNodes = false))
      if (out.getParent != null) Files.createDirectories(out.getParent)
      Files.writeString(out, mermaid)
      println(s"Wrote ${out.toAbsolutePath}")
    } finally spark.stop()
  }
}
