package graft
package registry

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registry query: its name, its DataFrame builder over a parquet
  * testdata directory, and the DuckDB SQL its result must hash-match. */
final case class Entry(name: String,
    build: (SparkSession, String) => DataFrame, oracle: String)

/** The operator inventory (SURVEY.md §2) as named queries with DuckDB
  * oracles, one [[Entry]] per query, grouped by family. Every entry keeps
  * column names identical between the Spark DataFrame and the oracle SQL,
  * is deterministically ordered, and uses decimal-cast sums so aggregate
  * values are bit-identical regardless of accumulation order (100 TB
  * plans reorder partial aggregates freely — correctness must not depend
  * on float summation order).
  */
object Registry {

  val entries: Seq[Entry] = checked(
    ChFamily.entries ++ QFamily.entries ++ TFamily.entries ++
      VFamily.entries ++ EFamily.entries ++ PFamily.entries ++
      MFamily.entries ++ XFamily.entries ++ DFamily.entries)

  /** `es`, refused when a name repeats or a name or oracle is empty. */
  def checked(es: Seq[Entry]): Seq[Entry] = {
    val dups = es.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dups.isEmpty,
      s"registry: duplicate entry names: ${dups.toSeq.sorted.mkString(", ")}")
    val unnamed = es.zipWithIndex.collect { case (e, i) if e.name.isEmpty => i }
    require(unnamed.isEmpty,
      s"registry: entries with an empty name at position ${unnamed.mkString(", ")}")
    val noOracle = es.collect { case e if e.oracle.trim.isEmpty => e.name }
    require(noOracle.isEmpty,
      s"registry: entries with an empty oracle: ${noOracle.mkString(", ")}")
    es
  }
}
