package graft.operators

import java.util.Locale
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{bit_xor, col, count, lit, to_json, xxhash64}

/** Admin statement surface: `OPTIMIZE TABLE` (optimizeStmt,
  * ClickHouseParser.py:8366-8460) and the `SYSTEM ...` family (systemStmt,
  * ClickHouseParser.py:13902-14040), mapped to their honest Spark
  * equivalents. Statements whose CH semantics have no Spark counterpart
  * (replication queues, merges scheduling) are intentionally absent rather
  * than mapped to something misleading.
  */
object AdminOps {

  /** `OPTIMIZE TABLE ... [FINAL]`: ClickHouse merges data parts (and with
    * FINAL collapses row versions). The Spark twin is small-file
    * compaction: rewrite the table directory to `targetFiles` sorted
    * files. At 100 TB the small-files problem IS the read performance —
    * file-open overhead and non-contiguous scans dominate once parts
    * shrink below ~128 MB; this is the standard maintenance job.
    *
    * `finalKeys` = Some((sortingKeys, versionCol)) additionally applies
    * the ReplacingMergeTree FINAL collapse ([[ChOps.selectFinal]]) during
    * the rewrite. Returns (filesBefore, filesAfter). */
  def optimizeTable(
      spark: SparkSession, path: String, outPath: String,
      sortCols: Seq[String], targetFiles: Int,
      finalKeys: Option[(Seq[String], String)] = None
  ): (Int, Int) = {
    def parquetFiles(p: String): Int =
      Option(new java.io.File(p).listFiles()).getOrElse(Array.empty)
        .count(f => f.isFile && f.getName.endsWith(".parquet"))
    val before = parquetFiles(path)
    val base = spark.read.parquet(path)
    val collapsed = finalKeys match {
      case Some((keys, version)) => ChOps.selectFinal(base, keys, version)
      case None => base
    }
    collapsed.repartition(targetFiles)
      .sortWithinPartitions(sortCols.map(col): _*)
      .write.mode(SaveMode.Overwrite).parquet(outPath)
    (before, parquetFiles(outPath))
  }

  /** `CHECK TABLE t` (checkStmt, ClickHouseParser.py:3807-3837): CH
    * verifies part checksums; the Spark twin is a full-scan validation —
    * decoding every page of every file IS the parquet checksum/structure
    * check (corrupt footers, truncated pages and bad magic bytes all
    * surface as read errors). A bare count() would be answered from
    * footer metadata without touching data pages, so the scan hashes
    * every column to force full materialization. Returns
    * (ok, rowsRead, error). */
  def checkTable(spark: SparkSession, path: String): (Boolean, Long, Option[String]) =
    try {
      val df = spark.read.parquet(path)
      // Spark hash expressions reject MapType (non-deterministic entry
      // order); casting to a JSON string still decodes every page, which is
      // all the check needs.
      val hashable = df.schema.fields.map { f =>
        def hasMap(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
          case _: org.apache.spark.sql.types.MapType => true
          case s: org.apache.spark.sql.types.StructType => s.fields.exists(x => hasMap(x.dataType))
          case a: org.apache.spark.sql.types.ArrayType => hasMap(a.elementType)
          case _ => false
        }
        if (hasMap(f.dataType)) to_json(col(f.name)) else col(f.name)
      }
      val n =
        if (df.columns.isEmpty) df.count() // zero-column file: structure only
        else df.select(xxhash64(hashable: _*).as("h"))
          .agg(count(lit(1)).as("n"), bit_xor(col("h"))) // xor: no ANSI overflow
          .head().getLong(0)
      (true, n, None)
    } catch {
      case e: Throwable => (false, 0L, Some(e.getMessage))
    }

  /** `ATTACH TABLE name` (attachStmt, ClickHouseParser.py:3779-3804): CH
    * registers existing on-disk data in the catalog without writing data.
    * Spark twin: an EXTERNAL table over the existing location — metadata
    * only, the data files are untouched. */
  def attachTable(spark: SparkSession, name: String, path: String): Unit =
    // Spark SQL string literals use backslash escapes (SQL-standard ''
    // doubling would silently drop the quote)
    spark.sql(s"CREATE TABLE $name USING parquet LOCATION '${
      path.replace("\\", "\\\\").replace("'", "\\'")}'")

  /** `DETACH TABLE name` (detachStmt, ClickHouseParser.py:14105-14130):
    * the inverse — drop the catalog entry, KEEP the data (CH's detached
    * parts stay on disk; an external-table DROP has exactly that
    * contract). Re-ATTACH restores it. */
  def detachTable(spark: SparkSession, name: String): Unit =
    spark.sql(s"DROP TABLE IF EXISTS $name")

  /** `KILL QUERY WHERE query_id = ...` (killStmt,
    * ClickHouseParser.py:8366-8462): CH cancels by query id; Spark's unit
    * of cancellation is the job group — run each user query under
    * `withQueryId` and kill by the same id. Queries registered here are
    * also what `SHOW PROCESSLIST` reports (showStmt PROCESSLIST
    * alternative): (query_id, query text, start millis). */
  private val running =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Long)]()

  def withQueryId[T](spark: SparkSession, queryId: String,
      queryText: String = "")(body: => T): T = {
    spark.sparkContext.setJobGroup(queryId, s"graft query $queryId",
      interruptOnCancel = true)
    running.put(queryId, (queryText, System.currentTimeMillis()))
    try body finally {
      running.remove(queryId)
      spark.sparkContext.clearJobGroup()
    }
  }

  /** Live queries for `SHOW PROCESSLIST`: (query_id, query, elapsed_sec),
    * longest-running first. */
  def processList(): Seq[(String, String, Double)] = {
    import scala.jdk.CollectionConverters._
    val now = System.currentTimeMillis()
    running.asScala.toSeq.map { case (id, (text, t0)) =>
      (id, text, (now - t0) / 1000.0)
    }.sortBy(-_._3)
  }

  def killQuery(spark: SparkSession, queryId: String): String = {
    spark.sparkContext.cancelJobGroup(queryId)
    s"cancelled job group '$queryId'"
  }

  /** `KILL MUTATION WHERE ...` (killStmt MUTATION alternative,
    * ClickHouseParser.py:8274-8365): CH mutations are asynchronous
    * background rewrites, so killing one is meaningful there. This
    * engine's mutations ([[graft.operators.Mutations]]) apply
    * synchronously inside the statement — by the time KILL could run
    * there is nothing in flight. Honest no-op, not a stub. */
  def killMutation(where: String): String =
    s"no mutations in flight matching ($where): mutations apply synchronously"

  /** `SYSTEM ...` dispatch. Returns a description of the action taken so
    * callers (and tests) can see the mapping explicitly. */
  def system(spark: SparkSession, command: String, arg: Option[String] = None): String = {
    command.trim.toUpperCase(Locale.ROOT) match {
      case "DROP CACHE" | "DROP UNCOMPRESSED CACHE" | "DROP MARK CACHE" =>
        spark.catalog.clearCache()
        "cleared in-memory table cache (spark.catalog.clearCache)"
      // dictionaries are broadcast lookup tables read per query; reload =
      // invalidate cached relations so the next lookup sees the current
      // source. `arg` is the dictionary name or source path; none reloads
      // every source.
      case c if c.startsWith("RELOAD DICTIONAR") =>
        arg match {
          case Some(n) if graft.sources.Dictionaries.exists(n) =>
            graft.sources.Dictionaries.reload(spark, n)
            s"reloaded dictionary $n"
          case Some(n) =>
            val isPath = scala.util.Try {
              val p = new org.apache.hadoop.fs.Path(n)
              p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
            }.getOrElse(false)
            require(isPath, s"ChSql: SYSTEM RELOAD DICTIONARY $n: no such dictionary or source path")
            spark.catalog.refreshByPath(n) // path-registered source
            s"refreshed dictionary source $n"
          case None =>
            spark.catalog.clearCache()
            "refreshed dictionary source (all)"
        }
      case "FLUSH LOGS" =>
        "no-op: Spark writes eagerly, there is no async insert buffer"
      case "RESTART REPLICA" | "SYNC REPLICA" =>
        "unmapped: replication is the storage layer's concern (HDFS/S3)"
      case other =>
        throw new IllegalArgumentException(s"ChSql: unknown SYSTEM command: $other")
    }
  }
}
