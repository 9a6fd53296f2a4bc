package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.graftbridge.ListenerBus
import org.apache.spark.sql.util.QueryExecutionListener

/** Table metadata (the `graft.*` properties, partition columns and table
  * type) is read and written on the session catalog: a DDL session plans
  * no property command and collects no column listing. */
class TableMetaSpec extends AnyFunSuite with SparkSuite {

  private def chRun(s: String): Seq[Row] = {
    def resolve(n: String) =
      if (spark.catalog.tableExists(n)) graft.chsql.ChDdl.readTable(spark, n)
      else spark.table(n)
    graft.chsql.ChSql.statement(spark, s)(resolve)._1.collect().toSeq
  }

  /** Runs `body` and returns, per query execution of this session, the
    * plan node class names, plus "listColumns" for a collected
    * `spark.catalog.listColumns` result. */
  private def executions[T](body: => T): (T, Seq[String]) = {
    val seen = new ConcurrentLinkedQueue[String]
    def record(qe: QueryExecution): Unit = {
      // a statement that failed analysis still shows its parsed plan
      val plan = scala.util.Try(qe.analyzed).getOrElse(qe.logical)
      plan.foreach(p => seen.add(p.getClass.getSimpleName))
      if (Seq("isPartition", "isBucket").forall(plan.output.map(_.name).contains))
        seen.add("listColumns")
    }
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
    }
    spark.listenerManager.register(listener)
    try {
      val out = body
      ListenerBus.drain(spark.sparkContext)
      (out, seen.asScala.toSeq)
    } finally spark.listenerManager.unregister(listener)
  }

  test("a DDL session plans no property command and collects no column listing") {
    Seq("tm_m", "tm_r", "tm_p").foreach(t => chRun(s"DROP TABLE IF EXISTS $t"))
    val (out, seen) = executions {
      chRun("""CREATE TABLE tm_m (k Int64, v Int64, d Int64 DEFAULT k * 2,
        |  m Int64 MATERIALIZED k + v, a Int64 ALIAS k * 10, day Date)
        |ENGINE = MergeTree ORDER BY k TTL day + INTERVAL 1 DAY""".stripMargin)
      chRun("ALTER TABLE tm_m ADD INDEX ix v TYPE bloom_filter GRANULARITY 1")
      chRun("""CREATE TABLE tm_r (k Int64, ver Int64, s String)
        |ENGINE = ReplacingMergeTree(ver) ORDER BY k""".stripMargin)
      chRun("""CREATE TABLE tm_p (k Int64, v Int64, part String)
        |ENGINE = MergeTree ORDER BY k PARTITION BY part""".stripMargin)
      chRun("INSERT INTO tm_m (k, v, day) VALUES (1, 10, '2100-01-01'), " +
        "(2, 20, '2100-01-01'), (3, 30, '2100-01-01')")
      chRun("INSERT INTO tm_r VALUES (1, 1, 'a'), (1, 2, 'b'), (2, 1, 'c')")
      chRun("INSERT INTO tm_p SELECT k, v, 'x' FROM tm_m")
      chRun("INSERT INTO tm_p VALUES (9, 90, 'y')")
      chRun("ALTER TABLE tm_m DELETE WHERE k = 3")
      chRun("ALTER TABLE tm_p UPDATE v = v + 1 WHERE part = 'x'")
      chRun("ALTER TABLE tm_m ADD COLUMN w Int64 DEFAULT 7")
      chRun("ALTER TABLE tm_m RENAME COLUMN w TO w2")
      chRun("ALTER TABLE tm_m DROP COLUMN w2")
      chRun("OPTIMIZE TABLE tm_r FINAL")
      val created = chRun("SHOW CREATE TABLE tm_m").head.getString(0)
      val engines = chRun("SELECT name, engine FROM system.tables " +
        "WHERE name IN ('tm_m', 'tm_r', 'tm_p') ORDER BY name")
        .map(r => r.getString(0) -> r.getString(1))
      val counts = Seq("tm_m", "tm_r", "tm_p").map(t =>
        chRun(s"SELECT count() AS n FROM $t").head.getLong(0))
      val pSum = chRun("SELECT CAST(sum(v) AS Int64) AS s FROM tm_p").head.getLong(0)
      Seq("tm_m", "tm_r", "tm_p").foreach(t => chRun(s"DROP TABLE $t"))
      (created, engines, counts, pSum)
    }
    val (created, engines, counts, pSum) = out
    assert(created.contains("d Int64 DEFAULT k * 2") &&
      created.contains("m Int64 MATERIALIZED k + v") &&
      created.contains("a Int64 ALIAS k * 10") &&
      created.contains("TTL day + INTERVAL 1 DAY") && !created.contains("w2"), created)
    assert(engines == Seq("tm_m" -> "MergeTree", "tm_p" -> "MergeTree",
      "tm_r" -> "ReplacingMergeTree"))
    assert(counts == Seq(2L, 2L, 4L))
    assert(pSum == 10 + 20 + 30 + 3 + 90)
    // the listener sees this session's commands: the CREATEs are there
    assert(seen.contains("CreateDataSourceTableCommand"), seen.distinct)
    // SHOW TBLPROPERTIES analyzes to ShowTableProperties and runs as a
    // v2 exec; SET/UNSET resolve to the v1 commands
    val banned = Seq("ShowTableProperties", "ShowTablePropertiesCommand",
      "SetTableProperties", "UnsetTableProperties", "AlterTableSetPropertiesCommand",
      "AlterTableUnsetPropertiesCommand", "listColumns")
    assert(banned.filter(seen.contains).isEmpty, seen.distinct)
    assert(Seq("tm_m", "tm_r", "tm_p").forall(t => !spark.catalog.tableExists(t)))
  }

  test("no metadata SQL round trip in src/main: property commands, listColumns collects") {
    val banned = Seq("SHOW TBLPROPERTIES", "SET TBLPROPERTIES", "UNSET TBLPROPERTIES",
      "TABLEPROPSSAFE", "CATALOG.LISTCOLUMNS(")
    val files = Files.walk(Paths.get("src/main")).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(Seq("ChDdl.scala", "SystemTables.scala", "TableMeta.scala")
      .forall(n => files.exists(_.endsWith(n))))
    val hits = for {
      f: Path <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if banned.exists(line.toUpperCase(java.util.Locale.ROOT).contains)
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, s"metadata SQL round trips in src/main:\n${hits.mkString("\n")}")
  }
}
