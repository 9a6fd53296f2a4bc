package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import graft.chsql.ChSql

/** The negative-grammar CONTRACT: every known-unsupported form the engine
  * deliberately refuses must raise a `ChSql:`-prefixed message — never a
  * raw Spark error (which would read as a bug) and never a silent no-op
  * (which would read as support). This is the single place future
  * refusals get added; if a form here ever starts "working", either the
  * support is real (move it to a positive spec + oracle row) or it is a
  * silent wrong answer (fix it).
  *
  * Reference for the refused surface: TABLE OVERRIDE
  * (ClickHouseParser.py:7487-7605 explainStmt), GraphiteMergeTree
  * (engineClause rule list), ADD INDEX types, RENAME DATABASE,
  * ALTER MODIFY SETTING, MOVE PARTITION TO DISK (alterTableClause
  * fan-out), watchStmt, dictionaryStmt.
  */
class RefusalMatrixSpec extends AnyFunSuite with SparkSuite {

  private def resolve(n: String): DataFrame = {
    import spark.implicits._
    n match {
      case "t1" => Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v")
      case "t2" => Seq((1L, "a"), (2L, "b")).toDF("k", "s")
      case other => spark.table(other)
    }
  }

  private def run(stmt: String): Seq[org.apache.spark.sql.Row] =
    ChSql.statement(spark, stmt)(resolve)._1.collect().toSeq

  /** (label, statement, required message fragments). Every row must
    * throw, and the message must carry the ChSql marker plus the
    * row-specific fragment. */
  private lazy val matrix: Seq[(String, String, Seq[String])] = Seq(
    ("EXPLAIN TABLE OVERRIDE",
      "EXPLAIN TABLE OVERRIDE SELECT k FROM t1",
      Seq("TABLE OVERRIDE", "not supported")),
    ("RENAME DATABASE",
      "RENAME DATABASE a TO b",
      Seq("RENAME DATABASE", "not supported")),
    ("GraphiteMergeTree FINAL",
      "SELECT k FROM refusal_graphite FINAL",
      Seq("FINAL semantics", "GraphiteMergeTree")),
    ("ALTER MODIFY SETTING",
      "ALTER TABLE refusal_graphite MODIFY SETTING parts_to_throw_insert = 1",
      Seq("unsupported ALTER TABLE clause")),
    ("MOVE PARTITION TO DISK",
      "ALTER TABLE refusal_graphite MOVE PARTITION 1 TO DISK 'd'",
      Seq("MOVE PARTITION p TO TABLE t")),
    ("inline INSERT FORMAT Avro",
      "INSERT INTO refusal_graphite FORMAT Avro k=1",
      Seq("FORMAT")),
    ("AggregateFunction unknown stem",
      "CREATE TABLE refusal_af (k Int64, s AggregateFunction(median, Float64)) " +
        "ENGINE = AggregatingMergeTree ORDER BY k",
      Seq("AggregateFunction(median", "not supported")),
    ("qualified Memory table name",
      "CREATE TABLE db.mem_q (k Int64) ENGINE = Memory",
      Seq("cannot be qualified")),
    ("File engine with ORDER BY",
      "CREATE TABLE refusal_file (k Int64) ENGINE = File(CSVWithNames) ORDER BY k",
      Seq("File supports none")),
    ("File engine unknown format",
      "CREATE TABLE refusal_file2 (k Int64) ENGINE = File(Avro)",
      Seq("File(", "format")),
    ("RANGE without RANGE_HASHED",
      "CREATE DICTIONARY refusal_d (id Int64, lo Int64, hi Int64, x Float64) " +
        "PRIMARY KEY id SOURCE(CLICKHOUSE(TABLE 't1')) LAYOUT(HASHED()) " +
        "RANGE(MIN lo MAX hi)",
      Seq("RANGE", "RANGE_HASHED")),
    ("WATCH unknown view",
      "WATCH refusal_nope",
      Seq("unknown view")),
    ("WATCH EVENTS unknown view",
      "WATCH refusal_nope EVENTS",
      Seq("unknown view")),
    ("SHOW SETTING unknown name",
      "SHOW SETTING refusal_not_a_setting",
      Seq("unknown setting")),
    ("neighbor without ORDER BY",
      "SELECT neighbor(v, 1) FROM t1",
      Seq("ORDER BY")),
    ("runningAccumulate non-simple state",
      "SELECT runningAccumulate(uniqExactState(k)) FROM t1 ORDER BY k",
      Seq("runningAccumulate")),
    ("lagInFrame bounded frame",
      "SELECT lagInFrame(v, 1) OVER (ORDER BY k " +
        "ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) AS p FROM t1",
      Seq("lagInFrame", "frame")),
    ("jumpConsistentHash non-positive buckets",
      "SELECT jumpConsistentHash(k, 0) FROM t1",
      Seq("jumpConsistentHash", "positive")),
    ("ASOF ON wrong shape",
      "SELECT * FROM t1 ASOF JOIN t2 ON t1.k = t2.k",
      Seq("ASOF ON")),
    ("ANY JOIN without USING",
      "SELECT * FROM t1 ANY LEFT JOIN t2 ON t1.k = t2.k",
      Seq("ANY JOIN", "USING")),
    ("unterminated backquoted identifier",
      "SELECT `k FROM t1",
      Seq("unterminated backquoted identifier")),
    ("unterminated block comment",
      "SELECT k FROM t1 /* the rest",
      Seq("unterminated /* comment")),
    ("SHOW head with a clause it does not read",
      "SHOW TABLES junk",
      Seq("unexpected 'junk'")),
    ("DROP TABLE with a clause it does not read",
      "DROP TABLE refusal_graphite CASCADE",
      Seq("unexpected 'CASCADE'")))

  test("every refused form raises a ChSql-marked error, never raw Spark") {
    // fixture the matrix rows lean on: a GraphiteMergeTree table (the
    // engine whose FINAL has no honest Spark twin)
    run("DROP TABLE IF EXISTS refusal_graphite")
    run("CREATE TABLE refusal_graphite (k Int64, v Float64) " +
      "ENGINE = GraphiteMergeTree ORDER BY k")
    run("INSERT INTO refusal_graphite VALUES (1, 1.0)")
    val failures = matrix.flatMap { case (label, stmt, frags) =>
      val got =
        try { run(stmt); Some(s"$label: DID NOT THROW (silent acceptance)") }
        catch {
          case e: Throwable =>
            val m = Option(e.getMessage).getOrElse(e.toString)
            if (!m.contains("ChSql"))
              Some(s"$label: un-marked error (raw Spark?): $m")
            else frags.find(f => !m.contains(f))
              .map(f => s"$label: message lacks '$f': $m")
        }
      got
    }
    run("DROP TABLE refusal_graphite")
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("SET of an unmappable setting reports 'skipped', never silent") {
    val st = run("SET refusal_not_a_setting = 1").map(_.getString(0))
    assert(st.exists(s => s.contains("skipped") &&
      s.contains("refusal_not_a_setting")), st)
  }

  test("ADD INDEX of an unsupported type refuses via status, not silently") {
    // all three CH bloom index types gained real twins in r12
    // (BloomSkipIndex); the experimental 'hypothesis' type refuses
    run("DROP TABLE IF EXISTS refusal_idx")
    run("CREATE TABLE refusal_idx (k Int64, s String) " +
      "ENGINE = MergeTree ORDER BY k")
    val st = run(
      "ALTER TABLE refusal_idx ADD INDEX hy s TYPE hypothesis GRANULARITY 4")
      .head.getString(0)
    assert(st.contains("not created") && st.contains("hypothesis"), st)
    // bloom_filter now REGISTERS instead of refusing
    val ok = run(
      "ALTER TABLE refusal_idx ADD INDEX bf s TYPE bloom_filter GRANULARITY 4")
      .head.getString(0)
    assert(ok.contains("bloom index bf"), ok)
    run("DROP TABLE refusal_idx")
  }
}
