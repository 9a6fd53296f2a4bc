package graft

import java.nio.file.{Files, Paths}
import java.util.Locale
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row}
import graft.chsql.{ChDdl, ChSql}

/** The one statement front end: `ChSql.statement` lexes every statement
  * once and routes it on its keyword tokens, so comments are hidden
  * tokens and case, line breaks and tabs between keywords change nothing.
  * Every statement kind that `ChSql.statement` and `ChDdl` accept runs in
  * two dressed-up forms that must both succeed and give the same result
  * and the same state, or both refuse with the expected message. */
class StatementFrontEndSpec extends AnyFunSuite with SparkSuite {

  private def resolve(n: String): DataFrame =
    if (spark.catalog.tableExists(n)) ChDdl.readTable(spark, n) else spark.table(n)

  private def run(s: String): Seq[Row] =
    ChSql.statement(spark, s)(resolve)._1.collect().toSeq

  private def error(s: String): String =
    intercept[IllegalArgumentException](run(s)).getMessage

  /** One statement kind. `stmt` marks the gaps between its keywords with
    * `~`; `setup` and `cleanup` run around each form; `probe` reads back
    * the state the statement left; `refuses` names the message fragment
    * of a statement that must fail in every form. */
  private case class Kind(stmt: String, setup: Seq[String] = Nil,
      probe: Seq[String] = Nil, cleanup: Seq[String] = Nil,
      trailing: Boolean = true, refuses: Option[String] = None,
      stable: Boolean = true)

  /** A leading `--` comment, lower-case keywords and a trailing `--`
    * comment; and a `/* */` comment, a newline and a tab in every keyword
    * gap with a trailing `/* */`. */
  private def forms(k: Kind): Seq[String] = {
    val lower = "\\b[A-Z][A-Z_]+\\b".r.replaceAllIn(k.stmt.replace("~", " "),
      m => m.matched.toLowerCase(Locale.ROOT))
    Seq("-- lead\n" + lower + (if (k.trailing) " -- tail" else ""),
      k.stmt.replace("~", "\n\t/* c */\t") + (if (k.trailing) "\n/* tail */" else ""))
  }

  private def outcome(k: Kind, text: String): Seq[String] = {
    k.setup.foreach(run)
    try k.refuses match {
      case Some(frag) =>
        val m = error(text)
        assert(m.contains("ChSql") && m.contains(frag), s"$text: $m")
        Seq(frag)
      case None =>
        val rows = run(text).map(_.toString)
        (if (k.stable) rows else Seq(rows.size.toString)) ++
          k.probe.flatMap(p => run(p).map(_.toString))
    } finally k.cleanup.foreach(run)
  }

  private val shared = Seq(
    "CREATE TABLE IF NOT EXISTS fe_t (k Int64, v Int64, p String) " +
      "ENGINE = MergeTree ORDER BY k PARTITION BY p")
  private val fresh = Seq("DROP TABLE IF EXISTS fe_w",
    "CREATE TABLE fe_w (k Int64, v Int64, p String) ENGINE = ReplacingMergeTree(v) " +
      "ORDER BY k PARTITION BY p",
    "INSERT INTO fe_w VALUES (1, 10, 'a'), (2, 20, 'a'), (3, 30, 'b'), (3, 31, 'b')")
  private val dropW = Seq("DROP TABLE IF EXISTS fe_w")
  private val readW = Seq("SELECT k, v, p FROM fe_w ORDER BY k, v")
  private lazy val outDir = Files.createTempDirectory("graft_fe").toString

  private lazy val kinds: Seq[Kind] = Seq(
    // ---- ChSql.statement heads ----
    Kind("SELECT~k, v FROM fe_t ORDER BY k"),
    Kind("WITH~s AS (SELECT sum(v) AS t FROM fe_t)~SELECT t FROM s"),
    Kind("EXPLAIN~SYNTAX~SELECT k FROM fe_t", stable = false),
    Kind("EXPLAIN~SELECT k FROM fe_t", stable = false),
    Kind("DESCRIBE~TABLE~fe_t"),
    Kind("DESC~fe_t"),
    Kind("SET~fe_unknown_knob = 1"),
    Kind(s"INSERT~INTO~FUNCTION~file('$outDir/fe_out', 'parquet')~SELECT k FROM fe_t",
      probe = Seq(s"SELECT count() AS n FROM file('$outDir/fe_out', 'parquet')")),
    Kind("CREATE~VIEW~fe_v~AS~SELECT k FROM fe_t",
      probe = Seq("SELECT count() AS n FROM fe_v"), cleanup = Seq("DROP VIEW IF EXISTS fe_v")),
    Kind("CREATE~OR~REPLACE~VIEW~fe_v~AS~SELECT k FROM fe_t",
      probe = Seq("SELECT count() AS n FROM fe_v"), cleanup = Seq("DROP VIEW IF EXISTS fe_v")),
    // ---- CREATE ----
    Kind("CREATE~TABLE~fe_c (k Int64, v Int64 DEFAULT 3) ENGINE = MergeTree~ORDER BY k~" +
      "PARTITION BY v~SETTINGS index_granularity = 64",
      probe = Seq("SHOW CREATE TABLE fe_c"), cleanup = Seq("DROP TABLE IF EXISTS fe_c")),
    Kind("CREATE~TABLE~fe_c~UUID~'61f0c404-5cb3-11e7-907b-a6006ad3dba0' (k Int64)~" +
      "ENGINE = MergeTree~ORDER BY k",
      probe = Seq("SHOW CREATE TABLE fe_c"), cleanup = Seq("DROP TABLE IF EXISTS fe_c")),
    Kind("CREATE~TEMPORARY~TABLE~fe_m (k Int64)",
      probe = Seq("SHOW CREATE TABLE fe_m"), cleanup = Seq("DROP TABLE IF EXISTS fe_m")),
    Kind("CREATE~TABLE~fe_c~ENGINE = MergeTree~ORDER BY k~AS~SELECT k, v FROM fe_t",
      probe = Seq("SHOW CREATE TABLE fe_c", "SELECT count() AS n FROM fe_c"),
      cleanup = Seq("DROP TABLE IF EXISTS fe_c")),
    Kind("CREATE~TABLE~fe_c~AS~fe_t~ENGINE = ReplacingMergeTree(v)",
      probe = Seq("SHOW CREATE TABLE fe_c"), cleanup = Seq("DROP TABLE IF EXISTS fe_c")),
    Kind("CREATE~MATERIALIZED~VIEW~fe_mv~AS~SELECT k FROM fe_t",
      cleanup = Seq("DROP VIEW IF EXISTS fe_mv")),
    Kind("CREATE~LIVE~VIEW~fe_mv~AS~SELECT k FROM fe_t",
      cleanup = Seq("DROP VIEW IF EXISTS fe_mv")),
    Kind("CREATE~DATABASE~IF~NOT~EXISTS~fe_db", probe = Seq("SHOW DATABASES LIKE 'fe_db'"),
      cleanup = Seq("DROP DATABASE IF EXISTS fe_db")),
    Kind("CREATE~DICTIONARY~fe_d (k Int64, v Int64)~PRIMARY~KEY~k~" +
      "SOURCE(CLICKHOUSE(TABLE 'fe_t'))~LAYOUT(HASHED())~LIFETIME(300)",
      probe = Seq("SHOW CREATE DICTIONARY fe_d"),
      cleanup = Seq("DROP DICTIONARY IF EXISTS fe_d")),
    Kind("CREATE~FUNCTION~fe_f~AS~(a, b) -> a + b",
      probe = Seq("SELECT fe_f(1, 2) AS s", "SHOW CREATE FUNCTION fe_f"),
      cleanup = Seq("DROP FUNCTION IF EXISTS fe_f")),
    // ---- INSERT / mutations ----
    Kind("INSERT~INTO~fe_w (k, v, p)~VALUES (4, 40, 'b'), (5, 50, 'a')",
      setup = fresh, probe = readW, cleanup = dropW),
    Kind("INSERT~INTO~TABLE~fe_w~SELECT k + 10, v, p FROM fe_w",
      setup = fresh, probe = readW, cleanup = dropW),
    Kind("INSERT~INTO~fe_w~FORMAT~JSONEachRow\n{\"k\": 5, \"v\": 50, \"p\": \"b\"}",
      setup = fresh, probe = readW, cleanup = dropW, trailing = false),
    Kind("DELETE~FROM~fe_w~WHERE~k = 1", setup = fresh, probe = readW, cleanup = dropW),
    Kind("UPDATE~fe_w~SET~v = v + 1~IN~PARTITION~'a'~WHERE~k = 2",
      setup = fresh, probe = readW, cleanup = dropW),
    Kind("ALTER~TABLE~fe_w~DELETE~WHERE~k = 1", setup = fresh, probe = readW, cleanup = dropW),
    Kind("ALTER~TABLE~fe_w~UPDATE~v = 0~WHERE~k = 3", setup = fresh, probe = readW,
      cleanup = dropW),
    Kind("ALTER~TABLE~fe_w~ADD~COLUMN~w Int64 DEFAULT 7~AFTER~k", setup = fresh,
      probe = Seq("SHOW CREATE TABLE fe_w"), cleanup = dropW),
    Kind("ALTER~TABLE~fe_w~MODIFY~ORDER~BY~(k, v)", setup = fresh,
      probe = Seq("SHOW CREATE TABLE fe_w"), cleanup = dropW),
    Kind("ALTER~TABLE~fe_w~DROP~PARTITION~'b'", setup = fresh, probe = readW, cleanup = dropW),
    Kind("ALTER~TABLE~fe_w~MODIFY~COLUMN~v Int64 DEFAULT 5", setup = fresh,
      probe = Seq("SHOW CREATE TABLE fe_w"), cleanup = dropW),
    Kind("ALTER~TABLE~fe_w~RENAME~COLUMN~v~TO~v2", setup = fresh,
      probe = Seq("SELECT k, v2, p FROM fe_w ORDER BY k, v2"), cleanup = dropW),
    Kind("ALTER~TABLE~fe_w~DROP~COLUMN~IF~EXISTS~v", setup = fresh,
      probe = Seq("SELECT k, p FROM fe_w ORDER BY k"), cleanup = dropW),
    Kind("ALTER~TABLE~fe_w~COMMENT~COLUMN~v~'the value'", setup = fresh, cleanup = dropW),
    Kind("ALTER~TABLE~fe_w~CLEAR~COLUMN~v~IN~PARTITION~'a'", setup = fresh, probe = readW,
      cleanup = dropW),
    Kind("ALTER~TABLE~fe_w~ADD~INDEX~ix~v~TYPE~bloom_filter~GRANULARITY~1", setup = fresh,
      probe = Seq("SHOW INDEX FROM fe_w"), cleanup = dropW),
    Kind("ALTER~TABLE~fe_w~ADD~PROJECTION~pj~(SELECT p, count() AS n GROUP BY p)",
      setup = fresh, cleanup = dropW),
    Kind("ALTER~TABLE~fe_w~MODIFY~TTL~k + 1", setup = fresh,
      probe = Seq("SHOW CREATE TABLE fe_w"), cleanup = dropW),
    Kind("ALTER~TABLE~fe_w~MODIFY~COMMENT~'a table'", setup = fresh, cleanup = dropW),
    Kind("ALTER~TABLE~fe_w~MODIFY~SETTING~x = 1", setup = fresh, cleanup = dropW,
      refuses = Some("unsupported ALTER TABLE clause")),
    Kind("OPTIMIZE~TABLE~fe_w~FINAL", setup = fresh, probe = readW, cleanup = dropW),
    Kind("TRUNCATE~TABLE~fe_w", setup = fresh, probe = readW, cleanup = dropW),
    Kind("RENAME~TABLE~fe_w~TO~fe_w2", setup = fresh,
      probe = Seq("SELECT count() AS n FROM fe_w2"),
      cleanup = dropW :+ "DROP TABLE IF EXISTS fe_w2"),
    Kind("RENAME~DATABASE~fe_a~TO~fe_b", refuses = Some("not supported")),
    Kind("EXCHANGE~TABLES~fe_w~AND~fe_t", setup = fresh,
      probe = Seq("SELECT count() AS n FROM fe_t"),
      cleanup = Seq("EXCHANGE TABLES fe_w AND fe_t") ++ dropW),
    Kind("DROP~TABLE~IF~EXISTS~fe_w", setup = fresh,
      probe = Seq("EXISTS TABLE fe_w"), cleanup = dropW),
    Kind("DETACH~TABLE~fe_w", setup = fresh, probe = Seq("EXISTS TABLE fe_w"),
      cleanup = Seq("ATTACH TABLE fe_w") ++ dropW),
    Kind("ATTACH~TABLE~fe_w", setup = fresh :+ "DETACH TABLE fe_w", probe = readW,
      cleanup = dropW),
    Kind("DROP~DATABASE~fe_db", setup = Seq("CREATE DATABASE IF NOT EXISTS fe_db"),
      probe = Seq("SHOW DATABASES LIKE 'fe_db'")),
    Kind("DROP~FUNCTION~fe_f", setup = Seq("CREATE FUNCTION fe_f AS (a) -> a + 1")),
    Kind("DROP~DICTIONARY~IF~EXISTS~fe_d"),
    // ---- admin ----
    Kind("USE~default"),
    Kind("CHECK~TABLE~fe_t"),
    Kind("EXISTS~TABLE~fe_t"),
    Kind("KILL~QUERY~WHERE~query_id = 'fe_none'"),
    Kind("KILL~MUTATION~WHERE~mutation_id = 'fe_none'"),
    Kind("SYSTEM~DROP~CACHE"),
    Kind("WATCH~fe_nope~EVENTS", refuses = Some("unknown view")),
    // ---- SHOW ----
    Kind("SHOW~TABLES~LIKE~'fe_%'"),
    Kind("SHOW~DATABASES~LIKE~'default'"),
    Kind("SHOW~CREATE~TABLE~fe_t"),
    Kind("SHOW~CREATE~DATABASE~default"),
    Kind("SHOW~CREATE~USER~default"),
    Kind("SHOW~COLUMNS~FROM~fe_t~NOT~LIKE~'p'"),
    Kind("SHOW~INDEX~FROM~fe_t"),
    Kind("SHOW~FUNCTIONS~LIKE~'uniq%'"),
    Kind("SHOW~SETTINGS~LIKE~'max_threads'"),
    Kind("SHOW~SETTING~max_threads"),
    Kind("SHOW~GRANTS~FOR~default"),
    Kind("SHOW~DICTIONARIES"),
    Kind("SHOW~PROCESSLIST"),
    Kind("SHOW~CLUSTERS"),
    Kind("SHOW~CLUSTER~'local'"),
    Kind("SHOW~CURRENT~ROLES"),
    Kind("SHOW~SETTINGS~PROFILES"),
    Kind("SHOW~ROW~POLICIES"),
    Kind("SHOW~QUOTA"),
    Kind("SHOW~QUOTAS"),
    Kind("SHOW~USERS"),
    Kind("SHOW~ACCESS"),
    Kind("SHOW~PRIVILEGES"),
    Kind("SHOW~ENGINES"),
    Kind("SHOW~MERGES"),
    Kind("SHOW~FILESYSTEM~CACHES"))

  test("every statement kind reads the same with comments, case, newlines and tabs") {
    shared.foreach(run)
    if (run("SELECT count() AS n FROM fe_t").head.getLong(0) == 0)
      run("INSERT INTO fe_t VALUES (1, 10, 'a'), (2, 20, 'a'), (3, 30, 'b')")
    val mismatches = kinds.flatMap { k =>
      val got = forms(k).map(f =>
        try Right(outcome(k, f)) catch { case e: Throwable => Left(s"$f\n  -> $e") })
      got match {
        case Seq(Right(a), Right(b)) if a == b => None
        case Seq(Right(a), Right(b)) => Some(s"${k.stmt}: forms differ\n  $a\n  $b")
        case other => Some(other.collect { case Left(m) => m }.mkString("\n"))
      }
    }
    assert(mismatches.isEmpty, mismatches.mkString("\n\n"))
  }

  // ---- comments before, inside and after statement heads ----

  test("a leading -- comment before CREATE TABLE") {
    run("DROP TABLE IF EXISTS fe_t2")
    run("-- note\nCREATE TABLE fe_t2 (a Int64) ENGINE = MergeTree ORDER BY a")
    assert(spark.catalog.tableExists("fe_t2"))
    run("DROP TABLE fe_t2")
  }

  test("a /* */ comment between CREATE and TABLE") {
    run("DROP TABLE IF EXISTS fe_t3")
    run("CREATE /* c */ TABLE fe_t3 (a Int64) ENGINE = MergeTree ORDER BY a")
    assert(spark.catalog.tableExists("fe_t3"))
    run("DROP TABLE fe_t3")
  }

  test("a comment between ALTER TABLE's name and its clause") {
    run("DROP TABLE IF EXISTS fe_t4")
    run("CREATE TABLE fe_t4 (a Int64) ENGINE = MergeTree ORDER BY a")
    run("INSERT INTO fe_t4 VALUES (1), (2)")
    run("ALTER TABLE fe_t4 /* why */ DELETE WHERE a = 1")
    assert(run("SELECT a FROM fe_t4").map(_.getLong(0)) == Seq(2L))
    run("DROP TABLE fe_t4")
  }

  test("trailing comments after DROP TABLE and OPTIMIZE ... FINAL") {
    run("DROP TABLE IF EXISTS fe_t5")
    run("CREATE TABLE fe_t5 (a Int64) ENGINE = MergeTree ORDER BY a")
    run("DROP TABLE fe_t5 -- gone")
    assert(!spark.catalog.tableExists("fe_t5"))
    run("DROP TABLE IF EXISTS fe_t6")
    run("CREATE TABLE fe_t6 (a Int64, v Int64) ENGINE = ReplacingMergeTree(v) ORDER BY a")
    run("INSERT INTO fe_t6 VALUES (1, 1), (1, 2)")
    run("OPTIMIZE TABLE fe_t6 FINAL /* compact */")
    assert(run("SELECT v FROM fe_t6").map(_.getLong(0)) == Seq(2L))
    run("DROP TABLE fe_t6")
  }

  test("leading comments before SET and EXPLAIN") {
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    try {
      run("/* hdr */ SET max_threads = 2")
      assert(spark.conf.get(key) == "2")
    } finally spark.conf.set(key, before)
    assert(run("-- x\nEXPLAIN SELECT 1").nonEmpty)
  }

  test("a comment between INSERT's table name and VALUES") {
    run("DROP TABLE IF EXISTS fe_t7")
    run("CREATE TABLE fe_t7 (a Int64) ENGINE = MergeTree ORDER BY a")
    run("INSERT INTO fe_t7 -- rows\nVALUES (1)")
    assert(run("SELECT a FROM fe_t7").map(_.getLong(0)) == Seq(1L))
    run("DROP TABLE fe_t7")
  }

  test("a comment after ORDER BY keeps the sorting key (SHOW CREATE and FINAL)") {
    run("DROP TABLE IF EXISTS fe_c2")
    run("CREATE TABLE fe_c2 (k Int64, v Int64) ENGINE = ReplacingMergeTree(v) " +
      "ORDER BY k -- sort key\nPARTITION BY v")
    val ddl = run("SHOW CREATE TABLE fe_c2").head.getString(0)
    assert(ddl.contains("ORDER BY (k)") && ddl.contains("PARTITION BY (v)"), ddl)
    run("INSERT INTO fe_c2 VALUES (1, 1), (1, 2)")
    assert(run("SELECT k, v FROM fe_c2 FINAL").map(r => (r.getLong(0), r.getLong(1))) ==
      Seq((1L, 2L)))
    run("DROP TABLE fe_c2")
  }

  // ---- satellites ----

  test("keywords match under a Turkish default locale") {
    val saved = Locale.getDefault
    Locale.setDefault(Locale.forLanguageTag("tr-TR"))
    try {
      run("drop table if exists fe_tr")
      run("create table fe_tr (k Int64, s String) engine = MergeTree order by k")
      run("insert into fe_tr values (1, 'i'), (2, 'I')")
      assert(run("select count() as n from fe_tr").head.getLong(0) == 2L)
      run("drop table if exists fe_tr")
      assert(!spark.catalog.tableExists("fe_tr"))
    } finally Locale.setDefault(saved)
  }

  test("SHOW TABLES / DATABASES apply FROM, [NOT] LIKE and ILIKE") {
    run("CREATE DATABASE IF NOT EXISTS fe_showdb")
    run("CREATE TABLE IF NOT EXISTS fe_showdb.fe_in_db (k Int64) ENGINE = MergeTree ORDER BY k")
    run("DROP TABLE IF EXISTS fe_s1")
    run("DROP TABLE IF EXISTS fe_s2")
    run("CREATE TABLE fe_s1 (k Int64) ENGINE = MergeTree ORDER BY k")
    run("CREATE TABLE fe_s2 (k Int64) ENGINE = MergeTree ORDER BY k")
    def names(s: String) = run(s).map(_.getString(0))
    assert(names("SHOW TABLES LIKE 'fe_s%'") == Seq("fe_s1", "fe_s2"))
    assert(names("SHOW TABLES ILIKE 'FE_S1'") == Seq("fe_s1"))
    assert(!names("SHOW TABLES NOT LIKE 'fe_s%'").exists(_.startsWith("fe_s")))
    assert(names("SHOW TABLES FROM fe_showdb") == Seq("fe_in_db"))
    assert(names("SHOW TABLES IN fe_showdb LIKE 'nope%'").isEmpty)
    assert(names("SHOW DATABASES LIKE 'fe_show%'") == Seq("fe_showdb"))
    assert(names("SHOW DATABASES NOT LIKE 'fe_show%'").contains("default"))
    assert(error("SHOW TABLES junk").contains("ChSql"))
    assert(error("SHOW DATABASES FROM x").contains("ChSql"))
    run("DROP TABLE fe_s1")
    run("DROP TABLE fe_s2")
    run("DROP DATABASE fe_showdb")
  }

  test("the Sql CLI lists its directory's tables after a leading comment") {
    val dir = Files.createTempDirectory("graft_cli").toString
    spark.range(3).write.parquet(s"$dir/fe_cli_tab.parquet")
    val out = new java.io.ByteArrayOutputStream
    Console.withOut(out)(Sql.run(spark, dir, "-- c\nSHOW TABLES", 50))
    assert(out.toString.contains("fe_cli_tab"), out.toString)
  }

  test("statement dispatch stays on tokens: no text patterns in ChDdl or ChSql.statement") {
    val ddl = Files.readString(Paths.get("src/main/scala/graft/chsql/ChDdl.scala"))
    val regexLines = ddl.linesIterator.filter(_.contains("(?i")).toList
    assert(regexLines.isEmpty, s"ChDdl.scala matches text with (?i regexes:\n${
      regexLines.mkString("\n")}")
    val sql = Files.readString(Paths.get("src/main/scala/graft/chsql/ChSql.scala"))
    val body = sql.substring(sql.indexOf("  def statement("),
      sql.indexOf("  private def fail(msg: String)"))
    val patterns = Seq("startsWith", "(?", ".r.", ".r\n", "matches(", "Regex", "toUpperCase")
      .filter(body.contains)
    assert(patterns.isEmpty, s"ChSql.statement matches text: ${patterns.mkString(", ")}")
  }
}
