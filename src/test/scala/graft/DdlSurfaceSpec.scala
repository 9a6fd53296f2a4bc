package graft

import org.scalatest.funsuite.AnyFunSuite

/** The DDL/DML statement surface of the reference grammar (SURVEY.md §2.2
  * "DDL / catalog statements") executed through Spark SQL: CREATE DATABASE /
  * TABLE / VIEW, INSERT VALUES + INSERT SELECT (CH insertStmt), CTAS,
  * ALTER ADD COLUMN, DESCRIBE, SHOW, TRUNCATE-equivalent, DROP. */
class DdlSurfaceSpec extends AnyFunSuite with SparkSuite {

  private lazy val loc =
    java.nio.file.Files.createTempDirectory("graft_ddl").toString

  test("CREATE DATABASE / TABLE / INSERT / SELECT round-trip") {
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_ddl LOCATION '$loc/db'")
    spark.sql(
      s"""CREATE TABLE graft_ddl.t (id BIGINT, name STRING)
         |USING parquet LOCATION '$loc/t'""".stripMargin)
    spark.sql("INSERT INTO graft_ddl.t VALUES (1, 'a'), (2, 'b')")
    spark.sql("INSERT INTO graft_ddl.t SELECT id + 10, upper(name) FROM graft_ddl.t")
    assert(spark.sql("SELECT count(*) FROM graft_ddl.t").head().getLong(0) == 4)
  }

  test("CREATE VIEW over the table; SHOW/DESCRIBE surface") {
    spark.sql(
      """CREATE OR REPLACE VIEW graft_ddl.v AS
        |SELECT name, count(*) AS n FROM graft_ddl.t GROUP BY name""".stripMargin)
    val names = spark.sql("SHOW TABLES IN graft_ddl").collect()
      .map(_.getAs[String]("tableName")).toSet
    assert(names.contains("t") && names.contains("v"))
    val cols = spark.sql("DESCRIBE graft_ddl.t").collect().map(_.getString(0))
    assert(cols.contains("id") && cols.contains("name"))
    assert(spark.sql("SELECT sum(n) FROM graft_ddl.v").head().getLong(0) == 4)
  }

  test("CTAS + ALTER TABLE ADD COLUMNS + DROP") {
    spark.sql(
      s"""CREATE TABLE graft_ddl.t2 USING parquet LOCATION '$loc/t2'
         |AS SELECT id, name FROM graft_ddl.t WHERE id <= 2""".stripMargin)
    assert(spark.sql("SELECT count(*) FROM graft_ddl.t2").head().getLong(0) == 2)
    spark.sql("ALTER TABLE graft_ddl.t2 ADD COLUMNS (extra INT)")
    assert(spark.table("graft_ddl.t2").columns.contains("extra"))
    spark.sql("DROP VIEW IF EXISTS graft_ddl.v")
    spark.sql("DROP TABLE graft_ddl.t2")
    val names = spark.sql("SHOW TABLES IN graft_ddl").collect()
      .map(_.getAs[String]("tableName")).toSet
    assert(!names.contains("t2") && !names.contains("v"))
  }

  test("INTO OUTFILE sinks: parquet, CSVWithNames, JSONEachRow round-trip") {
    import graft.sources.Sinks
    val dir = java.nio.file.Files.createTempDirectory("graft_sink").toString
    val df = spark.sql("SELECT id, name FROM graft_ddl.t")
    val n = df.count()
    Sinks.intoOutfile(df, s"$dir/p")
    Sinks.intoOutfile(df, s"$dir/c", "CSVWithNames")
    Sinks.intoOutfile(df, s"$dir/j", "JSONEachRow")
    assert(spark.read.parquet(s"$dir/p").count() == n)
    assert(spark.read.option("header", "true").csv(s"$dir/c").count() == n)
    assert(spark.read.json(s"$dir/j").count() == n)
    // partitioned layout
    Sinks.intoOutfile(df.withColumn("b",
      org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.col("id"),
        org.apache.spark.sql.functions.lit(2))), s"$dir/part",
      partitionBy = Seq("b"))
    assert(new java.io.File(s"$dir/part").listFiles()
      .exists(_.getName.startsWith("b=")))
  }

  test("FORMAT family: TabSeparated[WithNames], Native alias, Pretty render") {
    import graft.sources.Sinks
    val dir = java.nio.file.Files.createTempDirectory("graft_fmt").toString
    val df = spark.sql("SELECT id, name FROM graft_ddl.t")
    val n = df.count()
    Sinks.intoOutfile(df, s"$dir/tsv", "TabSeparated")
    Sinks.intoOutfile(df, s"$dir/tsvn", "TSVWithNames")
    Sinks.intoOutfile(df, s"$dir/nat", "Native")
    assert(spark.read.option("sep", "\t").csv(s"$dir/tsv").count() == n)
    val tsvn = spark.read.options(Map("sep" -> "\t", "header" -> "true"))
      .csv(s"$dir/tsvn")
    assert(tsvn.count() == n && tsvn.columns.toSeq == Seq("id", "name"))
    assert(spark.read.parquet(s"$dir/nat").count() == n)
    // the raw file really is tab-separated text
    val tsvFile = new java.io.File(s"$dir/tsv").listFiles()
      .filter(_.getName.endsWith(".csv")).head
    val firstLine = scala.io.Source.fromFile(tsvFile).getLines().next()
    assert(firstLine.contains("\t"))
    val rendered = Sinks.pretty(df.orderBy("id"), 10)
    assert(rendered.contains("+") && rendered.contains("id") &&
      rendered.contains("name"))
  }

  test("ORDER BY (sorted write) and TTL (partition retention) mappings") {
    import graft.sources.Sinks
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_ttl").toString
    val df = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .withColumn("dt", date_format(col("o_orderdate"), "yyyy-MM"))
    Sinks.writeSorted(df, s"$dir/orders", Seq("o_custkey", "o_orderdate"),
      partitionBy = Seq("dt"))
    val before = spark.read.parquet(s"$dir/orders")
      .select("dt").distinct().count()
    val dropped = Sinks.applyTtl(spark, s"$dir/orders", "dt", "1997-01")
    assert(dropped.nonEmpty && dropped.forall(_ < "dt=1997-01"))
    val after = spark.read.parquet(s"$dir/orders")
    assert(after.select("dt").distinct().count() == before - dropped.length)
    assert(after.agg(min("dt")).head().getString(0) >= "1997-01")
  }

  test("INSERT OVERWRITE is the TRUNCATE+reload mutation path") {
    spark.sql("INSERT OVERWRITE graft_ddl.t VALUES (99, 'only')")
    val rows = spark.sql("SELECT id, name FROM graft_ddl.t").collect()
    assert(rows.length == 1 && rows(0).getLong(0) == 99L)
  }

  test("SET / SETTINGS map to spark.conf, affect the plan, and restore on exit") {
    import graft.plans.Settings
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "2")
    s.conf.set("spark.sql.adaptive.enabled", "false")
    // SET statement text round-trips through the parser + translation table
    val parsed = Settings.parseSet("SET max_threads = 8, unknown_knob = 'x'")
    assert(parsed == Map("max_threads" -> "8", "unknown_knob" -> "x"))
    val (applied, skipped) = Settings.applySet(s, parsed)
    assert(applied == Map("spark.sql.shuffle.partitions" -> "8"))
    assert(skipped == Seq("unknown_knob")) // unmappable: reported, not dropped silently
    assert(s.conf.get("spark.sql.shuffle.partitions") == "8")
    s.conf.set("spark.sql.shuffle.partitions", "2")
    // query-scoped SETTINGS: visible to the statement's plan, restored after
    import org.apache.spark.sql.functions._
    val df = s.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val parts = Settings.withSettings(s, Map("max_threads" -> "7")) {
      assert(s.conf.get("spark.sql.shuffle.partitions") == "7")
      df.groupBy("o_orderstatus").count().rdd.getNumPartitions
    }
    assert(parts == 7) // the setting reached the executed plan
    assert(s.conf.get("spark.sql.shuffle.partitions") == "2") // restored
  }

  test("SET parsing: quoted commas survive, 0/1 booleans translate, malformed errors") {
    import graft.plans.Settings
    // quote-aware comma split (a timezone value containing a comma)
    val tz = Settings.parseSet(
      "SET session_timezone = 'America/Argentina,Buenos_Aires', max_threads = 4")
    assert(tz == Map("session_timezone" -> "America/Argentina,Buenos_Aires",
      "max_threads" -> "4"))
    // malformed pair: clear error, not a MatchError
    val e = intercept[IllegalArgumentException](Settings.parseSet("SET max_threads"))
    assert(e.getMessage.contains("max_threads"))
    // CH 0/1 boolean reaches a registered Spark boolean conf without throwing
    val s = spark.newSession()
    val (applied, _) = Settings.applySet(s, Map("optimize_read_in_order" -> "1"))
    assert(applied == Map("spark.sql.sources.bucketing.enabled" -> "true"))
    val (applied0, _) = Settings.applySet(s, Map("optimize_read_in_order" -> "0"))
    assert(applied0 == Map("spark.sql.sources.bucketing.enabled" -> "false"))
    // max_block_size is a row-count knob with no byte-sized Spark twin:
    // honestly unmappable, reported as skipped
    val (_, skipped) = Settings.applySet(s, Map("max_block_size" -> "65536"))
    assert(skipped == Seq("max_block_size"))
  }

  test("generateRandom columns are decorrelated across the column index") {
    import graft.sources.TableFunctions
    val rows = TableFunctions.generateRandom(spark, 256, 2).collect()
    val r0 = rows.map(_.getDouble(1)); val r1 = rows.map(_.getDouble(2))
    // columns must not be near-identical (the old additive-constant mix
    // kept |r0-r1| ~ 5.7e-6); require genuinely divergent values
    val meanAbsDiff = r0.zip(r1).map { case (a, b) => math.abs(a - b) }.sum / 256
    assert(meanAbsDiff > 0.1, s"columns still correlated: meanAbsDiff=$meanAbsDiff")
  }

  test("EXPLAIN variants map to distinct plan layers") {
    import graft.plans.ExplainOps
    val df = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .filter(org.apache.spark.sql.functions.col("o_custkey") < 10)
      .groupBy("o_orderstatus").count()
    val byVariant = Seq("AST", "SYNTAX", "PLAN", "PIPELINE", "ESTIMATE")
      .map(v => v -> ExplainOps.explainText(df, v)).toMap
    assert(byVariant.values.forall(_.nonEmpty))
    assert(byVariant("PIPELINE").contains("Scan parquet")) // physical
    assert(byVariant("ESTIMATE").contains("sizeInBytes"))
    assert(!byVariant("AST").contains("Scan parquet")) // logical layers aren't physical
    intercept[IllegalArgumentException](ExplainOps.explainText(df, "NOPE"))
    // the two-word text forms: QUERY TREE is the analyzer-IR layer
    // (resolved attributes), TABLE OVERRIDE refuses honestly
    import graft.chsql.ChSql
    val qt = ChSql.statement(spark,
      "EXPLAIN QUERY TREE SELECT count() AS n FROM nation")(
      n => spark.read.parquet(s"/root/testdata/sf0.001/$n.parquet"))
      ._1.collect().map(_.getString(0)).mkString("\n")
    assert(qt.contains("Aggregate") && qt.contains("count"))
    val e = intercept[IllegalArgumentException](ChSql.statement(spark,
      "EXPLAIN TABLE OVERRIDE SELECT 1")(spark.table))
    assert(e.getMessage.contains("TABLE OVERRIDE"))
  }

  test("table functions: numbers/zeros/one/file/generateRandom execute as sources") {
    import graft.sources.TableFunctions
    assert(TableFunctions.numbers(spark, 5).collect().map(_.getLong(0)).toSeq ==
      Seq(0L, 1L, 2L, 3L, 4L))
    assert(TableFunctions.numbersFrom(spark, 10, 3).collect().map(_.getLong(0)).toSeq ==
      Seq(10L, 11L, 12L))
    assert(TableFunctions.zeros(spark, 3).collect().forall(_.getInt(0) == 0))
    assert(TableFunctions.one(spark).count() == 1)
    val f = TableFunctions.fileSource(spark,
      "/root/testdata/sf0.001/nation.parquet", "parquet")
    assert(f.count() == 25)
    val r = TableFunctions.generateRandom(spark, 4, 2)
    assert(r.columns.toSeq == Seq("number", "r0", "r1"))
    // deterministic: same call, same values
    assert(r.collect().map(_.toString).toSeq ==
      TableFunctions.generateRandom(spark, 4, 2).collect().map(_.toString).toSeq)
  }

  test("CHECK TABLE: valid parquet passes, corrupt file fails with a reason") {
    import graft.operators.AdminOps
    val (ok, n, err) = AdminOps.checkTable(spark, "/root/testdata/sf0.001/nation.parquet")
    assert(ok && n == 25 && err.isEmpty)
    val bad = java.nio.file.Files.createTempDirectory("graft_check").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$bad/part-0.parquet"),
      "this is not parquet".getBytes)
    val (ok2, _, err2) = AdminOps.checkTable(spark, bad)
    assert(!ok2 && err2.nonEmpty)
  }

  test("CHECK TABLE: healthy file with a map column is not a false corruption") {
    import graft.operators.AdminOps
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_check_map").toString
    spark.range(5)
      .select(col("id"), map(lit("k"), col("id")).as("m"),
        array(map(lit("n"), col("id") * 2)).as("am"))
      .write.mode("overwrite").parquet(dir)
    val (ok, n, err) = AdminOps.checkTable(spark, dir)
    assert(ok && n == 5 && err.isEmpty, s"err=$err")
  }

  test("ATTACH/DETACH: catalog-only registration, data untouched") {
    import graft.operators.AdminOps
    val dir = java.nio.file.Files.createTempDirectory("graft_attach").toString
    spark.range(7).write.mode("overwrite").parquet(dir)
    AdminOps.attachTable(spark, "graft_ddl.attached", dir)
    assert(spark.table("graft_ddl.attached").count() == 7)
    AdminOps.detachTable(spark, "graft_ddl.attached")
    assert(!spark.catalog.tableExists("graft_ddl.attached"))
    // detach kept the data: re-attach restores the table
    assert(new java.io.File(dir).listFiles().exists(_.getName.endsWith(".parquet")))
    AdminOps.attachTable(spark, "graft_ddl.attached", dir)
    assert(spark.table("graft_ddl.attached").count() == 7)
    AdminOps.detachTable(spark, "graft_ddl.attached")
  }

  test("KILL QUERY cancels a running job group; the session survives") {
    import graft.operators.AdminOps
    val err = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val t = new Thread(() => {
      try AdminOps.withQueryId(spark, "q_kill_me") {
        // a deliberately slow aggregation — enough work to still be
        // running when the kill lands
        spark.range(Long.MaxValue / 4).selectExpr("sum(id * 2 + 1)").collect()
      } catch { case e: Throwable => err.set(e) }
    })
    t.start()
    Thread.sleep(1500) // let tasks start
    AdminOps.killQuery(spark, "q_kill_me")
    t.join(30000)
    assert(!t.isAlive, "killed job did not terminate")
    assert(err.get() != null, "cancellation should surface as an exception")
    // the session is healthy afterwards
    assert(spark.range(5).count() == 5)
  }

  test("OPTIMIZE TABLE [FINAL]: small-file compaction + version collapse") {
    import graft.operators.AdminOps
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_opt").toString
    // a fragmented table: 16 small files, 2 versions per key
    val df = spark.range(100).select(
      (col("id") % 50).as("k"), expr("id div 50").as("ver"), (col("id") * 10).as("v"))
    df.repartition(16).write.parquet(s"$dir/frag")
    val (before, after) = AdminOps.optimizeTable(
      spark, s"$dir/frag", s"$dir/opt", sortCols = Seq("k"), targetFiles = 2)
    assert(before == 16 && after == 2)
    assert(spark.read.parquet(s"$dir/opt").count() == 100) // lossless
    // FINAL: one row per key, the max-version one survives
    val (_, _) = AdminOps.optimizeTable(
      spark, s"$dir/frag", s"$dir/optf", Seq("k"), 2,
      finalKeys = Some((Seq("k"), "ver")))
    val fin = spark.read.parquet(s"$dir/optf")
    assert(fin.count() == 50)
    assert(fin.agg(min("ver")).head().getLong(0) == 1L) // only ver=1 rows remain
  }

  test("SYSTEM statements map to catalog actions (or honestly refuse)") {
    import graft.operators.AdminOps
    val t = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    t.cache(); t.count()
    assert(AdminOps.system(spark, "DROP CACHE").contains("clearCache"))
    assert(AdminOps.system(spark, "RELOAD DICTIONARY",
      Some("/root/testdata/sf0.001/nation.parquet")).contains("refreshed"))
    assert(AdminOps.system(spark, "FLUSH LOGS").startsWith("no-op"))
    assert(AdminOps.system(spark, "SYNC REPLICA").startsWith("unmapped"))
    intercept[IllegalArgumentException](AdminOps.system(spark, "EXPLODE"))
  }

  test("ALTER column variants: RENAME / DROP / MODIFY type / COMMENT") {
    import graft.operators.Mutations
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    import spark.implicits._
    val t = Seq((1L, "a", "1.5"), (2L, "b", "2.5")).toDF("id", "name", "amount")
    val renamed = Mutations.renameColumn(t, "name", "label")
    assert(renamed.columns.toSeq == Seq("id", "label", "amount"))
    assert(Mutations.dropColumn(t, "amount").columns.toSeq == Seq("id", "name"))
    val typed = Mutations.modifyColumnType(t, "amount", DoubleType)
    assert(typed.schema("amount").dataType == DoubleType)
    assert(typed.agg(sum("amount")).head().getDouble(0) == 4.0)
    val commented = Mutations.commentColumn(t, "id", "primary key")
    assert(commented.schema("id").metadata.getString("comment") == "primary key")
  }

  test("CREATE DICTIONARY: registered source, broadcast dictGet, reload sees updates") {
    import graft.sources.Dictionaries
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_dict").toString
    Seq((10L, "alpha"), (20L, "beta")).toDF("k", "v")
      .write.mode("overwrite").parquet(s"$dir/d")
    Dictionaries.createFromPath("labels", s"$dir/d", "parquet",
      keyCol = "k", attrs = Map("v" -> "label"))
    assert(Dictionaries.exists("labels"))
    val facts = Seq((1L, 10L), (2L, 20L), (3L, 99L)).toDF("id", "fk")
    val out = Dictionaries.dictGet(facts, "labels", col("fk"))
      .orderBy("id").collect().map(_.getAs[String]("label"))
    assert(out.toSeq == Seq("alpha", "beta", null))
    // LIFETIME refresh: rewrite the source, reload, lookup sees new values
    Seq((10L, "ALPHA2"), (20L, "beta")).toDF("k", "v")
      .write.mode("overwrite").parquet(s"$dir/d")
    Dictionaries.reload(spark, "labels")
    val out2 = Dictionaries.dictGet(facts, "labels", col("fk"))
      .orderBy("id").collect().map(_.getAs[String]("label"))
    assert(out2.toSeq == Seq("ALPHA2", "beta", null))
    Dictionaries.drop("labels")
    assert(!Dictionaries.exists("labels"))
    intercept[IllegalArgumentException](
      Dictionaries.dictGet(facts, "labels", col("fk")))
  }

  test("RANGE_HASHED dictionary: interval lookup, min-strategy overlap, round-trip") {
    import graft.chsql.ChSql
    import graft.sources.Dictionaries
    import org.apache.spark.sql.functions._
    import spark.implicits._
    def run(stmt: String) =
      ChSql.statement(spark, stmt)(n => spark.table(n))._1.collect().toSeq
    def q(sel: String) =
      ChSql.sql(spark, sel)(spark.table).collect().toSeq.map(_.toSeq)

    val dir = java.nio.file.Files.createTempDirectory("graft_rngdict").toString
    // key 1 has two OVERLAPPING intervals — the pick must be the one with
    // the smaller lower bound (CH default range_lookup_strategy = 'min')
    Seq((1L, "2020-01-01", "2020-06-30", 1.0),
        (1L, "2020-04-01", "2020-12-31", 2.0),
        (2L, "2020-01-01", "2020-03-31", 5.0))
      .toDF("k", "lo0", "hi0", "v")
      .select(col("k"), to_date(col("lo0")).as("lo"),
        to_date(col("hi0")).as("hi"), col("v"))
      .write.mode("overwrite").parquet(s"$dir/d")
    run("DROP DICTIONARY IF EXISTS rngd")
    run(s"""CREATE DICTIONARY rngd (k Int64, lo Date, hi Date, v Float64)
           |PRIMARY KEY k
           |SOURCE(FILE(path '$dir/d' format 'parquet'))
           |LAYOUT(RANGE_HASHED())
           |RANGE(MIN lo MAX hi)""".stripMargin)
    Seq((10L, 1L, "2020-05-01"), (11L, 1L, "2020-08-01"),
        (12L, 2L, "2020-05-01"), (13L, 9L, "2020-05-01"))
      .toDF("id", "fk", "d0")
      .select(col("id"), col("fk"), to_date(col("d0")).as("d"))
      .createOrReplaceTempView("rngprobe")
    // overlap → min lo wins (1.0, not 2.0); later interval → 2.0;
    // key present but no interval → miss; unknown key → miss
    assert(q("""SELECT id, dictGetOrDefault('rngd', 'v', fk, d, -1.0) AS v,
               |  dictHas('rngd', fk, d) AS h
               |FROM rngprobe ORDER BY id""".stripMargin) ==
      Seq(Seq(10L, 1.0, true), Seq(11L, 2.0, true),
          Seq(12L, -1.0, false), Seq(13L, -1.0, false)))
    // SHOW CREATE round-trips the layout + range clause
    val sc = run("SHOW CREATE DICTIONARY rngd").head.getString(0)
    assert(sc.contains("LAYOUT(RANGE_HASHED())") &&
      sc.contains("RANGE(MIN lo MAX hi)"))
    // join tier: broadcast on key only, point resolved row-locally
    val facts = spark.table("rngprobe")
    val out = Dictionaries.dictGetRange(facts, "rngd", col("fk"), col("d"))
      .orderBy("id").collect().map(r => Option(r.getAs[Any]("v")))
    assert(out.toSeq == Seq(Some(1.0), Some(2.0), None, None))
    // point-tier call shapes are rejected on a range dictionary and
    // vice versa; clause pairing is validated
    intercept[IllegalArgumentException](
      q("SELECT dictGet('rngd', 'v', fk) AS v FROM rngprobe"))
    intercept[IllegalArgumentException](
      run(s"""CREATE DICTIONARY rngbad (k Int64, lo Date, hi Date, v Float64)
             |PRIMARY KEY k SOURCE(FILE(path '$dir/d' format 'parquet'))
             |RANGE(MIN lo MAX hi)""".stripMargin))
    run("DROP DICTIONARY rngd")
  }

  test("CH-text DDL/DML: CREATE TABLE → INSERT → ALTER mutations → round-trip") {
    import graft.chsql.ChSql
    def run(stmt: String): Seq[org.apache.spark.sql.Row] =
      ChSql.statement(spark, stmt)(n => spark.table(n))._1.collect().toSeq
    def q(sel: String): Seq[Seq[Any]] =
      ChSql.sql(spark, sel)(spark.table).collect().toSeq.map(_.toSeq)

    run("DROP TABLE IF EXISTS cht")
    run("""CREATE TABLE cht (k Int64, price Nullable(Float64), status String)
          |ENGINE = MergeTree ORDER BY k""".stripMargin)
    assert(spark.catalog.tableExists("cht"))
    run("INSERT INTO cht VALUES (1, 10.5, 'A'), (2, 20.0, 'B'), (3, 30.0, 'A')")
    run("INSERT INTO cht (k, status) VALUES (4, 'C')") // price fills NULL
    run("INSERT INTO cht SELECT k + 100, price * 2, status FROM cht")
    assert(q("SELECT count() AS n FROM cht") == Seq(Seq(8L)))
    assert(q("SELECT price FROM cht WHERE k = 101") == Seq(Seq(21.0)))
    assert(q("SELECT price FROM cht WHERE k = 4") == Seq(Seq(null)))

    run("ALTER TABLE cht DELETE WHERE status = 'C'") // kills k=4 and k=104
    assert(q("SELECT count() AS n FROM cht") == Seq(Seq(6L)))
    run("ALTER TABLE cht UPDATE price = price + 1 WHERE status = 'A'")
    assert(q("SELECT price FROM cht WHERE k = 1") == Seq(Seq(11.5)))
    assert(q("SELECT price FROM cht WHERE k = 2") == Seq(Seq(20.0)))

    run("ALTER TABLE cht ADD COLUMN note Nullable(String)")
    assert(spark.table("cht").columns.contains("note"))
    run("ALTER TABLE cht RENAME COLUMN note TO remark")
    assert(spark.table("cht").columns.contains("remark"))
    run("ALTER TABLE cht DROP COLUMN remark")
    assert(!spark.table("cht").columns.contains("remark"))
    run("ALTER TABLE cht MODIFY COLUMN k Int32")
    assert(spark.table("cht").schema("k").dataType ==
      org.apache.spark.sql.types.IntegerType)

    // engine props survive the mutation swaps: SHOW CREATE reconstructs
    val ddl = run("SHOW CREATE TABLE cht").head.getString(0)
    assert(ddl.contains("ENGINE = MergeTree") && ddl.contains("ORDER BY (k)"))

    run("RENAME TABLE cht TO cht2")
    assert(!spark.catalog.tableExists("cht") && spark.catalog.tableExists("cht2"))
    run("TRUNCATE TABLE cht2")
    assert(q("SELECT count() AS n FROM cht2") == Seq(Seq(0L)))
    run("DROP TABLE cht2")
    assert(!spark.catalog.tableExists("cht2"))
    intercept[IllegalArgumentException](run("DROP TABLE cht2"))
  }

  test("CH-text OPTIMIZE FINAL: ReplacingMergeTree collapse via engine keys") {
    import graft.chsql.ChSql
    def run(stmt: String): Unit =
      ChSql.statement(spark, stmt)(n => spark.table(n))._1.collect()
    def q(sel: String): Seq[Seq[Any]] =
      ChSql.sql(spark, sel)(spark.table).collect().toSeq.map(_.toSeq)

    run("DROP TABLE IF EXISTS chrep")
    run("""CREATE TABLE chrep (k Int64, v Int64, price Float64)
          |ENGINE = ReplacingMergeTree(v) ORDER BY k""".stripMargin)
    run("INSERT INTO chrep VALUES (1, 1, 10.0), (2, 1, 20.0), (3, 1, 30.0)")
    run("INSERT INTO chrep VALUES (1, 2, 11.0), (3, 2, 33.0)") // newer versions
    assert(q("SELECT count() AS n FROM chrep") == Seq(Seq(5L)))
    run("OPTIMIZE TABLE chrep FINAL")
    assert(q("SELECT count() AS n FROM chrep") == Seq(Seq(3L)))
    assert(q("SELECT price FROM chrep WHERE k = 1") == Seq(Seq(11.0)))
    assert(q("SELECT price FROM chrep WHERE k = 2") == Seq(Seq(20.0)))
    // DEDUPLICATE drops full-row duplicates
    run("INSERT INTO chrep SELECT k, v, price FROM chrep")
    assert(q("SELECT count() AS n FROM chrep") == Seq(Seq(6L)))
    run("OPTIMIZE TABLE chrep DEDUPLICATE")
    assert(q("SELECT count() AS n FROM chrep") == Seq(Seq(3L)))
    run("DROP TABLE chrep")
  }

  test("CH-text CTAS, DELETE FROM, INSERT FORMAT inline data") {
    import graft.chsql.ChSql
    def resolve(n: String) = spark.table(n)
    def run(s: String): Seq[org.apache.spark.sql.Row] =
      ChSql.statement(spark, s)(resolve)._1.collect().toSeq
    def q(sel: String): Seq[Seq[Any]] =
      ChSql.sql(spark, sel)(resolve).collect().toSeq.map(_.toSeq)

    run("DROP TABLE IF EXISTS ctas_src")
    run("""CREATE TABLE ctas_src (k Int64, grp String, price Float64)
          |ENGINE = MergeTree ORDER BY k""".stripMargin)
    run("""INSERT INTO ctas_src VALUES (1, 'a', 10.0), (2, 'b', 20.0),
          |  (3, 'a', 30.0), (4, 'b', 40.0)""".stripMargin)

    // CTAS: schema from the SELECT; engine clause optional
    run("DROP TABLE IF EXISTS ctas_agg")
    run("""CREATE TABLE ctas_agg ENGINE = MergeTree ORDER BY grp AS
          |SELECT grp, count() AS n, sum(price) AS total
          |FROM ctas_src GROUP BY grp""".stripMargin)
    assert(q("SELECT grp, n, total FROM ctas_agg ORDER BY grp") ==
      Seq(Seq("a", 2L, 40.0), Seq("b", 2L, 60.0)))
    val ddl = run("SHOW CREATE TABLE ctas_agg").head.getString(0)
    assert(ddl.contains("ENGINE = MergeTree") && ddl.contains("ORDER BY (grp)"))

    // lightweight DELETE statement
    run("DELETE FROM ctas_src WHERE grp = 'b'")
    assert(q("SELECT count() AS n FROM ctas_src") == Seq(Seq(2L)))

    // INSERT ... FORMAT JSONEachRow (inline, order-free keys)
    run("""INSERT INTO ctas_src FORMAT JSONEachRow
          |{"k": 10, "grp": "j", "price": 1.5}
          |{"price": 2.5, "k": 11, "grp": "j"}""".stripMargin)
    assert(q("SELECT count() AS n, sum(price) AS s FROM ctas_src WHERE grp = 'j'")
      == Seq(Seq(2L, 4.0)))
    // INSERT ... FORMAT CSV with a column subset: price is declared
    // plain Float64, so the omitted column fills CH's type default 0.0
    // (NULL is only for Nullable columns)
    run("""INSERT INTO ctas_src (k, grp) FORMAT CSV
          |20,c
          |21,c""".stripMargin)
    assert(q("SELECT count() AS n FROM ctas_src WHERE grp = 'c' AND price = 0")
      == Seq(Seq(2L)))
    run("DROP TABLE ctas_src")
    run("DROP TABLE ctas_agg")
  }

  test("CH-text dictionary DDL + scalar dictGet/dictHas (map-literal, no join)") {
    import graft.chsql.ChSql
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_dicttext").toString
    Seq((10L, "alpha", 1.5), (20L, "beta", 2.5)).toDF("k", "v", "w")
      .write.mode("overwrite").parquet(s"$dir/d.parquet")
    def resolve(n: String) = spark.table(n)
    def run(s: String) = ChSql.statement(spark, s)(resolve)._1.collect().toSeq

    run("DROP DICTIONARY IF EXISTS labels_txt")
    run(s"""CREATE DICTIONARY labels_txt (k Int64, v String, w Float64)
           |PRIMARY KEY k
           |SOURCE(FILE(path '$dir/d.parquet' format 'parquet'))
           |LAYOUT(FLAT()) LIFETIME(300)""".stripMargin)
    assert(run("SHOW DICTIONARIES").map(_.getString(0)).contains("labels_txt"))

    val facts = Seq(10L, 20L, 99L).toDF("fk")
    facts.count() // warm lazy session init so the jobs pin below is clean
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    val df = try {
      val d = ChSql.sql(spark,
        """SELECT fk, dictGet('labels_txt', 'v', fk) AS label,
          |  dictGetOrDefault('labels_txt', 'v', fk, 'none') AS label2,
          |  dictHas('labels_txt', fk) AS present
          |FROM facts ORDER BY fk""".stripMargin) {
        case "facts" => facts
        case n => spark.table(n)
      }
      Thread.sleep(200) // let any stray job-start events drain to the listener
      // lazy scalar tier: translating dictGet touches no data
      assert(jobs.get() == 0,
        s"dictGet translation launched ${jobs.get()} Spark job(s) — eager again")
      d
    } finally spark.sparkContext.removeSparkListener(listener)
    // the scalar tier is a map lookup: NO join in the plan
    assert(df.queryExecution.executedPlan.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j }.isEmpty)
    assert(df.collect().map(_.toSeq).toSeq == Seq(
      Seq(10L, "alpha", "alpha", true),
      Seq(20L, "beta", "beta", true),
      Seq(99L, null, "none", false)))

    run("DROP DICTIONARY labels_txt")
    intercept[IllegalArgumentException](run("DROP DICTIONARY labels_txt"))
  }

  test("CH-text DDL edge cases: schema+AS SELECT, bad column list, malformed inline rows") {
    import graft.chsql.ChSql
    import spark.implicits._
    def resolve(n: String) = n match {
      case "src6" => Seq((1L, "x"), (2L, "y")).toDF("k", "s")
      case other => spark.table(other)
    }
    def run(s: String) = ChSql.statement(spark, s)(resolve)._1.collect().toSeq
    def q(sel: String) = ChSql.sql(spark, sel)(resolve).collect().toSeq.map(_.toSeq)

    // CREATE TABLE with BOTH a column list AND AS SELECT loads the data
    run("DROP TABLE IF EXISTS edge_t")
    run("""CREATE TABLE edge_t (k Int64, s String) ENGINE = MergeTree
          |ORDER BY k AS SELECT k, s FROM src6""".stripMargin)
    assert(q("SELECT count() AS n FROM edge_t") == Seq(Seq(2L)))
    val ddl = run("SHOW CREATE TABLE edge_t").head.getString(0)
    assert(ddl.contains("ORDER BY (k)"), ddl) // engine clause parsed clean

    // unknown INSERT column name refuses loudly (no silent NULL row)
    val e = intercept[IllegalArgumentException](
      run("INSERT INTO edge_t (nope) VALUES (9)"))
    assert(e.getMessage.contains("no such column"))
    // duplicate INSERT column name refuses loudly — the by-name index
    // map would otherwise keep the LAST value and silently drop the rest
    // (DDL fuzz gate discovery, seed 329; CH rejects duplicates too)
    val eDup = intercept[IllegalArgumentException](
      run("INSERT INTO edge_t (k, k) VALUES (8, 9)"))
    assert(eDup.getMessage.contains("more than once"), eDup.getMessage)
    assert(q("SELECT count() AS n FROM edge_t") == Seq(Seq(2L)))
    // malformed inline JSON rejects the whole INSERT (FAILFAST)
    intercept[Exception](
      run("INSERT INTO edge_t FORMAT JSONEachRow\n{\"k\": oops}"))
    assert(q("SELECT count() AS n FROM edge_t") == Seq(Seq(2L)))
    run("DROP TABLE edge_t")

    // SYSTEM RELOAD DICTIONARY with the unquoted CH spelling
    assert(run("SYSTEM RELOAD DICTIONARY no_such_dict").head.getString(0)
      .contains("no_such_dict"))
  }

  test("CH-text admin verbs: CHECK TABLE, EXISTS, SYSTEM, KILL QUERY as statements") {
    import graft.chsql.ChSql
    def resolve(n: String) = n match {
      case "nation" => spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
      case other => spark.table(other)
    }
    def run(s: String) = ChSql.statement(spark, s)(resolve)._1.collect().toSeq

    val chk = run("CHECK TABLE nation").head
    assert(chk.getBoolean(1) && chk.getLong(2) == 25 && chk.isNullAt(3))
    assert(run("EXISTS TABLE nation").head.getInt(0) == 1)
    assert(run("EXISTS TABLE no_such_thing").head.getInt(0) == 0)
    assert(run("SYSTEM DROP CACHE").head.getString(0).contains("cleared"))
    assert(run("SYSTEM FLUSH LOGS").head.getString(0).contains("no-op"))
    assert(run("KILL QUERY WHERE query_id = 'q42'").head.getString(0)
      .contains("q42"))
    assert(run("KILL MUTATION WHERE database = 'db'").head.getString(0)
      .contains("synchronously"))
  }

  test("SHOW PROCESSLIST: live queries registered via withQueryId") {
    import graft.chsql.ChSql
    import graft.operators.AdminOps
    def resolve(n: String) = spark.table(n)
    def run(s: String) = ChSql.statement(spark, s)(resolve)._1.collect().toSeq

    // outside any registered query the list is empty
    assert(run("SHOW PROCESSLIST").isEmpty)
    // a statement running under withQueryId is visible, with its text
    AdminOps.withQueryId(spark, "q_pl_1", "SELECT sleep(1)") {
      val rows = run("SHOW PROCESSLIST")
      assert(rows.map(_.getString(0)) == Seq("q_pl_1"))
      assert(rows.head.getString(1) == "SELECT sleep(1)")
      assert(rows.head.getDouble(2) >= 0.0)
    }
    // and gone once the query finishes (finally-cleanup, even on failure)
    assert(run("SHOW PROCESSLIST").isEmpty)
    intercept[RuntimeException] {
      AdminOps.withQueryId(spark, "q_pl_2", "boom") {
        throw new RuntimeException("boom")
      }
    }
    assert(run("SHOW PROCESSLIST").isEmpty)
  }

  test("DETACH/ATTACH TABLE as text: data survives in detached/, props restored") {
    import graft.chsql.ChSql
    def resolve(n: String) = spark.table(n)
    def run(s: String) = ChSql.statement(spark, s)(resolve)._1.collect().toSeq

    run("CREATE TABLE det_t (a UInt64, b String) " +
      "ENGINE = ReplacingMergeTree(a) ORDER BY (a)")
    run("INSERT INTO det_t VALUES (1, 'x'), (2, 'y')")
    val msg = run("DETACH TABLE det_t").head.getString(0)
    assert(msg.contains("detached") && msg.contains("detached/det_t"))
    assert(!spark.catalog.tableExists("det_t"))
    // the data is still on disk, in the detached directory
    val wh = spark.conf.get("spark.sql.warehouse.dir")
      .stripPrefix("file:")
    assert(new java.io.File(s"$wh/detached/det_t").exists())
    // DETACH again: IF EXISTS tolerates, bare form errors
    assert(run("DETACH TABLE IF EXISTS det_t").head.getString(0)
      .contains("does not exist"))
    intercept[IllegalArgumentException](run("DETACH TABLE det_t"))

    run("ATTACH TABLE det_t")
    assert(spark.table("det_t").count() == 2)
    // engine properties survived the round trip
    assert(run("SHOW CREATE TABLE det_t").head.getString(0)
      .contains("ReplacingMergeTree"))
    assert(run("SHOW INDEX FROM det_t").map(_.getString(4)) == Seq("a"))
    // and the detached directory is gone
    assert(!new java.io.File(s"$wh/detached/det_t").exists())
    intercept[IllegalArgumentException](run("ATTACH TABLE det_t"))
    run("DROP TABLE det_t")

    // dictionary detach/attach rides the registry
    val dictSrc = java.nio.file.Files.createTempDirectory("graft_dict").toString
    spark.range(3).selectExpr("id AS k", "concat('v', id) AS v")
      .write.mode("overwrite").parquet(dictSrc)
    run(s"CREATE DICTIONARY det_d (k UInt64, v String) PRIMARY KEY k " +
      s"SOURCE(FILE(path '$dictSrc' format 'parquet'))")
    run("DETACH DICTIONARY det_d")
    assert(!graft.sources.Dictionaries.exists("det_d"))
    run("ATTACH DICTIONARY det_d")
    assert(graft.sources.Dictionaries.exists("det_d"))
    run("DROP DICTIONARY det_d")
  }

  test("SHOW family: columns/index/functions/settings/access/cluster/engines") {
    import graft.chsql.ChSql
    def resolve(n: String) = n match {
      case "nation" => spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
      case other => spark.table(other)
    }
    def run(s: String) = ChSql.statement(spark, s)(resolve)._1.collect().toSeq

    // a DDL-created table so COLUMNS/INDEX see the sorting key
    run("CREATE TABLE show_t (a UInt64, b String, c Nullable(Float64)) " +
      "ENGINE = MergeTree ORDER BY (a, b)")
    try {
      val cols = run("SHOW COLUMNS FROM show_t")
      assert(cols.map(r => (r.getString(0), r.getString(3))) ==
        Seq(("a", "PRI"), ("b", "PRI"), ("c", "")))
      assert(cols.find(_.getString(0) == "c").get.getString(2) == "YES")
      // LIKE tail filters on field name
      assert(run("SHOW COLUMNS FROM show_t LIKE 'a%'").map(_.getString(0))
        == Seq("a"))
      assert(run("SHOW COLUMNS FROM show_t NOT LIKE 'a%'").size == 2)
      val idx = run("SHOW INDEX FROM show_t")
      assert(idx.map(r => (r.getString(2), r.getInt(3), r.getString(4))) ==
        Seq(("PRIMARY", 1, "a"), ("PRIMARY", 2, "b")))
      // a plain parquet table: no sorting key → no index rows, all cols plain
      assert(run("SHOW INDEX FROM nation").isEmpty)
      assert(run("SHOW COLUMNS FROM nation").forall(_.getString(3) == ""))
    } finally run("DROP TABLE show_t")

    // functions: catalog-backed, LIKE-filterable, aggregate flag set
    val fns = run("SHOW FUNCTIONS")
    assert(fns.size > 250)
    val byName = fns.map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(byName("sum") && byName("windowfunnel") && !byName("toyear"))
    assert(run("SHOW FUNCTIONS LIKE 'array%'").size > 20)

    // settings: full list, single SETTING, CHANGED after a session SET
    assert(run("SHOW SETTINGS").map(_.getString(0)).contains("max_threads"))
    assert(run("SHOW SETTING session_timezone").head.getString(1) == "UTC")
    run("SET session_timezone = 'UTC'")
    assert(run("SHOW CHANGED SETTINGS").map(_.getString(0))
      .contains("session_timezone"))
    intercept[IllegalArgumentException](run("SHOW SETTING no_such_setting"))

    // access surfaces: the single-user model
    assert(run("SHOW GRANTS").head.getString(0).contains("GRANT ALL"))
    assert(run("SHOW GRANTS FOR default").nonEmpty)
    intercept[IllegalArgumentException](run("SHOW GRANTS FOR bob"))
    assert(run("SHOW USERS").map(_.getString(0)) == Seq("default"))
    assert(run("SHOW ROLES").isEmpty)
    assert(run("SHOW PROFILES").map(_.getString(0)) == Seq("default"))
    assert(run("SHOW CREATE USER default").head.getString(0)
      == "CREATE USER default")
    assert(run("SHOW CREATE SETTINGS PROFILE default").head.getString(0)
      == "CREATE SETTINGS PROFILE default")
    intercept[IllegalArgumentException](run("SHOW CREATE ROLE admin"))
    assert(run("SHOW ACCESS").size == 4)
    assert(run("SHOW PRIVILEGES").map(_.getString(0)).contains("SELECT"))
    assert(run("SHOW QUOTA").head.getString(0) == "default")
    assert(run("SHOW QUOTAS").map(_.getString(0)) == Seq("default"))

    // topology + engines + merges
    assert(run("SHOW CLUSTERS").map(_.getString(0)) == Seq("local"))
    assert(run("SHOW CLUSTER 'local'").head.getString(3) == "localhost")
    assert(run("SHOW CLUSTER 'prod'").isEmpty)
    val engines = run("SHOW ENGINES").map(_.getString(0))
    assert(engines.contains("MergeTree") && engines.contains("ReplacingMergeTree"))
    assert(run("SHOW MERGES").isEmpty)
    assert(run("SHOW FILESYSTEM CACHES").isEmpty)
    assert(run("SHOW CREATE DATABASE default").head.getString(0)
      == "CREATE DATABASE default")
    intercept[Exception](run("SHOW CREATE DATABASE nope"))
  }

  test("lightweight DELETE: mask column, implicit read filter, compaction") {
    import graft.operators.Mutations
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val t = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
    val masked = Mutations.lightweightDelete(t, col("id") === 2L)
    assert(masked.filter(!col("_row_exists")).count() == 1) // O(changed rows) mask
    assert(Mutations.readVisible(masked).collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 3L))
    // a second delete composes with the existing mask
    val masked2 = Mutations.lightweightDelete(masked, col("id") === 1L)
    assert(Mutations.compactDeletes(masked2).collect().map(_.getLong(0)).toSeq ==
      Seq(3L))
  }

  // ---- round-6 text surface: metadata-only ALTERs, partition verbs,
  // TTL, column defaults, indexes, projections ----

  private def chRun(s: String): Seq[org.apache.spark.sql.Row] = {
    def resolve(n: String) =
      if (spark.catalog.tableExists(n)) graft.chsql.ChDdl.readTable(spark, n)
      else spark.table(n)
    graft.chsql.ChSql.statement(spark, s)(resolve)._1.collect().toSeq
  }

  test("ALTER ADD/COMMENT COLUMN are metadata-only: zero Spark jobs") {
    import org.apache.spark.sql.functions._
    chRun("DROP TABLE IF EXISTS meta_t")
    chRun("CREATE TABLE meta_t (a UInt64, b String) ENGINE = MergeTree ORDER BY a")
    chRun("INSERT INTO meta_t VALUES (1, 'x'), (2, 'y')")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val msg = chRun("ALTER TABLE meta_t ADD COLUMN extra Nullable(Float64)")
        .head.getString(0)
      assert(msg.contains("metadata only"))
      chRun("ALTER TABLE meta_t COMMENT COLUMN extra 'the new column'")
      org.apache.spark.sql.graftbridge.TestBridge.waitListenerBus(spark)
      assert(jobs.get() == 0,
        s"metadata-only ALTERs launched ${jobs.get()} Spark job(s)")
    } finally spark.sparkContext.removeSparkListener(listener)
    // old parquet files read the new column as NULL; new inserts carry it
    assert(spark.table("meta_t").filter(col("extra").isNull).count() == 2)
    chRun("INSERT INTO meta_t VALUES (3, 'z', 1.5)")
    assert(spark.table("meta_t").filter(col("extra") === 1.5).count() == 1)
    chRun("DROP TABLE meta_t")
  }

  test("ADD COLUMN AFTER/FIRST places the column in declared order") {
    chRun("DROP TABLE IF EXISTS pos_t")
    chRun("CREATE TABLE pos_t (a Int64, b String) ENGINE = MergeTree ORDER BY a")
    chRun("ALTER TABLE pos_t ADD COLUMN c Int64 AFTER a")
    chRun("ALTER TABLE pos_t ADD COLUMN z Int64 FIRST")
    val ddl = chRun("SHOW CREATE TABLE pos_t").head.getString(0)
    val order = Seq("z", "a", "c", "b").map(c => ddl.indexOf(s"  $c "))
    assert(order == order.sorted && order.forall(_ >= 0), ddl)
    // positional INSERT follows the declared order (z, a, c, b)
    chRun("INSERT INTO pos_t VALUES (0, 1, 2, 'x')")
    val r = chRun("SELECT z, a, c, b FROM pos_t").head
    assert(r.getLong(0) == 0 && r.getLong(1) == 1 && r.getLong(2) == 2
      && r.getString(3) == "x")
    intercept[Exception](chRun("ALTER TABLE pos_t ADD COLUMN w Int64 AFTER nope"))
    chRun("DROP TABLE pos_t")
  }

  test("column DEFAULT/MATERIALIZED/ALIAS: INSERT fills, ALIAS projects, " +
      "adversarial literals cannot misparse the schema") {
    chRun("DROP TABLE IF EXISTS def_t")
    chRun("""CREATE TABLE def_t (id Int64, name String,
      |  up String MATERIALIZED upper(name),
      |  score Float64 DEFAULT 2.5,
      |  note String DEFAULT ') ENGINE = bogus (',
      |  lbl String ALIAS concat('L:', name))
      |ENGINE = MergeTree ORDER BY id""".stripMargin)
    // the DEFAULT literal containing `) ENGINE =` parsed as the string it
    // is (token-level split); ALIAS column is not stored
    assert(spark.table("def_t").columns.toSeq ==
      Seq("id", "name", "up", "score", "note"))
    chRun("INSERT INTO def_t (id, name) VALUES (1, 'ann')")
    chRun("INSERT INTO def_t (id, name, score) VALUES (2, 'bob', 9.0)")
    val rows = chRun("SELECT id, name, up, score, note, lbl FROM def_t ORDER BY id")
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getDouble(3),
        r.getString(4), r.getString(5)))
    assert(rows == Seq(
      (1L, "ann", "ANN", 2.5, ") ENGINE = bogus (", "L:ann"),
      (2L, "bob", "BOB", 9.0, ") ENGINE = bogus (", "L:bob")))
    // MATERIALIZED columns cannot be inserted explicitly (CH contract)
    intercept[IllegalArgumentException](
      chRun("INSERT INTO def_t (id, name, up) VALUES (3, 'x', 'X')"))
    // positional arity counts only insertable columns (id, name, score, note)
    chRun("INSERT INTO def_t VALUES (4, 'dee', 1.0, 'n')")
    assert(chRun("SELECT up FROM def_t WHERE id = 4").head.getString(0) == "DEE")
    chRun("DROP TABLE def_t")
  }

  test("INSERT VALUES with 1000 tuples plans flat (no O(n)-deep union)") {
    chRun("DROP TABLE IF EXISTS big_vals")
    chRun("CREATE TABLE big_vals (a Int64, b String) ENGINE = MergeTree ORDER BY a")
    val values = (1 to 1000).map(i => s"($i, 'v$i')").mkString(", ")
    chRun(s"INSERT INTO big_vals VALUES $values")
    val r = chRun("SELECT count() AS c, sum(a) AS s FROM big_vals").head
    assert((r.getLong(0), r.getLong(1)) == (1000L, 500500L))
    chRun("DROP TABLE big_vals")
  }

  test("partition ALTER verbs: DROP/DETACH/ATTACH/MOVE/REPLACE/FREEZE") {
    chRun("DROP TABLE IF EXISTS pt_a")
    chRun("DROP TABLE IF EXISTS pt_b")
    chRun("CREATE TABLE pt_a (k Int64, p String) " +
      "ENGINE = MergeTree ORDER BY k PARTITION BY p")
    chRun("INSERT INTO pt_a VALUES (1, 'x'), (2, 'x'), (3, 'y')")
    // DETACH: rows gone from the table, directory kept under detached/
    assert(chRun("ALTER TABLE pt_a DETACH PARTITION 'x'")
      .head.getString(0).contains("detached"))
    assert(chRun("SELECT count() AS c FROM pt_a").head.getLong(0) == 1)
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    assert(new java.io.File(s"$wh/detached/pt_a/p=x").exists())
    chRun("ALTER TABLE pt_a ATTACH PARTITION 'x'")
    assert(chRun("SELECT count() AS c FROM pt_a").head.getLong(0) == 3)
    assert(!new java.io.File(s"$wh/detached/pt_a/p=x").exists())
    // MOVE drains the partition into a schema-twin table
    chRun("CREATE TABLE pt_b (k Int64, p String) " +
      "ENGINE = MergeTree ORDER BY k PARTITION BY p")
    chRun("ALTER TABLE pt_a MOVE PARTITION 'y' TO TABLE pt_b")
    assert(chRun("SELECT count() AS c FROM pt_a").head.getLong(0) == 2)
    assert(chRun("SELECT k FROM pt_b").map(_.getLong(0)) == Seq(3L))
    // REPLACE copies back without draining the source
    chRun("ALTER TABLE pt_a REPLACE PARTITION 'y' FROM pt_b")
    assert(chRun("SELECT count() AS c FROM pt_a").head.getLong(0) == 3)
    assert(chRun("SELECT count() AS c FROM pt_b").head.getLong(0) == 1)
    // FREEZE hard-copies into the shadow backup layout (numbered
    // increments — the warehouse persists across runs, so any increment)
    assert(chRun("ALTER TABLE pt_a FREEZE PARTITION 'x'")
      .head.getString(0).contains("increment"))
    val shadow = new java.io.File(s"$wh/shadow")
    assert(shadow.isDirectory && shadow.listFiles.exists(inc =>
      new java.io.File(inc, "pt_a/p=x").exists()))
    // DROP PARTITION is a metadata directory delete
    chRun("ALTER TABLE pt_a DROP PARTITION 'x'")
    assert(chRun("SELECT count() AS c FROM pt_a").head.getLong(0) == 1)
    chRun("DROP TABLE pt_a")
    chRun("DROP TABLE pt_b")
  }

  test("partition verbs invalidate materialized projections — covered " +
      "SELECTs never serve dropped/attached rows stale") {
    def resolve(n: String) =
      if (spark.catalog.tableExists(n)) graft.chsql.ChDdl.readTable(spark, n)
      else spark.table(n)
    def agg(): Seq[(Int, Long, Long)] =
      graft.chsql.ChSql.statement(spark,
        "SELECT p, count() AS c, sum(v) AS sv FROM pv_t GROUP BY p ORDER BY p")(
        resolve)._1.collect().toSeq.map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    chRun("DROP TABLE IF EXISTS pv_t")
    chRun("CREATE TABLE pv_t (k Int64, p Int32, v Int64) " +
      "ENGINE = MergeTree ORDER BY k PARTITION BY p")
    chRun("INSERT INTO pv_t VALUES (1, 0, 10), (2, 0, 20), (3, 1, 30), (4, 2, 40)")
    chRun("ALTER TABLE pv_t ADD PROJECTION pr (SELECT p, count() AS c, " +
      "sum(v) AS sv GROUP BY p)")
    chRun("ALTER TABLE pv_t MATERIALIZE PROJECTION pr")
    assert(agg() == Seq((0, 2L, 30L), (1, 1L, 30L), (2, 1L, 40L)))
    // DROP PARTITION while the projection is live: the materialized copy
    // still contains p=1 — serving it would be a stale answer
    chRun("ALTER TABLE pv_t DROP PARTITION 1")
    assert(agg() == Seq((0, 2L, 30L), (2, 1L, 40L)),
      "DROP PARTITION must invalidate the materialized projection")
    // DETACH / ATTACH round-trip with a re-MATERIALIZE in the middle:
    // the rebuilt copy excludes p=0; ATTACH must invalidate it again
    chRun("ALTER TABLE pv_t DETACH PARTITION 0")
    assert(agg() == Seq((2, 1L, 40L)))
    chRun("ALTER TABLE pv_t MATERIALIZE PROJECTION pr")
    chRun("ALTER TABLE pv_t ATTACH PARTITION 0")
    assert(agg() == Seq((0, 2L, 30L), (2, 1L, 40L)),
      "ATTACH PARTITION must invalidate the materialized projection")
    chRun("DROP TABLE pv_t")
  }

  test("RENAME TABLE carries projections with it — the old name serves " +
      "nothing stale, the new name keeps substituting") {
    def resolve(n: String) =
      if (spark.catalog.tableExists(n)) graft.chsql.ChDdl.readTable(spark, n)
      else spark.table(n)
    def agg(t: String) = graft.chsql.ChSql.statement(spark,
      s"SELECT g, count() AS c FROM $t GROUP BY g ORDER BY g")(resolve)._1
    chRun("DROP TABLE IF EXISTS rnp_a")
    chRun("DROP TABLE IF EXISTS rnp_b")
    chRun("CREATE TABLE rnp_a (k Int64, g String) ENGINE = MergeTree ORDER BY k")
    chRun("INSERT INTO rnp_a VALUES (1, 'x'), (2, 'x'), (3, 'y')")
    chRun("ALTER TABLE rnp_a ADD PROJECTION pg (SELECT g, count() AS c GROUP BY g)")
    chRun("ALTER TABLE rnp_a MATERIALIZE PROJECTION pg")
    chRun("RENAME TABLE rnp_a TO rnp_b")
    // the new name still answers from the (renamed) materialized copy
    val dfB = agg("rnp_b")
    assert(dfB.inputFiles.nonEmpty &&
      dfB.inputFiles.forall(_.contains("rnp_b__proj_pg")),
      s"projection should follow the rename: ${dfB.inputFiles.toSeq}")
    assert(dfB.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("x", 2L), ("y", 1L)))
    // a NEW table under the old name must not inherit the registration
    chRun("CREATE TABLE rnp_a (k Int64, g String) ENGINE = MergeTree ORDER BY k")
    chRun("INSERT INTO rnp_a VALUES (9, 'z')")
    val dfA = agg("rnp_a")
    assert(dfA.inputFiles.forall(!_.contains("__proj_")),
      s"old name served a stale projection: ${dfA.inputFiles.toSeq}")
    assert(dfA.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("z", 1L)))
    chRun("DROP TABLE rnp_a")
    chRun("DROP TABLE rnp_b")
  }

  test("MOVE PARTITION after REPLACE PARTITION of the same value: copied " +
      "part filenames collide in the destination and must be disambiguated") {
    chRun("DROP TABLE IF EXISTS mvc_a")
    chRun("DROP TABLE IF EXISTS mvc_b")
    chRun("CREATE TABLE mvc_a (k Int64, p Int32, v Int64) " +
      "ENGINE = MergeTree ORDER BY k PARTITION BY p")
    chRun("CREATE TABLE mvc_b (k Int64, p Int32, v Int64) " +
      "ENGINE = MergeTree ORDER BY k PARTITION BY p")
    chRun("INSERT INTO mvc_b VALUES (1, 7, 100), (2, 7, 200)")
    // REPLACE copies b's p=7 parts into a KEEPING their filenames
    chRun("ALTER TABLE mvc_a REPLACE PARTITION 7 FROM mvc_b")
    // MOVE a's p=7 back into b: b already holds files with those exact
    // names — the attach-into-existing merge must rename, not fail
    chRun("ALTER TABLE mvc_a MOVE PARTITION 7 TO TABLE mvc_b")
    assert(chRun("SELECT count() AS c FROM mvc_a").head.getLong(0) == 0L)
    assert(chRun("SELECT count() AS c, sum(v) AS sv FROM mvc_b")
      .map(r => (r.getLong(0), r.getLong(1))) == Seq((4L, 600L)))
    chRun("DROP TABLE mvc_a")
    chRun("DROP TABLE mvc_b")
  }

  test("TTL as text: expired partitions drop on OPTIMIZE, survivors intact") {
    chRun("DROP TABLE IF EXISTS ttl_t")
    chRun("CREATE TABLE ttl_t (d Date, v Int64) ENGINE = MergeTree " +
      "ORDER BY v PARTITION BY d TTL d + INTERVAL 30 DAY")
    chRun("INSERT INTO ttl_t VALUES (toDate('2000-01-01'), 1), " +
      "(toDate('2000-01-02'), 2), (toDate('2999-01-01'), 3)")
    val msg = chRun("OPTIMIZE TABLE ttl_t").head.getString(0)
    assert(msg.contains("ttl dropped 2 expired partition(s)"), msg)
    assert(chRun("SELECT v FROM ttl_t").map(_.getLong(0)) == Seq(3L))
    // REMOVE TTL: the next OPTIMIZE leaves everything in place
    chRun("ALTER TABLE ttl_t REMOVE TTL")
    chRun("INSERT INTO ttl_t VALUES (toDate('2000-02-01'), 4)")
    assert(chRun("SELECT count() AS c FROM ttl_t").head.getLong(0) == 2,
      "insert after rewriteSwap did not land")
    assert(!chRun("OPTIMIZE TABLE ttl_t").head.getString(0).contains("ttl dropped"))
    assert(chRun("SELECT count() AS c FROM ttl_t").head.getLong(0) == 2)
    // MODIFY TTL re-arms retention
    chRun("ALTER TABLE ttl_t MODIFY TTL d + INTERVAL 30 DAY")
    assert(chRun("OPTIMIZE TABLE ttl_t").head.getString(0)
      .contains("ttl dropped 1 expired partition(s)"))
    assert(chRun("SELECT v FROM ttl_t").map(_.getLong(0)) == Seq(3L))
    chRun("DROP TABLE ttl_t")
  }

  test("skipping index: ADD registers, MATERIALIZE clusters files so " +
      "row-group/file stats become disjoint; unsupported types refuse") {
    chRun("DROP TABLE IF EXISTS idx_t")
    chRun("CREATE TABLE idx_t (k Int64, v Float64) ENGINE = MergeTree ORDER BY k")
    chRun("INSERT INTO idx_t SELECT number, number * 1.5 FROM numbers(4000)")
    // all three CH bloom index types gained real twins in r12 (see the
    // bloom tests below); the experimental 'hypothesis' type refuses
    assert(chRun("ALTER TABLE idx_t ADD INDEX hy v TYPE hypothesis")
      .head.getString(0).contains("no Spark twin"))
    chRun("ALTER TABLE idx_t ADD INDEX iv v TYPE minmax")
    chRun("ALTER TABLE idx_t MATERIALIZE INDEX iv")
    // per-file [min,max] of the indexed column must now be disjoint — the
    // parquet-footer shape that lets a range predicate skip whole parts
    val files = spark.table("idx_t").inputFiles.toSeq
    assert(files.size >= 2, s"expected multiple files, got ${files.size}")
    import org.apache.spark.sql.functions._
    val ranges = files.map { f =>
      val r = spark.read.parquet(f).agg(min("v"), max("v")).head
      (r.getDouble(0), r.getDouble(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo, _)) => assert(hi < lo,
        s"file ranges overlap after MATERIALIZE INDEX: $ranges")
      case _ =>
    }
    chRun("ALTER TABLE idx_t DROP INDEX iv")
    intercept[IllegalArgumentException](
      chRun("ALTER TABLE idx_t MATERIALIZE INDEX iv"))
    chRun("DROP TABLE idx_t")
  }

  test("tokenbf_v1 index: ADD registers (params ignored), MATERIALIZE " +
      "builds the token sidecar, hasToken reads stay correct, DROP cleans") {
    chRun("DROP TABLE IF EXISTS tbf_t")
    chRun("CREATE TABLE tbf_t (id Int64, txt String) " +
      "ENGINE = MergeTree ORDER BY id")
    chRun("INSERT INTO tbf_t VALUES (1, 'alpha beta gamma'), " +
      "(2, 'beta delta'), (3, 'gamma epsilon zeta')")
    val st = chRun(
      "ALTER TABLE tbf_t ADD INDEX tok txt TYPE tokenbf_v1(4096, 3, 0)")
      .head.getString(0)
    assert(st.contains("token bloom index tok"), st)
    chRun("ALTER TABLE tbf_t MATERIALIZE INDEX tok")
    val side = graft.plans.BloomSkipIndex.tokenSidecarName("tbf_t", "txt")
    assert(spark.catalog.tableExists(side), "token sidecar must exist")
    val hit = chRun(
      "SELECT id FROM tbf_t WHERE hasToken(txt, 'beta') ORDER BY id")
    assert(hit.map(_.getLong(0)) == Seq(1L, 2L))
    // substring-of-a-token must NOT match (hasToken is exact-token)
    assert(chRun("SELECT id FROM tbf_t WHERE hasToken(txt, 'bet')").isEmpty)
    chRun("ALTER TABLE tbf_t DROP INDEX tok")
    assert(!spark.catalog.tableExists(side))
    chRun("DROP TABLE tbf_t")
  }

  test("ngrambf_v1 index: ADD registers, MATERIALIZE builds the gram " +
      "sidecar, LIKE reads stay correct, DROP cleans") {
    chRun("DROP TABLE IF EXISTS ngf_t")
    chRun("CREATE TABLE ngf_t (id Int64, txt String) " +
      "ENGINE = MergeTree ORDER BY id")
    chRun("INSERT INTO ngf_t VALUES (1, 'alpha beta gamma'), " +
      "(2, 'beta delta'), (3, 'gamma epsilon zeta')")
    val st = chRun(
      "ALTER TABLE ngf_t ADD INDEX ng txt TYPE ngrambf_v1(4, 1024, 3, 0)")
      .head.getString(0)
    assert(st.contains("ngram bloom index ng"), st)
    chRun("ALTER TABLE ngf_t MATERIALIZE INDEX ng")
    val side = graft.plans.BloomSkipIndex.ngramSidecarName("ngf_t", "txt")
    assert(spark.catalog.tableExists(side), "ngram sidecar must exist")
    // substring ACROSS a token boundary — the ngram index's home turf
    val hit = chRun(
      "SELECT id FROM ngf_t WHERE txt LIKE '%ta gam%' ORDER BY id")
    assert(hit.map(_.getLong(0)) == Seq(1L))
    assert(chRun("SELECT id FROM ngf_t WHERE txt LIKE '%nothere%'").isEmpty)
    chRun("ALTER TABLE ngf_t DROP INDEX ng")
    assert(!spark.catalog.tableExists(side))
    chRun("DROP TABLE ngf_t")
  }

  test("bloom_filter index: ADD registers + SHOW lists it, MATERIALIZE " +
      "builds the sidecar, reads stay correct, DROP removes the sidecar") {
    chRun("DROP TABLE IF EXISTS bfx_t")
    chRun("CREATE TABLE bfx_t (k Int64, u Int64) ENGINE = MergeTree ORDER BY k")
    // u is deliberately UNSORTED relative to k — the case minmax can't prune
    chRun("INSERT INTO bfx_t SELECT number, (number * 7919) % 100000 " +
      "FROM numbers(5000)")
    assert(chRun("ALTER TABLE bfx_t ADD INDEX bf_u u TYPE bloom_filter")
      .head.getString(0).contains("bloom index bf_u"))
    assert(chRun("SHOW INDEX FROM bfx_t")
      .exists(r => r.getString(2) == "bf_u" && r.getString(4) == "u"))
    chRun("ALTER TABLE bfx_t MATERIALIZE INDEX bf_u")
    val side = graft.plans.BloomSkipIndex.sidecarName("bfx_t", "u")
    assert(spark.catalog.tableExists(side), "sidecar must exist")
    // equality through the CH-SQL text path returns the right row(s)
    // with the prune rule installed (7919*3 % 100000 = 23757)
    val hit = chRun("SELECT k, u FROM bfx_t WHERE u = 23757 ORDER BY k")
    assert(hit.map(r => (r.getLong(0), r.getLong(1))) == Seq((3L, 23757L)))
    // a value absent from the table: zero rows (all files pruned is fine)
    assert(chRun("SELECT k FROM bfx_t WHERE u = 99999999").isEmpty)
    // a mutation rewrites every data file; the sidecar goes stale but
    // pruning must stay SOUND — unknown (rewritten) files are kept, so
    // reads remain correct until the next MATERIALIZE
    chRun("ALTER TABLE bfx_t DELETE WHERE k = 3")
    assert(chRun("SELECT k FROM bfx_t WHERE u = 23757").isEmpty,
      "the deleted row must not reappear through a stale bloom")
    val hit2 = chRun("SELECT k, u FROM bfx_t WHERE u = 39595 ORDER BY k")
    assert(hit2.map(r => (r.getLong(0), r.getLong(1))) == Seq((5L, 39595L)),
      s"stale sidecar must never drop surviving rows, got $hit2")
    // system.data_skipping_indices lists the registered index
    val sk = chRun("SELECT name, type, expr FROM " +
      "system.data_skipping_indices WHERE table = 'bfx_t'")
    assert(sk.map(r => (r.getString(0), r.getString(1), r.getString(2))) ==
      Seq(("bf_u", "bloom_filter", "u")), sk.toString)
    // OPTIMIZE compacts files AND re-materializes registered bloom
    // indexes (CH merges do the same) — the status says so and the
    // rebuilt sidecar covers the merged files
    val opt = chRun("OPTIMIZE TABLE bfx_t").head.getString(0)
    assert(opt.contains("1 bloom index(es) rebuilt"), opt)
    assert(chRun("SELECT k FROM bfx_t WHERE u = 23757").isEmpty)
    assert(chRun("SELECT k FROM bfx_t WHERE u = 39595")
      .map(_.getLong(0)) == Seq(5L))
    chRun("ALTER TABLE bfx_t DROP INDEX bf_u")
    assert(!spark.catalog.tableExists(side), "DROP INDEX must drop the sidecar")
    assert(chRun("SHOW INDEX FROM bfx_t").forall(_.getString(2) != "bf_u"))
    chRun("DROP TABLE bfx_t")
  }

  test("SHOW CREATE TABLE round-trips: the emitted DDL re-runs to the same table") {
    chRun("DROP TABLE IF EXISTS rt_t")
    chRun("""CREATE TABLE rt_t (d Date, k Int64, name String,
      |  score Float64 DEFAULT 1.5,
      |  up String MATERIALIZED upper(name),
      |  lbl String ALIAS concat('L:', name))
      |ENGINE = ReplacingMergeTree(k) ORDER BY k PARTITION BY d
      |TTL d + INTERVAL 90 DAY""".stripMargin)
    val ddl = chRun("SHOW CREATE TABLE rt_t").head.getString(0)
    assert(ddl.contains("DEFAULT 1.5") && ddl.contains("MATERIALIZED upper(name)")
      && ddl.contains("ALIAS concat('L:', name)") && ddl.contains("PARTITION BY (d)")
      && ddl.contains("TTL d + INTERVAL 90 DAY")
      && ddl.contains("ENGINE = ReplacingMergeTree(k)"), ddl)
    // declared order survives (d first, not partition-cols-last)
    assert(ddl.indexOf(" d ") < ddl.indexOf(" k "), ddl)
    val schema1 = spark.table("rt_t").schema
    chRun("DROP TABLE rt_t")
    // the emitted DDL is a RE-RUNNABLE statement producing the same table
    chRun(ddl)
    assert(spark.table("rt_t").schema == schema1)
    assert(chRun("SHOW CREATE TABLE rt_t").head.getString(0) == ddl)
    // the re-created table keeps live semantics: defaults fill, TTL armed
    chRun("INSERT INTO rt_t (d, k, name) VALUES (toDate('2000-01-01'), 1, 'x')")
    assert(chRun("OPTIMIZE TABLE rt_t").head.getString(0).contains("ttl dropped 1"))
    chRun("DROP TABLE rt_t")
  }

  test("MODIFY ORDER BY / MODIFY COMMENT are metadata verbs") {
    chRun("DROP TABLE IF EXISTS mo_t")
    chRun("CREATE TABLE mo_t (a Int64, b Int64) ENGINE = MergeTree ORDER BY a")
    chRun("ALTER TABLE mo_t MODIFY ORDER BY (a, b)")
    assert(chRun("SHOW CREATE TABLE mo_t").head.getString(0)
      .contains("ORDER BY (a, b)"))
    // SHOW INDEX reflects the new composite sorting key
    assert(chRun("SHOW INDEX FROM mo_t").map(_.getString(4)) == Seq("a", "b"))
    chRun("ALTER TABLE mo_t MODIFY COMMENT 'metadata table'")
    chRun("DROP TABLE mo_t")
  }

  test("standalone UPDATE / DELETE FROM with IN PARTITION prune to one partition") {
    chRun("DROP TABLE IF EXISTS up_t")
    chRun("""CREATE TABLE up_t (k Int64, v Float64, part String)
      |ENGINE = MergeTree ORDER BY k PARTITION BY part""".stripMargin)
    chRun("""INSERT INTO up_t VALUES (1, 10.0, 'a'), (2, 20.0, 'a'),
      |  (3, 30.0, 'b'), (4, 40.0, 'b'), (5, 50.0, 'c')""".stripMargin)
    // updateStmt (ClickHouseParser.py:8187): assignments + WHERE
    val st1 = chRun("UPDATE up_t SET v = v + 1 WHERE k = 3").head.getString(0)
    assert(st1.contains("rewrote 1 affected partition"), st1)
    // IN PARTITION scopes the mutation even when WHERE alone would match
    // rows elsewhere — the find phase prunes to that one directory
    val st2 = chRun("UPDATE up_t SET v = 0 IN PARTITION 'a' WHERE k <= 4")
      .head.getString(0)
    assert(st2.contains("rewrote 1 affected partition"), st2)
    assert(chRun("SELECT CAST(sum(v) AS Int64) AS s FROM up_t").head.getLong(0)
      == (0 + 0 + 31 + 40 + 50))
    val st3 = chRun("DELETE FROM up_t IN PARTITION 'b' WHERE v > 35")
      .head.getString(0)
    assert(st3.contains("rewrote 1 affected partition"), st3)
    assert(chRun("SELECT count() AS n FROM up_t").head.getLong(0) == 4)
    chRun("DROP TABLE up_t")
  }

  test("row-preserving mutations keep every partition; a DELETE that " +
      "empties one drops it") {
    // pins the r15 rowsPreserved fast path in mutateWhere: UPDATE and
    // CLEAR COLUMN skip the emptied-partition sweep (they cannot empty a
    // partition), while DELETE keeps it — an emptied directory must
    // disappear from both results and the partition listing
    chRun("DROP TABLE IF EXISTS rp_t")
    chRun("""CREATE TABLE rp_t (k Int64, v Int64, part String)
      |ENGINE = MergeTree ORDER BY k PARTITION BY part""".stripMargin)
    chRun("""INSERT INTO rp_t VALUES (1, 10, 'a'), (2, 20, 'a'),
      |  (3, 30, 'b'), (4, 40, 'c')""".stripMargin)
    def parts(): Set[String] =
      chRun("SELECT part FROM rp_t GROUP BY part ORDER BY part")
        .map(_.getString(0)).toSet
    // UPDATE matching EVERY row of partition 'a' — rows survive, values change
    chRun("UPDATE rp_t SET v = v + 1 WHERE part = 'a'")
    assert(parts() == Set("a", "b", "c"))
    assert(chRun("SELECT CAST(sum(v) AS Int64) AS s FROM rp_t")
      .head.getLong(0) == (11 + 21 + 30 + 40))
    // CLEAR COLUMN resets values in place — partition stays
    chRun("ALTER TABLE rp_t CLEAR COLUMN v IN PARTITION 'b'")
    assert(parts() == Set("a", "b", "c"))
    assert(chRun("SELECT CAST(sum(v) AS Int64) AS s FROM rp_t")
      .head.getLong(0) == (11 + 21 + 0 + 40))
    // DELETE that empties partition 'c' — the sweep must drop it
    chRun("ALTER TABLE rp_t DELETE WHERE part = 'c'")
    assert(parts() == Set("a", "b"))
    assert(spark.sql("SHOW PARTITIONS rp_t").collect()
      .map(_.getString(0)).forall(!_.contains("part=c")))
    chRun("DROP TABLE rp_t")
  }

  test("Memory engine and CREATE TEMPORARY TABLE: RAM-resident DML round-trip") {
    chRun("DROP TABLE IF EXISTS mem_t")
    chRun("CREATE TABLE mem_t (k Int64, name String) ENGINE = Memory")
    assert(chRun("SHOW CREATE TABLE mem_t").head.getString(0)
      .contains("ENGINE = Memory"))
    chRun("INSERT INTO mem_t VALUES (1, 'a'), (2, 'b')")
    chRun("INSERT INTO mem_t (k) VALUES (3)")
    assert(chRun("SELECT count() AS n FROM mem_t").head.getLong(0) == 3)
    // name is declared plain String: the omitted column fills CH's type
    // default '' (NULL only for Nullable columns)
    assert(chRun("SELECT name FROM mem_t WHERE k = 3").head.getString(0) == "")
    // memory tables join against anything through the view surface
    assert(chRun("SELECT count() AS n FROM mem_t AS m INNER JOIN numbers(10) " +
      "AS r ON m.k = r.number").head.getLong(0) == 3)
    chRun("TRUNCATE TABLE mem_t")
    assert(chRun("SELECT count() AS n FROM mem_t").head.getLong(0) == 0)
    chRun("DROP TABLE mem_t")
    // TEMPORARY defaults to Memory; CTAS form holds the result in RAM
    chRun("CREATE TEMPORARY TABLE tmp_t (k Int64) ")
    chRun("INSERT INTO tmp_t SELECT number FROM numbers(5)")
    assert(chRun("SELECT CAST(sum(k) AS Int64) AS s FROM tmp_t")
      .head.getLong(0) == 10)
    assert(chRun("SHOW CREATE TABLE tmp_t").head.getString(0)
      .contains("TEMPORARY"))
    chRun("DROP TABLE tmp_t")
    chRun("CREATE TEMPORARY TABLE tmp_c AS SELECT number AS n FROM numbers(4)")
    assert(chRun("SELECT count() AS c FROM tmp_c").head.getLong(0) == 4)
    chRun("DROP TABLE tmp_c")
    assert(!spark.catalog.tableExists("tmp_c"))
  }

  test("OPTIMIZE TABLE ... PARTITION merges only that partition") {
    chRun("DROP TABLE IF EXISTS op_t")
    chRun("""CREATE TABLE op_t (k Int64, v Int64, part String)
      |ENGINE = ReplacingMergeTree(v) ORDER BY k PARTITION BY part""".stripMargin)
    chRun("INSERT INTO op_t VALUES (1, 1, 'a'), (1, 2, 'a'), (2, 1, 'b'), (2, 2, 'b')")
    val st = chRun("OPTIMIZE TABLE op_t PARTITION 'a' FINAL").head.getString(0)
    assert(st.contains("rewrote 1 affected partition"), st)
    // partition a collapsed to its max-version row; b untouched
    assert(chRun("SELECT count() AS n FROM op_t WHERE part = 'a'")
      .head.getLong(0) == 1)
    assert(chRun("SELECT count() AS n FROM op_t WHERE part = 'b'")
      .head.getLong(0) == 2)
    chRun("DROP TABLE op_t")
  }

  test("CH default-fill contract: omitted INSERT columns, CLEAR COLUMN, " +
      "ADD COLUMN read-fill, MODIFY COLUMN DEFAULT") {
    chRun("DROP TABLE IF EXISTS fill_t")
    chRun("""CREATE TABLE fill_t (k Int64, v Int64, s String,
      |  n Nullable(Int64)) ENGINE = MergeTree ORDER BY k""".stripMargin)
    // omitted columns fill the TYPE default (0, ''), NULL only for Nullable
    chRun("INSERT INTO fill_t (k) VALUES (1)")
    val r1 = chRun("SELECT v, s, n FROM fill_t WHERE k = 1").head
    assert(r1.getLong(0) == 0L && r1.getString(1) == "" && r1.isNullAt(2))
    // a rewrite mutation relaxes PHYSICAL nullability — the DECLARED rule
    // must not drift with it (graft.nullcols, not the schema flag)
    chRun("ALTER TABLE fill_t UPDATE v = v + 1 WHERE k = 1")
    chRun("INSERT INTO fill_t (k) VALUES (2)")
    assert(chRun("SELECT v FROM fill_t WHERE k = 2").head.getLong(0) == 0L)
    val sc = chRun("SHOW CREATE TABLE fill_t").head.getString(0)
    assert(sc.contains("  v Int64") && !sc.contains("v Nullable"), sc)
    assert(sc.contains("  n Nullable(Int64)"), sc)
    // ADD COLUMN stays metadata-only, but pre-existing rows READ the
    // DEFAULT (or the type default) — CH computes it for old parts
    chRun("ALTER TABLE fill_t ADD COLUMN w Int64 DEFAULT k * 10")
    assert(chRun("SELECT w FROM fill_t WHERE k = 2").head.getLong(0) == 20L)
    chRun("ALTER TABLE fill_t ADD COLUMN z Int64")
    assert(chRun("SELECT z FROM fill_t WHERE k = 1").head.getLong(0) == 0L)
    // a short INSERT after the ADD fills the same way
    chRun("INSERT INTO fill_t (k) VALUES (3)")
    val r3 = chRun("SELECT w, z FROM fill_t WHERE k = 3").head
    assert(r3.getLong(0) == 30L && r3.getLong(1) == 0L)
    // the first full rewrite materializes the fills (CH's merge); reads
    // are unchanged after it
    chRun("OPTIMIZE TABLE fill_t")
    val r2 = chRun("SELECT w, z FROM fill_t WHERE k = 2").head
    assert(r2.getLong(0) == 20L && r2.getLong(1) == 0L)
    // MODIFY COLUMN ... DEFAULT swaps the rule for LATER inserts only
    chRun("ALTER TABLE fill_t MODIFY COLUMN v Int64 DEFAULT k * 5")
    chRun("INSERT INTO fill_t (k) VALUES (4)")
    assert(chRun("SELECT v FROM fill_t WHERE k = 4").head.getLong(0) == 20L)
    assert(chRun("SELECT v FROM fill_t WHERE k = 2").head.getLong(0) == 0L)
    chRun("DROP TABLE fill_t")
    // CLEAR COLUMN IN PARTITION: DEFAULT expr recomputed, type default
    // for plain columns, NULL for Nullable — scoped to one partition
    chRun("DROP TABLE IF EXISTS clr_t")
    chRun("""CREATE TABLE clr_t (k Int64, p Int32, v Int64,
      |  d Int64 DEFAULT k * 2 + 1, n Nullable(Int64))
      |ENGINE = MergeTree PARTITION BY p ORDER BY k""".stripMargin)
    chRun("INSERT INTO clr_t VALUES (1, 0, 7, 100, 5), (2, 1, 8, 200, 6)")
    chRun("ALTER TABLE clr_t CLEAR COLUMN v IN PARTITION 0")
    chRun("ALTER TABLE clr_t CLEAR COLUMN d IN PARTITION 0")
    chRun("ALTER TABLE clr_t CLEAR COLUMN n IN PARTITION 0")
    val c0 = chRun("SELECT v, d, n FROM clr_t WHERE k = 1").head
    assert(c0.getLong(0) == 0L && c0.getLong(1) == 3L && c0.isNullAt(2))
    val c1 = chRun("SELECT v, d, n FROM clr_t WHERE k = 2").head
    assert(c1.getLong(0) == 8L && c1.getLong(1) == 200L && c1.getLong(2) == 6L)
    chRun("DROP TABLE clr_t")
  }

  test("NULL writes into declared non-Nullable columns are rejected " +
      "(CH parity); Nullable ADD COLUMN DEFAULT warns at ALTER time") {
    chRun("DROP TABLE IF EXISTS ng_t")
    chRun("""CREATE TABLE ng_t (k Int64, v Int64, n Nullable(Int64))
      |ENGINE = MergeTree ORDER BY k""".stripMargin)
    chRun("INSERT INTO ng_t VALUES (1, 10, 5), (2, 20, NULL)")
    // explicit NULL into non-Nullable v: insert-time error, never a
    // silent store that addFillDecorate would resurrect as the default
    val e1 = intercept[Exception](
      chRun("INSERT INTO ng_t (k, v) VALUES (3, NULL)"))
    assert(e1.getMessage.contains("non-Nullable"), e1.getMessage)
    // ... including when the NULL arrives via INSERT ... SELECT
    val e2 = intercept[Exception](chRun(
      "INSERT INTO ng_t (k, v) SELECT 4, if(1 = 1, NULL, 9)"))
    assert(e2.getMessage.contains("non-Nullable"), e2.getMessage)
    // UPDATE v = NULL must fail the same way (and leave the row intact)
    val e3 = intercept[Exception](
      chRun("ALTER TABLE ng_t UPDATE v = NULL WHERE k = 1"))
    assert(e3.getMessage.contains("non-Nullable"), e3.getMessage)
    assert(chRun("SELECT v FROM ng_t WHERE k = 1").head.getLong(0) == 10L)
    // ... and through the PLAIN (non-ALTER) UPDATE statement form — the
    // r11 review found this branch unguarded: the NULL landed physically
    // and readTable's AssertNotNull then threw on every later SELECT
    val e3b = intercept[Exception](
      chRun("UPDATE ng_t SET v = NULL WHERE k = 1"))
    assert(e3b.getMessage.contains("non-Nullable"), e3b.getMessage)
    assert(chRun("SELECT v FROM ng_t WHERE k = 1").head.getLong(0) == 10L)
    // MATERIALIZED VIEW ... POPULATE into a real table is an INSERT and
    // carries the same guard (a NULL-producing select must refuse, not
    // brick the target table)
    val e3c = intercept[Exception](chRun(
      "CREATE MATERIALIZED VIEW ng_mv TO ng_t POPULATE AS " +
        "SELECT k + 100 AS k, if(k < 0, 1, NULL) AS v, n FROM ng_t"))
    assert(e3c.getMessage.contains("non-Nullable"), e3c.getMessage)
    chRun("DROP VIEW IF EXISTS ng_mv")
    assert(chRun("SELECT count() AS c FROM ng_t WHERE k >= 100")
      .head.getLong(0) == 0L, "failed POPULATE must not leave rows")
    // the Nullable column still takes NULL both ways
    chRun("ALTER TABLE ng_t UPDATE n = NULL WHERE k = 1")
    chRun("INSERT INTO ng_t (k, v, n) VALUES (5, 50, NULL)")
    assert(chRun("SELECT n FROM ng_t WHERE k = 5").head.isNullAt(0))
    // the Memory engine enforces the same contract (separate write path)
    chRun("DROP TABLE IF EXISTS ng_m")
    chRun("CREATE TABLE ng_m (k Int64, v Int64, n Nullable(Int64)) " +
      "ENGINE = Memory")
    chRun("INSERT INTO ng_m VALUES (1, 10, NULL)")
    val em = intercept[Exception](
      chRun("INSERT INTO ng_m (k, v) VALUES (2, NULL)"))
    assert(em.getMessage.contains("non-Nullable"), em.getMessage)
    assert(chRun("SELECT count() AS c FROM ng_m").head.getLong(0) == 1L)
    chRun("DROP TABLE ng_m")
    assert(chRun("SELECT count() AS c FROM ng_t").head.getLong(0) == 3L)
    // documented divergence pin: ADD COLUMN Nullable(...) DEFAULT warns
    // (CH computes the DEFAULT for old parts; here old rows read NULL —
    // no read-fill marker, NULL is a legal value for the column)
    val st = chRun("ALTER TABLE ng_t ADD COLUMN w Nullable(Int64) DEFAULT k")
      .head.getString(0)
    assert(st.contains("WARNING") && st.contains("divergence"), st)
    assert(chRun("SELECT w FROM ng_t WHERE k = 1").head.isNullAt(0))
    chRun("INSERT INTO ng_t (k, v) VALUES (6, 60)")
    assert(chRun("SELECT w FROM ng_t WHERE k = 6").head.getLong(0) == 6L)
    // a non-Nullable ADD COLUMN DEFAULT does NOT warn (read-fill is exact)
    val st2 = chRun("ALTER TABLE ng_t ADD COLUMN x Int64 DEFAULT k * 2")
      .head.getString(0)
    assert(!st2.contains("WARNING"), st2)
    chRun("DROP TABLE ng_t")
  }

  test("catalog CTAS records the declared-Nullable set: short INSERTs " +
      "fill type defaults even after a rewrite mutation") {
    chRun("DROP TABLE IF EXISTS cta_t")
    chRun("DROP TABLE IF EXISTS cta_src")
    chRun("""CREATE TABLE cta_src (k Int64, v Int64, s String,
      |  n Nullable(Int64)) ENGINE = MergeTree ORDER BY k""".stripMargin)
    chRun("INSERT INTO cta_src VALUES (1, 7, 'a', 3)")
    chRun("""CREATE TABLE cta_t ENGINE = MergeTree ORDER BY k AS
      |SELECT k, v, s, n FROM cta_src""".stripMargin)
    // the first rewrite mutation relaxes the physical schema to
    // all-nullable; the DECLARED fill rule must not drift with it
    // (r10 ADVICE: the catalog CTAS path was not recording graft.nullcols,
    // so a post-mutation short INSERT filled NULL into every column)
    chRun("ALTER TABLE cta_t UPDATE v = v + 1 WHERE k = 1")
    chRun("INSERT INTO cta_t (k) VALUES (2)")
    val r = chRun("SELECT v, s, n FROM cta_t WHERE k = 2").head
    assert(r.getLong(0) == 0L, s"v filled ${r.get(0)} not the type default")
    assert(r.getString(1) == "", s"s filled ${r.get(1)} not ''")
    assert(r.isNullAt(2), "Nullable n must still fill NULL")
    // and NULL writes into the CTAS table's non-Nullable columns refuse
    val e = intercept[Exception](
      chRun("INSERT INTO cta_t (k, v) VALUES (3, NULL)"))
    assert(e.getMessage.contains("non-Nullable"), e.getMessage)
    chRun("DROP TABLE cta_t")
    chRun("DROP TABLE cta_src")
  }

  test("MODIFY COLUMN REMOVE / CODEC are metadata verbs; CLEAR INDEX/PROJECTION") {
    chRun("DROP TABLE IF EXISTS mc_t")
    chRun("""CREATE TABLE mc_t (id Int64, name String,
      |  score Float64 DEFAULT 2.5)
      |ENGINE = MergeTree ORDER BY id""".stripMargin)
    chRun("INSERT INTO mc_t (id, name) VALUES (1, 'x')")
    assert(chRun("SELECT score FROM mc_t").head.getDouble(0) == 2.5)
    chRun("ALTER TABLE mc_t MODIFY COLUMN score REMOVE DEFAULT")
    // default gone: subsequent short INSERTs fill the TYPE default (score
    // is declared plain Float64 — CH fills 0, not NULL)
    chRun("INSERT INTO mc_t (id, name) VALUES (2, 'y')")
    assert(chRun("SELECT score FROM mc_t WHERE id = 2").head.getDouble(0) == 0.0)
    assert(!chRun("SHOW CREATE TABLE mc_t").head.getString(0)
      .contains("DEFAULT"))
    assert(chRun("ALTER TABLE mc_t MODIFY COLUMN name CODEC(ZSTD(3))")
      .head.getString(0).contains("codec"))
    assert(chRun("ALTER TABLE mc_t CLEAR INDEX i1 IN PARTITION tuple()")
      .head.getString(0).contains("nothing to clear"))
    chRun("DROP TABLE mc_t")
    // CLEAR PROJECTION drops the materialized table, keeps registration
    chRun("DROP TABLE IF EXISTS cp_t")
    chRun("CREATE TABLE cp_t ENGINE = MergeTree ORDER BY k AS " +
      "SELECT number AS k, number % 3 AS g FROM numbers(30)")
    chRun("ALTER TABLE cp_t ADD PROJECTION pg (SELECT g, count() AS n GROUP BY g)")
    chRun("ALTER TABLE cp_t MATERIALIZE PROJECTION pg")
    chRun("ALTER TABLE cp_t CLEAR PROJECTION pg")
    // still registered (MATERIALIZE works again), but not substituted now
    chRun("ALTER TABLE cp_t MATERIALIZE PROJECTION pg")
    chRun("DROP TABLE cp_t")
  }

  test("ON CLUSTER is accepted and discarded across the DDL surface") {
    chRun("DROP TABLE IF EXISTS oc_t")
    chRun("""CREATE TABLE oc_t ON CLUSTER main (k Int64, part String)
      |ENGINE = MergeTree ORDER BY k PARTITION BY part""".stripMargin)
    chRun("INSERT INTO oc_t VALUES (1, 'a'), (2, 'b')")
    chRun("ALTER TABLE oc_t ON CLUSTER main ADD COLUMN extra Int64")
    assert(spark.table("oc_t").columns.contains("extra"))
    chRun("UPDATE oc_t SET k = k + 10 ON CLUSTER main WHERE part = 'a'")
    assert(chRun("SELECT CAST(sum(k) AS Int64) AS s FROM oc_t")
      .head.getLong(0) == 13)
    chRun("TRUNCATE TABLE oc_t ON CLUSTER 'main'")
    assert(chRun("SELECT count() AS n FROM oc_t").head.getLong(0) == 0)
    chRun("DROP TABLE oc_t ON CLUSTER main")
    assert(!spark.catalog.tableExists("oc_t"))
    // a column NAMED cluster survives: the strip is header-only (stops at
    // the first top-level AS/SELECT), so CTAS bodies referencing it parse
    chRun("DROP TABLE IF EXISTS oc_c")
    chRun("CREATE TABLE oc_c ENGINE = MergeTree ORDER BY cluster AS " +
      "SELECT number AS cluster FROM numbers(3)")
    assert(chRun("SELECT CAST(sum(cluster) AS Int64) AS s FROM oc_c")
      .head.getLong(0) == 3)
    // CTAS whose body contains a top-level-looking `ON cluster` join
    // condition: the AS guard leaves it alone
    chRun("DROP TABLE IF EXISTS oc_d")
    chRun("CREATE TABLE oc_d ENGINE = MergeTree ORDER BY k AS " +
      "SELECT a.cluster AS k FROM oc_c AS a INNER JOIN oc_c AS b " +
      "ON a.cluster = b.cluster")
    assert(chRun("SELECT count() AS n FROM oc_d").head.getLong(0) == 3)
    chRun("DROP TABLE oc_c"); chRun("DROP TABLE oc_d")
  }

  test("CREATE / DROP DATABASE as text statements") {
    chRun("DROP DATABASE IF EXISTS ch_db1")
    assert(chRun("CREATE DATABASE ch_db1").head.getString(0)
      .contains("created"))
    assert(chRun("CREATE DATABASE IF NOT EXISTS ch_db1").head.getString(0)
      .contains("already exists"))
    chRun("CREATE TABLE ch_db1.t1 (k Int64) ENGINE = MergeTree ORDER BY k")
    chRun("INSERT INTO ch_db1.t1 VALUES (1), (2)")
    assert(chRun("SELECT count() AS n FROM ch_db1.t1").head.getLong(0) == 2)
    assert(chRun("DROP DATABASE ch_db1").head.getString(0)
      .contains("dropped"))
    assert(!spark.catalog.databaseExists("ch_db1"))
    assert(chRun("DROP DATABASE IF EXISTS ch_db1").head.getString(0)
      .contains("does not exist"))
    intercept[IllegalArgumentException](chRun("DROP DATABASE ch_db1"))
  }

  test("PRIMARY KEY / SAMPLE BY / SETTINGS engine clauses round-trip; " +
      "SAMPLE reads resolve the DDL key") {
    chRun("DROP TABLE IF EXISTS pk_t")
    chRun("""CREATE TABLE pk_t (k Int64, u Int64, v Float64)
      |ENGINE = MergeTree PRIMARY KEY k ORDER BY (k, u) SAMPLE BY u
      |SETTINGS index_granularity = 8192""".stripMargin)
    val ddl = chRun("SHOW CREATE TABLE pk_t").head.getString(0)
    assert(ddl.contains("PRIMARY KEY (k)") && ddl.contains("SAMPLE BY u")
      && ddl.contains("SETTINGS index_granularity = 8192"), ddl)
    chRun("INSERT INTO pk_t SELECT number, number % 97, number * 1.0 " +
      "FROM numbers(1000)")
    // SAMPLE 1/2 uses the recorded SAMPLE BY column — no SETTINGS override
    val n = chRun("SELECT count() AS n FROM pk_t SAMPLE 1/2").head.getLong(0)
    assert(n > 300 && n < 700, s"sample count $n")
    // deterministic: the same bucket filter yields the same rows
    assert(chRun("SELECT count() AS n FROM pk_t SAMPLE 1/2").head.getLong(0) == n)
    // SAMPLE ... OFFSET against the DDL-recorded key (r9): the shifted
    // window is disjoint from the base window and together they tile the
    // table exactly
    val hi = chRun("SELECT count() AS n FROM pk_t SAMPLE 1/2 OFFSET 1/2")
      .head.getLong(0)
    assert(n + hi == 1000, s"windows must tile the table: $n + $hi")
    val loSum = chRun("SELECT CAST(sum(k) AS Int64) AS s FROM pk_t SAMPLE 1/2")
      .head.getLong(0)
    val hiSum = chRun(
      "SELECT CAST(sum(k) AS Int64) AS s FROM pk_t SAMPLE 1/2 OFFSET 1/2")
      .head.getLong(0)
    assert(loSum + hiSum == (0L until 1000L).sum,
      "disjoint windows must partition the key mass")
    // PRIMARY KEY must be a prefix of ORDER BY (the CH invariant)
    intercept[IllegalArgumentException](chRun(
      "CREATE TABLE pk_bad (a Int64, b Int64) ENGINE = MergeTree " +
        "PRIMARY KEY b ORDER BY (a, b)"))
    chRun("DROP TABLE pk_t")
  }

  test("projection substitution: a covered SELECT scans the materialized " +
      "projection table, an uncovered one falls through") {
    def resolve(n: String) =
      if (spark.catalog.tableExists(n)) graft.chsql.ChDdl.readTable(spark, n)
      else spark.table(n)
    chRun("DROP TABLE IF EXISTS proj_t")
    chRun("CREATE TABLE proj_t (k Int64, g String, x Float64) " +
      "ENGINE = MergeTree ORDER BY k")
    chRun("INSERT INTO proj_t SELECT number, " +
      "if(number % 2 = 0, 'a', 'b'), number * 1.0 FROM numbers(100)")
    chRun("ALTER TABLE proj_t ADD PROJECTION pg (SELECT g, count() AS n GROUP BY g)")
    chRun("ALTER TABLE proj_t MATERIALIZE PROJECTION pg")
    val (df, _) = graft.chsql.ChSql.statement(spark,
      "SELECT g, count() AS n FROM proj_t GROUP BY g ORDER BY g")(resolve)
    assert(df.inputFiles.nonEmpty &&
      df.inputFiles.forall(_.contains("proj_t__proj_pg")),
      s"expected the projection table scan, got ${df.inputFiles.toSeq}")
    assert(df.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("a", 50L), ("b", 50L)))
    // an uncovered shape (WHERE on a non-projected column) scans the base
    val (df2, _) = graft.chsql.ChSql.statement(spark,
      "SELECT g, count() AS n FROM proj_t WHERE x > 10 GROUP BY g")(resolve)
    assert(df2.inputFiles.exists(!_.contains("__proj_")))
    // INSERT after MATERIALIZE: a count/sum/min/max projection is
    // MAINTAINED incrementally (the CH per-part model — the batch's own
    // aggregate folds in; the base is never rescanned), so the covered
    // SELECT keeps scanning the projection table AND sees fresh totals
    chRun("INSERT INTO proj_t SELECT number + 100, 'c', number * 1.0 " +
      "FROM numbers(10)")
    val (df3, _) = graft.chsql.ChSql.statement(spark,
      "SELECT g, count() AS n FROM proj_t GROUP BY g ORDER BY g")(resolve)
    assert(df3.inputFiles.nonEmpty &&
      df3.inputFiles.forall(_.contains("proj_t__proj_pg")),
      s"maintained projection should answer after INSERT: ${df3.inputFiles.toSeq}")
    assert(df3.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("a", 50L), ("b", 50L), ("c", 10L)))
    // re-MATERIALIZE is idempotent on the maintained copy
    chRun("ALTER TABLE proj_t MATERIALIZE PROJECTION pg")
    val (df4, _) = graft.chsql.ChSql.statement(spark,
      "SELECT g, count() AS n FROM proj_t GROUP BY g ORDER BY g")(resolve)
    assert(df4.inputFiles.forall(_.contains("proj_t__proj_pg")))
    assert(df4.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("a", 50L), ("b", 50L), ("c", 10L)))
    // a NON-mergeable projection (avg cannot fold from finalized values)
    // is dropped on INSERT instead of serving stale aggregates
    chRun("ALTER TABLE proj_t ADD PROJECTION pa (SELECT g, avg(x) AS ax GROUP BY g)")
    chRun("ALTER TABLE proj_t MATERIALIZE PROJECTION pa")
    chRun("INSERT INTO proj_t SELECT number + 200, 'd', number * 1.0 " +
      "FROM numbers(5)")
    val (df4b, _) = graft.chsql.ChSql.statement(spark,
      "SELECT g, avg(x) AS ax FROM proj_t GROUP BY g ORDER BY g")(resolve)
    assert(df4b.inputFiles.forall(!_.contains("__proj_pa")),
      s"non-mergeable projection served after INSERT: ${df4b.inputFiles.toSeq}")
    // ... while the mergeable one picked up the same INSERT
    val (df4c, _) = graft.chsql.ChSql.statement(spark,
      "SELECT g, count() AS n FROM proj_t GROUP BY g ORDER BY g")(resolve)
    assert(df4c.inputFiles.forall(_.contains("proj_t__proj_pg")))
    assert(df4c.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("a", 50L), ("b", 50L), ("c", 10L), ("d", 5L)))
    chRun("ALTER TABLE proj_t DROP PROJECTION pa")
    // a mutation invalidates too
    chRun("ALTER TABLE proj_t MATERIALIZE PROJECTION pg")
    chRun("ALTER TABLE proj_t DELETE WHERE g = 'c'")
    val (df5, _) = graft.chsql.ChSql.statement(spark,
      "SELECT g, count() AS n FROM proj_t GROUP BY g ORDER BY g")(resolve)
    assert(df5.inputFiles.forall(!_.contains("__proj_")))
    assert(df5.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("a", 50L), ("b", 50L), ("d", 5L)))
    chRun("ALTER TABLE proj_t DROP PROJECTION pg")
    assert(!spark.catalog.tableExists("proj_t__proj_pg"))
    chRun("DROP TABLE proj_t")
  }

  test("-State/-Merge through the MV text path: state-producing view, " +
      "merge query folds states to the direct aggregate") {
    chRun("DROP TABLE IF EXISTS smm_src")
    chRun("CREATE TABLE smm_src (k String, sub String, v Int64) " +
      "ENGINE = MergeTree ORDER BY k")
    chRun("INSERT INTO smm_src VALUES ('a', 'x', 1), ('a', 'y', 2), " +
      "('b', 'x', 3), ('b', 'x', 3), ('a', 'x', 5)")
    // the AggregatingMergeTree shape: an MV holding per-(k, sub) states
    chRun("CREATE MATERIALIZED VIEW smm_mv POPULATE AS SELECT k, sub, " +
      "sumState(v) AS sv, uniqState(v) AS uv, countState() AS cv " +
      "FROM smm_src GROUP BY k, sub")
    // merging across sub rolls the states up to the per-k aggregate
    val merged = chRun("SELECT k, sumMerge(sv) AS s, uniqMerge(uv) AS u, " +
      "countMerge(cv) AS c FROM smm_mv GROUP BY k ORDER BY k")
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(merged == Seq(("a", 8L, 3L, 3L), ("b", 6L, 1L, 2L)))
    chRun("DROP TABLE smm_src")
  }

  test("SummingMergeTree: FINAL read collapses per key, OPTIMIZE FINAL " +
      "rewrites, all-zero rows drop, SHOW CREATE round-trips") {
    chRun("DROP TABLE IF EXISTS sum_t")
    chRun("CREATE TABLE sum_t (k String, hits Int64, amt Float64, tag String) " +
      "ENGINE = SummingMergeTree ORDER BY k")
    chRun("INSERT INTO sum_t VALUES ('a', 1, 1.5, 'x'), ('a', 2, 2.5, 'y'), " +
      "('b', 5, 1.0, 'z'), ('c', 0, 0.0, 'w')")
    // read-time FINAL: numeric non-keys summed, the all-zero 'c' row
    // dropped, the stored rows untouched
    val f = chRun("SELECT k, hits, amt FROM sum_t FINAL ORDER BY k")
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(f == Seq(("a", 3L, 4.0), ("b", 5L, 1.0)))
    assert(chRun("SELECT count() AS n FROM sum_t").head.getLong(0) == 4)
    // merge-time: the rewrite persists the collapse
    chRun("OPTIMIZE TABLE sum_t FINAL")
    assert(chRun("SELECT count() AS n FROM sum_t").head.getLong(0) == 2)
    assert(chRun("SHOW CREATE TABLE sum_t").head.getString(0)
      .contains("ENGINE = SummingMergeTree"))
    chRun("DROP TABLE sum_t")
  }

  test("CollapsingMergeTree: sign cancellation on FINAL read and " +
      "OPTIMIZE FINAL; unknown merging engines refuse honestly") {
    chRun("DROP TABLE IF EXISTS col_t")
    chRun("CREATE TABLE col_t (k Int64, v Float64, sign Int8) " +
      "ENGINE = CollapsingMergeTree(sign) ORDER BY k")
    chRun("INSERT INTO col_t VALUES (1, 10.0, 1), (1, 10.0, -1), " +
      "(1, 11.0, 1), (2, 20.0, 1), (3, 30.0, 1), (3, 30.0, -1)")
    // k=1 nets +1 (the 11.0 state survives), k=2 stays, k=3 cancels out
    val c = chRun("SELECT k, v, sign FROM col_t FINAL ORDER BY k")
      .map(r => (r.getLong(0), r.getDouble(1),
        r.getAs[Number](2).intValue))
    assert(c == Seq((1L, 11.0, 1), (2L, 20.0, 1)))
    chRun("OPTIMIZE TABLE col_t FINAL")
    assert(chRun("SELECT count() AS n FROM col_t").head.getLong(0) == 2)
    assert(chRun("SHOW CREATE TABLE col_t").head.getString(0)
      .contains("CollapsingMergeTree(sign)"))
    chRun("DROP TABLE col_t")
    // an engine with declared-but-unimplemented merge semantics must
    // refuse FINAL, never silently no-op
    chRun("DROP TABLE IF EXISTS gmt_t")
    chRun("CREATE TABLE gmt_t (k Int64) ENGINE = GraphiteMergeTree ORDER BY k")
    chRun("INSERT INTO gmt_t VALUES (1)")
    val e = intercept[UnsupportedOperationException](
      chRun("SELECT k FROM gmt_t FINAL"))
    assert(e.getMessage.contains("not implemented"))
    val e2 = intercept[UnsupportedOperationException](
      chRun("OPTIMIZE TABLE gmt_t FINAL"))
    assert(e2.getMessage.contains("not implemented"))
    chRun("DROP TABLE gmt_t")
  }

  test("VersionedCollapsingMergeTree: same-version pairs cancel, versions survive") {
    chRun("DROP TABLE IF EXISTS vcol_t")
    chRun("CREATE TABLE vcol_t (k Int64, v Float64, sign Int8, ver Int64) " +
      "ENGINE = VersionedCollapsingMergeTree(sign, ver) ORDER BY k")
    chRun("INSERT INTO vcol_t VALUES (1, 10.0, 1, 1), (1, 10.0, -1, 1), " +
      "(1, 12.0, 1, 2), (2, 20.0, 1, 1), (2, 21.0, 1, 2)")
    // k=1: the v1 (+1, -1) pair cancels, the v2 state survives;
    // k=2: two distinct versions BOTH survive (the Collapsing difference)
    val vc = chRun("SELECT k, v, ver FROM vcol_t FINAL ORDER BY k, ver")
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    assert(vc == Seq((1L, 12.0, 2L), (2L, 20.0, 1L), (2L, 21.0, 2L)))
    chRun("OPTIMIZE TABLE vcol_t FINAL")
    assert(chRun("SELECT count() AS n FROM vcol_t").head.getLong(0) == 3)
    assert(chRun("SHOW CREATE TABLE vcol_t").head.getString(0)
      .contains("VersionedCollapsingMergeTree(sign, ver)"))
    chRun("DROP TABLE vcol_t")
  }

  test("AggregatingMergeTree: typed state columns merge state-in state-out") {
    chRun("DROP TABLE IF EXISTS agg_t")
    chRun("CREATE TABLE agg_t (k String, ss AggregateFunction(sum, Int64), " +
      "us AggregateFunction(uniq, Int64), " +
      "tk AggregateFunction(topK, String)) " +
      "ENGINE = AggregatingMergeTree ORDER BY k")
    val sel = "sumState(number) AS ss, uniqState(number % 3) AS us, " +
      "topKState(toString(number % 2)) AS tk"
    chRun(s"INSERT INTO agg_t SELECT 'a' AS k, $sel FROM numbers(10) GROUP BY k")
    chRun(s"INSERT INTO agg_t SELECT 'a' AS k, $sel FROM numbers(10) GROUP BY k")
    chRun(s"INSERT INTO agg_t SELECT 'b' AS k, $sel FROM numbers(5) GROUP BY k")
    assert(chRun("SELECT count() AS n FROM agg_t").head.getLong(0) == 3)
    // FINAL read merges states per key WITHOUT finalizing — -Merge still
    // applies on top (the CH AggregatingMergeTree read contract)
    val pre = chRun("SELECT k, sumMerge(ss) AS s FROM agg_t FINAL " +
      "GROUP BY k ORDER BY k").map(r => (r.getString(0), r.getLong(1)))
    assert(pre == Seq(("a", 90L), ("b", 10L)))
    chRun("OPTIMIZE TABLE agg_t FINAL")
    assert(chRun("SELECT count() AS n FROM agg_t").head.getLong(0) == 2)
    val r = chRun("SELECT k, sumMerge(ss) AS s, uniqMerge(us) AS u, " +
      "topKMerge(2)(tk) AS t FROM agg_t GROUP BY k ORDER BY k")
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2),
        x.getSeq[String](3)))
    assert(r == Seq(("a", 90L, 3L, Seq("0", "1")),
      ("b", 10L, 3L, Seq("0", "1"))))
    // SHOW CREATE round-trips the declared AggregateFunction type text,
    // not the state's storage type
    val sc = chRun("SHOW CREATE TABLE agg_t").head.getString(0)
    assert(sc.contains("ss AggregateFunction(sum, Int64)") &&
      sc.contains("tk AggregateFunction(topK, String)"), sc)
    chRun("DROP TABLE agg_t")
    // AggregateFunction columns demand the matching engine
    val e = intercept[IllegalArgumentException](chRun(
      "CREATE TABLE agg_bad (k String, s AggregateFunction(sum, Int64)) " +
        "ENGINE = MergeTree ORDER BY k"))
    assert(e.getMessage.contains("AggregatingMergeTree"))
  }

  test("SimpleAggregateFunction columns fold with the plain function on merge") {
    chRun("DROP TABLE IF EXISTS sagg_t")
    chRun("CREATE TABLE sagg_t (k String, " +
      "s SimpleAggregateFunction(sum, Int64), " +
      "mx SimpleAggregateFunction(max, Float64)) " +
      "ENGINE = AggregatingMergeTree ORDER BY k")
    chRun("INSERT INTO sagg_t VALUES ('a', 5, 1.5), ('a', 7, 9.5), ('b', 1, 2.0)")
    // value-is-the-state: FINAL read folds sum/max per key
    val f = chRun("SELECT k, s, mx FROM sagg_t FINAL ORDER BY k")
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(f == Seq(("a", 12L, 9.5), ("b", 1L, 2.0)))
    chRun("OPTIMIZE TABLE sagg_t FINAL")
    assert(chRun("SELECT count() AS n FROM sagg_t").head.getLong(0) == 2)
    assert(chRun("SHOW CREATE TABLE sagg_t").head.getString(0)
      .contains("SimpleAggregateFunction(sum, Int64)"))
    chRun("DROP TABLE sagg_t")
  }

  test("system.* introspection tables resolve in FROM as a fallback") {
    chRun("DROP TABLE IF EXISTS sys_t")
    chRun("CREATE TABLE sys_t (k Int64, p String) " +
      "ENGINE = SummingMergeTree ORDER BY k PARTITION BY p")
    chRun("INSERT INTO sys_t SELECT number, if(number % 2 = 0, 'a', 'b') " +
      "FROM numbers(10)")
    def q(sel: String) = graft.chsql.ChSql.sql(spark, sel)(n =>
      throw new IllegalArgumentException(s"unknown: $n")).collect().toSeq
    // system.tables carries the recorded engine + a re-runnable DDL
    val st = q("""SELECT engine, create_table_query FROM system.tables
                 |WHERE database = 'default' AND name = 'sys_t'""".stripMargin)
    assert(st.map(_.getString(0)) == Seq("SummingMergeTree"))
    assert(st.head.getString(1).contains("PARTITION BY"))
    // system.columns reports CH type names in declared positions
    val sc = q("""SELECT name, type, position FROM system.columns
                 |WHERE table = 'sys_t' ORDER BY position""".stripMargin)
      .map(r => (r.getString(0), r.getString(1)))
    assert(sc.map(_._1).contains("k") && sc.map(_._2).exists(_.contains("Int64")))
    // system.parts: one row per partition directory, real byte sizes
    val sp = q("""SELECT partition_id, file_count, bytes_on_disk
                 |FROM system.parts WHERE table = 'sys_t'
                 |ORDER BY partition_id""".stripMargin)
      .map(r => (r.getString(0), r.getLong(2)))
    assert(sp.map(_._1) == Seq("p=a", "p=b") && sp.forall(_._2 > 0))
    // databases / functions / settings are live frames
    assert(q("SELECT name FROM system.databases")
      .map(_.getString(0)).contains("default"))
    assert(q("SELECT count() AS n FROM system.functions WHERE is_aggregate")
      .head.getLong(0) > 30)
    assert(q("SELECT count() AS n FROM system.settings").head.getLong(0) > 5)
    // a resolver that KNOWS a system name still wins over the fallback
    import spark.implicits._
    val shadow = Seq(("x", "y")).toDF("database", "name")
    val got = graft.chsql.ChSql.sql(spark,
      "SELECT database, name FROM system.tables")(n =>
      if (n == "system.tables") shadow
      else throw new IllegalArgumentException(n)).collect().toSeq
    assert(got.map(r => (r.getString(0), r.getString(1))) == Seq(("x", "y")))
    chRun("DROP TABLE sys_t")
  }

  test("Memory/TEMPORARY tables refuse qualified names with a clear message") {
    val e = intercept[IllegalArgumentException](chRun(
      "CREATE TABLE db1.memq (k Int64) ENGINE = Memory"))
    assert(e.getMessage.contains("cannot be qualified"), e.getMessage)
  }

  test("CREATE FUNCTION: lambda macros expand inline, compose, round-trip") {
    chRun("CREATE FUNCTION add2 AS (a, b) -> a + b")
    chRun("CREATE FUNCTION clamp01 AS x -> greatest(least(x, 1.0), 0.0)")
    // nested macro reference — expansion composes through lambdaEnv
    chRun("CREATE FUNCTION add3 AS (a, b, c) -> add2(add2(a, b), c)")
    val r = chRun(
      """SELECT add3(number, 10, 100) AS s, clamp01(number / 2.0) AS c
        |FROM numbers(3) ORDER BY s""".stripMargin)
    assert(r.map(_.getLong(0)) == Seq(110L, 111L, 112L))
    assert(r.map(_.getDouble(1)) == Seq(0.0, 0.5, 1.0))
    // SHOW FUNCTIONS lists them; SHOW CREATE round-trips the lambda text
    val names = chRun("SHOW FUNCTIONS LIKE 'add%'").map(_.getString(0)).toSet
    assert(Set("add2", "add3").subsetOf(names))
    val created = chRun("SHOW CREATE FUNCTION add2").head.getString(0)
    assert(created == "CREATE FUNCTION add2 AS (a, b) -> a + b")
    // OR REPLACE redefines; plain CREATE on an existing name refuses
    chRun("CREATE OR REPLACE FUNCTION add2 AS (a, b) -> a + b + 1000")
    val r2 = chRun("SELECT add2(1, 2) AS v FROM numbers(1)")
    assert(r2.head.getAs[Number](0).longValue == 1003L)
    val eDup = intercept[IllegalArgumentException](chRun(
      "CREATE FUNCTION add2 AS (a, b) -> a * b"))
    assert(eDup.getMessage.contains("already exists"), eDup.getMessage)
    // DROP removes; the call site then fails as unknown
    chRun("DROP FUNCTION add3")
    val eGone = intercept[IllegalArgumentException](chRun(
      "SELECT add3(1, 2, 3) FROM numbers(1)"))
    assert(eGone.getMessage.contains("unknown function"), eGone.getMessage)
    chRun("DROP FUNCTION IF EXISTS add3") // honest no-op
    chRun("DROP FUNCTION add2"); chRun("DROP FUNCTION clamp01")
  }

  test("CREATE FUNCTION refusals: builtin shadow, aggregate body, recursion, arity") {
    val eShadow = intercept[IllegalArgumentException](chRun(
      "CREATE FUNCTION sum AS (x) -> x"))
    assert(eShadow.getMessage.contains("system function"), eShadow.getMessage)
    val eAgg = intercept[IllegalArgumentException](chRun(
      "CREATE FUNCTION badagg AS (x) -> sum(x) + 1"))
    assert(eAgg.getMessage.contains("aggregate"), eAgg.getMessage)
    val eRec = intercept[IllegalArgumentException](chRun(
      "CREATE FUNCTION selfref AS (x) -> selfref(x - 1)"))
    assert(eRec.getMessage.contains("recursive"), eRec.getMessage)
    chRun("CREATE FUNCTION one_arg AS (x) -> x * 2")
    val eArity = intercept[IllegalArgumentException](chRun(
      "SELECT one_arg(1, 2) FROM numbers(1)"))
    assert(eArity.getMessage.contains("expects 1 argument"), eArity.getMessage)
    chRun("DROP FUNCTION one_arg")
  }

  test("EXCHANGE TABLES swaps two tables' contents atomically") {
    chRun("CREATE TABLE xchg_a (k Int64) ENGINE = MergeTree ORDER BY k")
    chRun("CREATE TABLE xchg_b (k Int64) ENGINE = MergeTree ORDER BY k")
    chRun("INSERT INTO xchg_a VALUES (1)")
    chRun("INSERT INTO xchg_b VALUES (2), (3)")
    chRun("EXCHANGE TABLES xchg_a AND xchg_b")
    assert(chRun("SELECT count() AS n FROM xchg_a").head.getLong(0) == 2L)
    assert(chRun("SELECT count() AS n FROM xchg_b").head.getLong(0) == 1L)
    val eMissing = intercept[IllegalArgumentException](chRun(
      "EXCHANGE TABLES xchg_a AND xchg_nope"))
    assert(eMissing.getMessage.contains("does not exist"), eMissing.getMessage)
    chRun("DROP TABLE xchg_a"); chRun("DROP TABLE xchg_b")
  }

  test("File engine: CSV/JSONEachRow round-trips; mutations/OPTIMIZE refuse") {
    chRun("CREATE TABLE f_csv (k Int64, s String) ENGINE = File(CSVWithNames)")
    chRun("INSERT INTO f_csv VALUES (1, 'a'), (2, 'b')")
    chRun("INSERT INTO f_csv VALUES (3, 'c')")
    assert(chRun("SELECT k, s FROM f_csv ORDER BY k")
      .map(r => (r.getLong(0), r.getString(1))) == Seq(
      (1L, "a"), (2L, "b"), (3L, "c")))
    chRun("CREATE TABLE f_json (k Int64, s String) ENGINE = File(JSONEachRow)")
    chRun("INSERT INTO f_json SELECT k, upper(s) FROM f_csv")
    assert(chRun("SELECT count() AS n FROM f_json").head.getLong(0) == 3L)
    // SHOW CREATE round-trips the declared format
    val created = chRun("SHOW CREATE TABLE f_csv").head.getString(0)
    assert(created.contains("ENGINE = File(CSVWithNames)"), created)
    // CH parity: no mutations, no OPTIMIZE, no sorting key
    val eMut = intercept[IllegalArgumentException](chRun(
      "ALTER TABLE f_csv DELETE WHERE k = 1"))
    assert(eMut.getMessage.contains("ENGINE = File"), eMut.getMessage)
    val eOpt = intercept[IllegalArgumentException](chRun(
      "OPTIMIZE TABLE f_csv FINAL"))
    assert(eOpt.getMessage.contains("ENGINE = File"), eOpt.getMessage)
    val eKey = intercept[IllegalArgumentException](chRun(
      "CREATE TABLE f_bad (k Int64) ENGINE = File(CSV) ORDER BY k"))
    assert(eKey.getMessage.contains("supports none"), eKey.getMessage)
    chRun("DROP TABLE f_csv"); chRun("DROP TABLE f_json")
  }

  test("CREATE TABLE t2 AS t1 clones structure (and optional engine override)") {
    chRun("""CREATE TABLE clone_src (k Int64, v Float64 DEFAULT k * 2.0)
      |ENGINE = ReplacingMergeTree(k) ORDER BY k""".stripMargin)
    chRun("INSERT INTO clone_src (k) VALUES (5)")
    chRun("CREATE TABLE clone_dst AS clone_src")
    // structure (incl. DEFAULT expression) came over; data did not
    assert(chRun("SELECT count() AS n FROM clone_dst").head.getLong(0) == 0L)
    chRun("INSERT INTO clone_dst (k) VALUES (7)")
    val r = chRun("SELECT k, v FROM clone_dst").head
    assert(r.getLong(0) == 7L && r.getDouble(1) == 14.0)
    val c1 = chRun("SHOW CREATE TABLE clone_dst").head.getString(0)
    assert(c1.contains("ENGINE = ReplacingMergeTree(k)"), c1)
    // engine override swaps just the engine line
    chRun("CREATE TABLE clone_sum AS clone_src ENGINE = SummingMergeTree")
    val c2 = chRun("SHOW CREATE TABLE clone_sum").head.getString(0)
    assert(c2.contains("ENGINE = SummingMergeTree"), c2)
    chRun("DROP TABLE clone_src"); chRun("DROP TABLE clone_dst")
    chRun("DROP TABLE clone_sum")
  }

  test("RENAME DATABASE refuses honestly") {
    val e = intercept[IllegalArgumentException](chRun(
      "RENAME DATABASE db_from TO db_to"))
    assert(e.getMessage.contains("not supported"), e.getMessage)
  }

  test("CREATE TABLE ... UUID 'xxx': accept-and-record, SHOW CREATE surfaces") {
    chRun("DROP TABLE IF EXISTS uuid_t")
    chRun("""CREATE TABLE uuid_t UUID '61f0c404-5cb3-11e7-907b-a6006ad3dba0'
      |(k Int64, v Float64) ENGINE = MergeTree ORDER BY k""".stripMargin)
    chRun("INSERT INTO uuid_t VALUES (1, 2.0)")
    assert(chRun("SELECT count() AS n FROM uuid_t").head.getLong(0) == 1L)
    val sc = chRun("SHOW CREATE TABLE uuid_t").head.getString(0)
    assert(sc.contains("UUID '61f0c404-5cb3-11e7-907b-a6006ad3dba0'"), sc)
    chRun("DROP TABLE uuid_t")
    // TEMPORARY (Memory) tables take the clause but have no UUID identity
    chRun("CREATE TEMPORARY TABLE uuid_m UUID 'deadbeef-0000' (k Int64)")
    val scm = chRun("SHOW CREATE TABLE uuid_m").head.getString(0)
    assert(!scm.contains("UUID"), scm)
    chRun("DROP TABLE uuid_m")
  }

  test("CREATE DICTIONARY accepts a SETTINGS(...) clause (ignored)") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_dict_set").toString
    Seq((1L, "one"), (2L, "two")).toDF("id", "label")
      .write.mode("overwrite").parquet(s"$dir/d")
    chRun("DROP DICTIONARY IF EXISTS dset")
    chRun(s"""CREATE DICTIONARY dset (id Int64, label String)
      |PRIMARY KEY id
      |SOURCE(FILE(path '$dir/d' format 'parquet'))
      |LAYOUT(HASHED())
      |LIFETIME(MIN 0 MAX 300)
      |SETTINGS(max_threads = 8, check_dictionary_primary_key = 0)"""
      .stripMargin)
    Seq(1L, 2L, 3L).toDF("fk").createOrReplaceTempView("dset_probe")
    val r = chRun("""SELECT fk, dictGetOrDefault('dset', 'label', fk, '?') AS l
      |FROM dset_probe ORDER BY fk""".stripMargin).map(_.toSeq)
    assert(r == Seq(Seq(1L, "one"), Seq(2L, "two"), Seq(3L, "?")))
    chRun("DROP DICTIONARY dset")
  }
}
